package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.ops.SnapshotTable

/** Snapshot-table commit log: version numbering, complete-manifest
  * contents, time-travel isolation (old versions never see newer
  * files), manifest-vs-scan row agreement, and the missing-version
  * guard. q148 oracle-gates the scan arithmetic cross-engine.
  */
class SnapshotTableSpec extends SparkSpec {

  private def freshPath(): String =
    Files.createTempDirectory("snap").toString + "/t"

  test("versionAsOf resolves the newest version committed at or before " +
      "the timestamp, and pre-history timestamps fail loudly") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append((1 to 10).toDF("x"), path, 1)
    val t1 = SnapshotTable.readVersion(spark, path, 1).committedMs
    assert(t1 > 0)
    Thread.sleep(15)
    SnapshotTable.append((11 to 20).toDF("x"), path, 1)
    val t2 = SnapshotTable.readVersion(spark, path, 2).committedMs
    assert(t2 >= t1)
    assert(SnapshotTable.versionAsOf(spark, path, t1) === 1)
    assert(SnapshotTable.versionAsOf(spark, path, t2 + 1000) === 2)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.versionAsOf(spark, path, t1 - 10000)
    }
    assert(e.getMessage.contains("first commit is later"))
  }

  test("restore commits a metadata-only copy of the target version and " +
      "the change feed reports the revived rows as inserts") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append((1L to 10L).toDF("k"), path, 2,
      statsCol = Some("k"))
    SnapshotTable.append((11L to 20L).toDF("k"), path, 2,
      statsCol = Some("k"))
    SnapshotTable.deleteStatsRange(spark, path, 11L, 15L) // v3
    assert(SnapshotTable.restore(spark, path, 2) === 4)
    val v2 = SnapshotTable.readVersion(spark, path, 2)
    val v4 = SnapshotTable.readVersion(spark, path, 4)
    assert(v4.files === v2.files && v4.rows === v2.rows)
    assert(v4.stats === v2.stats)
    val (scan, _, _) = SnapshotTable.scanAt(spark, path, 4)
    assert(scan.count() === 20)
    val feed = SnapshotTable.changes(spark, path, 3, 4)
    assert(feed.filter(col("_change") === "delete").count() === 0)
    assert(feed.filter(col("_change") === "insert")
      .select("k").collect().map(_.getLong(0)).sorted === (11L to 15L))
  }

  test("restore to a version whose data was garbage-collected fails " +
      "loudly instead of committing a manifest over deleted files") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append((1L to 10L).toDF("k"), path, 2,
      statsCol = Some("k"))
    SnapshotTable.deleteStatsRange(spark, path, 1L, 5L) // v2 rewrites
    // v1's manifest survives but one of its data files is GC'd
    // out-of-band (the shape a partial vacuum of a corrupted table, or
    // operator error, produces)
    val gone = SnapshotTable.readVersion(spark, path, 1).files
      .filterNot(SnapshotTable.readVersion(spark, path, 2).files.toSet).head
    Files.delete(java.nio.file.Paths.get(gone.stripPrefix("file:")))
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.restore(spark, path, 1)
    }
    assert(e.getMessage.contains("garbage-collected"))
    assert(SnapshotTable.latestVersion(path) === 2) // nothing committed
  }

  test("history records the committing operation for every mutation " +
      "path, including merge and recluster") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append((1L to 20L).map(k => (k, k * 10))
      .toDF("k", "v"), path, 2, statsCol = Some("k"))
    SnapshotTable.merge(spark, path,
      Seq((5L, 999L), (21L, 210L)).toDF("k", "v"), "k")
    SnapshotTable.recluster(spark, path, "v", numPartitions = 2)
    SnapshotTable.deleteStatsRange(spark, path, 1L, 3L)
    SnapshotTable.restore(spark, path, 3)
    val ops = SnapshotTable.history(spark, path).orderBy("version")
      .select("op").collect().map(_.getString(0)).toSeq
    assert(ops === Seq("APPEND", "MERGE", "OPTIMIZE", "DELETE", "RESTORE"))
  }

  test("CHECK constraints follow SQL semantics — FALSE violates, NULL " +
      "passes — and enforcement covers merge and partitioned appends") {
    import spark.implicits._
    import SnapshotTable.Constraint
    val path = freshPath()
    SnapshotTable.setConstraints(path, Seq(Constraint("v_pos", "v > 0")))
    // NULL v passes (SQL CHECK), negative v violates
    SnapshotTable.append(
      Seq((1L, Some(5L)), (2L, None)).toDF("k", "v"), path, 1,
      statsCol = Some("k"))
    assert(SnapshotTable.latestVersion(path) === 1)
    val e1 = intercept[IllegalArgumentException] {
      SnapshotTable.append(Seq((3L, Some(-1L))).toDF("k", "v"), path, 1,
        statsCol = Some("k"))
    }
    assert(e1.getMessage.contains("v_pos") &&
      e1.getMessage.contains("1 row(s)"))
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, path,
        Seq((1L, Some(-9L))).toDF("k", "v"), "k")
    }
    assert(e2.getMessage.contains("v_pos"))
    assert(SnapshotTable.latestVersion(path) === 1)
    // partitioned table: same gate
    val p2 = freshPath()
    SnapshotTable.setConstraints(p2, Seq(Constraint("v_pos", "v > 0")))
    val spec = SnapshotTable.PartSpec("k", "truncate", 10)
    SnapshotTable.appendPartitioned(
      Seq((1L, 5L), (25L, 7L)).toDF("k", "v"), p2, spec)
    val e3 = intercept[IllegalArgumentException] {
      SnapshotTable.appendPartitioned(
        Seq((30L, -2L)).toDF("k", "v"), p2, spec)
    }
    assert(e3.getMessage.contains("v_pos"))
    assert(SnapshotTable.latestVersion(p2) === 1)
  }

  test("deletion vectors: MOR delete moves zero data bytes, scans hide " +
      "the dead rows at the new version and time travel revives them") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append((1L to 100L).map(k => (k, k * 2))
      .toDF("k", "v"), path, 4, statsCol = Some("k"))
    val v1 = SnapshotTable.readVersion(spark, path, 1)
    val (v2, nDel) = SnapshotTable.deleteRowsWhere(spark, path,
      "k % 10 = 3") // 3, 13, ..., 93
    assert(v2 === 2 && nDel === 10)
    val ver2 = SnapshotTable.readVersion(spark, path, 2)
    assert(ver2.files === v1.files, "MOR delete rewrote data files")
    assert(ver2.dvRows === 10 && ver2.rows === 90)
    val (scan2, _, rows2) = SnapshotTable.scanAt(spark, path, 2)
    assert(scan2.count() === 90 && rows2 === 90)
    assert(scan2.filter(col("k") % 10 === 3).count() === 0)
    val (scan1, _, _) = SnapshotTable.scanAt(spark, path, 1)
    assert(scan1.count() === 100) // v1 untouched
    // re-delete of the same predicate is a natural no-op
    val (v3, n2) = SnapshotTable.deleteRowsWhere(spark, path, "k % 10 = 3")
    assert(v3 === 3 && n2 === 0)
    assert(SnapshotTable.readVersion(spark, path, 3).rows === 90)
    // stats-pruned scans apply DVs too
    val (pruned, _, _) = SnapshotTable.scanStatsRange(spark, path, 3, 1, 25)
    assert(pruned.select("k").collect().map(_.getLong(0)).sorted ===
      (1L to 25L).filterNot(_ % 10 == 3))
  }

  test("deletion vectors: change feed reports the MOR-deleted rows, " +
      "materialize folds DVs into a rewrite that cancels in the feed") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append((1L to 100L).map(k => (k, k * 2))
      .toDF("k", "v"), path, 4, statsCol = Some("k"))
    SnapshotTable.deleteRowsWhere(spark, path, "k BETWEEN 40 AND 59")
    val feed = SnapshotTable.changes(spark, path, 1, 2)
    assert(feed.filter(col("_change") === "insert").count() === 0)
    assert(feed.filter(col("_change") === "delete")
      .select("k").collect().map(_.getLong(0)).sorted === (40L to 59L))
    // the range COW delete still refuses a DV-carrying table (its
    // stats arithmetic assumes physical rows); compaction/recluster/
    // merge are DV-aware since r20 — see their dedicated cases
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.deleteStatsRange(spark, path, 1L, 5L)
    }
    assert(e.getMessage.contains("deletion vectors"))
    val res = SnapshotTable.materializeDeletes(spark, path)
    val ver3 = SnapshotTable.readVersion(spark, path, 3)
    assert(ver3.dvFiles.isEmpty && ver3.rows === 80)
    assert(res.rewritten > 0 && res.rewritten < 4,
      s"materialize must rewrite only DV-hit files: $res")
    val (scan3, _, _) = SnapshotTable.scanAt(spark, path, 3)
    assert(scan3.count() === 80)
    // the materialize rewrite is row-preserving: empty change feed
    assert(SnapshotTable.changes(spark, path, 2, 3).count() === 0)
    // and appends on top carry nothing stale
    SnapshotTable.append(Seq((200L, 400L)).toDF("k", "v"), path, 1,
      statsCol = Some("k"))
    assert(SnapshotTable.readVersion(spark, path, 4).rows === 81)
    // once history drops the DV-carrying versions, vacuum sweeps the
    // dead DV batches like any other unreferenced data
    SnapshotTable.expire(spark, path, keepFrom = 3)
    SnapshotTable.vacuum(spark, path, olderThanMs = 0)
    val dvRoot = java.nio.file.Files.walk(
      java.nio.file.Paths.get(path, "dv"))
    val dvLeft =
      try {
        val it = dvRoot.iterator(); var n = 0
        while (it.hasNext) {
          if (it.next().getFileName.toString.endsWith(".parquet")) n += 1
        }
        n
      } finally dvRoot.close()
    assert(dvLeft === 0, s"$dvLeft dead DV files survived vacuum")
  }

  test("the DV read tax is a broadcast anti-join — the table side is " +
      "never shuffled for the deletion vectors") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append((1L to 5000L).map(k => (k, k * 2))
      .toDF("k", "v"), path, 4, statsCol = Some("k"))
    SnapshotTable.deleteRowsWhere(spark, path, "k % 100 = 7")
    val (scan, _, _) = SnapshotTable.scanAt(spark, path, 2)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti"), plan.take(900))
    assert(!plan.contains("SortMergeJoin"),
      s"DV anti-join shuffled the table side:\n${plan.take(900)}")
  }

  test("graft_snapshot_at serves AS OF TIMESTAMP from plain SQL") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append((1 to 10).toDF("x"), path, 1)
    val t1 = SnapshotTable.readVersion(spark, path, 1).committedMs
    Thread.sleep(15)
    SnapshotTable.append((11 to 20).toDF("x"), path, 1)
    val n1 = spark.sql(
      s"SELECT count(*) FROM graft_snapshot_at('$path', $t1)")
      .head.getLong(0)
    assert(n1 === 10)
    val t2 = SnapshotTable.readVersion(spark, path, 2).committedMs
    assert(spark.sql(
      s"SELECT count(*) FROM graft_snapshot_at('$path', ${t2 + 1000})")
      .head.getLong(0) === 20)
  }

  test("shallow clone copies zero bytes, lives independently, and " +
      "clone-side GC never deletes source files") {
    import spark.implicits._
    val src = freshPath()
    val dst = freshPath()
    SnapshotTable.append((1L to 20L).toDF("k"), src, 2,
      statsCol = Some("k"))
    SnapshotTable.append((21L to 30L).toDF("k"), src, 1,
      statsCol = Some("k"))
    assert(SnapshotTable.cloneAt(spark, src, dst, 1) === 1)
    // zero data under the clone's root
    assert(!Files.isDirectory(java.nio.file.Paths.get(dst, "files")))
    val (c1, _, _) = SnapshotTable.scanAt(spark, dst, 1)
    assert(c1.count() === 20)
    assert(SnapshotTable.readVersion(spark, dst, 1).op === "CLONE")
    // the clone mutates without touching the source
    SnapshotTable.deleteStatsRange(spark, dst, 1L, 5L)
    assert(SnapshotTable.scanAt(spark, dst, 2)._1.count() === 15)
    assert(SnapshotTable.scanAt(spark, src, 2)._1.count() === 30)
    // clone-side expire + vacuum: ownership guard protects src files
    SnapshotTable.expire(spark, dst, keepFrom = 2)
    SnapshotTable.vacuum(spark, dst, olderThanMs = 0)
    assert(SnapshotTable.scanAt(spark, src, 1)._1.count() === 20)
    assert(SnapshotTable.scanAt(spark, src, 2)._1.count() === 30)
  }

  test("vacuum invoked with a RELATIVE table path never sweeps live " +
      "files (the live set is absolute-URI based)") {
    import spark.implicits._
    val abs = java.nio.file.Paths.get(freshPath())
    val rel = java.nio.file.Paths.get("").toAbsolutePath
      .relativize(abs).toString
    SnapshotTable.append((1L to 10L).toDF("k"), rel, 2,
      statsCol = Some("k"))
    val res = SnapshotTable.vacuum(spark, rel, olderThanMs = 0)
    assert(res.orphansDeleted === 0,
      s"vacuum with a relative path swept live data: $res")
    assert(SnapshotTable.scanAt(spark, rel, 1)._1.count() === 10)
  }

  test("materialize handles hit files whose every row is DV-dead: the " +
      "empty rewrite is dropped, blooms skip it, kept files carry") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append((1L to 100L).map(k => (k, k)).toDF("k", "v"),
      path, 4, statsCol = Some("k"), bloomCol = Some("k"))
    // file 1 holds exactly 26..50 (range-partitioned): kill ALL of it
    SnapshotTable.deleteRowsWhere(spark, path, "k BETWEEN 26 AND 50")
    val res = SnapshotTable.materializeDeletes(spark, path)
    val v3 = SnapshotTable.readVersion(spark, path, 3)
    assert(v3.dvFiles.isEmpty && v3.rows === 75)
    assert(SnapshotTable.scanAt(spark, path, 3)._1.count() === 75)
    assert(res.filesAfter <= res.filesBefore)
    // the bloom index still serves the surviving keys
    val (hitScan, _, _) = SnapshotTable.scanKeysAt(spark, path, 3, Seq(7L))
    assert(hitScan.count() === 1)
  }

  test("shallow clone carries the source's CHECK constraints") {
    import spark.implicits._
    import SnapshotTable.Constraint
    val src = freshPath(); val dst = freshPath()
    SnapshotTable.setConstraints(src, Seq(Constraint("v_pos", "v > 0")))
    SnapshotTable.append(Seq((1L, 5L)).toDF("k", "v"), src, 1,
      statsCol = Some("k"))
    SnapshotTable.cloneAt(spark, src, dst)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.append(Seq((2L, -1L)).toDF("k", "v"), dst, 1,
        statsCol = Some("k"))
    }
    assert(e.getMessage.contains("v_pos"))
    assert(SnapshotTable.latestVersion(dst) === 1)
  }

  test("append assigns consecutive versions and accumulates files") {
    import spark.implicits._
    val path = freshPath()
    val v1 = SnapshotTable.append((1 to 10).toDF("x"), path, 2)
    val v2 = SnapshotTable.append((11 to 13).toDF("x"), path, 1)
    assert(v1 === 1 && v2 === 2)
    assert(SnapshotTable.latestVersion(path) === 2)
    val m1 = SnapshotTable.readVersion(spark, path, 1)
    val m2 = SnapshotTable.readVersion(spark, path, 2)
    assert(m1.rows === 10 && m2.rows === 13)
    assert(m1.files.toSet.subsetOf(m2.files.toSet))
    assert(m2.files.size > m1.files.size)
  }

  test("time travel: v1 scan sees exactly v1's rows after an append") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append((1 to 100).toDF("x"), path, 4)
    SnapshotTable.append((101 to 250).toDF("x"), path, 4)
    val (s1, f1, r1) = SnapshotTable.scanAt(spark, path, 1)
    val (s2, f2, r2) = SnapshotTable.scanAt(spark, path, 2)
    assert(r1 === 100 && r2 === 250)
    assert(f1 < f2)
    assert(s1.count() === 100)
    assert(s2.count() === 250)
    assert(s1.agg(sum("x")).collect().head.getLong(0) === 5050)
  }

  test("a version is readable even while later versions accumulate") {
    import spark.implicits._
    val path = freshPath()
    for (i <- 1 to 5)
      SnapshotTable.append(Seq(i).toDF("x"), path, 1)
    for (v <- 1 to 5) {
      val (scan, _, rows) = SnapshotTable.scanAt(spark, path, v)
      assert(rows === v && scan.count() === v)
    }
  }

  test("column stats prune files and never drop qualifying rows") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append((0L until 1000L).toDF("day"), path, 10,
      statsCol = Some("day"))
    val (scan, read, total) =
      SnapshotTable.scanStatsRange(spark, path, 1, 250, 349)
    assert(total === 10)
    assert(read > 0 && read < total, s"read $read of $total")
    val got = scan.select("day").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === (250L to 349L))
    // out-of-domain range: empty relation, zero files
    val (empty, r0, _) =
      SnapshotTable.scanStatsRange(spark, path, 1, 5000, 6000)
    assert(r0 === 0 && empty.count() === 0)
    // a version without stats rejects the stats scan loudly
    val plain = freshPath()
    SnapshotTable.append(Seq(1L).toDF("day"), plain, 1)
    intercept[IllegalArgumentException] {
      SnapshotTable.scanStatsRange(spark, plain, 1, 0, 1)
    }
  }

  test("stats accumulate across appends on the same column") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append((0L until 100L).toDF("day"), path, 2,
      statsCol = Some("day"))
    SnapshotTable.append((100L until 200L).toDF("day"), path, 2,
      statsCol = Some("day"))
    val v2 = SnapshotTable.readVersion(spark, path, 2)
    assert(v2.stats.get.mins.length === v2.files.length)
    val (scan, read, total) =
      SnapshotTable.scanStatsRange(spark, path, 2, 150, 199)
    assert(read < total)
    assert(scan.count() === 50)
  }

  test("copy-on-write delete rewrites only intersecting files and " +
    "preserves time travel") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append((0L until 1000L).toDF("day"), path, 10,
      statsCol = Some("day"))
    val (v2, rewritten, total) =
      SnapshotTable.deleteStatsRange(spark, path, 250, 349)
    assert(v2 === 2 && total === 10)
    assert(rewritten > 0 && rewritten < total, s"rewrote $rewritten")
    val (s2, _, rows2) = SnapshotTable.scanAt(spark, path, 2)
    assert(rows2 === 900 && s2.count() === 900)
    assert(s2.filter(col("day").between(250, 349)).isEmpty)
    // v1 still reads the pre-delete table
    val (s1, _, rows1) = SnapshotTable.scanAt(spark, path, 1)
    assert(rows1 === 1000 && s1.count() === 1000)
    // boundary survivors of the rewritten files are intact
    assert(s2.filter(col("day").between(200, 249)).count() === 50)
    assert(s2.filter(col("day").between(350, 399)).count() === 50)
  }

  test("delete of a non-intersecting range carries all files forward") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append((0L until 100L).toDF("day"), path, 4,
      statsCol = Some("day"))
    val (v2, rewritten, total) =
      SnapshotTable.deleteStatsRange(spark, path, 5000, 6000)
    assert(v2 === 2 && rewritten === 0)
    val (s2, f2, rows2) = SnapshotTable.scanAt(spark, path, 2)
    assert(f2 === total && rows2 === 100 && s2.count() === 100)
  }

  test("schema evolution: an appended column reads as null from old " +
    "files") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append(Seq((1L, 10L)).toDF("k", "a"), path, 1)
    SnapshotTable.append(Seq((2L, 20L, 7L)).toDF("k", "a", "b"), path, 1)
    val (scan, _, _) = SnapshotTable.scanAt(spark, path, 2)
    val rows = scan.orderBy("k").collect()
    assert(rows.length === 2)
    assert(rows(0).isNullAt(rows(0).fieldIndex("b")))
    assert(rows(1).getLong(rows(1).fieldIndex("b")) === 7L)
  }

  test("manifest carries per-file rows and bytes summing to the totals") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append((0L until 500L).toDF("day"), path, 5,
      statsCol = Some("day"))
    SnapshotTable.append((500L until 600L).toDF("day"), path, 2,
      statsCol = Some("day"))
    val v2 = SnapshotTable.readVersion(spark, path, 2)
    val rows = v2.fileRows.get
    val bytes = v2.fileBytes.get
    assert(rows.length === v2.files.length)
    assert(bytes.length === v2.files.length)
    assert(rows.sum === v2.rows)
    assert(bytes.forall(_ > 0))
    // the on-disk sizes agree with the manifest (files are immutable)
    v2.files.zip(bytes).foreach { case (f, b) =>
      assert(Files.size(java.nio.file.Paths.get(
        f.stripPrefix("file:"))) === b)
    }
  }

  test("commit is create-exclusive: a second manifest at the same " +
    "version fails instead of silently replacing") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append((1 to 10).toDF("x"), path, 1)
    // simulate a stale writer racing the commit: hard-linking over the
    // existing v1.json must throw, never replace
    val log = java.nio.file.Paths.get(path, "log")
    val tmp = log.resolve(".race.tmp")
    Files.write(tmp, "{}".getBytes)
    intercept[java.nio.file.FileAlreadyExistsException] {
      Files.createLink(log.resolve("v1.json"), tmp)
    }
    Files.delete(tmp)
    // the committed manifest is untouched
    assert(SnapshotTable.readVersion(spark, path, 1).rows === 10)
  }

  test("concurrent appenders: the loser retries and both batches are " +
    "visible at the final version") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append((1 to 5).toDF("x"), path, 1) // v1 base
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(
      (6 to 15).toDF("x"), (16 to 18).toDF("x")).map { df =>
      new Thread(() => {
        start.await()
        try results.add(SnapshotTable.append(df, path, 1))
        catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"appender died: ${errs.peek()}")
    val vs = results.iterator()
    val got = Seq(vs.next(), vs.next()).sorted
    assert(got === Seq(2L, 3L), s"got versions $got")
    val (s3, _, rows3) = SnapshotTable.scanAt(spark, path, 3)
    assert(rows3 === 18 && s3.count() === 18)
    assert(s3.agg(sum("x")).collect().head.getLong(0) === (1 to 18).sum)
  }

  test("compact merges small files, preserves stats pruning, and " +
    "carries already-compact files by reference") {
    import spark.implicits._
    val path = freshPath()
    // eight fragmented appends of 125 keys each -> 16 small files
    for (i <- 0 until 8)
      SnapshotTable.append((i * 125L until (i + 1) * 125L).toDF("day"),
        path, 2, statsCol = Some("day"))
    val before = SnapshotTable.readVersion(spark, path, 8)
    assert(before.files.length === 16)
    val target = before.fileBytes.get.sum / 4 // aim for ~4 output files
    val res = SnapshotTable.compact(spark, path, target)
    assert(res.version === 9)
    assert(res.filesBefore === 16)
    assert(res.filesAfter < res.filesBefore,
      s"compaction did not shrink: ${res.filesAfter} of ${res.filesBefore}")
    assert(res.rewritten > 0)
    // data preserved exactly
    val (s9, f9, rows9) = SnapshotTable.scanAt(spark, path, 9)
    assert(f9 === res.filesAfter)
    assert(rows9 === 1000 && s9.count() === 1000)
    assert(s9.agg(sum("day")).collect().head.getLong(0) ===
      (0L until 1000L).sum)
    // stats pruning SURVIVES the rewrite: a 10% slice skips most files
    val (scan, read, total) =
      SnapshotTable.scanStatsRange(spark, path, 9, 100, 199)
    assert(read > 0 && read < total, s"post-compact read $read of $total")
    assert(scan.count() === 100)
    // compacted files hold contiguous, pairwise-disjoint key ranges
    val after = SnapshotTable.readVersion(spark, path, 9)
    val ranges = after.stats.get.mins.zip(after.stats.get.maxs)
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax < bMin, s"overlapping post-compact ranges $ranges")
      case _ =>
    }
    // pre-compaction version still time-travels
    val (s8, _, rows8) = SnapshotTable.scanAt(spark, path, 8)
    assert(rows8 === 1000 && s8.count() === 1000)
    // an already-compact table is a no-op (no empty commit)
    val res2 = SnapshotTable.compact(spark, path, target)
    assert(res2.version === 9 && res2.rewritten === 0)
  }

  test("bloom index follows the table through append and delete") {
    import spark.implicits._
    val path = freshPath()
    // key confined per append batch; day is the layout
    val b1 = (0L until 400L).map(i => (i, i / 100L)).toDF("day", "k")
    val b2 = (400L until 800L).map(i => (i, i / 100L)).toDF("day", "k")
    SnapshotTable.append(b1, path, 4, statsCol = Some("day"),
      bloomCol = Some("k"), bloomExpectedPerFile = 4096)
    SnapshotTable.append(b2, path, 4, statsCol = Some("day"),
      bloomCol = Some("k"), bloomExpectedPerFile = 4096)
    // probe at v1: must not open (or count) v2's files
    val (s1, read1, total1) = SnapshotTable.scanKeysAt(spark, path, 1,
      Seq(2L))
    assert(total1 === 4, s"v1 probe saw $total1 files")
    assert(read1 > 0 && read1 < total1)
    assert(s1.count() === 100)
    // probe at v2 sees both batches' files
    val (s2, read2, total2) = SnapshotTable.scanKeysAt(spark, path, 2,
      Seq(2L, 6L))
    assert(total2 === 8)
    assert(read2 < total2)
    assert(s2.count() === 200)
    // a COW delete re-indexes its rewritten files: probes still work
    SnapshotTable.deleteStatsRange(spark, path, 150, 249)
    val (s3, read3, total3) = SnapshotTable.scanKeysAt(spark, path, 3,
      Seq(2L))
    assert(read3 > 0 && read3 <= total3)
    assert(s3.count() === 50) // keys 200..249 deleted
  }

  test("merge: updates replace matched keys, inserts land, only " +
    "candidate files rewrite, v1 time-travels") {
    import spark.implicits._
    val path = freshPath()
    // 1000 unique keys laid out by day (key = day here: locality holds)
    val base = (0L until 1000L).map(k => (k, k, k % 7))
      .toDF("k", "day", "payload")
    SnapshotTable.append(base, path, 8, statsCol = Some("day"),
      bloomCol = Some("k"))
    // updates: keys 100-149 get payload 999; inserts: keys 2000-2009
    // with days inside the same range (locality contract)
    val ups = ((100L until 150L).map(k => (k, k, 999L)) ++
      (2000L until 2010L).map(k => (k, 120L, 777L)))
      .toDF("k", "day", "payload")
    val res = SnapshotTable.merge(spark, path, ups, "k")
    assert(res.version === 2)
    assert(res.rowsMatched === 50 && res.rowsInserted === 10)
    assert(res.filesRewritten > 0 && res.filesRewritten < res.filesTotal,
      s"merge rewrote ${res.filesRewritten} of ${res.filesTotal}")
    val (s2, _, rows2) = SnapshotTable.scanAt(spark, path, 2)
    assert(rows2 === 1010 && s2.count() === 1010)
    assert(s2.filter(col("payload") === 999).count() === 50)
    assert(s2.filter(col("payload") === 777).count() === 10)
    // matched keys hold exactly one row (replaced, not duplicated)
    assert(s2.filter(col("k") === 120).count() === 1)
    // pre-merge version unchanged
    val (s1, _, _) = SnapshotTable.scanAt(spark, path, 1)
    assert(s1.count() === 1000 &&
      s1.filter(col("payload") === 999).isEmpty)
    // duplicate update keys are rejected loudly
    val dup = Seq((1L, 1L, 0L), (1L, 1L, 2L)).toDF("k", "day", "payload")
    val e = intercept[IllegalArgumentException](
      SnapshotTable.merge(spark, path, dup, "k"))
    assert(e.getMessage.contains("unique"))
  }

  test("merge keyed on the SECOND column of a bloom list is bloom-" +
    "refined: fewer files rewrite than the stats hit") {
    import spark.implicits._
    val path = freshPath()
    // day = k: the update batch's day range [100, 900] stats-hits most
    // files, while keys 100 and 900 live in two of them
    val base = (0L until 1000L).map(k => (k * 10 + 1, k, k))
      .toDF("a", "k", "day")
    SnapshotTable.append(base, path, 8, statsCol = Some("day"),
      bloomCol = Some("a,k"))
    val ver = SnapshotTable.readVersion(spark, path, 1)
    assert(ver.blooms.map(_.col) === Seq("a", "k"))
    val st = ver.stats.get
    val statsHit = ver.files.indices
      .count(i => st.maxs(i) >= 100 && st.mins(i) <= 900)
    assert(statsHit > 2, s"stats hit only $statsHit files")
    val ups = Seq((-1L, 100L, 100L), (-2L, 900L, 900L)).toDF("a", "k", "day")
    val res = SnapshotTable.merge(spark, path, ups, "k")
    assert(res.filesRewritten < statsHit,
      s"merge rewrote ${res.filesRewritten} of $statsHit stats-hit files")
    assert(res.rowsMatched === 2 && res.rowsInserted === 0)
    val (s2, _, rows2) = SnapshotTable.scanAt(spark, path, 2)
    assert(rows2 === 1000 && s2.count() === 1000)
    assert(s2.filter(col("a") < 0).select("k").as[Long].collect().sorted
      === Array(100L, 900L))
  }

  test("merge trusts the bloom only over indexed files and probes keys " +
    "in the index's encoding") {
    import spark.implicits._
    // an append that declares no bloom leaves its file unindexed: the
    // key living there must be replaced, not duplicated
    val path = freshPath()
    SnapshotTable.append((0L until 400L).map(k => (k, k, 0L))
      .toDF("k", "day", "payload"), path, 4, statsCol = Some("day"),
      bloomCol = Some("k"))
    SnapshotTable.append((400L until 500L).map(k => (k, k, 0L))
      .toDF("k", "day", "payload"), path, 1, statsCol = Some("day"))
    SnapshotTable.merge(spark, path,
      Seq((10L, 10L, 1L), (450L, 450L, 1L)).toDF("k", "day", "payload"), "k")
    val (s3, _, _) = SnapshotTable.scanAt(spark, path, 3)
    assert(s3.count() === 500)
    assert(s3.filter(col("k") === 450).select("payload").as[Long]
      .collect().toSeq === Seq(1L))
    // a TIMESTAMP key: the bloom holds epoch micros, so must the probe
    val ts = freshPath()
    def tsRows(lo: Long, hi: Long, payload: Long) = spark.range(lo, hi)
      .select(timestamp_seconds(col("id")).as("t"), col("id").as("day"),
        lit(payload).as("payload"))
    SnapshotTable.append(tsRows(0, 400, 0L), ts, 4, statsCol = Some("day"),
      bloomCol = Some("t"))
    SnapshotTable.merge(spark, ts, tsRows(100, 101, 1L), "t")
    val (t2, _, _) = SnapshotTable.scanAt(spark, ts, 2)
    assert(t2.count() === 400)
    assert(t2.filter(col("day") === 100).select("payload").as[Long]
      .collect().toSeq === Seq(1L))
  }

  test("expire drops old versions' manifests and exactly their " +
    "unreferenced files; retained versions read unchanged") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append((0L until 500L).toDF("day"), path, 4,
      statsCol = Some("day"))
    SnapshotTable.append((500L until 600L).toDF("day"), path, 2,
      statsCol = Some("day"))
    // v3: COW delete rewrites some v1 files -> v1-only files exist
    SnapshotTable.deleteStatsRange(spark, path, 100, 199)
    val v3 = SnapshotTable.readVersion(spark, path, 3)
    val dead = (SnapshotTable.readVersion(spark, path, 1).files.toSet ++
      SnapshotTable.readVersion(spark, path, 2).files.toSet) --
      v3.files.toSet
    assert(dead.nonEmpty)
    val res = SnapshotTable.expire(spark, path, keepFrom = 3)
    assert(res.manifestsDeleted === 2)
    assert(res.filesDeleted === dead.size)
    assert(res.filesRetained === v3.files.size)
    // expired versions are loud, the retained one reads whole
    intercept[IllegalArgumentException](
      SnapshotTable.scanAt(spark, path, 1))
    val (s3, _, rows3) = SnapshotTable.scanAt(spark, path, 3)
    assert(s3.count() === rows3 && rows3 === 500)
    // every retained file still on disk, every dead file gone
    v3.files.foreach(f => assert(Files.exists(
      java.nio.file.Paths.get(f.stripPrefix("file:")))))
    dead.foreach(f => assert(!Files.exists(
      java.nio.file.Paths.get(f.stripPrefix("file:")))))
  }

  test("changes: a COW delete emits only the deleted rows, an append " +
    "only inserts, and rewritten survivors cancel") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append((0L until 400L).toDF("day"), path, 4,
      statsCol = Some("day"))
    SnapshotTable.deleteStatsRange(spark, path, 100, 199) // v2
    SnapshotTable.append((1000L until 1050L).toDF("day"), path, 1,
      statsCol = Some("day")) // v3
    val d12 = SnapshotTable.changes(spark, path, 1, 2)
    val dels = d12.filter(col("_change") === "delete")
    assert(dels.count() === 100)
    assert(d12.filter(col("_change") === "insert").isEmpty,
      "survivor rewrite must cancel in the multiset diff")
    assert(dels.agg(min("day"), max("day")).collect().head.toSeq ===
      Seq(100L, 199L))
    val d23 = SnapshotTable.changes(spark, path, 2, 3)
    assert(d23.filter(col("_change") === "delete").isEmpty)
    assert(d23.filter(col("_change") === "insert").count() === 50)
    // same-version diff is empty; reversed versions are loud
    assert(SnapshotTable.changes(spark, path, 2, 2).isEmpty)
    intercept[IllegalArgumentException](
      SnapshotTable.changes(spark, path, 3, 1))
  }

  test("changes reads each side as its own pruned file scan — no " +
    "cartesian, no shuffle of a file map") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append((0L until 200L).toDF("day"), path, 4,
      statsCol = Some("day"))
    SnapshotTable.deleteStatsRange(spark, path, 50, 99)
    val plan = SnapshotTable.changes(spark, path, 1, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "file-side split went " +
      "cartesian")
    // correctness of the split: only the COW-deleted rows surface
    val feed = SnapshotTable.changes(spark, path, 1, 2)
    assert(feed.filter(col("_change") === "insert").count() === 0)
    assert(feed.filter(col("_change") === "delete")
      .select("day").collect().map(_.getLong(0)).sorted === (50L to 99L))
  }

  test("txn appends are idempotent per writer: a replayed batch id " +
    "commits nothing, a new id commits, writers are independent") {
    import spark.implicits._
    val path = freshPath()
    val v1 = SnapshotTable.append((1 to 10).toDF("x"), path, 1,
      txn = Some(("writerA", 0L)))
    assert(v1 === 1)
    // replay of batch 0: no new version, no new rows, no new files
    val filesBefore = SnapshotTable.readVersion(spark, path, 1).files
    val vReplay = SnapshotTable.append((999 to 1020).toDF("x"), path, 1,
      txn = Some(("writerA", 0L)))
    assert(vReplay === 1)
    assert(SnapshotTable.latestVersion(path) === 1)
    assert(SnapshotTable.readVersion(spark, path, 1).files === filesBefore)
    // the next batch id commits; an OLDER id afterwards is also skipped
    val v2 = SnapshotTable.append((11 to 15).toDF("x"), path, 1,
      txn = Some(("writerA", 1L)))
    assert(v2 === 2)
    assert(SnapshotTable.append((0 to 0).toDF("x"), path, 1,
      txn = Some(("writerA", 0L))) === 2)
    // a different writer with the same batch id is independent
    val v3 = SnapshotTable.append((16 to 18).toDF("x"), path, 1,
      txn = Some(("writerB", 0L)))
    assert(v3 === 3)
    val (s3, _, rows3) = SnapshotTable.scanAt(spark, path, 3)
    assert(rows3 === 18 && s3.count() === 18)
    // txn watermarks survive a non-txn append
    SnapshotTable.append((19 to 20).toDF("x"), path, 1)
    assert(SnapshotTable.append((0 to 9).toDF("x"), path, 1,
      txn = Some(("writerA", 1L))) === 4)
    assert(SnapshotTable.latestVersion(path) === 4)
  }

  test("recluster switches the layout column, preserves rows exactly, " +
      "and keeps old-layout pruning at the old version") {
    import spark.implicits._
    val path = freshPath()
    // ingest-ordered: laid out on `day`, but carrying a z-ish key `k`
    // that scatters uniformly (poor pruning under the day layout)
    val base = (0L until 1000L).toDF("day")
      .withColumn("k", (col("day") * 37) % 1000)
      .withColumn("v", col("day") * 2)
    SnapshotTable.append(base, path, 10, statsCol = Some("day"))
    val r = SnapshotTable.recluster(spark, path, "k", 10)
    assert(r.version === 2 && r.filesBefore === 10 && r.filesAfter === 10)
    // new version prunes on k
    val (s2, read2, total2) =
      SnapshotTable.scanStatsRange(spark, path, 2, 100, 199)
    assert(read2 > 0 && read2 < total2, s"read $read2 of $total2")
    assert(s2.count() === 100)
    // old version still prunes on day — stats are per manifest
    val v1 = SnapshotTable.readVersion(spark, path, 1)
    assert(v1.stats.get.col === "day")
    val (s1, read1, total1) =
      SnapshotTable.scanStatsRange(spark, path, 1, 100, 199)
    assert(read1 < total1 && s1.count() === 100)
    // row-preserving: the change feed across the recluster is empty
    assert(SnapshotTable.changes(spark, path, 1, 2).isEmpty)
    // multiset equality of a full aggregate at both versions
    val agg1 = SnapshotTable.scanAt(spark, path, 1)._1
      .agg(sum("v"), count(lit(1))).collect().head
    val agg2 = SnapshotTable.scanAt(spark, path, 2)._1
      .agg(sum("v"), count(lit(1))).collect().head
    assert(agg1 === agg2)
    // appends after recluster follow the NEW layout column
    intercept[IllegalArgumentException] {
      SnapshotTable.append((0L until 5L).toDF("day")
        .withColumn("k", col("day")).withColumn("v", col("day")),
        path, 1, statsCol = Some("day"))
    }
    SnapshotTable.append((1000L until 1005L).toDF("day")
      .withColumn("k", col("day")).withColumn("v", col("day")),
      path, 1, statsCol = Some("k"))
    assert(SnapshotTable.readVersion(spark, path, 3).rows === 1005)
    // a column the table does not carry is loud
    intercept[IllegalArgumentException] {
      SnapshotTable.recluster(spark, path, "nope", 4)
    }
  }

  test("vacuum sweeps unreferenced batches and dead index rows, never " +
      "live files") {
    import spark.implicits._
    val path = freshPath()
    val base = (0L until 400L).map(i => (i, i % 997)).toDF("day", "k")
    SnapshotTable.append(base, path, 8, statsCol = Some("day"),
      bloomCol = Some("k"))
    SnapshotTable.append(
      (400L until 500L).map(i => (i, i % 997)).toDF("day", "k"),
      path, 2, statsCol = Some("day"), bloomCol = Some("k"))
    // an aborted ingest: a durable batch no manifest references
    (9000L until 9100L).map(i => (i, i)).toDF("day", "k")
      .repartition(2).write.parquet(s"$path/files/batch-orphan")
    // a boundary-aligned delete: [0, 99] covers files 1-2 of the
    // 50-day layout exactly, so the survivor rewrite is EMPTY — the
    // manifest is just the carried set (regression: this used to crash
    // building a bloom index over zero files)
    SnapshotTable.deleteStatsRange(spark, path, 0L, 99L) // v3
    // expire removes REFERENCED-dead files itself; vacuum's job is the
    // unreferenced garbage (the aborted batch) + the dead index rows
    SnapshotTable.expire(spark, path, keepFrom = 3)
    val r = SnapshotTable.vacuum(spark, path, olderThanMs = 0L)
    assert(r.orphansDeleted === 2, s"swept ${r.orphansDeleted}")
    assert(r.bytesFreed > 0)
    assert(r.indexRowsDropped > 0,
      "dead files' bloom rows survived the GC")
    assert(!Files.isDirectory(
      java.nio.file.Paths.get(s"$path/files/batch-orphan")),
      "emptied orphan batch dir was left behind")
    // the surviving version reads exactly and probes still prune
    val (scan, _, rows) = SnapshotTable.scanAt(spark, path, 3)
    assert(rows === 400 && scan.count() === 400)
    val (probe, read, total) =
      SnapshotTable.scanKeysAt(spark, path, 3, Seq(150L))
    assert(read > 0 && read <= total)
    assert(probe.count() === 1)
    // idempotent: a second sweep finds nothing
    val r2 = SnapshotTable.vacuum(spark, path, olderThanMs = 0L)
    assert(r2.orphansDeleted === 0 && r2.indexRowsDropped === 0L)
  }

  test("missing version and missing table are loud") {
    import spark.implicits._
    val path = freshPath()
    intercept[IllegalArgumentException] {
      SnapshotTable.readVersion(spark, path, 1)
    }
    SnapshotTable.append(Seq(1).toDF("x"), path, 1)
    intercept[IllegalArgumentException] {
      SnapshotTable.scanAt(spark, path, 7)
    }
  }

  test("DV maintenance policy bounds the read tax: six chained MOR " +
      "deletes auto-materialize at the file-count threshold and the " +
      "table never carries more than maxDvFiles vectors") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append((1L to 600L).map(k => (k, k * 2))
      .toDF("k", "v"), path, 3, statsCol = Some("k"))
    SnapshotTable.setDvPolicy(path, maxDvFiles = 2, maxDvFraction = 1.0)
    assert(SnapshotTable.dvPolicyOf(path)
      === Some(SnapshotTable.DvPolicy(2, 1.0)))
    (0 until 6).foreach { i =>
      val keys = ((i * 20 + 1).toLong to (i * 20 + 20).toLong).toDF("k")
      val (v, nDel) = SnapshotTable.deleteRowsIn(spark, path, "k", keys)
      assert(nDel === 20)
      val ver = SnapshotTable.readVersion(spark, path, v)
      assert(ver.dvFiles.length <= 2,
        s"pass $i left ${ver.dvFiles.length} DV files — unbounded tax")
    }
    val head = SnapshotTable.latestVersion(path)
    val (scan, _, rows) = SnapshotTable.scanAt(spark, path, head)
    assert(rows === 480 && scan.count() === 480)
    assert(scan.filter(col("k") <= 120).count() === 0)
    assert(scan.agg(min("k")).head.getLong(0) === 121L)
    // both commits of each triggered pass are in history: auditable
    val ops = SnapshotTable.history(spark, path)
      .select("op").as[String].collect()
    assert(ops.count(_ == "DELETE") === 6)
    assert(ops.count(_ == "OPTIMIZE") >= 2)
  }

  test("DV fraction threshold: one oversized delete materializes " +
      "immediately; an unconfigured table never auto-materializes") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append((1L to 100L).map(k => (k, k)).toDF("k", "v"),
      path, 2, statsCol = Some("k"))
    SnapshotTable.setDvPolicy(path, maxDvFiles = 100,
      maxDvFraction = 0.25)
    val (v, nDel) =
      SnapshotTable.deleteRowsWhere(spark, path, "k <= 40")
    assert(nDel === 40)
    val ver = SnapshotTable.readVersion(spark, path, v)
    assert(ver.dvFiles.isEmpty && ver.op === "OPTIMIZE")
    assert(SnapshotTable.scanAt(spark, path, v)._1.count() === 60)
    // no policy → today's manual behavior
    val bare = freshPath()
    SnapshotTable.append((1L to 100L).map(k => (k, k)).toDF("k", "v"),
      bare, 2, statsCol = Some("k"))
    val (v2, _) = SnapshotTable.deleteRowsWhere(spark, bare, "k <= 40")
    assert(SnapshotTable.readVersion(spark, bare, v2).dvFiles.nonEmpty)
  }

  test("versionAsOf never fabricates AS OF history from pre-upgrade " +
      "manifests lacking committed_ms; history surfaces them as null") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append(Seq(1L).toDF("x"), path, 1)
    // simulate a pre-upgrade manifest: strip the committed_ms field
    val mp = java.nio.file.Paths.get(path, "log", "v1.json")
    val stripped = new String(Files.readAllBytes(mp), "UTF-8")
      .replaceFirst("\"committed_ms\":\\d+,", "")
    Files.write(mp, stripped.getBytes("UTF-8"))
    // epoch-0 must not win every AS OF race: with no timestamped
    // commit, resolution fails loudly instead of returning v1
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.versionAsOf(spark, path, System.currentTimeMillis())
    }
    assert(e.getMessage.contains("pre-upgrade"))
    val h = SnapshotTable.history(spark, path).collect()
    assert(h.length === 1 && h.head.isNullAt(h.head.fieldIndex("committed_ms")))
    // a later timestamped commit resolves normally
    SnapshotTable.append(Seq(2L).toDF("x"), path, 1)
    assert(SnapshotTable.versionAsOf(spark, path,
      System.currentTimeMillis()) === 2L)
  }

  test("compact is DV-aware: bin rewrites subtract deletion vectors " +
      "(a partial materialize), nothing resurrects, the carried DV " +
      "plane stays consistent") {
    import spark.implicits._
    val path = freshPath()
    (0 until 3).foreach(b => SnapshotTable.append(
      (b * 100L until b * 100L + 100L).map(k => (k, k * 2))
        .toDF("k", "v"), path, 1, statsCol = Some("k")))
    val (_, nDel) =
      SnapshotTable.deleteRowsWhere(spark, path, "k BETWEEN 50 AND 149")
    assert(nDel === 100)
    // compact DIRECTLY on the DV-carrying table — no materialize
    val res = SnapshotTable.compact(spark, path, targetBytes = 1L << 30)
    assert(res.rewritten === 3)
    val ver = SnapshotTable.readVersion(spark, path, res.version)
    val (scan, _, rows) = SnapshotTable.scanAt(spark, path, res.version)
    assert(rows === 200 && scan.count() === 200)
    assert(scan.filter(col("k").between(50, 149)).count() === 0,
      "compaction resurrected MOR-deleted rows")
    assert(scan.agg(sum("v")).head.getLong(0) ===
      (0L until 300L).filterNot(k => k >= 50 && k <= 149)
        .map(_ * 2).sum)
    // the rewritten files' DV rows are inert (their targets left the
    // file list) — a follow-up MOR delete still works on the result
    SnapshotTable.deleteRowsWhere(spark, path, "k = 200")
    assert(SnapshotTable.scanAt(spark, path,
      SnapshotTable.latestVersion(path))._1.count() === 199)
    assert(ver.op === "OPTIMIZE")
  }
}
