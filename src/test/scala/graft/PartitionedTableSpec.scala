package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.ops.SnapshotTable
import graft.ops.SnapshotTable.PartSpec

/** Hidden partitioning over the snapshot table: partition-pure file
  * writes, transform-aware pruning from SOURCE-column predicates, the
  * metadata-only partition drop, and the guards that keep the
  * stats-based mutating ops off partitioned layouts. q167/q168
  * oracle-gate the scan arithmetic cross-engine.
  */
class PartitionedTableSpec extends SparkSpec {

  private def freshPath(): String =
    Files.createTempDirectory("ptab").toString + "/t"

  private def parquetLeaves(path: String): Seq[java.nio.file.Path] = {
    val w = Files.walk(Paths.get(path, "files"))
    try {
      val it = w.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (n.endsWith(".parquet") && !n.startsWith(".")) buf += p
      }
      buf.toSeq
    } finally w.close()
  }

  test("truncate partitioning: files are partition-pure, range scans " +
      "prune to exactly the covering partitions, and the derived value " +
      "never appears in the schema") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec("x", "truncate", 100)
    SnapshotTable.appendPartitioned(
      (0L until 1000L).toDF("x"), path, spec)
    val ver = SnapshotTable.readVersion(spark, path, 1)
    assert(ver.part === Some(spec))
    assert(ver.partKeys.get.longs.sorted === (0L to 9L))
    assert(ver.files.length === 10) // one file per partition value
    val (df, read, total) = SnapshotTable.scanPartitionRange(
      spark, path, 1, 250, 449)
    assert(total === 10 && read === 3) // partitions 2, 3, 4
    // hidden: no derived column reaches the schema
    assert(!df.columns.exists(_.startsWith("__p")))
    assert(df.count() === 200)
    assert(df.agg(sum("x")).head.getLong(0) === (250L to 449L).sum)
  }

  test("per-file partition values agree with the executor-side " +
      "transform for every row of every file") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec("k", "bucket", 8)
    SnapshotTable.appendPartitioned(
      (1L to 400L).toDF("k"), path, spec)
    val ver = SnapshotTable.readVersion(spark, path, 1)
    ver.files.zip(ver.partKeys.get.longs).foreach { case (f, pv) =>
      val vals = spark.read.parquet(f).select("k")
        .collect().map(r => spec(r.getLong(0))).distinct
      assert(vals.toSeq === Seq(pv), s"file $f mixes partition values")
    }
  }

  test("bucket partitioning: key probes open only the keys' buckets; " +
      "range scans reject loudly") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec("k", "bucket", 8)
    SnapshotTable.appendPartitioned(
      (1L to 400L).toDF("k"), path, spec)
    val keys = Seq(7L, 133L, 350L)
    val (df, read, total) = SnapshotTable.scanPartitionKeys(
      spark, path, 1, keys)
    assert(total === 8)
    assert(read <= keys.length && read >= 1)
    assert(df.select("k").collect().map(_.getLong(0)).sorted === keys)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.scanPartitionRange(spark, path, 1, 1, 400)
    }
    assert(e.getMessage.contains("scanPartitionKeys"))
  }

  test("metadata-only delete drops whole partitions with zero data " +
      "I/O and preserves time travel; non-aligned ranges reject") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec("x", "truncate", 100)
    SnapshotTable.appendPartitioned((0L until 1000L).toDF("x"), path, spec)
    val before = parquetLeaves(path).toSet
    val (v, dropped, total) = SnapshotTable.deletePartitionRange(
      spark, path, 300, 499) // exactly partitions 3 and 4
    assert(v === 2 && dropped === 2 && total === 10)
    // zero I/O: not one data file written or removed by the delete
    assert(parquetLeaves(path).toSet === before)
    val (s2, _, r2) = SnapshotTable.scanAt(spark, path, 2)
    assert(r2 === 800 && s2.filter(col("x").between(300, 499)).count() === 0)
    val (s1, _, r1) = SnapshotTable.scanAt(spark, path, 1)
    assert(r1 === 1000 && s1.count() === 1000)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.deletePartitionRange(spark, path, 310, 499)
    }
    assert(e.getMessage.contains("aligned"))
  }

  test("identity partitioning: every range is partition-aligned") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec("g", "identity", 0)
    SnapshotTable.appendPartitioned(
      Seq.tabulate(300)(i => (i.toLong % 6, i.toLong)).toDF("g", "v"),
      path, spec)
    val ver = SnapshotTable.readVersion(spark, path, 1)
    assert(ver.partKeys.get.longs.sorted === (0L to 5L))
    val (_, dropped, _) =
      SnapshotTable.deletePartitionRange(spark, path, 2, 3)
    assert(dropped === 2)
    assert(SnapshotTable.scanAt(spark, path, 2)._1.count() === 200)
  }

  test("appends accumulate partitions across versions and the spec is " +
      "pinned: plain append, a different spec, and the stats-based " +
      "mutating ops all reject") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec("x", "truncate", 100)
    SnapshotTable.appendPartitioned((0L until 200L).toDF("x"), path, spec)
    SnapshotTable.appendPartitioned((200L until 300L).toDF("x"), path, spec)
    val ver = SnapshotTable.readVersion(spark, path, 2)
    assert(ver.files.length === 3 && ver.partKeys.get.longs.length === 3)
    val (_, read, total) =
      SnapshotTable.scanPartitionRange(spark, path, 2, 100, 299)
    assert(total === 3 && read === 2)
    intercept[IllegalArgumentException] {
      SnapshotTable.append((1L to 5L).toDF("x"), path, 1)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.appendPartitioned((1L to 5L).toDF("x"), path,
        PartSpec("x", "truncate", 50))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.deleteStatsRange(spark, path, 0, 10)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.compact(spark, path, 1 << 20)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.recluster(spark, path, "x", 2)
    }
  }

  test("statsCol composes: partition pruning first, per-file stats " +
      "inside the surviving partitions") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec("d", "truncate", 1000)
    SnapshotTable.appendPartitioned(
      (0L until 4000L).map(i => (i, i % 97)).toDF("d", "m"),
      path, spec, statsCol = Some("d"))
    val ver = SnapshotTable.readVersion(spark, path, 1)
    val st = ver.stats.get
    ver.partKeys.get.longs.indices.foreach { i =>
      assert(st.mins(i) >= ver.partKeys.get.longs(i) * 1000 &&
        st.maxs(i) < (ver.partKeys.get.longs(i) + 1) * 1000)
    }
  }

  test("compactPartitioned merges small files within partitions only, " +
      "keeps pruning exact, and is row-preserving") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec("x", "truncate", 100)
    // three appends → three small files per partition value
    (0 until 3).foreach { _ =>
      SnapshotTable.appendPartitioned((0L until 300L).toDF("x"), path, spec)
    }
    val v1 = SnapshotTable.readVersion(spark, path, 3)
    assert(v1.files.length === 9) // 3 partitions × 3 appends
    val res = SnapshotTable.compactPartitioned(spark, path, 1L << 30)
    assert(res.version === 4 && res.rewritten === 9)
    val v2 = SnapshotTable.readVersion(spark, path, 4)
    assert(v2.files.length === 3) // one file per partition value
    assert(v2.partKeys.get.longs.sorted === Seq(0L, 1L, 2L))
    // partition purity: every row of every file maps to its value
    v2.files.zip(v2.partKeys.get.longs).foreach { case (f, p) =>
      assert(spark.read.parquet(f).select("x").collect()
        .forall(r => spec(r.getLong(0)) == p))
    }
    // pruning still exact; row-preserving across the rewrite
    val (df, read, total) =
      SnapshotTable.scanPartitionRange(spark, path, 4, 100, 199)
    assert(total === 3 && read === 1 && df.count() === 300)
    assert(SnapshotTable.changes(spark, path, 3, 4).count() === 0)
    // a second pass converges: nothing left to merge
    assert(SnapshotTable.compactPartitioned(spark, path, 1L << 30)
      .rewritten === 0)
  }

  test("a bloom index on a data column composes with hidden " +
      "partitioning: version-scoped equality probes skip files inside " +
      "the partition layout") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec("t", "truncate", 1000)
    // key k is NOT the partition source — bloom is the only route to
    // file-level equality skipping on it
    SnapshotTable.appendPartitioned(
      (0L until 4000L).map(i => (i, i * 7 % 4096)).toDF("t", "k"),
      path, spec, bloomCol = Some("k"))
    val (df, read, total) =
      SnapshotTable.scanKeysAt(spark, path, 1, Seq(7L, 14L))
    assert(total === 4 && read < total)
    assert(df.select("t").collect().map(_.getLong(0)).sorted ===
      Seq(1L, 2L)) // 1*7=7, 2*7=14
  }

  test("mergePartitioned handles cross-partition key moves via the " +
      "bloom probe: the old row dies, the new lands partition-pure") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec("t", "truncate", 100)
    SnapshotTable.appendPartitioned(
      (1L to 300L).map(k => (k, k, k * 10)).toDF("k", "t", "v"),
      path, spec, statsCol = Some("t"), bloomCol = Some("k"))
    // key 5 moves from partition 0 to partition 200; key 150 updates
    // in place; key 1000 is new
    val res = SnapshotTable.mergePartitioned(spark, path,
      Seq((5L, 250L, 999L), (150L, 151L, 888L), (1000L, 50L, 777L))
        .toDF("k", "t", "v"), "k")
    assert(res.rowsMatched === 2 && res.rowsInserted === 1)
    val (scan, _, _) = SnapshotTable.scanAt(spark, path, 2)
    assert(scan.count() === 301)
    assert(scan.filter(col("k") === 5L).collect()
      .map(r => (r.getAs[Long]("t"), r.getAs[Long]("v"))).toSeq ===
      Seq((250L, 999L))) // exactly one row — the move did not duplicate
    // the moved row is served by a probe of its NEW partition
    val (probe, read, total) =
      SnapshotTable.scanPartitionRange(spark, path, 2, 240L, 260L)
    assert(read < total)
    assert(probe.filter(col("k") === 5L).count() === 1)
    // partition purity survives: every file's __p0 dir matches its rows
    val ver = SnapshotTable.readVersion(spark, path, 2)
    assert(ver.partKeys.get.longs.length === ver.files.length)
  }

  test("mergePartitioned without a key bloom fails loudly when the key " +
      "is not the partition source; key == source needs no bloom") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec("t", "truncate", 100)
    SnapshotTable.appendPartitioned(
      (1L to 100L).map(k => (k, k, k)).toDF("k", "t", "v"),
      path, spec, statsCol = Some("t"))
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.mergePartitioned(spark, path,
        Seq((5L, 5L, 0L)).toDF("k", "t", "v"), "k")
    }
    assert(e.getMessage.contains("bloom"))
    // key == partition source: value-pruning is exact, merge succeeds
    val res = SnapshotTable.mergePartitioned(spark, path,
      Seq((5L, 5L, 0L)).toDF("k", "t", "v"), "t")
    assert(res.rowsMatched === 1 && res.rowsInserted === 0)
    assert(res.filesRewritten < res.filesTotal)
  }

  test("deletion vectors compose with hidden partitioning: MOR delete " +
      "moves nothing, pruned scans hide dead rows, materialize stays " +
      "partition-pure") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec("t", "truncate", 100)
    SnapshotTable.appendPartitioned(
      (0L until 400L).map(k => (k, k, k * 2)).toDF("k", "t", "v"),
      path, spec, statsCol = Some("t"))
    val v1 = SnapshotTable.readVersion(spark, path, 1)
    val (_, nDel) = SnapshotTable.deleteRowsWhere(spark, path,
      "t BETWEEN 150 AND 250")
    assert(nDel === 101)
    assert(SnapshotTable.readVersion(spark, path, 2).files === v1.files)
    // partition-pruned scan applies the DVs
    val (probe, read, total) =
      SnapshotTable.scanPartitionRange(spark, path, 2, 100L, 299L)
    assert(read < total)
    assert(probe.count() === 200 - 101)
    // materialize: only DV-hit partitions rewritten, pruning survives
    val res = SnapshotTable.materializeDeletes(spark, path)
    assert(res.rewritten === 2, s"expected partitions 1,2 rewritten: $res")
    val v3 = SnapshotTable.readVersion(spark, path, 3)
    assert(v3.dvFiles.isEmpty && v3.rows === 299)
    assert(v3.partKeys.get.longs.length === v3.files.length)
    val (probe3, read3, total3) =
      SnapshotTable.scanPartitionRange(spark, path, 3, 100L, 299L)
    assert(read3 < total3 && probe3.count() === 99)
    assert(SnapshotTable.changes(spark, path, 2, 3).count() === 0)
  }

  test("txn appends are idempotent per writer on partitioned tables") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec("x", "truncate", 50)
    val v1 = SnapshotTable.appendPartitioned((0L until 100L).toDF("x"),
      path, spec, txn = Some(("w", 1L)))
    // replayed micro-batch: nothing committed, same version returned
    val v1b = SnapshotTable.appendPartitioned((0L until 100L).toDF("x"),
      path, spec, txn = Some(("w", 1L)))
    assert(v1 === 1 && v1b === 1)
    assert(SnapshotTable.latestVersion(path) === 1)
    assert(SnapshotTable.scanAt(spark, path, 1)._1.count() === 100)
    val v2 = SnapshotTable.appendPartitioned((100L until 150L).toDF("x"),
      path, spec, txn = Some(("w", 2L)))
    assert(v2 === 2)
  }

  test("a manifest or CREATE TABLE marker in the removed single-BIGINT " +
      "encoding fails loudly, naming the table, instead of reading as " +
      "unpartitioned") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.appendPartitioned((0L until 20L).toDF("x"), path,
      PartSpec("x", "truncate", 10))
    val ver = SnapshotTable.readVersion(spark, path, 1)
    def q(s: String) = "\"" + s + "\""
    // the same version, re-encoded in the pre-unification form
    Files.writeString(Paths.get(path, "log", "v1.json"),
      s"""{"version":1,"op":"APPEND","committed_ms":1,"rows":20,""" +
        s""""files":${ver.files.map(q).mkString("[", ",", "]")},""" +
        s""""file_rows":${ver.fileRows.get.mkString("[", ",", "]")},""" +
        s""""file_bytes":${ver.fileBytes.get.mkString("[", ",", "]")},""" +
        s""""part_source":"x","part_transform":"truncate",""" +
        s""""part_param":10,"part_values":""" +
        s"""${ver.partKeys.get.longs.mkString("[", ",", "]")}}""")
    val e = intercept[IllegalStateException] {
      SnapshotTable.readVersion(spark, path, 1)
    }
    assert(e.getMessage.contains(path) &&
      e.getMessage.contains("part_source"), e.getMessage)
    // the CREATE TABLE marker of a never-written table
    val fresh = freshPath()
    Files.createDirectories(Paths.get(fresh, "log"))
    Files.writeString(Paths.get(fresh, "log", "table.json"),
      """{"schema_ddl":"x BIGINT","part_source":"x",""" +
        """"part_transform":"identity","part_param":0}""")
    val m = intercept[IllegalStateException] {
      graft.source.v2.GraftTableSource.readMarker(fresh)
    }
    assert(m.getMessage.contains(fresh) &&
      m.getMessage.contains("part_source"), m.getMessage)
  }

  test("vacuum sweeps an unreferenced partitioned batch including its " +
      "nested partition dirs") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec("x", "truncate", 100)
    SnapshotTable.appendPartitioned((0L until 200L).toDF("x"), path, spec)
    // fake an aborted partitioned append: a durable nested batch no
    // manifest references
    // `__p0=k39` = partition value "9" in the batch layout's hex form
    val orphan = Paths.get(path, "files", "batch-orphan", "__p0=k39")
    Files.createDirectories(orphan)
    val donor = parquetLeaves(path).head
    Files.copy(donor, orphan.resolve("part-orphan.parquet"))
    val res = SnapshotTable.vacuum(spark, path, olderThanMs = 0)
    assert(res.orphansDeleted === 1)
    assert(!Files.exists(Paths.get(path, "files", "batch-orphan")))
    // the live table is untouched
    assert(SnapshotTable.scanAt(spark, path, 1)._1.count() === 200)
  }

  test("manifest file_bytes are per-file exact even when one task " +
      "writes multiple partition directories (base-name reuse)") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec("x", "truncate", 10)
    // 40 partition values over ≤32 shuffle partitions: some task MUST
    // write ≥2 __p0= dirs, reusing its part-file base name across them
    // — a filename-keyed size map would collide and record wrong
    // bytes. Skewed partition sizes (partition p holds p+1 rows) make
    // any collision visible as a size mismatch.
    val rows = (0 until 40).flatMap(p =>
      (0 to p).map(j => 10L * p + (j % 10)))
    SnapshotTable.appendPartitioned(rows.toDF("x"), path, spec,
      statsCol = Some("x"))
    val ver = SnapshotTable.readVersion(spark, path, 1)
    assert(ver.files.length >= 40)
    ver.files.zip(ver.fileBytes.get).foreach { case (f, b) =>
      assert(Files.size(Paths.get(f.stripPrefix("file:"))) === b,
        s"manifest bytes for $f disagree with disk")
    }
    ver.files.zip(ver.fileRows.get).foreach { case (f, n) =>
      assert(spark.read.parquet(f).count() === n,
        s"manifest rows for $f disagree with file contents")
    }
  }

  test("mergePartitioned falls back to a full rewrite when the bloom " +
      "index does not cover every live file — a moved key in an " +
      "unindexed file is not duplicated") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec("day", "identity", 0)
    SnapshotTable.appendPartitioned(
      (1L to 10L).map(i => (i, 1L)).toDF("id", "day"), path, spec,
      bloomCol = Some("id"))
    // second append OMITS bloomCol: allowed, the manifest still carries
    // base.blooms, but the new file has no index rows
    SnapshotTable.appendPartitioned(
      (11L to 20L).map(i => (i, 2L)).toDF("id", "day"), path, spec)
    val before = SnapshotTable.readVersion(spark, path, 2)
    // move id=15 (lives in the UNINDEXED day-2 file) to day 3: a probe
    // that trusted the incomplete index would never rewrite its old
    // row and the key would appear twice
    val res = SnapshotTable.mergePartitioned(spark, path,
      Seq((15L, 3L)).toDF("id", "day"), "id")
    assert(res.filesRewritten === before.files.length,
      "incomplete index must force the unpruned full rewrite")
    val (scan, _, _) = SnapshotTable.scanAt(spark, path, res.version)
    val hits = scan.filter(col("id") === 15).collect()
    assert(hits.length === 1, "moved key duplicated")
    assert(hits.head.getAs[Long]("day") === 3L)
    assert(scan.count() === 20)
  }

  test("mergePartitioned rejects non-LONG partition source and merge " +
      "key in updates — xxhash64 is type-dependent") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec("day", "identity", 0)
    SnapshotTable.appendPartitioned(
      (1L to 5L).map(i => (i, 1L)).toDF("id", "day"), path, spec,
      bloomCol = Some("id"))
    val intDay = intercept[IllegalArgumentException] {
      SnapshotTable.mergePartitioned(spark, path,
        Seq((3L, 1)).toDF("id", "day"), "id")
    }
    assert(intDay.getMessage.contains("must be LONG"))
    val intKey = intercept[IllegalArgumentException] {
      SnapshotTable.mergePartitioned(spark, path,
        Seq((3, 1L)).toDF("id", "day"), "id")
    }
    assert(intKey.getMessage.contains("LONG"))
  }

  test("mergePartitioned is DV-aware: the hit-file rewrite applies " +
      "deletion vectors (no resurrection), kept files' DVs carry, and " +
      "matched counts exclude MOR-deleted rows") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec("t", "truncate", 100)
    SnapshotTable.appendPartitioned(
      (0L until 400L).map(t => (t, t * 2)).toDF("t", "v"),
      path, spec, statsCol = Some("t"))
    val (_, nDel) = SnapshotTable.deleteRowsWhere(spark, path,
      "t BETWEEN 150 AND 250") // partitions 1 and 2 carry DV rows
    assert(nDel === 101)
    // t=50 is live (update in place); t=160 is MOR-DELETED — the
    // merge must treat it as NOT MATCHED (insert), not resurrect the
    // dead row and update it
    val res = SnapshotTable.mergePartitioned(spark, path,
      Seq((50L, -1L), (160L, -2L)).toDF("t", "v"), "t")
    assert(res.rowsMatched === 1 && res.rowsInserted === 1,
      s"DV-deleted row counted as matched: $res")
    val (scan, _, _) = SnapshotTable.scanAt(spark, path, res.version)
    assert(scan.count() === 400 - 101 + 1)
    assert(scan.filter(col("t") === 160L).collect()
      .map(_.getAs[Long]("v")).toSeq === Seq(-2L),
      "the re-inserted key must carry ONLY the merge's row")
    assert(scan.filter(col("t") === 155L).count() === 0,
      "rewriting partition 1 resurrected its MOR-deleted rows")
    // partition 2 was NOT rewritten: its DV rows still apply
    assert(scan.filter(col("t").between(200L, 299L)).count() === 49)
    val ver = SnapshotTable.readVersion(spark, path, res.version)
    assert(ver.dvFiles.nonEmpty, "kept files still need their DVs")
    // a later materialize folds what remains and ends the read tax
    val m = SnapshotTable.materializeDeletes(spark, path)
    val vm = SnapshotTable.readVersion(spark, path, m.version)
    assert(vm.dvFiles.isEmpty)
    assert(SnapshotTable.scanAt(spark, path, m.version)._1.count()
      === 300)
  }

  test("compactPartitioned is DV-aware: per-partition bin rewrites " +
      "subtract deletion vectors and nothing resurrects") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec("t", "truncate", 100)
    (0 until 3).foreach(b => SnapshotTable.appendPartitioned(
      (0L until 400L).map(t => (t, b * 1000L + t)).toDF("t", "v"),
      path, spec, statsCol = Some("t")))
    val (_, nDel) = SnapshotTable.deleteRowsWhere(spark, path,
      "t BETWEEN 150 AND 250")
    assert(nDel === 101 * 3)
    val res = SnapshotTable.compactPartitioned(spark, path,
      targetBytes = 1L << 30)
    assert(res.rewritten > 0 && res.filesAfter < res.filesBefore)
    val (scan, _, rows) = SnapshotTable.scanAt(spark, path, res.version)
    assert(rows === 1200 - 303 && scan.count() === 897)
    assert(scan.filter(col("t") === 155L).count() === 0,
      "partitioned compaction resurrected MOR-deleted rows")
    // purity + pruning survive
    val ver = SnapshotTable.readVersion(spark, path, res.version)
    assert(ver.partKeys.get.longs.length === ver.files.length)
    val (probe, read, total) =
      SnapshotTable.scanPartitionRange(spark, path, res.version,
        0L, 99L)
    assert(read < total && probe.count() === 300)
  }

  test("reclusterPartitioned is DV-aware: the full rewrite doubles as " +
      "the materialize — DVs fold in one pass, nothing resurrects, " +
      "and the change feed across the commit is empty") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec("t", "truncate", 100)
    SnapshotTable.appendPartitioned(
      (0L until 400L).map(t => (t, (t * 37) % 256, t * 2))
        .toDF("t", "z", "v"),
      path, spec, statsCol = Some("t"))
    SnapshotTable.deleteRowsWhere(spark, path, "v % 20 = 0")
    val v2 = SnapshotTable.readVersion(spark, path, 2)
    assert(v2.dvFiles.nonEmpty)
    // recluster DIRECTLY — no materializeDeletes first
    val r = SnapshotTable.reclusterPartitioned(spark, path, "z", 8)
    val v3 = SnapshotTable.readVersion(spark, path, r.version)
    assert(v3.dvFiles.isEmpty, "recluster must fold the DVs")
    val (scan, _, _) = SnapshotTable.scanAt(spark, path, r.version)
    assert(scan.count() === 400 - 40)
    assert(scan.filter(col("v") % 20 === 0).count() === 0,
      "the rewrite resurrected MOR-deleted rows")
    assert(v3.partKeys.get.longs.length === v3.files.length)
    // row-preserving in LOGICAL content: empty change feed
    assert(SnapshotTable.changes(spark, path, 2, r.version).count()
      === 0)
    // partition pruning survives the re-layout
    val (probe, read, total) =
      SnapshotTable.scanPartitionRange(spark, path, r.version,
        100L, 199L)
    assert(read < total && probe.count() === 100 - 10)
  }
}
