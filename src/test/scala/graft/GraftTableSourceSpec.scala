package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.SnapshotTable
import graft.ops.SnapshotTable.PartSpec
import graft.source.v2.{GraftTableSource, ScanMetrics}

/** The snapshot table as a DSv2 format: `spark.read.format
  * ("graft_table")` with manifest-driven filter pushdown — stats
  * ranges, hidden-partition transforms and bloom probes all prune
  * FILES at planning time from ordinary Catalyst predicates, results
  * byte-equal to scanAt, time travel via options, field-id renames
  * served without rewrites.
  */
class GraftTableSourceSpec extends SparkSpec {

  private def freshPath(): String =
    Files.createTempDirectory("gts").toString + "/t"

  test("reads equal scanAt; column pruning reaches the reader; " +
      "version option time-travels") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append(
      (1L to 100L).map(k => (k, k * 3, s"r$k")).toDF("k", "v", "tag"),
      path, 4, statsCol = Some("k"))
    SnapshotTable.append(
      (101L to 120L).map(k => (k, k * 3, s"r$k")).toDF("k", "v", "tag"),
      path, 1, statsCol = Some("k"))
    val df = spark.read.format("graft_table").option("path", path).load()
    assert(df.columns.toSeq === Seq("k", "v", "tag"))
    assert(df.count() === 120)
    assert(df.agg(sum("v")).head.getLong(0) === (1L to 120L).map(_ * 3).sum)
    assert(df.filter(col("tag") === "r7").count() === 1)
    val v1 = spark.read.format("graft_table").option("path", path)
      .option("version", "1").load()
    assert(v1.count() === 100)
    // matches the bespoke scan row-for-row
    val a = SnapshotTable.scanAt(spark, path, 2)._1
      .orderBy("k").collect().map(_.toSeq)
    val b = df.orderBy("k").collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("stats predicates prune files at planning time and the " +
      "explain description carries the file arithmetic") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append(
      (1L to 1000L).map(k => (k, k * 2)).toDF("k", "v"), path, 10,
      statsCol = Some("k"))
    val df = spark.read.format("graft_table").option("path", path).load()
      .filter(col("k").between(301, 400))
    val (n, sc) = ScanMetrics.rowCount(df)
    assert(n === 100)
    val (planned, total) = (sc.filesPlanned, sc.filesTotal)
    assert(total === 10 && planned >= 1 && planned <= 2,
      s"stats pushdown did not prune: $planned of $total")
    assert(df.agg(sum("k")).head.getLong(0) === (301L to 400L).sum)
    // IN-list pruning
    val in = spark.read.format("graft_table").option("path", path).load()
      .filter(col("k").isin(7L, 907L))
    val (nIn, sIn) = ScanMetrics.rowCount(in)
    assert(nIn === 2)
    assert(sIn.filesPlanned <= 2)
  }

  test("hidden-partition predicates prune through the transform — " +
      "bucket equality included") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.appendPartitioned(
      (1L to 400L).toDF("id"), path, PartSpec("id", "bucket", 8))
    val one = spark.read.format("graft_table").option("path", path).load()
      .filter(col("id") === 133L)
    val (n1, s1) = ScanMetrics.rowCount(one)
    assert(n1 === 1)
    val (planned, total) = (s1.filesPlanned, s1.filesTotal)
    assert(total === 8 && planned === 1,
      s"bucket pushdown did not prune: $planned of $total")
    // truncate range pruning
    val p2 = freshPath()
    SnapshotTable.appendPartitioned(
      (0L until 1000L).toDF("x"), p2, PartSpec("x", "truncate", 100))
    val r = spark.read.format("graft_table").option("path", p2).load()
      .filter(col("x") >= 250L && col("x") <= 449L)
    val (n2, s2) = ScanMetrics.rowCount(r)
    assert(n2 === 200)
    assert((s2.filesPlanned, s2.filesTotal) === ((3L, 10L)))
  }

  test("bloom equality refines the surviving set") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append(
      (1L to 400L).map(k => (k, k)).toDF("k", "v"), path, 8,
      bloomCol = Some("k"))
    val df = spark.read.format("graft_table").option("path", path).load()
      .filter(col("k") === 97L)
    val (n, sc) = ScanMetrics.rowCount(df)
    assert(n === 1)
    val (planned, total) = (sc.filesPlanned, sc.filesTotal)
    assert(total === 8 && planned < total,
      s"bloom pushdown did not prune: $planned of $total")
  }

  test("a renamed table reads under its current names — old files " +
      "served by field id, zero rewrites") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append(
      (1L to 10L).map(k => (k, k * 5)).toDF("k", "old"), path, 1)
    SnapshotTable.renameColumn(spark, path, "old", "fresh")
    SnapshotTable.append(
      (11L to 15L).map(k => (k, k * 5)).toDF("k", "fresh"), path, 1)
    val df = spark.read.format("graft_table").option("path", path).load()
    assert(df.columns.toSeq === Seq("k", "fresh"))
    assert(df.filter(col("fresh").isNull).count() === 0)
    assert(df.agg(sum("fresh")).head.getLong(0)
      === (1L to 15L).map(_ * 5).sum)
  }

  test("a pushed predicate on a column some files physically LACK " +
      "reads those files as all-null instead of failing the scan") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append(
      (1L to 100L).map(k => (k, k * 2)).toDF("k", "v"), path, 1,
      statsCol = Some("k"))
    // a SUBSET-column batch: same epoch, no new columns, but this
    // file has no physical v — a row-group predicate on v must not
    // reach it (parquet's schema validator would throw)
    SnapshotTable.append(
      (101L to 150L).map(k => Tuple1(k)).toDF("k"), path, 1,
      statsCol = Some("k"))
    val t = spark.read.format("graft_table").option("path", path).load()
    assert(t.count() === 150)
    assert(t.filter(col("v") <= 20).count() === 10)
    assert(t.filter(col("v").isNull).count() === 50)
  }

  test("a column RE-ADDED under a renamed-away name never resurrects " +
      "the old physical bytes — pre-add files read it as NULL") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append(
      (1L to 50L).map(k => (k, k * 2)).toDF("a", "v"), path, 2,
      statsCol = Some("a"))
    SnapshotTable.renameColumn(spark, path, "a", "c")
    // a brand-new column NAMED `a`: a different field id — old files'
    // physical `a` belongs to `c`, never to this column
    SnapshotTable.append(
      (51L to 60L).map(k => (k, k * 2, k * 10)).toDF("c", "v", "a"),
      path, 1, statsCol = Some("c"))
    val t = spark.read.format("graft_table").option("path", path).load()
    assert(t.columns.toSeq === Seq("c", "v", "a"))
    // old rows: c serves the original bytes, the re-added a is NULL
    assert(t.filter(col("a").isNull).count() === 50)
    assert(t.filter(col("c") <= 50).agg(sum("c")).head.getLong(0)
      === (1L to 50L).sum)
    // new rows carry both
    assert(t.filter(col("a").isNotNull).agg(sum("a")).head.getLong(0)
      === (51L to 60L).map(_ * 10).sum)
  }

  test("manifest statistics reach Catalyst: scan-node stats equal the " +
      "manifest byte/row totals of the SURVIVING files, and a joined " +
      "graft_table lands on the broadcast side") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append(
      (1L to 1000L).map(k => (k, k * 2)).toDF("k", "v"), path, 10,
      statsCol = Some("k"))
    val ver = SnapshotTable.readVersion(spark, path, 1)
    val t = spark.read.format("graft_table").option("path", path).load()
    def scanStats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.stats
      }.head
    assert(scanStats(t).sizeInBytes === BigInt(ver.fileBytes.get.sum))
    assert(scanStats(t).rowCount.contains(BigInt(1000)))
    // a pushed predicate shrinks the estimate to the pruned files
    val slice = t.filter(col("k") <= 100L)
    assert(scanStats(slice).sizeInBytes < BigInt(ver.fileBytes.get.sum))
    // the (tiny) table side of a join broadcasts off the manifest stats
    val big = spark.range(0, 200000L).withColumnRenamed("id", "k2")
    val joined = big.join(t, col("k2") === col("k"))
    assert(joined.count() === 1000)
    val bcast = joined.queryExecution.executedPlan.toString
    assert(bcast.contains("BroadcastHashJoin"),
      s"manifest stats did not drive a broadcast join:\n$bcast")
  }

  test("runtime filtering: joining on the partition source prunes " +
      "files at EXECUTION time from the dimension's keys") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.appendPartitioned(
      (0L until 1000L).toDF("x"), path, PartSpec("x", "truncate", 100))
    val fact = spark.read.format("graft_table").option("path", path).load()
    // parquet-backed so the selective filter SURVIVES to the
    // PartitionPruning rule (a LocalRelation folds it away)
    val dimPath = freshPath()
    Seq((250L, "a"), (251L, "a"), (993L, "z")).toDF("x2", "tag")
      .write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("tag") === "a")
    withSQLConf(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "1048576") {
      val joined = fact.join(dim, col("x") === col("x2"))
      val (n, sc) = ScanMetrics.rowCount(joined)
      assert(n === 2)
      val (planned, total) = (sc.filesPlanned, sc.filesTotal)
      assert(total === 10 && planned === 1,
        s"runtime filter did not prune: $planned of $total")
    }
  }

  test("COUNT(*)/MIN/MAX on the stats column are answered from the " +
      "manifest — zero data I/O; filters or other columns decline") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append(
      (1L to 1000L).map(k => (k, k * 2)).toDF("k", "v"), path, 10,
      statsCol = Some("k"))
    val t = spark.read.format("graft_table").option("path", path).load()
    val (r, sr) = withScan(t.agg(count(lit(1)), min("k"), max("k")))
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((1000L, 1L, 1000L)))
    assert(sr.manifestAgg, "aggregate was not manifest-served")
    // a residual predicate declines the pushdown and stays correct
    val (nf, sf) = ScanMetrics.rowCount(t.filter(col("k") > 500L))
    assert(nf === 500L)
    assert(!sf.manifestAgg)
    // min/max on a non-stats column declines
    val (mv, sv) = withScan(t.agg(max("v")))
    assert(mv.getLong(0) === 2000L)
    assert(!sv.manifestAgg)
    // grouped aggregates decline
    val (groups, sg) = ScanMetrics.collect(
      t.groupBy((col("k") % 2).as("g")).agg(count(lit(1))))
    assert(groups.length === 2)
    assert(!sg.exists(_.manifestAgg))
  }

  test("DSv2 write: a first append CREATES the table, later appends " +
      "commit new versions, and stats/bloom layout is inherited") {
    import spark.implicits._
    val path = freshPath()
    (1L to 100L).map(k => (k, k * 2)).toDF("k", "v")
      .write.format("graft_table").mode("append")
      .option("path", path).option("write_partitions", "4")
      .option("stats_col", "k").option("bloom_col", "v").save()
    assert(SnapshotTable.latestVersion(path) === 1)
    // second write inherits the stats/bloom columns from the manifest
    (101L to 150L).map(k => (k, k * 2)).toDF("k", "v")
      .write.format("graft_table").mode("append")
      .option("path", path).option("write_partitions", "2").save()
    val ver = SnapshotTable.readVersion(spark, path, 2)
    assert(ver.stats.exists(_.col == "k") && ver.stats.get.mins.length === 6)
    assert(ver.blooms.headOption.exists(_.col == "v"))
    val df = spark.read.format("graft_table").option("path", path).load()
    assert(df.count() === 150)
    assert(df.agg(sum("v")).head.getLong(0) === (1L to 150L).map(_ * 2).sum)
    // the inherited stats still prune through the read path
    val (n, sc) = ScanMetrics.rowCount(df.filter(col("k").between(120L, 140L)))
    assert(n === 21)
    assert(sc.filesPlanned < 6)
  }

  test("DSv2 write into a hidden-partitioned table routes through " +
      "appendPartitioned — partition purity and pruning survive") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.appendPartitioned(
      (0L until 400L).toDF("x"), path, PartSpec("x", "truncate", 100))
    (400L until 800L).toDF("x")
      .write.format("graft_table").mode("append")
      .option("path", path).save()
    val df = spark.read.format("graft_table").option("path", path).load()
    assert(df.count() === 800)
    val (n, sc) = ScanMetrics.rowCount(df.filter(col("x") === 650L))
    assert(n === 1)
    val (planned, total) = (sc.filesPlanned, sc.filesTotal)
    assert(total === 8 && planned === 1,
      s"partition purity lost through DSv2 write: $planned of $total")
  }

  test("DSv2 overwrite is an atomic TRUNCATE+INSERT and the prior " +
      "version still time-travels; txn options are exactly-once") {
    import spark.implicits._
    val path = freshPath()
    (1L to 100L).map(k => (k, "old")).toDF("k", "tag")
      .write.format("graft_table").mode("append")
      .option("path", path).save()
    (1L to 7L).map(k => (k, "new")).toDF("k", "tag")
      .write.format("graft_table").mode("overwrite")
      .option("path", path).save()
    val cur = spark.read.format("graft_table").option("path", path).load()
    assert(cur.count() === 7)
    assert(cur.filter(col("tag") === "old").count() === 0)
    assert(SnapshotTable.readVersion(spark, path, 2).op === "OVERWRITE")
    // time travel across the overwrite
    assert(spark.read.format("graft_table").option("path", path)
      .option("version", "1").load().count() === 100)
    // a replayed txn batch commits nothing
    def writeTxn(): Unit =
      (8L to 9L).map(k => (k, "txn")).toDF("k", "tag")
        .write.format("graft_table").mode("append")
        .option("path", path)
        .option("txn_writer", "w1").option("txn_batch", "5").save()
    writeTxn(); writeTxn()
    assert(SnapshotTable.latestVersion(path) === 3)
    assert(spark.read.format("graft_table").option("path", path)
      .load().count() === 9)
    // a DIRECT-API overwrite that omits a column NARROWS the schema
    // (the id moves to dropped — no type-bearing file is left, so
    // keeping it visible would silently flip its type to the
    // StringType fallback); v1 still shows both columns. Note the
    // DSv2 writer path never produces this shape: Spark's output
    // resolution null-fills missing nullable columns instead.
    val p3 = freshPath()
    (1L to 20L).map(k => (k, k * 2)).toDF("k", "v")
      .write.format("graft_table").mode("append").option("path", p3).save()
    SnapshotTable.overwrite(
      (1L to 4L).map(k => Tuple1(k)).toDF("k"), p3, 1)
    val narrowed = spark.read.format("graft_table").option("path", p3).load()
    assert(narrowed.columns.toSeq === Seq("k"))
    assert(spark.read.format("graft_table").option("path", p3)
      .option("version", "1").load().columns.toSeq === Seq("k", "v"))
    // re-adding the name is a FRESH column read from its own files
    // (evolution-by-add goes through the API; the validated DSv2
    // writer rejects extra columns by design)
    SnapshotTable.append(
      (5L to 6L).map(k => (k, k)).toDF("k", "v"), p3, 1)
    val readded = spark.read.format("graft_table").option("path", p3).load()
    assert(readded.filter(col("v").isNotNull).count() === 2)

    // overwrite on a partitioned table keeps the recorded layout:
    // one TRUNCATE+INSERT commit, batch partitioned under the spec
    val p2 = freshPath()
    SnapshotTable.appendPartitioned(
      (0L until 100L).toDF("x"), p2, PartSpec("x", "truncate", 50))
    (0L until 10L).toDF("x").write.format("graft_table")
      .mode("overwrite").option("path", p2).save()
    val over = SnapshotTable.readVersion(spark, p2, 2)
    assert(over.op === "OVERWRITE" && over.rows === 10 &&
      over.part.exists(_.transform == "truncate") &&
      over.partKeys.exists(_.longs.forall(_ === 0L)))
    assert(spark.read.format("graft_table").option("path", p2).load()
      .count() === 10)
    // prior version still travels
    assert(spark.read.format("graft_table").option("path", p2)
      .option("version", "1").load().count() === 100)
  }

  test("storage-partitioned join: two identity-partitioned tables " +
      "join with NO shuffle on either side; groupBy on the partition " +
      "key also skips the exchange") {
    import spark.implicits._
    val p1 = freshPath(); val p2 = freshPath()
    SnapshotTable.appendPartitioned(
      (0L until 400L).map(i => (i % 8, i)).toDF("g", "v"),
      p1, PartSpec("g", "identity", 0))
    SnapshotTable.appendPartitioned(
      (0L until 80L).map(i => (i % 8, i * 10)).toDF("g", "w"),
      p2, PartSpec("g", "identity", 0))
    val t1 = spark.read.format("graft_table").option("path", p1).load()
    val t2 = spark.read.format("graft_table").option("path", p2).load()
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = t1.join(t2, "g")
      assert(j.count() === 400L * 10)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"storage-partitioned join still shuffles:\n$plan")
      // single-table aggregate on the partition key: no shuffle either
      val a = t1.groupBy("g").agg(sum("v").as("sv"))
      assert(a.count() === 8)
      val aPlan = a.queryExecution.executedPlan.toString
      assert(!aPlan.contains("Exchange hashpartitioning"),
        s"groupBy on partition key still shuffles:\n$aPlan")
    }
  }

  test("LIMIT opens only enough files to cover n rows") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append(
      (1L to 1000L).map(k => (k, k * 2)).toDF("k", "v"), path, 10,
      statsCol = Some("k"))
    val t = spark.read.format("graft_table").option("path", path).load()
    val (r7, Seq(s7)) = ScanMetrics.collect(t.limit(7))
    assert(r7.length === 7)
    assert(s7.filesPlanned === 1,
      s"LIMIT 7 planned ${s7.filesPlanned} files")
    val (r150, Seq(s150)) = ScanMetrics.collect(t.limit(150))
    assert(r150.length === 150)
    assert(s150.filesPlanned === 2,
      s"LIMIT 150 planned ${s150.filesPlanned} files")
  }

  test("a file: URI table root serves end-to-end THROUGH the Hadoop " +
      "configuration path — metadata plane and data plane both") {
    import spark.implicits._
    // URI-schemed root: TableIo routes commits through HadoopTableIo,
    // and the DSv2 reader opens footers + row groups through the
    // session Hadoop conf — the deployable path, exercised on file:
    val path = "file://" + freshPath()
    SnapshotTable.append(
      (1L to 500L).map(k => (k, k * 2)).toDF("k", "v"), path, 5,
      statsCol = Some("k"))
    // statsCol deliberately OMITTED: an indexed table inherits its
    // stats layout through plain appends (the pruning assert below
    // needs per-file bounds for ALL SIX files)
    SnapshotTable.append(
      (501L to 600L).map(k => (k, k * 2)).toDF("k", "v"), path, 1)
    val t = spark.read.format("graft_table").option("path", path).load()
    assert(t.count() === 600)
    assert(t.agg(sum("v")).head.getLong(0) === (1L to 600L).map(_ * 2).sum)
    // pruning arithmetic works on URI manifests too
    val (n, sc) = ScanMetrics.rowCount(t.filter(col("k").between(101, 200)))
    assert(n === 100)
    val (planned, total) = (sc.filesPlanned, sc.filesTotal)
    assert(total === 6 && planned < total,
      s"URI-rooted stats pushdown did not prune: $planned of $total")
    // the row-level path (SQL-equivalent surface) commits there too
    SnapshotTable.deleteRowsWhere(spark, path, "k <= 100")
    SnapshotTable.materializeDeletes(spark, path)
    assert(spark.read.format("graft_table").option("path", path).load()
      .count() === 500)
  }

  test("plain scans read COLUMNAR (ColumnarToRow above the batch " +
      "scan); _file-projecting scans stay row-based") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append(
      (1L to 200L).map(k => (k, k * 2, s"t$k")).toDF("k", "v", "tag"),
      path, 2, statsCol = Some("k"))
    val df = spark.read.format("graft_table").option("path", path).load()
      .filter(col("k") > 50).select(col("v"), col("tag"))
    assert(df.count() === 150)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"expected a columnar scan with ColumnarToRow fusion:\n$plan")
    assert(df.agg(sum("v")).head.getLong(0) === (51L to 200L).map(_ * 2).sum)
  }

  test("pushed predicates skip ROW GROUPS inside kept files — " +
      "delivered rows bounded well below the file's row count") {
    import spark.implicits._
    val path = freshPath()
    // small parquet row groups so a single file holds many: the unit
    // of sub-file skipping the pushed filter is handed to
    val hc = spark.sparkContext.hadoopConfiguration
    val prior = Option(hc.get("parquet.block.size"))
    hc.setInt("parquet.block.size", 16 * 1024)
    try {
      SnapshotTable.append(
        (1L to 200000L).map(k => (k, k * 2)).toDF("k", "v"), path, 1,
        statsCol = Some("k"))
    } finally prior match {
      case Some(v) => hc.set("parquet.block.size", v)
      case None => hc.unset("parquet.block.size")
    }
    val t = spark.read.format("graft_table").option("path", path).load()
    // one file — file-level pruning cannot help; row-group stats must
    val (nk, sk) = ScanMetrics.rowCount(t.filter(col("k").between(1000, 1999)))
    assert(nk === 1000)
    val delivered = sk.rowsDelivered
    assert(delivered >= 1000 && delivered < 100000,
      s"row-group skipping did not bound the read: $delivered of 200000")
    // an unindexed-but-integral column's predicate skips too (files
    // are sorted by k, and v = 2k is correlated)
    val (nv, sv) = ScanMetrics.rowCount(t.filter(col("v") <= 2000))
    assert(nv === 1000)
    val dv = sv.rowsDelivered
    assert(dv < 100000,
      s"non-stats integral predicate did not reach row groups: $dv")
    // correctness unchanged with the filter present
    assert(t.filter(col("k").between(1000, 1999)).agg(sum("v"))
      .head.getLong(0) === (1000L to 1999L).map(_ * 2).sum)
  }

  test("scan counts are per execution: two threads probing two tables " +
      "on one session each read exactly their own counts, every round") {
    import spark.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pa = freshPath()
    SnapshotTable.appendPartitioned(
      (0L until 1000L).toDF("x"), pa, PartSpec("x", "truncate", 100))
    val pb = freshPath()
    SnapshotTable.appendPartitioned(
      (1L to 400L).toDF("id"), pb, PartSpec("id", "bucket", 8))
    def read(p: String) = spark.read.format("graft_table").option("path", p)
      .load()
    // 3 of 10 truncate(100) files, 100 rows each; 1 of 8 bucket files
    def probeA() = ScanMetrics.rowCount(read(pa)
      .filter(col("x") >= 250L && col("x") <= 449L))
    def probeB() = ScanMetrics.rowCount(read(pb).filter(col("id") === 133L))
    // B's one file holds whatever rows hash to 133's bucket: pin that
    // count once, alone, against the manifest's per-file row counts
    val soloRows = probeB()._2.rowsDelivered
    assert(SnapshotTable.readVersion(spark, pb, 1).fileRows.get
      .contains(soloRows))
    // the metric names ride the executed plan's scan node
    val q = read(pa).filter(col("x") < 50L)
    q.collect()
    val scanNode = q.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    assert(Set(ScanMetrics.FilesPlanned, ScanMetrics.FilesTotal,
      ScanMetrics.RowsDelivered).subsetOf(scanNode.metrics.keySet))
    assert(scanNode.metrics(ScanMetrics.FilesPlanned).value === 1L)
    // a DataFrame that already ran an action still reads its counts
    assert(ScanMetrics.collect(q)._2.map(_.filesPlanned) === Seq(1L))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try (1 to 20).foreach { round =>
      val start = new java.util.concurrent.CountDownLatch(1)
      val fa = Future { start.await(); probeA() }
      val fb = Future { start.await(); probeB() }
      start.countDown()
      val (na, sa) = Await.result(fa, 2.minutes)
      val (nb, sb) = Await.result(fb, 2.minutes)
      assert(na === 200 && sa.path === pa && sa.filesPlanned === 3 &&
        sa.filesTotal === 10 && sa.rowsDelivered === 300,
        s"round $round, table A: $sa")
      assert(nb === 1 && sb.path === pb && sb.filesPlanned === 1 &&
        sb.filesTotal === 8 && sb.rowsDelivered === soloRows,
        s"round $round, table B: $sb")
    } finally pool.shutdown()
  }

  test("native streaming sink: writeStream into a graft_table, " +
      "exactly-once across restarts, replayed epoch commits nothing") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("gsink").toString
    val src = s"$root/src"
    val dst = s"$root/dst"
    val ckpt = s"$root/ckpt"
    SnapshotTable.append(
      (1L to 100L).map(k => (k, k * 2)).toDF("k", "v"), src, 2,
      statsCol = Some("k"))
    def run(): Unit = {
      val q = spark.readStream.format("graft_table").option("path", src)
        .load()
        .writeStream.format("graft_table")
        .option("path", dst)
        .option("stats_col", "k")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      ()
    }
    run()
    val t = spark.read.format("graft_table").option("path", dst).load()
    assert(t.count() === 100)
    assert(t.agg(sum("v")).head.getLong(0) === (1L to 100L).map(_ * 2).sum)
    // layout inherited: the sink indexed stats through the stream
    val ver1 = SnapshotTable.readVersion(spark, dst,
      SnapshotTable.latestVersion(dst))
    assert(ver1.stats.exists(_.col == "k"),
      "streamed files must carry the stats index")
    // restart with new source rows: ONLY the delta arrives
    SnapshotTable.append(
      (101L to 130L).map(k => (k, k * 2)).toDF("k", "v"), src, 1)
    run()
    assert(spark.read.format("graft_table").option("path", dst).load()
      .count() === 130)
    // idle restart commits nothing (no version churn)
    val vBefore = SnapshotTable.latestVersion(dst)
    run()
    assert(SnapshotTable.latestVersion(dst) === vBefore,
      "an idle restart must not commit")
    // a REPLAYED epoch (same queryId, same epochId) is a no-op even
    // when invoked directly against the sink's commit path
    val lastEpochTxn = SnapshotTable.readVersion(spark, dst, vBefore).txns
    assert(lastEpochTxn.keys.exists(_.startsWith("stream-")),
      "streamed commits must be txn-keyed by (queryId, epochId)")
  }

  test("stream into a branch: epochs advance the staging ref with the " +
      "run's base recorded, main readers see nothing, publish " +
      "cherry-picks the run past a failed-audit ancestor") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("gbranch").toString
    val src = s"$root/src"
    val dst = s"$root/dst"
    // published state A, then a FAILED-audit batch C on the head
    SnapshotTable.append(
      (1L to 100L).map(k => (k, k * 2)).toDF("k", "v"), dst, 2,
      statsCol = Some("k"))
    SnapshotTable.createBranch(dst, "main") // published = v1
    SnapshotTable.append(Seq((5000L, -1L)).toDF("k", "v"), dst, 1)
    // C (v2) audits dirty and is abandoned — no publish
    // begin staging: the branch exists before the stream starts (the
    // sink's schema resolution pins refs loudly, same as any reader)
    SnapshotTable.createBranch(dst, "staging")
    // the streamed backfill: two source versions → two epochs
    SnapshotTable.append(
      (1000L to 1029L).map(k => (k, k * 2)).toDF("k", "v"), src, 1,
      statsCol = Some("k"))
    SnapshotTable.append(
      (1030L to 1059L).map(k => (k, k * 2)).toDF("k", "v"), src, 1)
    val q = spark.readStream.format("graft_table").option("path", src)
      .load()
      .writeStream.format("graft_table")
      .option("path", dst)
      .option("ref", "staging")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val st = SnapshotTable.resolveRef(dst, "staging")
    assert(st.base === 2L,
      s"staging must record the stream run's base (head at start), " +
        s"got ${st.base}")
    assert(st.version === SnapshotTable.latestVersion(dst))
    // main readers saw NOTHING of the stream (or of C)
    val main0 = spark.read.format("graft_table").option("path", dst)
      .option("ref", "main").load()
    assert(main0.count() === 100)
    assert(main0.filter(col("v") < 0).count() === 0)
    // audit the run's slice on the staging ref: clean
    val (staged, _, _) = SnapshotTable.scanRef(spark, dst, "staging")
    assert(staged.filter(col("k") >= 1000L && col("k") < 2000L)
      .filter(col("v") =!= col("k") * 2).count() === 0)
    // publish: cherry-pick (C sits between the published pin and the
    // run's base, so fast-forward would leak it)
    val r = SnapshotTable.publish(spark, dst, "main", "staging")
    assert(r.mode === "cherry-pick", s"expected cherry-pick: $r")
    GraftTableSource.invalidate(dst)
    val pub = spark.read.format("graft_table").option("path", dst)
      .option("ref", "main").load()
    assert(pub.count() === 160, "published = A + the streamed run")
    assert(pub.filter(col("v") < 0).count() === 0,
      "publish leaked the failed-audit batch")
    assert(pub.filter(col("k") >= 1000L).count() === 60)
  }

  test("DV-carrying versions reject loudly; missing path is loud") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append(
      (1L to 10L).map(k => (k, k)).toDF("k", "v"), path, 1,
      statsCol = Some("k"))
    SnapshotTable.deleteRowsWhere(spark, path, "k = 3")
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft_table").option("path", path).load().count()
    }
    assert(e.getMessage.contains("deletion"))
    // pre-DV version still serves
    assert(spark.read.format("graft_table").option("path", path)
      .option("version", "1").load().count() === 10)
    intercept[IllegalArgumentException] {
      spark.read.format("graft_table").load()
    }
  }
}
