package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.ops.SnapshotTable
import graft.source.v2.{GraftWriteUtil, ScanMetrics}

/** Typed multi-column bounds are tracked INSIDE the write tasks and
  * carried back in the commit messages — the commit never launches a
  * Spark job to re-read the batch it just wrote. This was the one
  * write-path inefficiency of the typed-stats design: every append /
  * streaming epoch to a typed-stats table previously paid an
  * O(batch bytes) `spark.read.parquet(...).groupBy(input_file_name)`
  * read-back. The deliberate O(table) read stays ONLY in
  * [[SnapshotTable.analyzeStats]].
  */
class WriterTrackedStatsSpec extends SparkSpec {

  private def fresh(): String =
    Files.createTempDirectory("wts").toString + "/t"

  test("commitAppendFiles with writer-tracked bounds launches ZERO " +
      "Spark jobs (job-group-counted) and commits the same bounds the " +
      "re-read would have") {
    import spark.implicits._
    val path = fresh()
    // a typed-stats table with data (no single stats col, no bloom,
    // no constraints — the commit's only possible job is the re-read)
    SnapshotTable.append(
      (0L until 100L).map(i => (i, s"2024-01-${i % 9 + 10}", i * 1.5))
        .toDF("k", "ds", "w")
        .select(col("k"), to_date(col("ds")).as("d"), col("w")),
      path, 2, statsCols = Seq("d", "w"))
    val base = SnapshotTable.readVersion(spark, path, 1)
    assert(base.colStats.map(_.col) === Seq("d", "w"))

    // stage two new files OUTSIDE the commit (an executor writer
    // would have produced these) and precompute their facts
    val stage = Files.createTempDirectory("wts-batch").toString + "/b"
    (100L until 140L).map(i => (i, s"2024-02-${i % 9 + 10}", i * 2.5))
      .toDF("k", "ds", "w")
      .select(col("k"), to_date(col("ds")).as("d"), col("w"))
      .repartition(2).write.parquet(stage)
    val dirList = Files.list(java.nio.file.Paths.get(stage)).iterator()
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    dirList.forEachRemaining { p =>
      val n = p.getFileName.toString
      if (n.endsWith(".parquet") && !n.startsWith(".")) buf += p.toString
    }
    val newFiles = buf.toSeq.sorted
    val rows = newFiles.map(f => spark.read.parquet(f).count())
    val bytes = newFiles.map(f => java.nio.file.Files.size(
      java.nio.file.Paths.get(f)))
    // ground-truth bounds (this read is OUTSIDE the commit; the
    // counter check below starts after it)
    val tracked = SnapshotTable.computeColStats(spark, newFiles,
      SnapshotTable.colSpecsOf(base))

    val readsBefore = SnapshotTable.colStatsReads.get()
    spark.sparkContext.setJobGroup("wts-commit",
      "typed-stats append commit must be job-free")
    val v = try {
      SnapshotTable.commitAppendFiles(spark, path, newFiles, rows,
        bytes, batchCols = Seq("k", "d", "w"), statsCol = None,
        statMinMax = None, bloomCol = None, txn = None,
        trackedCs = Some(tracked))
    } finally spark.sparkContext.clearJobGroup()
    assert(v === 2L)
    assert(SnapshotTable.colStatsReads.get() === readsBefore,
      "the commit re-read the batch for typed bounds")
    val jobs = spark.sparkContext.statusTracker
      .getJobIdsForGroup("wts-commit")
    assert(jobs.isEmpty,
      s"typed-stats append commit launched Spark job(s) ${jobs.toSeq}")

    // the committed bounds are exactly the re-read's and they prune
    val ver = SnapshotTable.readVersion(spark, path, 2)
    assert(ver.colStats.map(_.col) === Seq("d", "w"))
    val (n, sc) = ScanMetrics.rowCount(
      spark.read.format("graft_table").option("path", path).load()
        .filter(col("d") >= lit("2024-02-01").cast("date")))
    assert(n === 40)
    val (p1, t1) = (sc.filesPlanned, sc.filesTotal)
    assert(p1 > 0 && p1 < t1, s"tracked bounds did not prune: $p1/$t1")
  }

  test("a typed-stats STREAMING epoch commits without the per-trigger " +
      "re-read job; bounds from the pooled writer match ground truth " +
      "across dtypes (date, double, string)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val dirs = Files.createTempDirectory("wts-stream").toString
    val src = s"$dirs/src"
    val sink = s"$dirs/sink"
    val ckpt = s"$dirs/ckpt"
    SnapshotTable.append(
      (0L until 120L).map(i =>
        (i, s"2024-03-${i % 5 + 10}", i / 7.0, s"doc-${i % 13}"))
        .toDF("k", "ds", "score", "tag")
        .select(col("k"), to_date(col("ds")).as("d"), col("score"),
          col("tag")),
      src, 2)
    def run(): Unit = {
      val q = spark.readStream.format("graft_table").option("path", src)
        .load()
        .writeStream
        .format("graft_table")
        .option("path", sink)
        .option("stats_cols", "d,score,tag")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      ()
    }
    val readsBefore = SnapshotTable.colStatsReads.get()
    run()
    assert(SnapshotTable.colStatsReads.get() === readsBefore,
      "a streaming epoch re-read its batch for typed bounds")
    // second epoch: inherited declaration, still zero re-reads
    SnapshotTable.append(
      (120L until 150L).map(i =>
        (i, s"2024-04-${i % 5 + 10}", i / 7.0, s"doc-${i % 13}"))
        .toDF("k", "ds", "score", "tag")
        .select(col("k"), to_date(col("ds")).as("d"), col("score"),
          col("tag")),
      src, 1)
    run()
    assert(SnapshotTable.colStatsReads.get() === readsBefore,
      "the second epoch re-read its batch for typed bounds")

    // the tracked bounds equal what a full re-read computes
    val ver = SnapshotTable.readVersion(spark, sink,
      SnapshotTable.latestVersion(sink))
    val truth = SnapshotTable.computeColStats(spark, ver.files,
      SnapshotTable.colSpecsOf(ver))
    ver.colStats.zip(truth).foreach { case (got, want) =>
      assert(got === want,
        s"writer-tracked bounds for ${got.col} diverge from re-read")
    }
    // and they prune / serve aggregates like re-read bounds do
    val t = spark.read.format("graft_table").option("path", sink).load()
    val (n, sc) = ScanMetrics.rowCount(
      t.filter(col("d") >= lit("2024-04-01").cast("date")))
    assert(n === 30)
    assert(sc.filesPlanned > 0 && sc.filesPlanned < sc.filesTotal)
    val (mm, sa) = withScan(t.agg(min("score"), max("tag")))
    assert(sa.manifestAgg,
      "streamed tracked bounds must serve MIN/MAX from the manifest")
    assert(mm.getDouble(0) === 0.0 && mm.getString(1) === "doc-9")
  }

  test("row-level MERGE and dynamic overwrite on typed-stats tables " +
      "track bounds in their rewrite tasks — no commit-side re-read, " +
      "bounds equal ground truth") {
    import spark.implicits._
    val r = Files.createTempDirectory("wtscat").toString
    spark.conf.set("spark.sql.catalog.graft_wts",
      "graft.source.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_wts.root", r)
    spark.sql("""CREATE TABLE graft_wts.db.t (k BIGINT, d DATE, v BIGINT)
      PARTITIONED BY (bucket(4, k))
      TBLPROPERTIES ('stats_cols'='d,v')""")
    spark.sql("""INSERT INTO graft_wts.db.t
      SELECT id, date_add(DATE'2024-05-01', CAST(id % 20 AS INT)), id
      FROM range(200)""")
    val p = s"$r/db/t"
    val readsBefore = SnapshotTable.colStatsReads.get()
    spark.sql("""MERGE INTO graft_wts.db.t t
      USING (SELECT 7 AS mk) m ON t.k = m.mk
      WHEN MATCHED THEN UPDATE SET v = 700""")
    assert(SnapshotTable.colStatsReads.get() === readsBefore,
      "MERGE re-read its rewrite batch for typed bounds")
    Seq((1000L, "2024-06-01", 1L)).toDF("k", "ds", "v")
      .select(col("k"), to_date(col("ds")).as("d"), col("v"))
      .writeTo("graft_wts.db.t").overwritePartitions()
    assert(SnapshotTable.colStatsReads.get() === readsBefore,
      "dynamic overwrite re-read its batch for typed bounds")
    val ver = SnapshotTable.readVersion(spark, p,
      SnapshotTable.latestVersion(p))
    val truth = SnapshotTable.computeColStats(spark, ver.files,
      SnapshotTable.colSpecsOf(ver))
    ver.colStats.zip(truth).foreach { case (got, want) =>
      assert(got === want,
        s"rewrite-tracked bounds for ${got.col} diverge from re-read")
    }
    spark.sql("DROP TABLE graft_wts.db.t")
  }
}
