package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.SnapshotTable

/** Two portability/staleness pins:
  *
  *  - the DATA plane (the DSv2 vectorized reader AND the row-level
  *    rewrite's executor parquet writers) runs end-to-end through a
  *    CUSTOM Hadoop FileSystem scheme — the broadcast session
  *    configuration genuinely carries `fs.<scheme>.impl` to every
  *    executor-side open, not just the metadata plane TableIoSpec
  *    already covers;
  *  - a streaming sink whose pinned layout goes stale mid-stream (a
  *    rename of the stats or partition source column between epochs)
  *    fails its next epoch commit LOUDLY instead of committing under
  *    the old names.
  */
class DataPlanePortabilitySpec extends SparkSpec {

  private def mockRoot(): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.graftmock.impl",
      classOf[MockObjectStoreFs].getName)
    "graftmock:" + Files.createTempDirectory("dplane").toString
  }

  test("full table lifecycle on a custom FileSystem scheme: DSv2 " +
      "writes, vectorized + predicated reads, and a SQL MERGE's " +
      "row-level rewrite all route through the broadcast conf") {
    import spark.implicits._
    val root = s"${mockRoot()}/wh"
    spark.conf.set("spark.sql.catalog.gmock",
      "graft.source.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmock.root", root)
    spark.sql("""CREATE TABLE gmock.db.t (k BIGINT, v BIGINT)
      TBLPROPERTIES ('stats_col'='k')""")
    spark.sql("INSERT INTO gmock.db.t SELECT id, id * 2 FROM range(1000)")
    spark.sql("INSERT INTO gmock.db.t " +
      "SELECT id, id * 2 FROM range(1000, 2000)")
    // vectorized read through the scheme
    assert(spark.sql("SELECT sum(v) FROM gmock.db.t")
      .head.getLong(0) === (0L until 2000L).map(_ * 2).sum)
    // predicated read: manifest pruning + row-group predicate, both
    // opening files through fs.graftmock.impl
    val (r, sc) = withScan(
      spark.sql("SELECT count(*) FROM gmock.db.t WHERE k < 100"))
    assert(r.getLong(0) === 100)
    val (planned, total) = (sc.filesPlanned, sc.filesTotal)
    assert(planned > 0 && planned < total,
      s"stats pruning failed over the mock scheme: $planned of $total")
    // SQL MERGE: the row-level rewrite's executor parquet WRITERS
    // must open through the scheme too
    Seq((5L, 999L), (2500L, 1L)).toDF("k", "v")
      .createOrReplaceTempView("mock_src")
    spark.sql("""MERGE INTO gmock.db.t t USING mock_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    assert(spark.sql("SELECT v FROM gmock.db.t WHERE k = 5")
      .head.getLong(0) === 999L)
    assert(spark.sql("SELECT count(*) FROM gmock.db.t")
      .head.getLong(0) === 2001L)
    // and DELETE's DV + fold path
    spark.sql("DELETE FROM gmock.db.t WHERE k >= 1500 AND k < 2000")
    assert(spark.sql("SELECT count(*) FROM gmock.db.t")
      .head.getLong(0) === 1501L)
    spark.sql("DROP TABLE gmock.db.t")
  }

  test("streaming sink layout staleness: an epoch commit under a " +
      "layout the table no longer carries fails loudly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stale").toString
    val path = s"$dir/t"
    SnapshotTable.append((1L to 100L).map(k => (k, k))
      .toDF("k", "v"), path, 1, statsCol = Some("k"))
    // one parquet file standing in for an epoch's staged output
    val staged = s"$dir/staged"
    Seq((101L, 101L)).toDF("k", "v").coalesce(1)
      .write.parquet(staged)
    val f = spark.read.parquet(staged).inputFiles.head
    // the operator renames the stats column while the stream is
    // running: the sink's pinned layout (stats_col = k) is stale
    SnapshotTable.renameColumn(spark, path, "k", "key")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.commitAppendFiles(spark, path,
        files = Seq(f), rows = Seq(1L), bytes = Seq(100L),
        batchCols = Seq("k", "v"), statsCol = Some("k"),
        statMinMax = Some((Seq(101L), Seq(101L))),
        bloomCol = None, txn = Some(("stream-stale", 1L)))
    }
    assert(e.getMessage.contains("changed mid-stream"),
      s"wrong failure: ${e.getMessage}")
    // same for a partition layout the writer no longer matches
    val p2 = s"$dir/t2"
    SnapshotTable.appendPartitioned((1L to 10L).map(k => (k % 2, k))
      .toDF("p", "x"), p2, SnapshotTable.PartSpec("p", "identity", 0L))
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.commitAppendFiles(spark, p2,
        files = Seq(f), rows = Seq(1L), bytes = Seq(100L),
        batchCols = Seq("k", "v"), statsCol = None, statMinMax = None,
        bloomCol = None, txn = Some(("stream-stale2", 1L)))
    }
    assert(e2.getMessage.contains("stale layout"),
      s"wrong failure: ${e2.getMessage}")
    // the table is untouched by either failed commit
    assert(SnapshotTable.latestVersion(path) === 2L)
    assert(SnapshotTable.latestVersion(p2) === 1L)
  }
}
