package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.SnapshotTable

/** Regression pins for three row-level/write-path edges:
  *
  *  - a MERGE whose ON condition references EVERY data column (a
  *    narrow table) builds a group-filter subquery scan that projects
  *    the full schema — the rewrite-scan capture must not mistake it
  *    for a second rewrite scan and fail a valid MERGE;
  *  - dynamic partition overwrite with an EMPTY batch replaces
  *    nothing and must succeed as a no-op (the Delta/Iceberg
  *    contract), not raise;
  *  - the pooled row writer is CAPPED: a task seeing more distinct
  *    partition values than the cap closes least-recently-written
  *    slots and rolls new files per value instead of holding every
  *    writer (and its page buffers) open — several files per value
  *    are legal, rows and partition purity are preserved.
  */
class RowLevelEdgeSpec extends SparkSpec {

  private lazy val root: String = {
    val r = Files.createTempDirectory("rle").toString
    spark.conf.set("spark.sql.catalog.graft_rle",
      "graft.source.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_rle.root", r)
    r
  }

  test("MERGE on a single-column table (ON references every column) " +
      "succeeds — the group-filter subquery scan is not captured as " +
      "a second rewrite scan") {
    root
    spark.sql("CREATE TABLE graft_rle.db.narrow (k BIGINT)")
    spark.sql("INSERT INTO graft_rle.db.narrow SELECT id FROM range(10)")
    spark.sql("""MERGE INTO graft_rle.db.narrow t
      USING (SELECT CAST(id + 5 AS BIGINT) AS k FROM range(10)) s
      ON t.k = s.k
      WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)""")
    assert(spark.sql("SELECT count(*) FROM graft_rle.db.narrow")
      .head.getLong(0) === 15)
    assert(spark.sql("SELECT sum(k) FROM graft_rle.db.narrow")
      .head.getLong(0) === (0L until 15L).sum)
    spark.sql("DROP TABLE graft_rle.db.narrow")
  }

  test("dynamic partition overwrite with an empty batch is a no-op, " +
      "not an error") {
    root
    spark.sql("""CREATE TABLE graft_rle.db.dyn (p BIGINT, v BIGINT)
      PARTITIONED BY (p)""")
    spark.sql("INSERT INTO graft_rle.db.dyn " +
      "SELECT id % 4, id FROM range(100)")
    val path = s"$root/db/dyn"
    val before = SnapshotTable.latestVersion(path)
    // an occasionally-empty source must not fail a scheduled overwrite
    spark.table("graft_rle.db.dyn").where("false")
      .writeTo("graft_rle.db.dyn").overwritePartitions()
    assert(SnapshotTable.latestVersion(path) === before,
      "empty dynamic overwrite must not commit a version")
    assert(spark.sql("SELECT count(*) FROM graft_rle.db.dyn")
      .head.getLong(0) === 100)
    spark.sql("DROP TABLE graft_rle.db.dyn")
  }

  test("pooled writer cap: more distinct partition values than open " +
      "slots rolls extra files per value; rows and partition purity " +
      "survive") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("wcap").toString
    val src = s"$dir/src"
    val dst = s"$dir/dst"
    // ONE source file in k order → p cycles 0..7 row by row, so the
    // single sink task interleaves 8 values through a 2-slot pool
    SnapshotTable.append(
      (1L to 400L).map(k => (k % 8, k, k * 2)).toDF("p", "k", "v"),
      src, 1)
    SnapshotTable.appendPartitioned(
      Seq((99L, 0L, 0L)).toDF("p", "k", "v"), dst,
      SnapshotTable.PartSpec("p", "identity", 0L))
    System.setProperty("graft.writer.maxOpen", "2")
    try {
      val q = spark.readStream.format("graft_table").option("path", src)
        .load()
        .writeStream.format("graft_table")
        .option("path", dst)
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    } finally System.clearProperty("graft.writer.maxOpen")
    val t = spark.read.format("graft_table").option("path", dst).load()
    assert(t.count() === 401)
    assert(t.where("p != 99").agg(sum("v")).head.getLong(0)
      === (1L to 400L).map(_ * 2).sum)
    val ver = SnapshotTable.readVersion(spark, dst,
      SnapshotTable.latestVersion(dst))
    // the capped pool rolled MULTIPLE files for at least one value
    val perValue = ver.partKeys.get.longs.groupBy(identity)
      .view.mapValues(_.size).toMap
    assert(perValue.exists(_._2 > 1),
      s"expected eviction to roll extra files per value: $perValue")
    // partition purity: every file holds exactly its recorded value
    ver.files.zip(ver.partKeys.get.longs).foreach { case (f, pv) =>
      val distinct = spark.read.parquet(f).select("p").distinct().collect()
      assert(distinct.length === 1 && distinct.head.getLong(0) === pv,
        s"file $f is not partition-pure for value $pv")
    }
  }
}
