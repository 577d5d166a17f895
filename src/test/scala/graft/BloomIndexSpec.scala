package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.ops.BloomIndex

/** Per-file Bloom index: the no-false-negative contract (every row of a
  * probed key is returned regardless of which files pruned), pruning
  * payoff on a layout where min/max stats are useless, multi-key
  * probes, and the empty-probe guard. q142 oracle-gates the arithmetic
  * cross-engine.
  */
class BloomIndexSpec extends SparkSpec {

  private def layout(n: Int, files: Int): (String, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    // key k scattered uniformly; sort order s = insertion order, so every
    // file's [min,max] over k spans ~the whole domain (range stats dead)
    val df = (0 until n).map { i => (i.toLong, (i.toLong * 2654435761L) % 1000L) }
      .toDF("s", "k")
    val path = Files.createTempDirectory("bloomidx").toString + "/t"
    BloomIndex.write(df, path, col("s"), "k", numPartitions = files,
      expectedPerFile = 4096)
    (path, df)
  }

  test("no false negatives: every row of every probed key survives pruning") {
    val (path, df) = layout(n = 5000, files = 8)
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 20) {
      val key = rnd.nextInt(1000).toLong
      val (scan, read, total) = BloomIndex.scanKeys(spark, path, "k", Seq(key))
      val got = scan.select("s").collect().map(_.getLong(0)).sorted
      val want = df.filter(col("k") === key).select("s")
        .collect().map(_.getLong(0)).sorted
      assert(got.toSeq === want.toSeq, s"key=$key")
      assert(read <= total)
    }
  }

  test("prunes files for a sparse key on a bloom-friendly layout") {
    import spark.implicits._
    // each key confined to one file's worth of sort positions -> the
    // bloom should localize the probe to ~1 file of 8
    val df = (0 until 4000).map { i => (i.toLong, (i / 500).toLong) }
      .toDF("s", "k")
    val path = Files.createTempDirectory("bloomidx").toString + "/t"
    BloomIndex.write(df, path, col("s"), "k", numPartitions = 8,
      expectedPerFile = 4096)
    val (scan, read, total) = BloomIndex.scanKeys(spark, path, "k", Seq(3L))
    assert(total === 8)
    assert(read > 0 && read < total,
      s"expected pruning, read $read of $total")
    assert(scan.count() === 500)
  }

  test("multi-key probe unions the per-key file sets") {
    val (path, df) = layout(n = 5000, files = 8)
    val keys = Seq(1L, 500L, 999L)
    val (scan, _, _) = BloomIndex.scanKeys(spark, path, "k", keys)
    val want = df.filter(col("k").isin(keys: _*)).count()
    assert(scan.count() === want)
  }

  test("probe never moves bloom bytes to the driver: the collected " +
    "schema is (files_total, hit_files) only") {
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
    val (path, _) = layout(n = 2000, files = 4)
    val plan = BloomIndex.probePlan(
      BloomIndex.readIndex(spark, path), Seq(1L))
    // what reaches the driver is exactly one row of (bigint,
    // array<string>) — membership was evaluated in executors and the
    // bloomB64 column never appears in the probe's output schema
    assert(plan.schema.fieldNames.toSeq ===
      Seq("files_total", "hit_files"))
    assert(plan.schema("files_total").dataType === LongType)
    assert(plan.schema("hit_files").dataType ===
      ArrayType(StringType, containsNull = false) ||
      plan.schema("hit_files").dataType ===
      ArrayType(StringType, containsNull = true))
    assert(!plan.schema.fieldNames.contains("bloomB64"))
    assert(plan.count() === 1)
  }

  test("empty probe key list is rejected loudly") {
    val (path, _) = layout(n = 100, files = 2)
    intercept[IllegalArgumentException] {
      BloomIndex.scanKeys(spark, path, "k", Seq.empty)
    }
  }

  test("MULTI-COLUMN bloom declaration ('a,b'): each column gets its " +
      "own per-file index, both prune independently, every write path " +
      "maintains both, and ALTER RENAME follows an extra column") {
    import org.apache.spark.sql.functions._
    import graft.ops.SnapshotTable
    val r = java.nio.file.Files.createTempDirectory("mbloom").toString
    spark.conf.set("spark.sql.catalog.graft_mb",
      "graft.source.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_mb.root", r)
    spark.sql("""CREATE TABLE graft_mb.db.t (okey BIGINT, pkey BIGINT,
      day BIGINT, v BIGINT)
      TBLPROPERTIES ('stats_col'='day', 'bloom_col'='okey,pkey')""")
    // day-range layout; both keys are sparse per file (high
    // cardinality), so only the blooms can prune equality probes —
    // stats exist on `day` alone
    spark.sql("""INSERT INTO graft_mb.db.t
      SELECT id, CAST(id / 3 AS BIGINT), id % 16, id
      FROM range(4000)""")
    val p = s"$r/db/t"
    val v1 = SnapshotTable.readVersion(spark, p, 1)
    assert(v1.blooms.map(_.col) === Seq("okey", "pkey"))

    def prunedCount(cond: String): (Long, Int, Int) = {
      val (r, sc) = withScan(spark.sql(
        s"SELECT count(*) FROM graft_mb.db.t WHERE $cond"))
      (r.getLong(0), sc.filesPlanned.toInt, sc.filesTotal.toInt)
    }
    val (n1, p1, t1) = prunedCount("okey = 7")
    assert(n1 === 1)
    assert(p1 > 0 && p1 < t1, s"okey bloom did not prune ($p1/$t1)")
    val (n2, p2, t2) = prunedCount("pkey = 13")
    assert(n2 === 3) // ids 39, 40, 41
    assert(p2 > 0 && p2 < t2, s"pkey bloom did not prune ($p2/$t2)")

    // a second INSERT inherits BOTH indexes (rows for the new files)
    spark.sql("""INSERT INTO graft_mb.db.t
      SELECT id, CAST(id / 3 AS BIGINT), id % 16, id
      FROM range(4000, 6000)""")
    val (n3, p3, t3) = prunedCount("pkey = 13")
    assert(n3 === 3)
    assert(p3 > 0 && p3 < t3,
      s"inherited pkey bloom incomplete after append ($p3/$t3)")

    // a row-level MERGE rebuilds rows for the rewritten files — the
    // probe must stay COMPLETE (pruned, not disabled)
    spark.sql("""MERGE INTO graft_mb.db.t t
      USING (SELECT 999999 AS nk) m ON t.okey = m.nk
      WHEN NOT MATCHED THEN INSERT (okey, pkey, day, v)
      VALUES (7, 13, 0, 0)""")
    val (n4, p4, t4) = prunedCount("pkey = 13")
    assert(n4 === n3 + 1)
    assert(p4 > 0 && p4 < t4,
      s"pkey bloom incomplete after MERGE ($p4/$t4)")

    // renaming an EXTRA bloom column follows in the manifest
    spark.sql("ALTER TABLE graft_mb.db.t RENAME COLUMN pkey TO part_k")
    val vr = SnapshotTable.readVersion(spark, p,
      SnapshotTable.latestVersion(p))
    assert(vr.blooms.map(_.col) === Seq("okey", "part_k"))
    spark.sql("DROP TABLE graft_mb.db.t")
  }
}
