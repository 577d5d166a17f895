package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataTypes, DecimalType}

import graft.ops.{BloomIndex, SnapshotTable, TypedBounds}
import graft.ops.SnapshotTable.{PartField, PartSpec}
import graft.source.v2.ScanMetrics

/** The DECIMAL plane (r20): money-typed columns through every typed
  * surface — per-file bounds, hidden partitions (identity / truncate /
  * bucket), bloom keys, NDV sketches, and metadata-only precision
  * widening. All of it keys on the UNSCALED long (p ≤ 18), the exact
  * encoding DuckDB's decimals replicate — no float-hash dodge
  * anywhere. q214 oracle-gates the composed pruning cross-engine.
  */
class DecimalPlaneSpec extends SparkSpec {

  private def freshPath(): String =
    Files.createTempDirectory("dec").toString + "/t"

  private def money(i: Int): java.math.BigDecimal =
    new java.math.BigDecimal(s"$i.25")

  private def moneyDf(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, money(i)))
      .toDF("k", "price")
      .withColumn("price", col("price").cast("decimal(18,2)"))
  }

  test("TypedBounds: decimal dtype derives, encodes unscaled longs, " +
      "keys round-trip, and inexact probe values decline") {
    assert(TypedBounds.dtypeOf(DecimalType(18, 2))
      === Some("decimal(18,2)"))
    assert(TypedBounds.dtypeOf(DecimalType(19, 2)) === None,
      "p > 18 must refuse — the unscaled value no longer fits a long")
    assert(TypedBounds.sparkType("decimal(18,2)") === DecimalType(18, 2))
    val (mn, mx, has, exact) = TypedBounds.encode("decimal(18,2)",
      new java.math.BigDecimal("12.34"), new java.math.BigDecimal("99.99"))
    assert(has && exact && mn === "1234" && mx === "9999")
    assert(TypedBounds.keyOfEncoded("decimal(18,2)", "1234") === 1234L)
    assert(TypedBounds.keyOfValue("decimal(18,2)",
      new java.math.BigDecimal("5")) === Some(500L),
      "a coarser-scaled exact value rescales to the column's scale")
    assert(TypedBounds.keyOfValue("decimal(18,2)",
      new java.math.BigDecimal("5.123")) === None,
      "a value inexact at the column scale must decline (no pruning)")
    assert(TypedBounds.compare("decimal(18,2)", 500L, 1234L) < 0)
  }

  test("typed stats: decimal bounds collect on append, prune DSv2 " +
      "range scans, and decode exactly from the manifest") {
    val path = freshPath()
    SnapshotTable.append(moneyDf(400), path, 4,
      statsCol = Some("k"), statsCols = Seq("price"))
    val ver = SnapshotTable.readVersion(spark, path, 1)
    val cs = ver.colStats.find(_.col == "price").get
    assert(cs.dtype === "decimal(18,2)")
    assert(cs.minKeys.map(_.asInstanceOf[Long]).min === 25L,
      "file min must be 0.25 unscaled")
    assert(cs.maxKeys.map(_.asInstanceOf[Long]).max === 39925L,
      "table max must be 399.25")
    assert(cs.ndvOf(ver.files.indices).exists(_ > 300L),
      "decimal NDV sketch must ride the same aggregate")
    val t = spark.read.format("graft_table").option("path", path).load()
    assert(t.schema("price").dataType === DecimalType(18, 2))
    val (n, sc) = ScanMetrics.rowCount(t.filter(col("price") <
      lit(new java.math.BigDecimal("100.00"))))
    val (read, total) = (sc.filesPlanned, sc.filesTotal)
    assert(n === 100)
    assert(read < total, s"decimal stats pruning failed: $read/$total")
  }

  test("hidden partitioning on a decimal source: truncate and bucket " +
      "route partition-pure and prune equality probes") {
    // truncate(100) over unscaled cents = whole currency units
    val p1 = freshPath()
    SnapshotTable.appendPartitioned(moneyDf(200),
      p1, PartSpec(Seq(PartField("price", "truncate", 100L,
        "decimal(18,2)"))), statsCol = Some("k"))
    val t1 = spark.read.format("graft_table").option("path", p1).load()
    val (n1, s1) = ScanMetrics.rowCount(t1.filter(col("price") ===
      lit(new java.math.BigDecimal("7.25"))))
    assert(n1 === 1)
    val (r1, tot1) = (s1.filesPlanned, s1.filesTotal)
    assert(r1 < tot1, s"truncate partition pruning failed: $r1/$tot1")
    // bucket(8): the driver's unscaled-long hash and the executor's
    // derived-column hash must route/probe identically
    val p2 = freshPath()
    SnapshotTable.appendPartitioned(moneyDf(200),
      p2, PartSpec(Seq(PartField("price", "bucket", 8L,
        "decimal(18,2)"))), statsCol = Some("k"))
    val t2 = spark.read.format("graft_table").option("path", p2).load()
    val (n2, s2) = ScanMetrics.rowCount(t2.filter(col("price") ===
      lit(new java.math.BigDecimal("123.25"))))
    assert(n2 === 1)
    val (r2, tot2) = (s2.filesPlanned, s2.filesTotal)
    assert(r2 < tot2, s"bucket partition pruning failed: $r2/$tot2")
    // routing really was value-pure: every partition tuple holds one
    // bucket value per file
    val v2 = SnapshotTable.readVersion(spark, p2, 1)
    assert(v2.partKeys.get.valueDtypes === IndexedSeq("long"))
  }

  test("bloom index on a decimal key: typed probes prune files; the " +
      "DSv2 equality path composes") {
    import spark.implicits._
    val path = freshPath()
    // shuffled so range stats CANNOT prune — only the bloom can
    val df = scala.util.Random.shuffle((0 until 400).toList)
      .zipWithIndex.map { case (v, i) => (i.toLong, money(v)) }
      .toDF("k", "price")
      .withColumn("price", col("price").cast("decimal(18,2)"))
    SnapshotTable.append(df, path, 4, statsCol = Some("k"),
      bloomCol = Some("price"))
    val (scan, hit, total) = SnapshotTable.scanKeysTypedAt(spark, path, 1,
      Seq(new java.math.BigDecimal("123.25")))
    assert(hit < total, s"decimal bloom probe failed: $hit/$total")
    assert(scan.count() === 1)
    val t = spark.read.format("graft_table").option("path", path).load()
    val (n, sc) = ScanMetrics.rowCount(t.filter(col("price") ===
      lit(new java.math.BigDecimal("123.25"))))
    assert(n === 1)
    val (read, tot) = (sc.filesPlanned, sc.filesTotal)
    assert(read < tot, s"DSv2 decimal bloom pruning failed: $read/$tot")
  }

  test("ALTER COLUMN TYPE decimal(12,2) → decimal(18,2) is " +
      "metadata-only: old files read widened, new appends carry the " +
      "wide type, bounds stay valid, and unsafe pairs refuse") {
    import spark.implicits._
    val path = freshPath()
    val narrow = (0 until 100).map(i => (i.toLong, money(i)))
      .toDF("k", "price")
      .withColumn("price", col("price").cast("decimal(12,2)"))
    SnapshotTable.append(narrow, path, 2, statsCol = Some("k"),
      statsCols = Seq("price"))
    val v2 = SnapshotTable.widenColumnType(spark, path, "price",
      DecimalType(18, 2))
    val (df2, _, _) = SnapshotTable.scanAt(spark, path, v2)
    assert(df2.schema("price").dataType === DecimalType(18, 2))
    assert(df2.agg(sum("price")).collect().head.getDecimal(0)
      === new java.math.BigDecimal("4975.00"))
    // wide values land after the widen
    val wide = Seq((1000L, new java.math.BigDecimal("12345678901234.56")))
      .toDF("k", "price")
      .withColumn("price", col("price").cast("decimal(18,2)"))
    SnapshotTable.append(wide, path, 1, statsCol = Some("k"),
      statsCols = Seq("price"))
    val (df3, _, rows) = SnapshotTable.scanAt(spark, path, 3)
    assert(rows === 101)
    assert(df3.filter(col("k") === 1000L).collect().head
      .getDecimal(1) === new java.math.BigDecimal("12345678901234.56"))
    // the stats plane survived the widen: dtype re-declared, old
    // unscaled bounds still exact
    val ver3 = SnapshotTable.readVersion(spark, path, 3)
    val cs = ver3.colStats.find(_.col == "price").get
    assert(cs.dtype === "decimal(18,2)")
    assert(cs.maxKeys.map(_.asInstanceOf[Long]).max
      === 1234567890123456L)
    // scale changes and narrowings refuse loudly
    intercept[UnsupportedOperationException] {
      SnapshotTable.widenColumnType(spark, path, "price",
        DecimalType(18, 4))
    }
    intercept[UnsupportedOperationException] {
      SnapshotTable.widenColumnType(spark, path, "price",
        DecimalType(12, 2))
    }
  }

  test("SQL surface: CREATE TABLE with a DECIMAL stats column via " +
      "TBLPROPERTIES, INSERT through the DSv2 writer, pruned reads") {
    val r = Files.createTempDirectory("deccat").toString
    spark.conf.set("spark.sql.catalog.graft_dec",
      "graft.source.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_dec.root", r)
    spark.sql("CREATE TABLE graft_dec.db.t (k BIGINT, " +
      "price DECIMAL(18,2)) TBLPROPERTIES(" +
      "'stats_col'='k', 'stats_cols'='price')")
    spark.sql("INSERT INTO graft_dec.db.t " +
      "SELECT id, CAST(id AS DECIMAL(18,2)) + 0.25 FROM range(400)")
    val (cr, sc) = withScan(spark.sql("SELECT count(*) FROM graft_dec.db.t " +
      "WHERE price < 100.00"))
    assert(cr.getLong(0) === 100)
    val (read, total) = (sc.filesPlanned, sc.filesTotal)
    assert(read < total,
      s"writer-tracked decimal stats did not prune: $read/$total")
    spark.sql("DROP TABLE graft_dec.db.t")
  }
}
