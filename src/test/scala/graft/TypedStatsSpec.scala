package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.functions._

import graft.ops.{SnapshotTable, TypedBounds}
import graft.source.v2.ScanMetrics

/** TYPED multi-column file statistics: declared column LISTS with
  * DATE/TIMESTAMP/DOUBLE/STRING bounds collected by every write path,
  * carried by every keep path, and consulted by the DSv2 planner —
  * the generalization from "prunes the benchmark's BIGINT column" to
  * "prunes a customer table's real columns".
  */
class TypedStatsSpec extends SparkSpec {

  private def freshPath(): String =
    Files.createTempDirectory("tstats").toString + "/t"

  private def day(d: String): Date = Date.valueOf(d)
  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def mkDf(lo: Int, hi: Int) = {
    import spark.implicits._
    (lo until hi).map { i =>
      (i.toLong, day(f"2024-01-${i % 28 + 1}%02d"),
        ts(f"2024-01-${i % 28 + 1}%02d 12:00:00"),
        i.toDouble / 7.0, f"doc-$i%05d", i % 2 == 0)
    }.toDF("k", "d", "t", "score", "name", "flag")
  }

  test("TypedBounds: encoding round-trips, string truncation gives " +
      "valid conservative bounds, NaN orders largest") {
    // double bit round-trip is exact, including non-finite; -0.0
    // canonicalizes to +0.0 (SQL's one zero — a signed stored bound
    // could prune a file holding the other zero, or serve a MIN/MAX
    // sign Spark's own aggregate would not)
    for (d <- Seq(0.0, -0.0, 1.5, -1e308, Double.NaN,
        Double.PositiveInfinity)) {
      val (mn, mx, has, exact) = TypedBounds.encode("double", d, d)
      assert(has && exact)
      val back = TypedBounds.keyOfEncoded("double", mn)
        .asInstanceOf[Double]
      assert(java.lang.Double.doubleToLongBits(back)
        === java.lang.Double.doubleToLongBits(d + 0.0),
        s"bits drift for $d")
      assert(mn === mx)
    }
    assert(TypedBounds.compare("double", Double.NaN, 1e308) > 0,
      "NaN must order largest, matching Spark's sort order")
    assert(TypedBounds.compare("double", -0.0d, 0.0d) === 0,
      "signed zeros must compare equal — SQL's `=` does")
    // long string: min is a prefix (≤ original), max dominates
    val s = "x" * 100 + "tail"
    val (mn, mx, has, exact) = TypedBounds.encode("string", s, s)
    assert(has && !exact)
    assert(mn.length === 64 && TypedBounds.compare("string", mn, s) <= 0)
    assert(TypedBounds.compare("string", mx, s) >= 0)
    // all-null file → no bounds
    assert(TypedBounds.encode("date", null, null)._3 === false)
    // date/timestamp keys agree between value and encoded forms
    val k1 = TypedBounds.keyOfValue("date", day("2024-03-05")).get
    assert(TypedBounds.keyOfEncoded("date", k1.toString) === k1)
  }

  test("a corrupted bound entry degrades to NO-pruning (file kept, " +
      "aggregate serve declined) — never a failed scan") {
    import graft.ops.SnapshotTable
    // unit: an undecodable key is null, its neighbors still decode
    val cs = SnapshotTable.ColStats("c", "long", Seq("zz", "5"),
      Seq("9", "9"), Seq(true, true), Seq(true, true))
    assert(cs.minKeys(0) == null && cs.minKeys(1) === 5L)
    assert(cs.maxKeys(0) === 9L)
    // end-to-end: doctor the committed manifest's first min bound
    val path = freshPath()
    import spark.implicits._
    SnapshotTable.append((0 until 100).map(i => (i.toLong, i.toLong * 2))
      .toDF("k", "v"), path, 2, statsCol = Some("k"),
      statsCols = Seq("v"))
    val mf = java.nio.file.Paths.get(path, "log", "v1.json")
    val txt = Files.readString(mf)
    assert(txt.contains("\"mins\":[\"0\""), "fixture drifted")
    Files.writeString(mf,
      txt.replace("\"mins\":[\"0\"", "\"mins\":[\"zz\""))
    graft.source.v2.GraftTableSource.invalidate(path)
    val t = spark.read.format("graft_table").option("path", path).load()
    // the corrupt-bound file is KEPT, so the answer is exact
    assert(t.filter(col("v") < 20L).count() === 10)
    val (r, sc) = withScan(t.agg(min("v"), max("v")))
    assert(r.getLong(0) === 0L && r.getLong(1) === 198L,
      "a declined serve must still compute the exact answer")
    assert(!sc.manifestAgg,
      "an undecodable bound must decline the manifest serve")
  }

  test("append declares a typed stats LIST; bounds land per file, a " +
      "second append extends them without re-declaring") {
    val path = freshPath()
    SnapshotTable.append(mkDf(0, 280), path, 4, statsCol = Some("k"),
      statsCols = Seq("d", "t", "score", "name"))
    val v1 = SnapshotTable.readVersion(spark, path, 1)
    assert(v1.colStats.map(_.col) === Seq("d", "t", "score", "name"))
    assert(v1.colStats.map(_.dtype)
      === Seq("date", "timestamp", "double", "string"))
    v1.colStats.foreach { cs =>
      assert(cs.mins.length === v1.files.length)
      assert(cs.has.forall(identity) && cs.exact.forall(identity))
    }
    // inheritance: a plain append keeps collecting
    SnapshotTable.append(mkDf(280, 560), path, 4)
    val v2 = SnapshotTable.readVersion(spark, path, 2)
    assert(v2.colStats.head.mins.length === v2.files.length)
    // declared-set change mid-table rejects loudly
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.append(mkDf(560, 570), path, 1,
        statsCols = Seq("score"))
    }
    assert(e.getMessage.contains("analyzeStats"))
  }

  test("DSv2 scan prunes files from DATE, TIMESTAMP, DOUBLE and " +
      "STRING predicates — and answers match the unpruned plan") {
    val path = freshPath()
    import spark.implicits._
    // d is correlated with k and the batch is range-laid-out on k, so
    // per-file date ranges are tight and disjoint-ish
    val df = (0 until 2800).map { i =>
      (i.toLong, Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
        .plusDays(i / 100)),
        new Timestamp(1704067200000L + i * 3600L * 1000L),
        i.toDouble, f"doc-$i%05d")
    }.toDF("k", "d", "t", "score", "name")
    SnapshotTable.append(df, path, 8, statsCol = Some("k"),
      statsCols = Seq("d", "t", "score", "name"))
    val t = spark.read.format("graft_table").option("path", path).load()
    def pruned(q: org.apache.spark.sql.DataFrame): (Long, Int, Int) = {
      val (n, sc) = ScanMetrics.rowCount(q)
      (n, sc.filesPlanned.toInt, sc.filesTotal.toInt)
    }
    // DATE range
    val (n1, p1, t1) = pruned(t.filter(col("d")
      .between(lit(day("2024-01-03")), lit(day("2024-01-05")))))
    assert(n1 === 300)
    assert(p1 > 0 && p1 < t1, s"date pruning failed: $p1 of $t1")
    // TIMESTAMP upper bound
    val (n2, p2, t2) = pruned(t.filter(col("t") <
      lit(ts("2024-01-02 00:00:00"))))
    assert(n2 === 24)
    assert(p2 > 0 && p2 < t2, s"timestamp pruning failed: $p2 of $t2")
    // DOUBLE range
    val (n3, p3, t3) = pruned(t.filter(col("score") >= 2700.0))
    assert(n3 === 100)
    assert(p3 > 0 && p3 < t3, s"double pruning failed: $p3 of $t3")
    // STRING range (names are zero-padded, so binary order = k order)
    val (n4, p4, t4) = pruned(t.filter(col("name") < "doc-00100"))
    assert(n4 === 100)
    assert(p4 > 0 && p4 < t4, s"string pruning failed: $p4 of $t4")
    // equality + IN
    val (n5, p5, t5) = pruned(t.filter(col("d") === lit(day("2024-01-10"))))
    assert(n5 === 100 && p5 < t5)
    // row-group skipping: delivered rows bounded inside kept files
    val (n6, s6) = ScanMetrics.rowCount(t.filter(col("d") === lit(day("2024-01-10"))))
    assert(n6 === 100)
    val delivered = s6.rowsDelivered
    assert(delivered < 2800,
      s"date row-group predicate did not bound the read: $delivered")
  }

  test("MIN/MAX on typed stats columns are answered from the " +
      "manifest (no files opened) with typed results") {
    val path = freshPath()
    SnapshotTable.append(mkDf(0, 280), path, 4,
      statsCols = Seq("d", "t", "score", "name"))
    val t = spark.read.format("graft_table").option("path", path).load()
    val (r, sc) = withScan(t.agg(min("d"), max("d"), min("t"),
      max("score"), min("name"), count(lit(1))))
    assert(sc.manifestAgg,
      "typed min/max must serve from the manifest")
    // java8API session: date/timestamp collect as LocalDate/Instant
    assert(r.getAs[java.time.LocalDate](0)
      === java.time.LocalDate.parse("2024-01-01"))
    assert(r.getAs[java.time.LocalDate](1)
      === java.time.LocalDate.parse("2024-01-28"))
    // same JVM-default-zone conversion the toDF input side used
    assert(r.getAs[java.time.Instant](2)
      === ts("2024-01-01 12:00:00").toInstant)
    assert(r.getDouble(3) === 279.0 / 7.0)
    assert(r.getString(4) === "doc-00000")
    assert(r.getLong(5) === 280)
    // a LONG string column must NOT serve (truncated bounds): force
    // one by appending a long-name row... via a fresh table
    val p2 = freshPath()
    import spark.implicits._
    SnapshotTable.append(Seq((1L, "z" * 100), (2L, "a"))
      .toDF("k", "name"), p2, 1, statsCols = Seq("name"))
    val t2 = spark.read.format("graft_table").option("path", p2).load()
    val (mr, s2) = withScan(t2.agg(max("name")))
    val mx = mr.getString(0)
    assert(mx === "z" * 100)
    assert(!s2.manifestAgg,
      "truncated string bounds must not serve MAX")
  }

  test("bounds survive the lifecycle: COW delete, compact, merge, " +
      "MOR delete + materialize, truncate, clone, restore, rename") {
    val path = freshPath()
    SnapshotTable.append(mkDf(0, 280), path, 4, statsCol = Some("k"),
      statsCols = Seq("d", "score"))
    def check(tag: String): Unit = {
      val v = SnapshotTable.latestVersion(path)
      val ver = SnapshotTable.readVersion(spark, path, v)
      assert(ver.colStats.nonEmpty, s"$tag dropped the typed index")
      ver.colStats.foreach { cs =>
        assert(cs.mins.length === ver.files.length,
          s"$tag mis-carried ${cs.col}: ${cs.mins.length} bounds for " +
            s"${ver.files.length} files")
      }
    }
    SnapshotTable.deleteStatsRange(spark, path, 100, 150); check("delete")
    SnapshotTable.compact(spark, path, targetBytes = 1L << 20)
    check("compact")
    import spark.implicits._
    SnapshotTable.merge(spark, path,
      mkDf(0, 5).withColumn("score", lit(999.0)), "k")
    check("merge")
    assert(SnapshotTable.readVersion(spark, path,
      SnapshotTable.latestVersion(path)).colStats
      .find(_.col == "score").get.maxs
      .map(TypedBounds.keyOfEncoded("double", _).asInstanceOf[Double])
      .max === 999.0, "merge must refresh rewritten files' bounds")
    SnapshotTable.deleteRowsWhere(spark, path, "k = 7"); check("MOR")
    SnapshotTable.materializeDeletes(spark, path); check("materialize")
    val clone = freshPath()
    SnapshotTable.cloneAt(spark, path, clone)
    assert(SnapshotTable.readVersion(spark, clone, 1).colStats.nonEmpty)
    val before = SnapshotTable.latestVersion(path)
    SnapshotTable.truncate(spark, path)
    val tver = SnapshotTable.readVersion(spark, path,
      SnapshotTable.latestVersion(path))
    assert(tver.colStats.map(_.col) === Seq("d", "score"))
    assert(tver.colStats.forall(_.mins.isEmpty))
    SnapshotTable.restore(spark, path, before); check("restore")
    SnapshotTable.renameColumn(spark, path, "score", "quality")
    val rver = SnapshotTable.readVersion(spark, path,
      SnapshotTable.latestVersion(path))
    assert(rver.colStats.map(_.col) === Seq("d", "quality"),
      "typed stats must follow a rename")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.dropColumn(spark, path, "quality")
    }
    assert(e.getMessage.contains("typed stats"))
  }

  test("analyzeStats declares typed stats over EXISTING data; " +
      "re-declaring replaces the set; all-NULL files get has=false " +
      "and are never pruned away") {
    val path = freshPath()
    import spark.implicits._
    val rows = (0 until 100).map(i =>
      (i.toLong, if (i < 50) null else f"n-$i%03d", i / 10.0))
    SnapshotTable.append(rows.toDF("k", "name", "score"), path, 2,
      statsCol = Some("k"))
    assert(SnapshotTable.readVersion(spark, path, 1).colStats.isEmpty)
    SnapshotTable.analyzeStats(spark, path, Seq("name", "score"))
    val v2 = SnapshotTable.readVersion(spark, path, 2)
    assert(v2.op === "ANALYZE")
    assert(v2.colStats.map(_.col) === Seq("name", "score"))
    // the k-sorted layout puts the null names in the low-k file(s)
    val nameCs = v2.colStats.head
    assert(nameCs.has.exists(identity))
    val t = spark.read.format("graft_table").option("path", path).load()
    // a predicate on name must still count rows correctly whatever
    // has/hasn't bounds
    assert(t.filter(col("name") >= "n-090").count() === 10)
    assert(t.filter(col("name").isNull).count() === 50)
    // re-declare with a different list REPLACES
    SnapshotTable.analyzeStats(spark, path, Seq("score"))
    assert(SnapshotTable.readVersion(spark, path,
      SnapshotTable.latestVersion(path)).colStats.map(_.col)
      === Seq("score"))
  }

  test("partitioned tables: typed stats collect on appendPartitioned, " +
      "REPLACE WHERE and dynamic overwrite refresh them") {
    val path = freshPath()
    import spark.implicits._
    def pdf(lo: Int, hi: Int, score: Double) =
      (lo until hi).map(i => (i.toLong % 4, i.toLong,
        Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i / 100)),
        score)).toDF("p", "k", "d", "score")
    val spec = SnapshotTable.PartSpec("p", "identity", 0L)
    SnapshotTable.appendPartitioned(pdf(0, 400, 1.0), path, spec,
      statsCol = Some("k"), statsCols = Seq("d", "score"))
    val v1 = SnapshotTable.readVersion(spark, path, 1)
    assert(v1.colStats.map(_.col) === Seq("d", "score"))
    assert(v1.colStats.head.mins.length === v1.files.length)
    // dynamic overwrite via catalog-less direct commit path: use
    // overwritePartitioned (whole replace) and overwriteWhere
    SnapshotTable.overwriteWhere(pdf(0, 100, 2.0)
      .filter(col("k") < 100), path, 0, 3)
    val v2 = SnapshotTable.readVersion(spark, path, 2)
    assert(v2.colStats.head.mins.length === v2.files.length,
      "REPLACE WHERE mis-carried typed stats")
    val t = spark.read.format("graft_table").option("path", path).load()
    assert(t.filter(col("score") >= 2.0).count() === 100)
    SnapshotTable.overwritePartitioned(pdf(0, 200, 3.0), path)
    val v3 = SnapshotTable.readVersion(spark, path, 3)
    assert(v3.colStats.head.mins.length === v3.files.length,
      "overwritePartitioned mis-carried typed stats")
  }

  test("per-file NULL counts: IS NULL and IS NOT NULL both prune " +
      "files, COUNT(col) serves from the manifest, and the counts " +
      "survive carry + segmentation") {
    import spark.implicits._
    val path = freshPath()
    def batch(vals: Seq[(Long, Option[String])]) =
      vals.toDF("k", "tag")
    // file 1: no NULLs; file 2: mixed; file 3: ALL NULL
    SnapshotTable.append(
      batch((0L until 20L).map(i => (i, Some(s"a-$i")))), path, 1,
      statsCols = Seq("tag"))
    SnapshotTable.append(
      batch((20L until 40L).map(i =>
        (i, if (i % 4 == 0) None else Some(s"b-$i")))), path, 1)
    SnapshotTable.append(
      batch((40L until 60L).map(i => (i, Option.empty[String]))),
      path, 1)
    val ver = SnapshotTable.readVersion(spark, path, 3)
    val cs = ver.colStats.head
    assert(cs.nulls === Seq(0L, 5L, 20L))

    val t = spark.read.format("graft_table").option("path", path).load()
    // IS NULL keeps only the two files holding a NULL
    val (nn, sn) = ScanMetrics.rowCount(t.filter(col("tag").isNull))
    assert(nn === 25)
    assert((sn.filesPlanned, sn.filesTotal) === ((2L, 3L)),
      "IS NULL must prune the no-NULL file")
    // IS NOT NULL drops the all-NULL file
    val (nv, sv) = ScanMetrics.rowCount(t.filter(col("tag").isNotNull))
    assert(nv === 35)
    assert((sv.filesPlanned, sv.filesTotal) === ((2L, 3L)),
      "IS NOT NULL must prune the all-NULL file")
    // COUNT(col) answers from the manifest: rows − NULLs, no files
    val (cr, sc) = withScan(t.agg(count(col("tag"))))
    assert(cr.getLong(0) === 35)
    assert(sc.manifestAgg,
      "COUNT(col) must serve from the manifest's null counts")
    // count(*) still serves too
    val (nAll, sAll) = ScanMetrics.rowCount(t)
    assert(nAll === 60)
    assert(sAll.manifestAgg)

    // counts survive a carry (MOR delete commits a new version that
    // slices/keeps the vectors) and segmentation
    withSQLConf("spark.graft.manifest.segmentThreshold" -> "1") {
      SnapshotTable.append(
        batch((60L until 70L).map(i => (i, Some(s"c-$i")))), path, 1)
      val v4 = SnapshotTable.readVersion(spark, path, 4)
      assert(v4.segRefs.exists(_.nonEmpty), "expected a segmented header")
      assert(v4.colStats.head.nulls === Seq(0L, 5L, 20L, 0L),
        "null counts lost through the segment render/read")
      val t4 = spark.read.format("graft_table").option("path", path)
        .load()
      val (r4, s4) = withScan(t4.agg(count(col("tag"))))
      assert(r4.getLong(0) === 45)
      assert(s4.manifestAgg)
    }
  }
}
