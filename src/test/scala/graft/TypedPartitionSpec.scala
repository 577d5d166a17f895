package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.ops.SnapshotTable
import graft.ops.SnapshotTable.{PartField, PartSpec}
import graft.source.v2.ScanMetrics

/** TYPED, MULTI-COLUMN hidden partitioning: DATE/TIMESTAMP sources
  * under days()/months()/years()/hours(), STRING identity/truncate/
  * bucket, INT sources, and multi-field specs (e.g. days(date) ×
  * bucket(8, string)) — Iceberg's transform catalog re-expressed over
  * the snapshot table. Covers the driver↔executor transform agreement
  * (the invariant pruning correctness rests on), every write path
  * (append, INSERT, dynamic overwrite, static overwrite, MERGE,
  * streaming sink), manifest round-trip in both storage forms
  * (inline + segmented), and the loud guards. q202 oracle-gates the
  * SQL surface cross-engine.
  */
class TypedPartitionSpec extends SparkSpec {

  private def freshPath(): String =
    Files.createTempDirectory("tpart").toString + "/t"

  private lazy val root: String = {
    val r = Files.createTempDirectory("tpcat").toString
    spark.conf.set("spark.sql.catalog.graft_tp",
      "graft.source.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_tp.root", r)
    r
  }

  /** (files planned, files total) of `sql`'s one graft_table scan,
    * with its one result row.
    */
  private def sqlScan(sql: String): (Row, Long, Long) = {
    val (r, sc) = withScan(spark.sql(sql))
    (r, sc.filesPlanned, sc.filesTotal)
  }

  private def scanPath(path: String) =
    spark.read.format("graft_table").option("path", path).load()

  test("multi-column typed spec via the API: days(date) × " +
      "bucket(4, string) routes partition-pure, records per-file " +
      "tuples, and prunes on BOTH dimensions independently") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec(Seq(
      PartField("d", "days", 0L, "date"),
      PartField("tag", "bucket", 4L, "string")))
    val df = (0L until 400L).map { i =>
      (i, s"2024-03-${(i % 4) + 10}", s"tag-${i % 7}")
    }.toDF("v", "ds", "tag")
      .withColumn("d", to_date(col("ds"))).drop("ds")
    SnapshotTable.appendPartitioned(df, path, spec)

    val ver = SnapshotTable.readVersion(spark, path, 1)
    assert(ver.part === Some(spec))
    val pk = ver.partKeys.get
    assert(pk.valueDtypes === spec.fields.map(_.valueDtype),
      "one encoded key per field, in each field's value dtype")
    assert(pk.nFiles === ver.files.length && pk.nFields === 2)

    // partition purity on BOTH dimensions, file by file, and the
    // recorded tuple equals the driver-side transform of the rows
    ver.files.zipWithIndex.foreach { case (f, i) =>
      val rows = spark.read.parquet(f)
        .select(datediff(col("d"), to_date(lit("1970-01-01"))), col("tag"))
        .collect().map(r => (r.getInt(0).toLong, r.getString(1)))
      val tuples = rows.map { case (day, tag) =>
        (spec.fields.head.applyKey(day),
          spec.fields(1).applyKey(tag))
      }.distinct
      assert(tuples.length === 1, s"file $f holds ${tuples.length} tuples")
      assert(pk.row(i) === IndexedSeq(
        spec.fields.head.encodeKey(tuples.head._1),
        spec.fields(1).encodeKey(tuples.head._2)))
    }

    // prune on the DATE dimension (equality through days())
    val d1 = scanPath(path).filter(col("d") === lit("2024-03-11").cast("date"))
    val (n1, s1) = ScanMetrics.rowCount(d1)
    assert(n1 === 100)
    val (p1, t1) = (s1.filesPlanned, s1.filesTotal)
    assert(p1 > 0 && p1 < t1, s"date pruning failed: $p1 of $t1")

    // prune on the STRING dimension (equality through bucket)
    val d2 = scanPath(path).filter(col("tag") === "tag-3")
    val (n2, s2) = ScanMetrics.rowCount(d2)
    assert(n2 === (0L until 400L).count(_ % 7 == 3))
    val (p2, t2) = (s2.filesPlanned, s2.filesTotal)
    assert(p2 > 0 && p2 < t2, s"bucket pruning failed: $p2 of $t2")

    // both together prune to (at most) one partition tuple's file(s)
    val d3 = scanPath(path)
      .filter(col("d") === lit("2024-03-11").cast("date") &&
        col("tag") === "tag-3")
    val (n3, s3) = ScanMetrics.rowCount(d3)
    assert(n3 === (0L until 400L).count(i => i % 4 == 1 && i % 7 == 3))
    val p3 = s3.filesPlanned
    assert(p3 <= math.min(p1, p2), s"combined pruning kept $p3 files")

    // DATE range prunes through the monotone days() transform
    val (n4, s4) = ScanMetrics.rowCount(scanPath(path)
      .filter(col("d") >= lit("2024-03-12").cast("date")))
    assert(n4 === 200)
    assert(s4.filesPlanned < t1, "date range pruning failed")

    // IS NULL on a partition source prunes EVERY file (writes reject
    // NULL sources)
    val (n5, s5) = ScanMetrics.rowCount(scanPath(path).filter(col("d").isNull))
    assert(n5 === 0)
    assert(s5.filesPlanned === 0, "IS NULL must prune everything")
  }

  test("driver↔executor transform agreement, per transform × dtype: " +
      "an equality probe under pruning returns exactly the brute-force " +
      "rows") {
    import spark.implicits._
    // each case: (spec field over column `c`, a DataFrame builder, a
    // probe Column value). Correctness under pruning == agreement: a
    // mis-mirrored transform drops the matching file and loses rows.
    val n = 120L
    def longs = (0L until n).toDF("x")
    val cases: Seq[(PartField, org.apache.spark.sql.DataFrame, org.apache.spark.sql.Column)] = Seq(
      (PartField("c", "identity", 0L, "int"),
        longs.select((col("x") % 9).cast("int").as("c"), col("x")),
        lit(4).cast("int")),
      (PartField("c", "truncate", 25L, "int"),
        longs.select((col("x") - 60L).cast("int").as("c"), col("x")),
        lit(-13).cast("int")),
      (PartField("c", "bucket", 5L, "int"),
        longs.select(col("x").cast("int").as("c"), col("x")),
        lit(77).cast("int")),
      (PartField("c", "identity", 0L, "date"),
        longs.select(date_add(lit("2020-02-27").cast("date"),
          (col("x") % 6).cast("int")).as("c"), col("x")),
        lit("2020-03-01").cast("date")),
      (PartField("c", "months", 0L, "date"),
        longs.select(date_add(lit("2019-12-25").cast("date"),
          ((col("x") % 5) * 10).cast("int")).as("c"), col("x")),
        lit("2020-01-14").cast("date")),
      (PartField("c", "years", 0L, "date"),
        longs.select(date_add(lit("2019-11-30").cast("date"),
          ((col("x") % 4) * 90).cast("int")).as("c"), col("x")),
        lit("2020-02-28").cast("date")),
      (PartField("c", "bucket", 3L, "date"),
        longs.select(date_add(lit("2021-01-01").cast("date"),
          (col("x") % 11).cast("int")).as("c"), col("x")),
        lit("2021-01-08").cast("date")),
      (PartField("c", "days", 0L, "timestamp"),
        longs.select(to_timestamp(concat(lit("2024-06-1"),
          (col("x") % 5) + 1, lit(" 0"), col("x") % 10,
          lit(":30:00"))).as("c"), col("x")),
        to_timestamp(lit("2024-06-13 07:30:00"))),
      (PartField("c", "hours", 0L, "timestamp"),
        longs.select(to_timestamp(concat(lit("2024-06-11 0"),
          col("x") % 8, lit(":"), lpad((col("x") % 60).cast("string"),
            2, "0"), lit(":00"))).as("c"), col("x")),
        to_timestamp(lit("2024-06-11 05:42:00"))),
      (PartField("c", "months", 0L, "timestamp"),
        longs.select(to_timestamp(concat(lit("2024-0"),
          (col("x") % 3) + 3, lit("-07 12:00:00"))).as("c"), col("x")),
        to_timestamp(lit("2024-04-07 12:00:00"))),
      (PartField("c", "identity", 0L, "string"),
        longs.select(concat(lit("srv-"), col("x") % 6).as("c"), col("x")),
        lit("srv-2")),
      (PartField("c", "truncate", 2L, "string"),
        longs.select(concat(lit("u"), col("x") % 7, lit("@host"))
          .as("c"), col("x")),
        lit("u5@host")),
      (PartField("c", "bucket", 8L, "string"),
        longs.select(concat(lit("k"), col("x")).as("c"), col("x")),
        lit("k93")))
    cases.foreach { case (field, df, probe) =>
      val path = freshPath()
      SnapshotTable.appendPartitioned(df, path, PartSpec(Seq(field)))
      val ver = SnapshotTable.readVersion(spark, path, 1)
      assert(ver.partKeys.exists(_.nFiles == ver.files.length),
        s"${field.transform}/${field.dtype}: no typed keys recorded")
      val expected = df.filter(col("c") === probe).count()
      val (got, sc) = ScanMetrics.rowCount(scanPath(path).filter(col("c") === probe))
      assert(got === expected,
        s"${field.transform}/${field.dtype}: pruned scan lost rows " +
          s"($got vs $expected) — driver/executor transform disagree")
      val (planned, total) = (sc.filesPlanned, sc.filesTotal)
      assert(planned < total,
        s"${field.transform}/${field.dtype}: no pruning ($planned/$total)")
    }
  }

  test("SQL lifecycle: CREATE PARTITIONED BY (days(d), bucket(8, " +
      "flag)) — INSERT inherits layout, MERGE rewrites partition-pure " +
      "(moving rows across partitions), dynamic overwrite swaps exactly " +
      "the touched tuples, static overwrite keeps the layout") {
    import spark.implicits._
    root
    spark.sql("""CREATE TABLE graft_tp.db.tp
      (d DATE, flag STRING, v BIGINT)
      PARTITIONED BY (days(d), bucket(8, flag))""")
    spark.sql("""INSERT INTO graft_tp.db.tp
      SELECT date_add(DATE'2024-01-10', CAST(id % 3 AS INT)),
             concat('f', id % 5), id FROM range(300)""")
    val p = s"$root/db/tp"
    val v1 = SnapshotTable.readVersion(spark, p, 1)
    assert(v1.part.exists(sp => !sp.singleLong && sp.fields.map(_.transform)
      === Seq("days", "bucket")))
    assert(v1.partKeys.exists(_.nFiles == v1.files.length))

    // second INSERT inherits the layout (no spec re-declared) and the
    // manifest carries the first batch's tuples by position
    spark.sql("""INSERT INTO graft_tp.db.tp
      SELECT date_add(DATE'2024-01-10', CAST(id % 3 AS INT)),
             concat('f', id % 5), id FROM range(300, 400)""")
    val v2 = SnapshotTable.readVersion(spark, p, 2)
    assert(v2.partKeys.get.nFiles === v2.files.length)
    assert(v2.files.take(v1.files.length) === v1.files)
    assert((0 until v1.files.length).forall(i =>
      v2.partKeys.get.row(i) == v1.partKeys.get.row(i)))

    // prune on both dimensions through SQL
    val (sr, pl, tot) = sqlScan("""SELECT sum(v) FROM graft_tp.db.tp
      WHERE d = DATE'2024-01-11' AND flag = 'f2'""")
    assert(sr.getLong(0)
      === (0L until 400L).filter(i => i % 3 == 1 && i % 5 == 2).sum)
    assert(pl > 0 && pl < tot, s"SQL two-dim pruning failed: $pl/$tot")

    // MERGE through the row-level path: update moves a row's DATE —
    // the rewrite re-routes it to its new partition by construction
    Seq((5L, "2024-02-01")).toDF("mv", "nd")
      .createOrReplaceTempView("moves")
    spark.sql("""MERGE INTO graft_tp.db.tp t USING moves m
      ON t.v = m.mv
      WHEN MATCHED THEN UPDATE SET d = to_date(m.nd)""")
    val v3 = SnapshotTable.readVersion(spark, p,
      SnapshotTable.latestVersion(p))
    assert(v3.partKeys.get.nFiles === v3.files.length)
    assert(spark.sql(
      "SELECT d FROM graft_tp.db.tp WHERE v = 5").head.get(0)
      .toString === "2024-02-01")
    // the moved row's new partition serves it under pruning
    val (mr, mp, mt) = sqlScan("""SELECT count(*) FROM graft_tp.db.tp
      WHERE d = DATE'2024-02-01'""")
    assert(mr.getLong(0) === 1)
    assert(mp < mt)
    // purity survived the rewrite, every file, both dimensions
    val spec3 = v3.part.get
    v3.files.zipWithIndex.foreach { case (f, i) =>
      val tuples = spark.read.parquet(f)
        .select(datediff(col("d"), to_date(lit("1970-01-01"))),
          col("flag"))
        .collect().map(r => IndexedSeq(
          spec3.fields.head.encodeKey(
            spec3.fields.head.applyKey(r.getInt(0).toLong)),
          spec3.fields(1).encodeKey(
            spec3.fields(1).applyKey(r.getString(1))))).distinct
      assert(tuples.length === 1 &&
        tuples.head === v3.partKeys.get.row(i),
        s"post-MERGE file $f not partition-pure")
    }

    // dynamic overwrite replaces exactly the touched tuples
    val before = spark.sql(
      "SELECT count(*) FROM graft_tp.db.tp").head.getLong(0)
    val touched = spark.sql("""SELECT count(*) FROM graft_tp.db.tp
      WHERE d = DATE'2024-01-10' AND flag = 'f0'""").head.getLong(0)
    Seq(("2024-01-10", "f0", 100000L)).toDF("ds", "flag", "v")
      .select(to_date(col("ds")).as("d"), col("flag"), col("v"))
      .writeTo("graft_tp.db.tp").overwritePartitions()
    assert(spark.sql("SELECT count(*) FROM graft_tp.db.tp")
      .head.getLong(0) === before - touched + 1)
    val v4 = SnapshotTable.readVersion(spark, p,
      SnapshotTable.latestVersion(p))
    assert(v4.op === "OVERWRITE")
    // exactly the touched tuple's files were swapped; every other
    // file carried BY REFERENCE
    val touchedKey = IndexedSeq(
      spec3.fields.head.encodeKey(spec3.fields.head.applyKey(
        java.time.LocalDate.parse("2024-01-10").toEpochDay)),
      spec3.fields(1).encodeKey(spec3.fields(1).applyKey("f0")))
    val v4set = v4.files.toSet
    v3.files.indices.foreach { i =>
      val isTouched = v3.partKeys.get.row(i) == touchedKey
      assert(v4set.contains(v3.files(i)) === !isTouched,
        s"file ${v3.files(i)} wrong carry (touched=$isTouched)")
    }

    // static INSERT OVERWRITE keeps the typed layout in one commit
    spark.sql("""INSERT OVERWRITE graft_tp.db.tp
      SELECT date_add(DATE'2024-05-01', CAST(id % 2 AS INT)),
             concat('g', id % 3), id * 7 FROM range(60)""")
    val v5 = SnapshotTable.readVersion(spark, p,
      SnapshotTable.latestVersion(p))
    assert(v5.op === "OVERWRITE" &&
      v5.partKeys.exists(_.nFiles == v5.files.length))
    val (wr, wp, wt) = sqlScan("""SELECT count(*) FROM graft_tp.db.tp
      WHERE d = DATE'2024-05-02'""")
    assert(wr.getLong(0) === 30)
    assert(wp < wt,
      "post-overwrite typed pruning failed")

    // t.partitions renders the tuples; t.files carries partition_key
    val parts = spark.sql("""SELECT partition_key, n_files, rows
      FROM graft_tp.db.tp.partitions""").collect()
    assert(parts.length > 1 && parts.forall(_.getString(0) != null))
    assert(parts.map(_.getLong(2)).sum === 60L)
    assert(spark.sql("SELECT partition_key FROM graft_tp.db.tp.files")
      .collect().forall(_.getString(0).contains("days(d)=")))
    spark.sql("DROP TABLE graft_tp.db.tp")
  }

  test("streaming sink into a typed-partitioned catalog table: epochs " +
      "land partition-pure tuples exactly-once") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    root
    val dirs = Files.createTempDirectory("tpsink").toString
    val src = s"$dirs/src"
    val ckpt = s"$dirs/ckpt"
    SnapshotTable.append(
      (0L until 90L).map(i => (s"2024-07-${i % 3 + 10}", s"u${i % 4}", i))
        .toDF("ds", "u", "v"), src, 2)
    spark.sql("""CREATE TABLE graft_tp.db.tsink
      (d DATE, u STRING, v BIGINT)
      PARTITIONED BY (days(d), u)""")
    def run(): Unit = {
      val q = spark.readStream.format("graft_table").option("path", src)
        .load()
        .select(to_date(col("ds")).as("d"), col("u"), col("v"))
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable("graft_tp.db.tsink")
      q.awaitTermination(120000)
      ()
    }
    run()
    assert(spark.sql("SELECT count(*) FROM graft_tp.db.tsink")
      .head.getLong(0) === 90)
    val p = s"$root/db/tsink"
    val ver = SnapshotTable.readVersion(spark, p,
      SnapshotTable.latestVersion(p))
    assert(ver.part.exists(!_.singleLong))
    val pk = ver.partKeys.get
    assert(pk.nFiles === ver.files.length)
    // purity: each streamed file holds one (day, user) tuple matching
    // its recorded keys
    val spec = ver.part.get
    ver.files.zipWithIndex.foreach { case (f, i) =>
      val tuples = spark.read.parquet(f)
        .select(datediff(col("d"), to_date(lit("1970-01-01"))), col("u"))
        .collect().map(r => IndexedSeq(
          spec.fields.head.encodeKey(
            spec.fields.head.applyKey(r.getInt(0).toLong)),
          spec.fields(1).encodeKey(
            spec.fields(1).applyKey(r.getString(1))))).distinct
      assert(tuples.length === 1 && tuples.head === pk.row(i),
        s"streamed file $f not tuple-pure")
    }
    val (kr, kp, kt) = sqlScan("""SELECT sum(v) FROM graft_tp.db.tsink
      WHERE u = 'u1' AND d = DATE'2024-07-11'""")
    assert(kr.getLong(0)
      === (0L until 90L).filter(i => i % 4 == 1 && i % 3 == 1).sum)
    assert(kp < kt)
    // idle restart commits nothing (exactly-once)
    val vb = SnapshotTable.latestVersion(p)
    run()
    assert(SnapshotTable.latestVersion(p) === vb)
    spark.sql("DROP TABLE graft_tp.db.tsink")
  }

  test("typed manifests survive segmentation: part_keys ride in " +
      "segments, carry by reference, and pruning is unchanged") {
    import spark.implicits._
    val path = freshPath()
    withSQLConf("spark.graft.manifest.segmentThreshold" -> "1") {
      val spec = PartSpec(Seq(
        PartField("d", "days", 0L, "date"),
        PartField("g", "identity", 0L, "string")))
      def batch(lo: Long, hi: Long) =
        (lo until hi).map(i => (s"2024-08-1${i % 2}", s"g${i % 3}", i))
          .toDF("ds", "g", "v")
          .select(to_date(col("ds")).as("d"), col("g"), col("v"))
      SnapshotTable.appendPartitioned(batch(0, 60), path, spec)
      SnapshotTable.appendPartitioned(batch(60, 120), path, spec)
      val ver = SnapshotTable.readVersion(spark, path, 2)
      assert(ver.segRefs.exists(_.nonEmpty), "manifest not segmented")
      assert(ver.partKeys.get.nFiles === ver.files.length)
      val (n, sc) = ScanMetrics.rowCount(scanPath(path).filter(col("g") === "g1"))
      assert(n === (0L until 120L).count(_ % 3 == 1))
      assert(sc.filesPlanned < sc.filesTotal,
        "string identity pruning failed on a segmented manifest")
      // identity partitioning records the RAW string — exact, no hash
      assert(ver.partKeys.get.flat.exists(_ == "g1"))
    }
  }

  test("guards: dtype mismatch, NULL partition source, and the " +
      "legacy-only maintenance ops reject typed specs loudly") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec(Seq(PartField("d", "days", 0L, "date")))
    // dtype mismatch: spec says DATE, column is STRING
    val e1 = intercept[IllegalArgumentException] {
      SnapshotTable.appendPartitioned(
        Seq(("2024-01-01", 1L)).toDF("d", "v"), path, spec)
    }
    assert(e1.getMessage.contains("spec declares date"))
    // NULL source rejects loudly, nothing committed
    val e2 = intercept[Exception] {
      SnapshotTable.appendPartitioned(
        Seq((null: java.sql.Date, 1L)).toDF("d", "v")
          .select(col("d").cast("date"), col("v")), path, spec)
    }
    assert(e2.getMessage.contains("NULL"))
    assert(SnapshotTable.latestVersion(path) === 0)
    // a committed typed table: mergePartitioned now takes typed
    // specs (r20 — see the dedicated cases); the remaining guard is
    // key location: a key that determines no partition field and has
    // no bloom index must refuse, not risk a duplicate
    SnapshotTable.appendPartitioned(
      Seq(("2024-01-01", 1L), ("2024-01-02", 2L)).toDF("ds", "v")
        .select(to_date(col("ds")).as("d"), col("v")), path, spec)
    val e4 = intercept[IllegalArgumentException] {
      SnapshotTable.mergePartitioned(spark, path,
        Seq(("2024-01-01", 5L)).toDF("ds", "v")
          .select(to_date(col("ds")).as("d"), col("v")), "v")
    }
    assert(e4.getMessage.contains("bloom"))
    // bucket fields reject range pruning but equality still works;
    // months over an INT source rejects at construction
    val e5 = intercept[IllegalArgumentException] {
      PartField("x", "months", 0L, "long")
    }
    assert(e5.getMessage.contains("DATE or TIMESTAMP"))
  }

  test("SQL DELETE of whole partitions is METADATA-ONLY on injective " +
      "fields (days over DATE, identity) and falls back to MOR " +
      "deletion vectors for everything else") {
    import spark.implicits._
    root
    spark.sql("""CREATE TABLE graft_tp.db.dd (d DATE, g STRING, v BIGINT)
      PARTITIONED BY (days(d), bucket(4, g))""")
    spark.sql("""INSERT INTO graft_tp.db.dd
      SELECT date_add(DATE'2024-09-10', CAST(id % 4 AS INT)),
             concat('g', id % 3), id FROM range(240)""")
    val p = s"$root/db/dd"
    val v1 = SnapshotTable.readVersion(spark, p, 1)

    // whole-day drop: predicate on the injective days(DATE) source
    spark.sql("DELETE FROM graft_tp.db.dd WHERE d = DATE'2024-09-11'")
    val v2 = SnapshotTable.readVersion(spark, p, 2)
    assert(v2.op === "DELETE")
    assert(v2.dvFiles.isEmpty, "whole-day delete must not write DVs")
    val v1set = v1.files.toSet
    assert(v2.files.forall(v1set.contains),
      "metadata-only delete must not write new files")
    assert(v2.files.length < v1.files.length)
    assert(spark.sql("SELECT count(*) FROM graft_tp.db.dd")
      .head.getLong(0) === (0L until 240L).count(_ % 4 != 1))
    assert(spark.sql("""SELECT count(*) FROM graft_tp.db.dd
      WHERE d = DATE'2024-09-11'""").head.getLong(0) === 0)

    // a predicate on the BUCKET field is not whole-partition
    // (buckets hold key mixtures): falls back to the MOR path, whose
    // deleteWhere folds the DVs into rewritten partition-pure files
    // right away (DELETE then OPTIMIZE in the history)
    spark.sql("DELETE FROM graft_tp.db.dd WHERE g = 'g1'")
    val ops = SnapshotTable.history(spark, p).orderBy("version")
      .select("op").collect().map(_.getString(0)).toSeq
    assert(ops.takeRight(2) === Seq("DELETE", "OPTIMIZE"),
      s"bucket-field delete must route through the MOR path, got $ops")
    assert(spark.sql("SELECT count(*) FROM graft_tp.db.dd")
      .head.getLong(0)
      === (0L until 240L).count(i => i % 4 != 1 && i % 3 != 1))

    // deleting EVERY remaining day routes to the zero-file truncate
    spark.sql("DROP TABLE graft_tp.db.dd")

    // single-BIGINT identity specs take the same fast path
    spark.sql("""CREATE TABLE graft_tp.db.li (k BIGINT, v BIGINT)
      PARTITIONED BY (k)""")
    spark.sql("INSERT INTO graft_tp.db.li SELECT id % 5, id " +
      "FROM range(100)")
    val lp = s"$root/db/li"
    spark.sql("DELETE FROM graft_tp.db.li WHERE k = 2")
    val lv = SnapshotTable.readVersion(spark, lp,
      SnapshotTable.latestVersion(lp))
    assert(lv.op === "DELETE" && lv.dvFiles.isEmpty)
    assert(spark.sql("SELECT count(*) FROM graft_tp.db.li")
      .head.getLong(0) === 80)
    spark.sql("DROP TABLE graft_tp.db.li")
  }

  test("compactPartitioned on a TYPED spec: bins never cross a " +
      "partition tuple, counts and tuples survive, pruning still works") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec(Seq(
      PartField("d", "days", 0L, "date"),
      PartField("g", "identity", 0L, "string")))
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(i => (s"2024-10-1${i % 2}", s"g${i % 2}", i))
        .toDF("ds", "g", "v")
        .select(to_date(col("ds")).as("d"), col("g"), col("v"))
    // five small appends → 5 files per (day, group) tuple
    (0 until 5).foreach(b =>
      SnapshotTable.appendPartitioned(batch(b * 40, b * 40 + 40),
        path, spec))
    val before = SnapshotTable.readVersion(spark, path, 5)
    val r = SnapshotTable.compactPartitioned(spark, path,
      targetBytes = 1L << 30)
    assert(r.filesAfter < before.files.length,
      s"no compaction happened (${r.filesAfter} of ${before.files.length})")
    val after = SnapshotTable.readVersion(spark, path, r.version)
    assert(after.op === "OPTIMIZE")
    assert(after.partKeys.get.nFiles === after.files.length)
    // purity: every compacted file holds exactly its recorded tuple
    after.files.zipWithIndex.foreach { case (f, i) =>
      val tuples = spark.read.parquet(f)
        .select(datediff(col("d"), to_date(lit("1970-01-01"))), col("g"))
        .collect().map(rr => IndexedSeq(
          spec.fields.head.encodeKey(
            spec.fields.head.applyKey(rr.getInt(0).toLong)),
          spec.fields(1).encodeKey(spec.fields(1).applyKey(
            rr.getString(1))))).distinct
      assert(tuples.length === 1 &&
        tuples.head === after.partKeys.get.row(i),
        s"compacted file $f not tuple-pure")
    }
    val t = scanPath(path)
    assert(t.count() === 200)
    assert(t.agg(sum("v")).head.getLong(0) === (0L until 200L).sum)
    val (n, sc) = ScanMetrics.rowCount(t.filter(col("g") === "g1"))
    assert(n === 100)
    assert(sc.filesPlanned < sc.filesTotal,
      "identity pruning lost through compaction")
  }

  test("storage-partitioned join between two TYPED identity-" +
      "partitioned tables: scans report key-grouped partitioning and " +
      "the join plan carries no hash-partitioning exchange") {
    import spark.implicits._
    val p1 = freshPath()
    val p2 = freshPath()
    val spec = PartSpec(Seq(PartField("region", "identity", 0L, "string")))
    SnapshotTable.appendPartitioned(
      (0L until 200L).map(i => (s"r${i % 8}", i)).toDF("region", "a"),
      p1, spec)
    SnapshotTable.appendPartitioned(
      (0L until 160L).map(i => (s"r${i % 8}", i * 3)).toDF("region", "b"),
      p2, spec)
    val keys = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prior = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val j = scanPath(p1).join(scanPath(p2), "region")
        .agg(count(lit(1)).as("n"), sum("a").as("sa"), sum("b").as("sb"))
      val r = j.collect().head
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"typed SPJ still shuffles:\n${plan.take(1200)}")
      // ground truth: 25 × 20 rows per region over 8 regions
      assert(r.getLong(0) === 8L * 25 * 20)
      assert(r.getLong(1) ===
        (0L until 200L).map(i => i * 20).sum)
      assert(r.getLong(2) ===
        (0L until 160L).map(i => i * 3 * 25).sum)
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime (DPP-style) file pruning on a TYPED partition source: " +
      "a join against a filtered dimension hands DATE keys back and " +
      "files prune at runtime through the days() transform") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec(Seq(PartField("d", "days", 0L, "date")))
    SnapshotTable.appendPartitioned(
      (0L until 300L).map(i => (s"2024-11-${i % 10 + 10}", i))
        .toDF("ds", "v")
        .select(to_date(col("ds")).as("d"), col("v")),
      path, spec)
    val fact = scanPath(path)
    // the build side needs a SELECTIVE predicate for Spark to inject
    // the runtime filter (the DPP eligibility rule)
    val dim = spark.range(0, 40)
      .select(date_add(lit("2024-11-01").cast("date"),
        col("id").cast("int")).as("dim_d"))
      .filter(col("dim_d").isin(
        java.time.LocalDate.parse("2024-11-12"),
        java.time.LocalDate.parse("2024-11-13")))
    val key = "spark.sql.optimizer.dynamicPartitionPruning.useStats"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    val (n, sc) = try {
      ScanMetrics.rowCount(fact.join(dim, col("d") === col("dim_d")))
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(n === (0L until 300L).count(i => i % 10 == 2 || i % 10 == 3))
    val (planned, total) = (sc.filesPlanned, sc.filesTotal)
    assert(planned > 0 && planned < total,
      s"runtime DATE keys did not prune typed partitions " +
        s"($planned/$total)")
  }

  test("ALTER RENAME of a typed partition source is metadata-only: " +
      "same files, spec follows the name, pruning works on the new " +
      "name") {
    import spark.implicits._
    root
    spark.sql("""CREATE TABLE graft_tp.db.rn (d DATE, v BIGINT)
      PARTITIONED BY (months(d))""")
    spark.sql("""INSERT INTO graft_tp.db.rn
      SELECT date_add(DATE'2024-01-15', CAST((id % 4) * 31 AS INT)), id
      FROM range(80)""")
    val p = s"$root/db/rn"
    val v1 = SnapshotTable.readVersion(spark, p, 1)
    spark.sql("ALTER TABLE graft_tp.db.rn RENAME COLUMN d TO event_d")
    val v2 = SnapshotTable.readVersion(spark, p, 2)
    assert(v2.files === v1.files, "rename must not rewrite data")
    assert(v2.part.exists(_.fields.head.source == "event_d"))
    assert(v2.partKeys.get.flat === v1.partKeys.get.flat)
    val (rr, rp, rt) = sqlScan("""SELECT count(*) FROM graft_tp.db.rn
      WHERE event_d >= DATE'2024-03-01'""")
    assert(rr.getLong(0) === (0L until 80L).count(_ % 4 >= 2))
    assert(rp < rt,
      "months() range pruning failed after rename")
    spark.sql("DROP TABLE graft_tp.db.rn")
  }

  test("reclusterPartitioned: curve-orders rows INSIDE each typed " +
      "tuple, outputs tuple-pure, curve + partition pruning compose, " +
      "change feed empty across the commit") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec(Seq(PartField("g", "identity", 0L, "string")))
    // px/py scattered vs arrival order s: pre-recluster, every file's
    // z range spans ~the whole key space
    val df = (0 until 4000).map { i =>
      val px = (i.toLong * 2654435761L) % 256
      val py = (i.toLong * 40503L) % 256
      (s"g${i % 2}", i.toLong, px, py)
    }.toDF("g", "s", "px", "py")
      .withColumn("z",
        graft.functions.ZOrderExpr.zorder(col("px"), col("py"), 8))
    SnapshotTable.appendPartitioned(df, path, spec,
      statsCol = Some("s"))
    val r = SnapshotTable.reclusterPartitioned(spark, path, "z", 8)
    assert(r.version === 2 && r.filesAfter > 2)
    val after = SnapshotTable.readVersion(spark, path, 2)
    assert(after.op === "OPTIMIZE")
    assert(after.partKeys.get.nFiles === after.files.length)
    assert(after.stats.exists(_.col == "z"),
      "manifest stats must switch to the cluster column")
    // purity: every rewritten file holds exactly one g value, and it
    // matches the recorded tuple
    after.files.zipWithIndex.foreach { case (f, i) =>
      val gs = spark.read.parquet(f).select("g").distinct()
        .collect().map(_.getString(0))
      assert(gs.length === 1, s"file $f not tuple-pure")
      assert(spec.fields.head.encodeKey(
          spec.fields.head.applyKey(gs.head))
        === after.partKeys.get.row(i).head,
        s"file $f under the wrong tuple")
    }
    // row preservation: the rewrite reorders, never edits
    val t = scanPath(path)
    assert(t.count() === 4000)
    assert(SnapshotTable.changes(spark, path, 1, 2).count() === 0,
      "recluster must be row-preserving (empty change feed)")
    // pruning composition: partition alone, curve range alone, both
    val (_, sg) = ScanMetrics.rowCount(t.filter(col("g") === "g1"))
    val (pg, tot) = (sg.filesPlanned, sg.filesTotal)
    assert(pg > 0 && pg < tot, s"partition pruning lost: $pg/$tot")
    val zHi = graft.functions.ZOrderExpr.interleave(63, 63, 8)
    val (nz, sz) = ScanMetrics.rowCount(t.filter(col("z") <= zHi))
    val pz = sz.filesPlanned
    assert(pz > 0 && pz < tot, s"curve-range pruning absent: $pz/$tot")
    val (_, sb) = ScanMetrics.rowCount(t.filter(col("g") === "g1" && col("z") <= zHi))
    val pb = sb.filesPlanned
    assert(pb <= math.min(pg, pz),
      s"composed pruning ($pb) looser than either dimension ($pg, $pz)")
    // and the curve slice is exact: corner interval [0, z(63,63)] over
    // an aligned tile equals the px/py box
    assert(nz ===
      df.filter(col("px") <= 63 && col("py") <= 63).count())
    // single-BIGINT specs take the same path
    val lp = freshPath()
    val ldf = (0 until 1000).map { i =>
      (i.toLong % 4, i.toLong, (i.toLong * 2654435761L) % 1024)
    }.toDF("p", "s", "z2")
    SnapshotTable.appendPartitioned(ldf, lp,
      PartSpec("p", "identity", 0), statsCol = Some("s"))
    val lr = SnapshotTable.reclusterPartitioned(spark, lp, "z2", 8)
    assert(lr.filesAfter > 0)
    assert(scanPath(lp).count() === 1000)
    assert(SnapshotTable.readVersion(spark, lp, lr.version)
      .partKeys.get.longs.toSet === Set(0L, 1L, 2L, 3L))
  }

  test("mergePartitioned on a TYPED days×bucket spec (API path, r20): " +
      "bloom-backed key location, cross-tuple moves land pure, " +
      "counts exact") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec(Seq(
      PartField("d", "days", 0L, "date"),
      PartField("g", "bucket", 2L, "string")))
    def day(n: Int) = java.sql.Date.valueOf(f"2024-01-${n}%02d")
    val base = (0L until 120L).map(i =>
      (i, day(1 + (i % 6).toInt), s"g${i % 2}", i * 10))
      .toDF("id", "d", "g", "v")
    SnapshotTable.appendPartitioned(base, path, spec,
      bloomCol = Some("id"))
    // id=5 updates in place; id=7 MOVES tuple (new day); id=1000 new
    val updates = Seq(
      (5L, day(1 + 5 % 6), s"g${5 % 2}", 999L),
      (7L, java.sql.Date.valueOf("2024-02-01"), s"g${7 % 2}", 777L),
      (1000L, day(1), "g0", 111L)).toDF("id", "d", "g", "v")
    val res = SnapshotTable.mergePartitioned(spark, path, updates, "id")
    assert(res.rowsMatched === 2 && res.rowsInserted === 1,
      s"typed merge counts wrong: $res")
    assert(res.filesRewritten < res.filesTotal,
      "typed tuple + bloom pruning must not rewrite every file")
    val (scan, _, _) = SnapshotTable.scanAt(spark, path, res.version)
    assert(scan.count() === 121)
    // the moved key: exactly ONE row, in its NEW tuple
    val moved = scan.filter(col("id") === 7L).collect()
    assert(moved.length === 1, "moved key duplicated")
    assert(moved.head.getAs[Any]("d").toString === "2024-02-01")
    assert(scan.filter(col("id") === 5L).head.getAs[Long]("v") === 999L)
    // tuples stayed pure and pruning still works: the new day's scan
    // opens only its tuple's files
    val ver = SnapshotTable.readVersion(spark, path, res.version)
    assert(ver.partKeys.get.nFiles === ver.files.length)
    val (n, sc) = ScanMetrics.rowCount(scanPath(path)
      .filter(col("d") === lit(java.sql.Date.valueOf("2024-02-01"))))
    assert(n === 1)
    val (read, total) = (sc.filesPlanned, sc.filesTotal)
    assert(read > 0 && read < total,
      s"days() pruning broke after the typed merge: $read/$total")
  }

  test("mergePartitioned on a TYPED single-field STRING spec keyed by " +
      "its source: tuple pruning alone locates rows, no bloom needed") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec(Seq(
      PartField("name", "truncate", 4L, "string")))
    val prefixes = Seq("alfa", "beta", "gama", "delt")
    SnapshotTable.appendPartitioned(
      (0 until 60).map(i => (s"${prefixes(i % 4)}$i", i.toLong))
        .toDF("name", "v"),
      path, spec)
    val res = SnapshotTable.mergePartitioned(spark, path,
      Seq(("alfa4", -5L), ("zeta001", -1L)).toDF("name", "v"),
      "name")
    assert(res.rowsMatched === 1 && res.rowsInserted === 1)
    assert(res.filesRewritten < res.filesTotal,
      "key == every source: tuple pruning must engage without a bloom")
    val (scan, _, _) = SnapshotTable.scanAt(spark, path, res.version)
    assert(scan.count() === 61)
    assert(scan.filter(col("name") === "alfa4").head
      .getAs[Long]("v") === -5L)
    assert(scan.filter(col("name") === "zeta001").count() === 1)
    // without a bloom AND a key that does not determine the tuple,
    // the merge refuses loudly instead of risking a duplicate
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.mergePartitioned(spark, path,
        Seq(("userXXX", 0L)).toDF("name", "v"), "v")
    }
    assert(e.getMessage.contains("bloom"))
  }

  test("materializeSchema rewrites a multi-column typed layout " +
      "partition-pure after a rename") {
    import spark.implicits._
    val path = freshPath()
    val spec = PartSpec(Seq(
      PartField("d", "days", 0L, "date"),
      PartField("tag", "bucket", 4L, "string")))
    val df = (0L until 200L).map { i =>
      (i, s"2024-03-${(i % 4) + 10}", s"tag-${i % 7}")
    }.toDF("v", "ds", "tag")
      .withColumn("d", to_date(col("ds"))).drop("ds")
    SnapshotTable.appendPartitioned(df, path, spec)
    SnapshotTable.renameColumn(spark, path, "v", "val")
    val res = SnapshotTable.materializeSchema(spark, path)
    val ver = SnapshotTable.readVersion(spark, path, res.version)
    assert(!ver.needsResolve && ver.part === Some(spec))
    val pk = ver.partKeys.get
    assert(pk.nFiles === ver.files.length)
    ver.files.zipWithIndex.foreach { case (f, i) =>
      val tuples = spark.read.parquet(f)
        .select(datediff(col("d"), to_date(lit("1970-01-01"))), col("tag"))
        .collect().map(r => IndexedSeq(
          spec.fields.head.encodeKey(
            spec.fields.head.applyKey(r.getInt(0).toLong)),
          spec.fields(1).encodeKey(spec.fields(1).applyKey(r.getString(1)))))
        .distinct
      assert(tuples.toSeq === Seq(pk.row(i)), s"file $f is not tuple-pure")
    }
    val t = scanPath(path)
    assert(t.count() === 200 && t.columns.contains("val"))
    assert(t.agg(sum("val")).head.getLong(0) === (0L until 200L).sum)
    val (n, sc) = ScanMetrics.rowCount(
      t.filter(col("d") === lit("2024-03-11").cast("date")))
    assert(n === 50 && sc.filesPlanned < sc.filesTotal)
  }
}
