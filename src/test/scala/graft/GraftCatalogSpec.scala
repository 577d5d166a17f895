package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.ops.SnapshotTable
import graft.source.v2.ScanMetrics

/** The snapshot table as a Spark SQL catalog: CREATE TABLE (with
  * partition transforms + layout TBLPROPERTIES), INSERT INTO routed
  * through the commit protocol, SELECT with manifest pruning, VERSION
  * AS OF / TIMESTAMP AS OF, metadata-only ALTERs, SHOW TABLES, DROP.
  */
class GraftCatalogSpec extends SparkSpec {

  private lazy val root: String = {
    val r = Files.createTempDirectory("gcat").toString
    spark.conf.set("spark.sql.catalog.graft",
      "graft.source.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", r)
    r
  }

  test("CREATE / INSERT / SELECT / time travel / ALTER / DROP — " +
      "the whole lifecycle in pure SQL") {
    root
    spark.sql("""CREATE TABLE graft.db.t (k BIGINT, v BIGINT, tag STRING)
      PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('stats_col'='v')""")
    // a created-but-never-written table scans as zero rows
    assert(spark.sql("SELECT * FROM graft.db.t").count() === 0)
    assert(spark.table("graft.db.t").columns.toSeq
      === Seq("k", "v", "tag"))

    spark.sql("INSERT INTO graft.db.t " +
      "SELECT id AS k, id * 2 AS v, 'a' AS tag FROM range(100)")
    assert(spark.sql("SELECT count(*) FROM graft.db.t")
      .head.getLong(0) === 100)
    spark.sql("INSERT INTO graft.db.t " +
      "SELECT id, id * 2, 'b' FROM range(100, 150)")
    assert(spark.sql("SELECT sum(v) FROM graft.db.t")
      .head.getLong(0) === (0L until 150L).map(_ * 2).sum)

    // the marker's layout reached the manifest: bucket partitioning
    // prunes a SQL equality, stats prune a range
    val p = s"$root/db/t"
    val ver = SnapshotTable.readVersion(spark,
      p, SnapshotTable.latestVersion(p))
    assert(ver.part.exists(_.transform == "bucket"))
    assert(ver.stats.exists(_.col == "v"))
    val (n, sc) = ScanMetrics.rowCount(
      spark.sql("SELECT * FROM graft.db.t WHERE k = 7"))
    assert(n === 1)
    val (planned, total) = (sc.filesPlanned, sc.filesTotal)
    assert(planned < total, s"bucket pruning failed: $planned of $total")

    // time travel: version and wall clock
    assert(spark.sql("SELECT count(*) FROM graft.db.t VERSION AS OF 1")
      .head.getLong(0) === 100)
    assert(spark.sql("SELECT count(*) FROM graft.db.t " +
      "TIMESTAMP AS OF '2099-01-01 00:00:00'").head.getLong(0) === 150)

    // metadata-only ALTERs by field id
    spark.sql("ALTER TABLE graft.db.t RENAME COLUMN tag TO label")
    assert(spark.sql("SELECT label FROM graft.db.t WHERE label = 'b'")
      .count() === 50)
    spark.sql("ALTER TABLE graft.db.t DROP COLUMN label")
    assert(spark.table("graft.db.t").columns.toSeq === Seq("k", "v"))
    // old version still reads under its own names
    assert(spark.sql("SELECT tag FROM graft.db.t VERSION AS OF 1")
      .where("tag = 'a'").count() === 100)

    assert(spark.sql("SHOW TABLES IN graft.db").collect()
      .map(_.getString(1)).contains("t"))
    spark.sql("DROP TABLE graft.db.t")
    assert(!spark.catalog.tableExists("graft.db.t"))
  }

  test("DELETE FROM folds a DV commit into a bounded rewrite; " +
      "TRUNCATE TABLE is a zero-file metadata commit — both travel") {
    root
    spark.sql("""CREATE TABLE graft.db.d (k BIGINT, v BIGINT, tag STRING)
      TBLPROPERTIES ('stats_col'='k')""")
    spark.sql("INSERT INTO graft.db.d " +
      "SELECT id, id * 2, concat('t', CAST(id % 3 AS STRING)) " +
      "FROM range(300)")
    spark.sql("DELETE FROM graft.db.d WHERE k >= 100 AND tag = 't1'")
    val after = spark.sql(
      "SELECT count(*) AS n, sum(v) AS sv FROM graft.db.d").head
    val survivors = (0L until 300L)
      .filterNot(k => k >= 100 && k % 3 == 1)
    assert(after.getLong(0) === survivors.length)
    assert(after.getLong(1) === survivors.map(_ * 2).sum)
    // the delete landed as DELETE + OPTIMIZE (fold) — the reader
    // never sees deletion vectors
    val p = s"$root/db/d"
    val latest = SnapshotTable.latestVersion(p)
    val ver = SnapshotTable.readVersion(spark, p, latest)
    assert(ver.dvFiles.isEmpty && ver.op === "OPTIMIZE")
    // v1 still serves the pre-delete table
    assert(spark.sql("SELECT count(*) FROM graft.db.d VERSION AS OF 1")
      .head.getLong(0) === 300)

    spark.sql("TRUNCATE TABLE graft.db.d")
    assert(spark.sql("SELECT * FROM graft.db.d").count() === 0)
    // schema (names AND types) survives the zero-file version
    assert(spark.table("graft.db.d").schema.map(f =>
      (f.name, f.dataType.typeName)).toSeq
      === Seq(("k", "long"), ("v", "long"), ("tag", "string")))
    val tver = SnapshotTable.readVersion(spark, p,
      SnapshotTable.latestVersion(p))
    assert(tver.files.isEmpty && tver.op === "TRUNCATE")
    // a post-truncate insert starts the table again — and the stats
    // LAYOUT survived the truncate, so the new files are indexed
    spark.sql("INSERT INTO graft.db.d SELECT id, id, 'x' FROM range(5)")
    assert(spark.sql("SELECT count(*) FROM graft.db.d")
      .head.getLong(0) === 5)
    assert(SnapshotTable.readVersion(spark, p,
      SnapshotTable.latestVersion(p)).stats.exists(_.col == "k"),
      "stats layout lost across TRUNCATE")
    // an unconditional (or all-matching) DELETE routes to the
    // zero-file commit instead of a rewrite-to-nothing
    spark.sql("DELETE FROM graft.db.d WHERE k >= 0")
    assert(spark.sql("SELECT count(*) FROM graft.db.d")
      .head.getLong(0) === 0)
    assert(SnapshotTable.readVersion(spark, p,
      SnapshotTable.latestVersion(p)).op === "TRUNCATE")
    spark.sql("DROP TABLE graft.db.d")
  }

  test("bucket-partitioned catalog tables storage-partition-join: " +
      "the FunctionCatalog proves both sides agree, no shuffle") {
    root
    spark.sql("""CREATE TABLE graft.db.f1 (k BIGINT, v BIGINT)
      PARTITIONED BY (bucket(8, k))""")
    spark.sql("""CREATE TABLE graft.db.f2 (k BIGINT, w BIGINT)
      PARTITIONED BY (bucket(8, k))""")
    spark.sql("INSERT INTO graft.db.f1 SELECT id, id * 2 FROM range(400)")
    spark.sql("INSERT INTO graft.db.f2 " +
      "SELECT id % 100, id * 10 FROM range(400)")
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.sql("""SELECT f1.k, f1.v, f2.w
        FROM graft.db.f1 f1 JOIN graft.db.f2 f2 ON f1.k = f2.k""")
      assert(j.collect().length === 400) // each f2 row matches one f1.k
      val phys = j.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val plan = phys.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucket SPJ still shuffles:\n$plan")
      // not vacuous: it IS a join of the two scans, planned key-grouped
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"), s"unexpected join shape:\n$plan")
      // both scans present (not a collapsed/broadcast shape), and the
      // stage's partitioning is the key-grouped one SPJ planned on
      assert("BatchScan graft_table".r.findAllIn(plan).length === 2, plan)
      val leafParts = phys.collectLeaves()
        .map(_.outputPartitioning.getClass.getSimpleName)
      assert(leafParts.forall(_.contains("KeyGroupedPartitioning")),
        s"stage did not carry key-grouped partitioning: $leafParts\n$plan")
    }
    spark.sql("DROP TABLE graft.db.f1")
    spark.sql("DROP TABLE graft.db.f2")
  }

  test("spark.readStream.table tails a catalog table: the commit log " +
      "as a stream, addressed by name") {
    root
    spark.sql("CREATE TABLE graft.db.s (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.db.s SELECT id, id * 2 FROM range(50)")
    val ckpt = Files.createTempDirectory("gcat-ck").toString
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.table("graft.db.s")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => out.add(r.getLong(0)))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(out.asScala.toSet === (0L until 50L).toSet)
    spark.sql("INSERT INTO graft.db.s SELECT id, id * 2 FROM range(50, 80)")
    val q2 = spark.readStream.table("graft.db.s")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => out.add(r.getLong(0)))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(60000)
    // exactly-once across the restart: only the appended rows arrived
    assert(out.asScala.toSet === (0L until 80L).toSet)
    assert(out.size === 80)
    spark.sql("DROP TABLE graft.db.s")
  }

  test("metadata tables: t.history and t.files serve the log as " +
      "SQL relations") {
    root
    spark.sql("""CREATE TABLE graft.db.h (k BIGINT, v BIGINT)
      TBLPROPERTIES ('stats_col'='k')""")
    spark.sql("INSERT INTO graft.db.h SELECT id, id FROM range(100)")
    spark.sql("INSERT INTO graft.db.h SELECT id, id FROM range(100, 130)")
    spark.sql("DELETE FROM graft.db.h WHERE k < 10")
    val hist = spark.sql(
      "SELECT version, op, rows FROM graft.db.h.history ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(hist.map(_._2).toSeq
      === Seq("APPEND", "APPEND", "DELETE", "OPTIMIZE"))
    assert(hist.last._3 === 120)
    // files: inventory of the CURRENT version with stats bounds
    val files = spark.sql("SELECT * FROM graft.db.h.files")
    assert(files.count() ===
      SnapshotTable.readVersion(spark, s"$root/db/h", 4).files.length)
    assert(files.agg(org.apache.spark.sql.functions.sum("rows"))
      .head.getLong(0) === 120)
    assert(files.agg(org.apache.spark.sql.functions.min("stats_min"))
      .head.getLong(0) === 10)
    // joinable like any relation
    assert(spark.sql("""SELECT count(*) FROM graft.db.h.files f
      JOIN graft.db.h.history v ON f.rows <= v.rows""").head.getLong(0)
      > 0)
    spark.sql("DROP TABLE graft.db.h")

    // t.partitions: per-partition rollup for partitioned tables;
    // plain tables decline naming t.files
    spark.sql("""CREATE TABLE graft.db.hp (k BIGINT, v BIGINT)
      PARTITIONED BY (truncate(25, k))""")
    spark.sql("INSERT INTO graft.db.hp SELECT id, id FROM range(100)")
    val parts = spark.sql(
      "SELECT partition, n_files, rows FROM graft.db.hp.partitions " +
        "ORDER BY partition")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(parts.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(parts.map(_._3).sum === 100)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.db.h2x.partitions").collect()
    }
    assert(e != null)
    spark.sql("DROP TABLE graft.db.hp")
  }

  test("DataFrameWriterV2: writeTo(...).append() / .overwritePartitions " +
      "route through the same commit protocol") {
    import spark.implicits._
    root
    spark.sql("""CREATE TABLE graft.db.w (k BIGINT, v BIGINT)
      TBLPROPERTIES ('stats_col'='k')""")
    (1L to 60L).map(k => (k, k * 3)).toDF("k", "v")
      .writeTo("graft.db.w").append()
    assert(spark.table("graft.db.w").count() === 60)
    // byName resolution: reordered columns land correctly
    (61L to 70L).map(k => (k * 3, k)).toDF("v", "k")
      .writeTo("graft.db.w").append()
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.w WHERE v = k * 3")
      .head.getLong(0) === 70)
    val ver = SnapshotTable.readVersion(spark, s"$root/db/w", 2)
    assert(ver.stats.exists(_.col == "k"))
    spark.sql("DROP TABLE graft.db.w")
  }

  test("MERGE INTO and UPDATE: group-based copy-on-write in pure SQL, " +
      "groups pruned to the affected files") {
    import spark.implicits._
    root
    spark.sql("""CREATE TABLE graft.db.g (k BIGINT, v BIGINT)
      TBLPROPERTIES ('stats_col'='k')""")
    spark.sql("INSERT INTO graft.db.g SELECT id, id FROM range(100)")
    val p = s"$root/db/g"
    val filesBefore = SnapshotTable.readVersion(spark, p, 1).files.length

    ((50L to 54L).map(k => (k, 1000L + k)) ++
      (200L to 202L).map(k => (k, k)))
      .toDF("k", "v").createOrReplaceTempView("g_src")
    // the static range in ON bounds the GROUP set: manifest stats
    // prune the rewrite to the files that can hold matched keys (the
    // Delta/Iceberg-documented pattern for scale-safe merges)
    spark.sql("""MERGE INTO graft.db.g t
      USING g_src s ON t.k = s.k AND t.k BETWEEN 48 AND 60
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT *""")

    assert(spark.sql("SELECT count(*) FROM graft.db.g")
      .head.getLong(0) === 103)
    assert(spark.sql("SELECT sum(v) FROM graft.db.g WHERE k BETWEEN 50 AND 54")
      .head.getLong(0) === (50L to 54L).map(1000L + _).sum)
    assert(spark.sql("SELECT count(*) FROM graft.db.g WHERE k >= 200")
      .head.getLong(0) === 3)
    // untouched rows intact
    assert(spark.sql("SELECT sum(v) FROM graft.db.g WHERE k < 50")
      .head.getLong(0) === (0L until 50L).sum)
    val v2 = SnapshotTable.readVersion(spark, p, 2)
    assert(v2.op === "MERGE" && v2.rows === 103)
    // group pruning: only the files holding k∈[50,54] were replaced —
    // the rest of v1 carried by reference
    val v1files = SnapshotTable.readVersion(spark, p, 1).files.toSet
    val carried = v2.files.count(v1files)
    assert(carried > 0 && carried < filesBefore,
      s"group rewrite replaced $carried-carried of $filesBefore files")
    // stats survived the swap (pruning still works)
    assert(v2.stats.exists(st => st.col == "k" &&
      st.mins.length == v2.files.length))
    // time travel across the merge
    assert(spark.sql("SELECT count(*) FROM graft.db.g VERSION AS OF 1")
      .head.getLong(0) === 100)

    // UPDATE rides the same machinery — and records its own op
    spark.sql("UPDATE graft.db.g SET v = 0 WHERE k = 10")
    assert(spark.sql("SELECT v FROM graft.db.g WHERE k = 10")
      .head.getLong(0) === 0)
    assert(spark.sql("SELECT count(*) FROM graft.db.g")
      .head.getLong(0) === 103)
    assert(SnapshotTable.readVersion(spark, p,
      SnapshotTable.latestVersion(p)).op === "UPDATE")
    // CHECK constraints gate the rewritten batch: a violating UPDATE
    // aborts and the table stays at its prior version
    SnapshotTable.setConstraints(p,
      Seq(SnapshotTable.Constraint("v_nonneg", "v >= 0")))
    val before = SnapshotTable.latestVersion(p)
    val e = intercept[Exception] {
      spark.sql("UPDATE graft.db.g SET v = -5 WHERE k = 11")
    }
    assert(e.getMessage.contains("constraint") ||
      e.getCause != null &&
        String.valueOf(e.getCause.getMessage).contains("constraint"))
    assert(SnapshotTable.latestVersion(p) === before)
    assert(spark.sql("SELECT v FROM graft.db.g WHERE k = 11")
      .head.getLong(0) === 11)
    spark.sql("DROP TABLE graft.db.g")
  }

  test("MERGE INTO / UPDATE / DELETE on HIDDEN-PARTITIONED tables: " +
      "rewrites stay partition-pure, moved rows re-derive their " +
      "partition, DELETE takes the DV path") {
    import spark.implicits._
    root
    spark.sql("""CREATE TABLE graft.db.pm (k BIGINT, v BIGINT)
      PARTITIONED BY (bucket(4, k))""")
    spark.sql("INSERT INTO graft.db.pm SELECT id, id FROM range(200)")
    val p = s"$root/db/pm"
    val spec = SnapshotTable.readVersion(spark, p, 1).part.get

    def assertPurity(): Unit = {
      val ver = SnapshotTable.readVersion(spark, p,
        SnapshotTable.latestVersion(p))
      val pv = ver.partKeys.get.longs
      ver.files.zipWithIndex.foreach { case (f, i) =>
        val vals = spark.read.parquet(f).select("k").as[Long]
          .collect().map(spec(_)).distinct
        assert(vals.length === 1 && vals.head === pv(i),
          s"file $f is not partition-pure: ${vals.toSeq} vs ${pv(i)}")
      }
    }

    (10L to 29L).map(k => (k, 1000L + k)).toDF("k", "v")
      .createOrReplaceTempView("pm_src")
    spark.sql("""MERGE INTO graft.db.pm t USING pm_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v""")
    assert(spark.sql("SELECT count(*) FROM graft.db.pm")
      .head.getLong(0) === 200)
    assert(spark.sql("SELECT sum(v) FROM graft.db.pm WHERE k BETWEEN 10 AND 29")
      .head.getLong(0) === (10L to 29L).map(1000L + _).sum)
    val v2 = SnapshotTable.readVersion(spark, p, 2)
    assert(v2.op === "MERGE" && v2.part.contains(spec))
    assertPurity()
    // partition pruning still exact after the rewrite
    val (r, sc) = withScan(spark.sql("SELECT v FROM graft.db.pm WHERE k = 15"))
    assert(r.getLong(0) === 1015)
    val (planned, total) = (sc.filesPlanned, sc.filesTotal)
    assert(planned < total, s"post-merge pruning failed: $planned/$total")

    // a MERGE that UPDATES THE PARTITION SOURCE moves rows between
    // partitions: the writer re-derives each row's value
    Seq((50L, 0L)).toDF("k", "v").createOrReplaceTempView("pm_mv")
    spark.sql("""MERGE INTO graft.db.pm t USING pm_mv s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET k = t.k + 1000""")
    assert(spark.sql("SELECT count(*) FROM graft.db.pm")
      .head.getLong(0) === 200)
    assert(spark.sql("SELECT count(*) FROM graft.db.pm WHERE k = 1050")
      .head.getLong(0) === 1)
    assert(spark.sql("SELECT count(*) FROM graft.db.pm WHERE k = 50")
      .head.getLong(0) === 0)
    assertPurity()

    // UPDATE rides the same partitioned machinery
    spark.sql("UPDATE graft.db.pm SET v = -1 WHERE k = 7")
    assert(spark.sql("SELECT v FROM graft.db.pm WHERE k = 7")
      .head.getLong(0) === -1)
    assertPurity()

    // translatable DELETE on a partitioned table takes the DV + fold
    // path (never the group rewrite) — the lazy-resolution contract
    spark.sql("DELETE FROM graft.db.pm WHERE k >= 190 AND k < 200")
    assert(spark.sql("SELECT count(*) FROM graft.db.pm")
      .head.getLong(0) === 190)
    val verD = SnapshotTable.readVersion(spark, p,
      SnapshotTable.latestVersion(p))
    assert(verD.dvFiles.isEmpty && verD.op === "OPTIMIZE",
      s"partitioned DELETE did not fold: op=${verD.op}")
    assertPurity()
    spark.sql("DROP TABLE graft.db.pm")
  }

  test("a row-level REWRITE delivers every row of its scanned files — " +
      "row-group skipping must never apply to the group scan") {
    import spark.implicits._
    root
    // many row groups in ONE file: the configuration under which a
    // pushed UPDATE predicate, if (wrongly) handed to parquet's
    // row-group filter on the rewrite scan, silently drops every
    // carried row outside the matching group
    val hc = spark.sparkContext.hadoopConfiguration
    val prior = Option(hc.get("parquet.block.size"))
    hc.setInt("parquet.block.size", 16 * 1024)
    try {
      spark.sql("""CREATE TABLE graft.db.rg (k BIGINT, v BIGINT)
        TBLPROPERTIES ('stats_col'='k')""")
      spark.sql(
        "INSERT INTO graft.db.rg SELECT id, id FROM range(100000)")
    } finally prior match {
      case Some(v) => hc.set("parquet.block.size", v)
      case None => hc.unset("parquet.block.size")
    }
    spark.sql("UPDATE graft.db.rg SET v = -1 WHERE k = 77777")
    assert(spark.sql("SELECT count(*) FROM graft.db.rg")
      .head.getLong(0) === 100000,
      "the rewrite dropped carried rows of unmatched row groups")
    assert(spark.sql("SELECT v FROM graft.db.rg WHERE k = 77777")
      .head.getLong(0) === -1)
    assert(spark.sql("SELECT sum(v) FROM graft.db.rg").head.getLong(0)
      === (0L until 100000L).sum - 77777L - 1L)
    spark.sql("DROP TABLE graft.db.rg")
  }

  test("DELETE FROM an empty CREATEd table is a no-op, not an " +
      "analysis failure") {
    root
    spark.sql("CREATE TABLE graft.db.empty_d (k BIGINT, v BIGINT)")
    spark.sql("DELETE FROM graft.db.empty_d WHERE k = 1") // must not throw
    assert(spark.sql("SELECT count(*) FROM graft.db.empty_d")
      .head.getLong(0) === 0)
    spark.sql("DROP TABLE graft.db.empty_d")
  }

  test("INSERT INTO ... REPLACE WHERE: an aligned range swap is ONE " +
      "commit with surviving files carried by reference (zero data " +
      "bytes moved for the delete half)") {
    import spark.implicits._
    root
    spark.sql("""CREATE TABLE graft.db.rw (d BIGINT, v BIGINT)
      PARTITIONED BY (truncate(10, d))""")
    spark.sql("INSERT INTO graft.db.rw " +
      "SELECT id AS d, id AS v FROM range(100)")
    val p = s"$root/db/rw"
    val v1 = SnapshotTable.readVersion(spark, p, 1)

    // replace days [20, 40) with corrected values
    spark.sql("""INSERT INTO graft.db.rw
      REPLACE WHERE d >= 20 AND d < 40
      SELECT id AS d, id * 100 AS v FROM range(20, 40)""")
    assert(spark.sql("SELECT count(*) FROM graft.db.rw")
      .head.getLong(0) === 100)
    assert(spark.sql("SELECT sum(v) FROM graft.db.rw WHERE d BETWEEN 20 AND 39")
      .head.getLong(0) === (20L until 40L).map(_ * 100).sum)
    assert(spark.sql("SELECT sum(v) FROM graft.db.rw WHERE d < 20")
      .head.getLong(0) === (0L until 20L).sum)
    val v2 = SnapshotTable.readVersion(spark, p, 2)
    assert(v2.op === "OVERWRITE")
    // the delete half was metadata: every outside-range v1 file is in
    // v2 BY REFERENCE (same path, no rewrite)
    val pv1 = v1.partKeys.get.longs
    val outside = v1.files.indices
      .filter(i => pv1(i) < 2 || pv1(i) >= 4).map(v1.files).toSet
    assert(outside.forall(v2.files.contains),
      "surviving files must carry by reference, not rewrite")
    assert(v1.files.indices
      .filter(i => pv1(i) >= 2 && pv1(i) < 4)
      .map(v1.files).forall(f => !v2.files.contains(f)),
      "in-range files must leave the manifest")
    // time travel across the replace
    assert(spark.sql("SELECT sum(v) FROM graft.db.rw VERSION AS OF 1")
      .head.getLong(0) === (0L until 100L).sum)

    // rows OUTSIDE the predicate reject loudly
    val e = intercept[Exception] {
      spark.sql("""INSERT INTO graft.db.rw REPLACE WHERE d >= 20 AND d < 40
        SELECT id AS d, id AS v FROM range(50, 60)""")
    }
    assert(String.valueOf(e.getMessage).contains("REPLACE WHERE") ||
      e.getCause != null && String.valueOf(e.getCause.getMessage)
        .contains("REPLACE WHERE"))
    // an UNALIGNED range rejects at ANALYSIS (canOverwrite declines)
    val e2 = intercept[Exception] {
      spark.sql("""INSERT INTO graft.db.rw REPLACE WHERE d >= 25 AND d < 40
        SELECT id AS d, id AS v FROM range(25, 40)""")
    }
    assert(e2.isInstanceOf[org.apache.spark.sql.AnalysisException] ||
      String.valueOf(e2.getMessage).toLowerCase.contains("overwrite"))
    // a range on a NON-partition-source column rejects at analysis too
    val e3 = intercept[Exception] {
      spark.sql("""INSERT INTO graft.db.rw REPLACE WHERE v >= 0 AND v < 40
        SELECT id AS d, id AS v FROM range(0, 40)""")
    }
    assert(e3.isInstanceOf[org.apache.spark.sql.AnalysisException] ||
      String.valueOf(e3.getMessage).toLowerCase.contains("overwrite"))
    // an EMPTY replacement clears the range as pure metadata
    spark.sql("""INSERT INTO graft.db.rw REPLACE WHERE d >= 20 AND d < 40
      SELECT id AS d, id AS v FROM range(0) """)
    assert(spark.sql("SELECT count(*) FROM graft.db.rw")
      .head.getLong(0) === 80)
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.rw WHERE d BETWEEN 20 AND 39")
      .head.getLong(0) === 0)
    spark.sql("DROP TABLE graft.db.rw")
  }

  test("dynamic partition overwrite: writeTo(...).overwritePartitions " +
      "replaces exactly the touched partitions in one commit, " +
      "survivors by reference — bucket transforms included") {
    import spark.implicits._
    root
    spark.sql("""CREATE TABLE graft.db.dyn (d BIGINT, v BIGINT)
      PARTITIONED BY (truncate(10, d)) TBLPROPERTIES ('stats_col'='v')""")
    spark.sql("INSERT INTO graft.db.dyn SELECT id, id FROM range(100)")
    val p = s"$root/db/dyn"
    val v1 = SnapshotTable.readVersion(spark, p, 1)

    // rows in partitions 2 and 7: exactly those two are replaced
    ((20L until 30L) ++ (70L until 80L)).map(d => (d, d * 100))
      .toDF("d", "v").writeTo("graft.db.dyn").overwritePartitions()
    assert(spark.sql("SELECT count(*) FROM graft.db.dyn")
      .head.getLong(0) === 100)
    assert(spark.sql(
      "SELECT sum(v) FROM graft.db.dyn WHERE d BETWEEN 20 AND 29")
      .head.getLong(0) === (20L until 30L).map(_ * 100).sum)
    assert(spark.sql("SELECT sum(v) FROM graft.db.dyn WHERE d < 20")
      .head.getLong(0) === (0L until 20L).sum)
    val v2 = SnapshotTable.readVersion(spark, p, 2)
    assert(v2.op === "OVERWRITE")
    val pv1 = v1.partKeys.get.longs
    val v2set = v2.files.toSet
    v1.files.indices.foreach { i =>
      val touched = pv1(i) == 2L || pv1(i) == 7L
      assert(v2set.contains(v1.files(i)) === !touched,
        s"file ${v1.files(i)} (partition ${pv1(i)}) wrong carry")
    }
    // time travel across it; stats carried for survivors and new files
    assert(spark.sql("SELECT sum(v) FROM graft.db.dyn VERSION AS OF 1")
      .head.getLong(0) === (0L until 100L).sum)
    assert(v2.stats.exists(_.mins.length == v2.files.length))

    // STATIC whole-table overwrite keeps the partitioned layout in
    // ONE commit; purity and pruning survive
    spark.sql("INSERT OVERWRITE graft.db.dyn " +
      "SELECT id AS d, id * 7 AS v FROM range(50)")
    assert(spark.sql("SELECT count(*), sum(v) FROM graft.db.dyn")
      .head match { case r => r.getLong(0) == 50 &&
        r.getLong(1) == (0L until 50L).map(_ * 7).sum })
    val v3 = SnapshotTable.readVersion(spark, p,
      SnapshotTable.latestVersion(p))
    assert(v3.op === "OVERWRITE" && v3.part.isDefined &&
      v3.partKeys.exists(_.longs.length == v3.files.length))
    val (dr, ds) = withScan(
      spark.sql("SELECT count(*) FROM graft.db.dyn WHERE d < 10"))
    assert(dr.getLong(0) === 10)
    assert(ds.filesPlanned < ds.filesTotal,
      "post-overwrite partition pruning failed")

    // bucket transform: the replaced set is exact values, no range
    spark.sql("""CREATE TABLE graft.db.dynb (k BIGINT, v BIGINT)
      PARTITIONED BY (bucket(4, k))""")
    spark.sql("INSERT INTO graft.db.dynb SELECT id, id FROM range(40)")
    Seq((5L, 500L)).toDF("k", "v")
      .writeTo("graft.db.dynb").overwritePartitions()
    // k=5's whole bucket was replaced by the single row
    val bspec = SnapshotTable.readVersion(spark,
      s"$root/db/dynb", 2).part.get
    val sameBucket = (0L until 40L).count(k => bspec(k) == bspec(5L))
    assert(spark.sql("SELECT count(*) FROM graft.db.dynb")
      .head.getLong(0) === 40 - sameBucket + 1)
    assert(spark.sql("SELECT v FROM graft.db.dynb WHERE k = 5")
      .head.getLong(0) === 500L)
    spark.sql("DROP TABLE graft.db.dyn")
    spark.sql("DROP TABLE graft.db.dynb")
  }

  test("native streaming sink into a HIDDEN-PARTITIONED catalog " +
      "table: epochs land partition-pure through the pooled writer, " +
      "exactly-once, zero churn on idle restart") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    root
    val dirs = Files.createTempDirectory("gsinkp").toString
    val src = s"$dirs/src"
    val ckpt = s"$dirs/ckpt"
    SnapshotTable.append(
      (1L to 200L).map(k => (k, k * 2)).toDF("k", "v"), src, 2,
      statsCol = Some("k"))
    spark.sql("""CREATE TABLE graft.db.psink (k BIGINT, v BIGINT)
      PARTITIONED BY (bucket(4, k))""")
    def run(): Unit = {
      val q = spark.readStream.format("graft_table").option("path", src)
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable("graft.db.psink")
      q.awaitTermination(120000)
      ()
    }
    run()
    assert(spark.sql("SELECT count(*) FROM graft.db.psink")
      .head.getLong(0) === 200)
    val p = s"$root/db/psink"
    val ver = SnapshotTable.readVersion(spark, p,
      SnapshotTable.latestVersion(p))
    assert(ver.part.exists(_.transform == "bucket") &&
      ver.partKeys.exists(_.longs.length == ver.files.length))
    assert(ver.txns.keys.exists(_.startsWith("stream-")))
    // partition purity, file by file
    val spec = ver.part.get
    val pv = ver.partKeys.get.longs
    ver.files.zipWithIndex.foreach { case (f, i) =>
      val vals = spark.read.parquet(f).select("k").as[Long]
        .collect().map(spec(_)).distinct
      assert(vals.length === 1 && vals.head === pv(i),
        s"streamed file $f not partition-pure")
    }
    // pruning works on the streamed table
    val (pr, ps) = withScan(
      spark.sql("SELECT v FROM graft.db.psink WHERE k = 42"))
    assert(pr.getLong(0) === 84)
    assert(ps.filesPlanned > 0 && ps.filesPlanned < ps.filesTotal)
    // delta arrives exactly once; idle restart commits nothing
    SnapshotTable.append(
      (201L to 230L).map(k => (k, k * 2)).toDF("k", "v"), src, 1)
    run()
    assert(spark.sql("SELECT count(*) FROM graft.db.psink")
      .head.getLong(0) === 230)
    val vBefore = SnapshotTable.latestVersion(p)
    run()
    assert(SnapshotTable.latestVersion(p) === vBefore,
      "idle restart must not commit")
    spark.sql("DROP TABLE graft.db.psink")
  }

  test("CALL procedures: optimize / zorder / expire / vacuum from " +
      "pure SQL, results as one-row relations") {
    root
    spark.sql("""CREATE TABLE graft.db.mt (k BIGINT, v BIGINT)
      TBLPROPERTIES ('stats_col'='k')""")
    (1 to 6).foreach(i => spark.sql("INSERT INTO graft.db.mt " +
      s"SELECT id, id FROM range(${(i - 1) * 100}, ${i * 100})"))
    val p = s"$root/db/mt"
    val before = SnapshotTable.readVersion(spark, p,
      SnapshotTable.latestVersion(p))
    assert(before.files.length >= 6)
    val sum0 = spark.sql("SELECT sum(v) FROM graft.db.mt").head.getLong(0)

    val opt = spark.sql(
      "CALL graft.system.optimize(`table` => 'db.mt', " +
        "target_bytes => 67108864)").collect().head
    assert(opt.getInt(2) < opt.getInt(1),
      s"optimize did not shrink the file count: $opt")
    assert(spark.sql("SELECT sum(v) FROM graft.db.mt")
      .head.getLong(0) === sum0)
    assert(SnapshotTable.readVersion(spark, p,
      SnapshotTable.latestVersion(p)).op === "OPTIMIZE")

    val z = spark.sql("CALL graft.system.zorder('db.mt', 'v', 4)")
      .collect().head
    assert(z.getInt(2) > 0 && z.getLong(0) > opt.getLong(0))
    assert(spark.sql("SELECT sum(v) FROM graft.db.mt")
      .head.getLong(0) === sum0)

    val keep = SnapshotTable.latestVersion(p)
    val ex = spark.sql(
      s"CALL graft.system.expire('db.mt', $keep)").collect().head
    assert(ex.getInt(0) > 0, "expire must drop old manifests")
    val vac = spark.sql(
      "CALL graft.system.vacuum('db.mt', 0)").collect().head
    assert(vac.getInt(0) >= 0)
    assert(spark.sql("SELECT sum(v) FROM graft.db.mt")
      .head.getLong(0) === sum0)
    assert(spark.sql("SHOW PROCEDURES IN graft").count() >= 6)

    // restore and clone from SQL: lineage operations as CALLs
    spark.sql("INSERT INTO graft.db.mt SELECT id, 0 FROM range(5)")
    val withExtra = SnapshotTable.latestVersion(p)
    val rv = spark.sql(
      s"CALL graft.system.restore('db.mt', ${withExtra - 1})")
      .collect().head.getLong(0)
    assert(rv === withExtra + 1)
    assert(spark.sql("SELECT sum(v) FROM graft.db.mt")
      .head.getLong(0) === sum0)
    val cv = spark.sql(
      s"CALL graft.system.clone('db.mt', 'db.mt_fork', $rv)")
      .collect().head.getLong(0)
    assert(cv === 1L)
    assert(spark.sql("SELECT sum(v) FROM graft.db.mt_fork")
      .head.getLong(0) === sum0)
    spark.sql("DROP TABLE graft.db.mt_fork")
    spark.sql("DROP TABLE graft.db.mt")
  }

  test("namespaces are directories: CREATE / SHOW / DROP NAMESPACE " +
      "with a non-empty guard") {
    root
    spark.sql("CREATE NAMESPACE graft.nsx")
    assert(spark.sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).contains("nsx"))
    spark.sql("CREATE TABLE graft.nsx.t1 (a BIGINT)")
    assert(spark.sql("SHOW TABLES IN graft.nsx").collect()
      .map(_.getString(1)) === Array("t1"))
    intercept[Exception] { spark.sql("DROP NAMESPACE graft.nsx") }
    spark.sql("DROP NAMESPACE graft.nsx CASCADE")
    assert(!spark.sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).contains("nsx"))
  }

  test("pre-commit ALTER rewrites the CREATE marker and keeps the " +
      "declared layout consistent; bad layouts reject at CREATE") {
    root
    spark.sql("""CREATE TABLE graft.db.m (a BIGINT, b BIGINT)
      PARTITIONED BY (a) TBLPROPERTIES ('bloom_col'='b')""")
    spark.sql("ALTER TABLE graft.db.m RENAME COLUMN a TO key")
    assert(spark.table("graft.db.m").columns.toSeq === Seq("key", "b"))
    // first insert honors the renamed layout
    spark.sql("INSERT INTO graft.db.m SELECT id, id FROM range(40)")
    val p = s"$root/db/m"
    val ver = SnapshotTable.readVersion(spark, p, 1)
    assert(ver.part.exists(sp =>
      sp.source == "key" && sp.transform == "identity"))
    assert(ver.blooms.headOption.exists(_.col == "b"))
    spark.sql("DROP TABLE graft.db.m")

    // an unsupported partition source type rejects at CREATE (typed
    // specs cover INT/BIGINT/DATE/TIMESTAMP/STRING — floats hash and
    // compare treacherously as layout keys)
    val e = intercept[Exception] {
      spark.sql("""CREATE TABLE graft.db.bad (s DOUBLE, x BIGINT)
        PARTITIONED BY (s)""")
    }
    assert(e.getMessage.contains("INT/BIGINT/DATE/TIMESTAMP/STRING"))
    // unsupported column types reject at CREATE
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE graft.db.bad2 (m MAP<STRING,STRING>)")
    }
    assert(e2.getMessage.contains("unsupported type"))
  }
}
