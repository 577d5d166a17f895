package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.SnapshotTable
import graft.source.v2.ScanMetrics

/** Atomic CTAS/RTAS through the staging catalog, and metadata-only
  * ALTER TABLE ADD COLUMN.
  */
class CtasAddColumnSpec extends SparkSpec {

  private lazy val root: String = {
    val r = Files.createTempDirectory("ctas").toString
    spark.conf.set("spark.sql.catalog.graft_ctas",
      "graft.source.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_ctas.root", r)
    r
  }

  private def stagedDirs(): Seq[String] = {
    val db = java.nio.file.Paths.get(root, "db")
    if (!Files.isDirectory(db)) return Seq.empty
    val st = Files.list(db)
    try {
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      st.iterator().forEachRemaining { p =>
        if (p.getFileName.toString.startsWith(".staged-"))
          b += p.getFileName.toString
      }
      b.toSeq
    } finally st.close()
  }

  test("CTAS: CREATE TABLE AS SELECT lands atomically with layout " +
      "properties; the staging dir is gone; SHOW TABLES is clean") {
    root
    spark.sql("""CREATE TABLE graft_ctas.db.c TBLPROPERTIES (
        'stats_col'='k', 'stats_cols'='v')
      AS SELECT id AS k, CAST(id * 2 AS DOUBLE) AS v FROM range(1000)""")
    assert(spark.sql("SELECT count(*), sum(v) FROM graft_ctas.db.c")
      .head.toSeq === Seq(1000L, (0L until 1000L).map(_ * 2.0).sum))
    val p = s"$root/db/c"
    val ver = SnapshotTable.readVersion(spark, p,
      SnapshotTable.latestVersion(p))
    assert(ver.stats.exists(_.col == "k"),
      "CTAS TBLPROPERTIES layout must reach the manifest")
    assert(ver.colStats.map(_.col) === Seq("v"))
    assert(stagedDirs().isEmpty, "staging dir must not survive commit")
    assert(spark.sql("SHOW TABLES IN graft_ctas.db").collect()
      .map(_.getString(1)).toSeq === Seq("c"))
  }

  test("CTAS failure mid-write leaves NO table and no staging dir") {
    root
    val boom = udf((x: Long) =>
      if (x == 500L) throw new RuntimeException("boom") else x)
    spark.udf.register("ctas_boom", boom)
    intercept[Exception] {
      spark.sql("""CREATE TABLE graft_ctas.db.f
        AS SELECT ctas_boom(id) AS k FROM range(1000)""")
    }
    assert(!spark.catalog.tableExists("graft_ctas.db.f"),
      "a failed CTAS must leave no table")
    assert(stagedDirs().isEmpty,
      "a failed CTAS must clean its staging dir")
  }

  test("RTAS: REPLACE TABLE AS SELECT swaps contents and schema; " +
      "CTAS onto an existing name fails") {
    root
    spark.sql("CREATE TABLE graft_ctas.db.r AS SELECT id AS k FROM range(10)")
    intercept[Exception] {
      spark.sql("CREATE TABLE graft_ctas.db.r AS SELECT id AS k FROM range(5)")
    }
    spark.sql("""REPLACE TABLE graft_ctas.db.r
      AS SELECT id AS a, CAST(id AS STRING) AS b FROM range(7)""")
    assert(spark.table("graft_ctas.db.r").columns.toSeq === Seq("a", "b"))
    assert(spark.sql("SELECT count(*) FROM graft_ctas.db.r")
      .head.getLong(0) === 7)
    assert(stagedDirs().isEmpty)
    spark.sql("DROP TABLE graft_ctas.db.r")
  }

  test("partitioned CTAS: the transform lands and prunes") {
    root
    spark.sql("""CREATE TABLE graft_ctas.db.pc PARTITIONED BY (bucket(4, k))
      AS SELECT id AS k, id * 3 AS v FROM range(400)""")
    val p = s"$root/db/pc"
    val ver = SnapshotTable.readVersion(spark, p,
      SnapshotTable.latestVersion(p))
    assert(ver.part.exists(_.transform == "bucket"))
    val (n, sc) = ScanMetrics.rowCount(
      spark.sql("SELECT * FROM graft_ctas.db.pc WHERE k = 17"))
    assert(n === 1)
    val (planned, total) = (sc.filesPlanned, sc.filesTotal)
    assert(planned < total, s"bucket pruning failed: $planned of $total")
    spark.sql("DROP TABLE graft_ctas.db.pc")
  }

  test("ADD COLUMN is a metadata-only commit: old rows read typed " +
      "NULLs, appends fill it, time travel shows each schema, a " +
      "re-ADD after DROP never resurrects bytes") {
    root
    spark.sql("CREATE TABLE graft_ctas.db.a (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft_ctas.db.a SELECT id, id * 2 FROM range(100)")
    val p = s"$root/db/a"
    val before = SnapshotTable.latestVersion(p)
    spark.sql("ALTER TABLE graft_ctas.db.a ADD COLUMN score DOUBLE")
    // metadata-only: one version, zero data files moved
    val ver = SnapshotTable.readVersion(spark, p, before + 1)
    assert(ver.op === "ALTER")
    assert(ver.files === SnapshotTable.readVersion(spark, p, before).files)
    // typed nulls through the catalog read
    val t = spark.table("graft_ctas.db.a")
    assert(t.schema("score").dataType.typeName === "double")
    assert(t.where("score IS NULL").count() === 100)
    // and through the direct scan path
    val (scan, _, _) = SnapshotTable.scanAt(spark, p,
      SnapshotTable.latestVersion(p))
    assert(scan.columns.toSeq === Seq("k", "v", "score"))
    assert(scan.schema("score").dataType.typeName === "double")
    // appends fill it; old rows stay null
    spark.sql("INSERT INTO graft_ctas.db.a " +
      "SELECT id, id * 2, CAST(id AS DOUBLE) FROM range(100, 150)")
    assert(spark.sql("SELECT count(*) FROM graft_ctas.db.a " +
      "WHERE score IS NULL").head.getLong(0) === 100)
    assert(spark.sql("SELECT sum(score) FROM graft_ctas.db.a")
      .head.getDouble(0) === (100L until 150L).map(_.toDouble).sum)
    // time travel: the pre-ADD version has no score column
    assert(!spark.sql(s"SELECT * FROM graft_ctas.db.a VERSION AS OF $before")
      .columns.contains("score"))
    // DROP then re-ADD the same name: a brand-new column — the old
    // bytes never resurface
    spark.sql("ALTER TABLE graft_ctas.db.a DROP COLUMN score")
    spark.sql("ALTER TABLE graft_ctas.db.a ADD COLUMN score DOUBLE")
    assert(spark.sql("SELECT count(*) FROM graft_ctas.db.a " +
      "WHERE score IS NOT NULL").head.getLong(0) === 0,
      "re-added column must not resurrect dropped bytes")
    spark.sql("DROP TABLE graft_ctas.db.a")
  }

  test("ADD COLUMN type survives TRUNCATE; NOT NULL and positioned " +
      "adds reject; marker-only tables alter in place") {
    root
    spark.sql("CREATE TABLE graft_ctas.db.b (k BIGINT)")
    // marker-only ADD
    spark.sql("ALTER TABLE graft_ctas.db.b ADD COLUMN d DATE")
    assert(spark.table("graft_ctas.db.b").schema("d").dataType.typeName
      === "date")
    spark.sql("INSERT INTO graft_ctas.db.b VALUES (1, DATE'2024-01-01')")
    spark.sql("ALTER TABLE graft_ctas.db.b ADD COLUMN w DOUBLE")
    spark.sql("TRUNCATE TABLE graft_ctas.db.b")
    assert(spark.table("graft_ctas.db.b").schema.map(f =>
      (f.name, f.dataType.typeName))
      === Seq(("k", "long"), ("d", "date"), ("w", "double")),
      "declared ADD COLUMN types must survive a zero-file version")
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_ctas.db.b ADD COLUMN z BIGINT NOT NULL")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_ctas.db.b ADD COLUMN z BIGINT FIRST")
    }
    spark.sql("DROP TABLE graft_ctas.db.b")
  }
}
