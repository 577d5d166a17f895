package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.SnapshotTable

/** Metadata-only ALTER COLUMN TYPE widening (r19): int→long and
  * float→double become one manifest write — old files keep their
  * narrow physical pages and widen AT READ (parquet's widening decode
  * on the DSv2 path, the readResolved cast on the API path), new
  * appends write the widened type, and the two physical populations
  * coexist in one table. Pinned: values and aggregates across mixed
  * files, typed-stats pruning surviving the dtype flip (the int and
  * long manifest encodings are identical by construction), time
  * travel serving the narrow type pre-widen, maintenance requiring
  * materializeSchema (the rename/drop uniformity contract), and the
  * unsafe rejections.
  */
class WidenSpec extends SparkSpec {

  private def freshPath(): String =
    Files.createTempDirectory("widen").toString + "/t"

  test("int→long across mixed files: old INT32 pages widen at read, " +
      "post-widen appends write INT64, aggregates and filters exact") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append(
      (0 until 100).map(i => (i, i.toLong)).toDF("a", "b"),
      path, 2, statsCol = Some("b"), statsCols = Seq("a"))
    val v2 = SnapshotTable.widenColumnType(spark, path, "a", LongType)
    assert(v2 === 2)
    val ver = SnapshotTable.readVersion(spark, path, 2)
    assert(ver.files === SnapshotTable.readVersion(spark, path, 1).files,
      "widen must not rewrite data")
    assert(ver.colStats.head.dtype === "long",
      "declared stats dtype must follow the widen")
    // API read serves LONG from INT32 pages
    val (s2, _, _) = SnapshotTable.scanAt(spark, path, 2)
    assert(s2.schema("a").dataType === LongType)
    assert(s2.agg(sum("a")).head.getLong(0) === (0 until 100).sum)
    // post-widen append writes INT64; both populations serve one scan
    SnapshotTable.append(
      (100L until 200L).map(i => (i, i)).toDF("a", "b"),
      path, 2, statsCol = Some("b"))
    val (s3, _, _) = SnapshotTable.scanAt(spark, path, 3)
    assert(s3.count() === 200)
    assert(s3.agg(sum("a")).head.getLong(0) === (0L until 200L).sum)
    assert(s3.filter(col("a") === 150L).count() === 1)
    // time travel: v1 still serves the NARROW type
    val (s1, _, _) = SnapshotTable.scanAt(spark, path, 1)
    assert(s1.schema("a").dataType === IntegerType)
  }

  test("DSv2 + SQL: ALTER TABLE ... TYPE BIGINT through the catalog, " +
      "typed-stats pruning keeps working across the dtype flip") {
    val r = Files.createTempDirectory("widencat").toString
    spark.conf.set("spark.sql.catalog.graft_wd",
      "graft.source.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_wd.root", r)
    spark.sql("""CREATE TABLE graft_wd.db.t (a INT, b BIGINT)
      TBLPROPERTIES('stats'='b', 'stats_cols'='a')""")
    spark.sql("INSERT INTO graft_wd.db.t SELECT CAST(id AS INT), id " +
      "FROM range(1000)")
    spark.sql("ALTER TABLE graft_wd.db.t ALTER COLUMN a TYPE BIGINT")
    assert(spark.table("graft_wd.db.t").schema("a").dataType === LongType)
    // post-widen insert arrives as BIGINT through the visible schema
    spark.sql("INSERT INTO graft_wd.db.t SELECT id, id " +
      "FROM range(10000, 11000)")
    assert(spark.sql("SELECT count(*), sum(a) FROM graft_wd.db.t")
      .head.getLong(1) === (0L until 1000L).sum + (10000L until 11000L).sum)
    // typed stats on `a` survive the flip: the int and long encodings
    // are both decimal longs, so pruning composes across populations
    val (cr, sc) = withScan(spark.sql(
      "SELECT count(*) FROM graft_wd.db.t WHERE a >= 10000"))
    assert(cr.getLong(0) === 1000)
    val (p1, t1) = (sc.filesPlanned, sc.filesTotal)
    assert(p1 > 0 && p1 < t1,
      s"typed-stats pruning lost across the widen: $p1 of $t1")
    spark.sql("DROP TABLE graft_wd.db.t")
  }

  test("guards: narrowing and partition sources reject with the RTAS " +
      "workaround; maintenance requires materializeSchema, which " +
      "settles every file on the widened type") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append(
      (0 until 100).map(i => (i, i.toLong, i.toFloat)).toDF("a", "b", "f"),
      path, 2, statsCol = Some("b"))
    // float→double is the other safe pair
    SnapshotTable.widenColumnType(spark, path, "f", DoubleType)
    assert(SnapshotTable.scanAt(spark, path, 2)._1
      .schema("f").dataType === DoubleType)
    // narrowing rejects
    val e = intercept[UnsupportedOperationException] {
      SnapshotTable.widenColumnType(spark, path, "b", IntegerType)
    }
    assert(e.getMessage.contains("REPLACE TABLE"))
    // long→string rejects too
    intercept[UnsupportedOperationException] {
      SnapshotTable.widenColumnType(spark, path, "b", StringType)
    }
    // maintenance on the non-uniform table rejects...
    val c = intercept[IllegalArgumentException] {
      SnapshotTable.compact(spark, path, targetBytes = 1L << 30)
    }
    assert(c.getMessage.contains("materializeSchema"))
    // ...and materializeSchema restores uniformity in the WIDE type
    val res = SnapshotTable.materializeSchema(spark, path)
    val ver = SnapshotTable.readVersion(spark, path, res.version)
    assert(!ver.needsResolve)
    ver.files.foreach { f =>
      assert(spark.read.parquet(f).schema("f").dataType === DoubleType,
        s"materialize left a narrow file: $f")
    }
    assert(SnapshotTable.scanAt(spark, path, res.version)._1
      .agg(sum("f")).head.getDouble(0) === (0 until 100).sum.toDouble)

    // partition sources refuse to widen
    val pp = freshPath()
    SnapshotTable.appendPartitioned(
      (0 until 40).map(i => (i, i.toLong)).toDF("p", "v"), pp,
      SnapshotTable.PartSpec(Seq(
        SnapshotTable.PartField("p", "identity", 0L, "int"))))
    val pe = intercept[IllegalArgumentException] {
      SnapshotTable.widenColumnType(spark, pp, "p", LongType)
    }
    assert(pe.getMessage.contains("partition source"))
  }

  test("widen survives carry, rename, and the change feed is empty " +
      "across the widen commit") {
    import spark.implicits._
    val path = freshPath()
    SnapshotTable.append(
      (0 until 100).map(i => (i, i.toLong)).toDF("a", "b"),
      path, 2, statsCol = Some("b"))
    SnapshotTable.widenColumnType(spark, path, "a", LongType)
    assert(SnapshotTable.changes(spark, path, 1, 2).count() === 0,
      "widen must be row-preserving (empty change feed)")
    // a later append CARRIES the widened declaration
    SnapshotTable.append((100L until 150L).map(i => (i, i))
      .toDF("a", "b"), path, 1, statsCol = Some("b"))
    assert(SnapshotTable.readVersion(spark, path, 3)
      .widenedTypes.nonEmpty, "append dropped the widen declaration")
    // rename after widen: both declarations compose
    SnapshotTable.renameColumn(spark, path, "a", "a2")
    val (s4, _, _) = SnapshotTable.scanAt(spark, path, 4)
    assert(s4.schema("a2").dataType === LongType)
    assert(s4.agg(sum("a2")).head.getLong(0) ===
      (0L until 150L).sum)
  }
}
