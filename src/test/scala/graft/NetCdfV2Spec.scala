package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.source.NetCdfFixture

/** DataSource V2 "netcdf" format: short-name registration, parity with
  * the mapPartitions decode, and the header-only pruning fast path.
  */
class NetCdfV2Spec extends SparkSpec {

  private lazy val glob: String =
    NetCdfFixture.writeFiles(Files.createTempDirectory("graft-v2"), n = 2)

  test("format(\"netcdf\") scans by short name with the tidy schema") {
    val df = spark.read.format("netcdf").load(glob)
    assert(df.columns.toSeq === Seq("path", "variable", "time_idx", "time",
      "leadtime_idx", "leadtime", "y_idx", "y", "xs", "values"))
    // vars(2) × time(1) × leadtime(3) × y(8) per file × 2 files
    assert(df.count() === 2 * 2 * 1 * 3 * 8)
  }

  test("format(\"netcdf\") resolves paths like the glob source: a path " +
    "matching nothing fails, a directory expands to its files") {
    val missing = Files.createTempDirectory("graft-v2-none")
      .resolve("nope-*.nc").toString
    val e = intercept[IllegalArgumentException] {
      spark.read.format("netcdf").load(missing).count()
    }
    assert(e.getMessage.contains("does not exist"), e.getMessage)
    val dir = glob.substring(0, glob.lastIndexOf('/'))
    assert(spark.read.format("netcdf").load(dir).count() ===
      spark.read.format("netcdf").load(glob).count())
    assert(spark.read.format("netcdf").load(dir)
      .select("path").distinct().count() === 2)
  }

  test("full-decode parity with the mapPartitions source") {
    val v2 = spark.read.format("netcdf").load(glob)
      .select(col("variable"), col("time_idx"), col("leadtime_idx"),
        col("y_idx"), col("y"), explode(col("values")).as("v"))
      .agg(count(lit(1)), sum(when(!isnan(col("v")), col("v"))), sum(col("y")))
      .head()
    val v1 = graft.source.NetCdfSource.tidy(spark, glob)
      .select(col("variable"), col("time_idx"), col("leadtime_idx"),
        col("y_idx"), col("y"), explode(col("values")).as("v"))
      .agg(count(lit(1)), sum(when(!isnan(col("v")), col("v"))), sum(col("y")))
      .head()
    assert(v2 === v1)
  }

  test("column pruning reaches the reader: metadata query plans a payload-free scan") {
    val meta = spark.read.format("netcdf").load(glob)
      .select("path", "variable", "leadtime")
    val scanDesc = meta.queryExecution.executedPlan.toString
    assert(scanDesc.contains("columns=[path,variable,leadtime]"),
      s"pruned columns not pushed into the scan:\n$scanDesc")
    // and the header-only path yields the same grain as the full decode
    assert(meta.distinct().count() === 2 * 2 * 3)
    // y values from the header path are unit-normalized like the full path
    val ys = spark.read.format("netcdf").load(glob)
      .select("y").distinct().collect().map(_.getDouble(0)).sorted
    assert(ys.head === 100000.0)
  }

  test("oversized files split into per-(variable, leadtime) partitions " +
    "with identical results") {
    // split_bytes=1 forces every file past the threshold: 2 vars × 3
    // leadtimes × 2 files = 12 payload partitions instead of 2
    val split = spark.read.format("netcdf").option("split_bytes", "1").load(glob)
    assert(split.rdd.getNumPartitions === 12)
    val whole = spark.read.format("netcdf").load(glob)
    assert(whole.rdd.getNumPartitions === 2)
    assert(split.collect().map(_.toString).sorted.toSeq ===
      whole.collect().map(_.toString).sorted.toSeq)
    // pushed predicates prune sub-partitions at PLANNING time: one band,
    // one leadtime → one partition per file
    val pruned = spark.read.format("netcdf").option("split_bytes", "1").load(glob)
      .filter(col("variable") === "sic_mean" && col("leadtime_idx") === 2)
    assert(pruned.rdd.getNumPartitions === 2)
    assert(pruned.count() === 2 * 8) // files × y rows
    // header-only scans never split (the payload is never read)
    val meta = spark.read.format("netcdf").option("split_bytes", "1").load(glob)
      .select("path", "variable", "leadtime")
    assert(meta.rdd.getNumPartitions === 2)
  }

  test("variable/slice predicates push into the scan and stay exact") {
    val df = spark.read.format("netcdf").load(glob)
      .filter(col("variable") === "sic_mean" && col("leadtime_idx") === 1)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("variable IN (sic_mean)") &&
      plan.contains("leadtime_idx=1"),
      s"predicates not pushed into the scan:\n$plan")
    // results identical to post-filtering the unpushed scan
    val pushed = df.select("variable", "time_idx", "leadtime_idx", "y_idx")
      .collect().map(_.toString).sorted.toSeq
    val naive = spark.read.format("netcdf").load(glob)
      .select("variable", "time_idx", "leadtime_idx", "y_idx", "values")
      .where("variable = 'sic_mean' and leadtime_idx = 1")
      .select("variable", "time_idx", "leadtime_idx", "y_idx")
      .collect().map(_.toString).sorted.toSeq
    assert(pushed === naive && pushed.nonEmpty)
    assert(pushed.length === 2 * 1 * 1 * 8) // files × time × leadtime × y
  }

  test("Extensible Array (unlimited time) archives scan through the V2 " +
    "format with pushdown parity") {
    // the appendable-archive rendering: per-timestep chunks behind the
    // v4 EA index; 10 steps keep the unit spec fast (q82 walks the
    // full 34-step tier set e2e)
    val eaGlob = NetCdfFixture.writeFilesUnlimited(
      Files.createTempDirectory("graft-v2-ea"), n = 2, nt = 10)
    val df = spark.read.format("netcdf").load(eaGlob)
    assert(df.count() === 2 * 2 * 10 * 3 * 8)
    // slice predicate prunes and stays exact across the EA decode
    val sliced = df.filter(col("variable") === "sic_mean" &&
      col("time_idx") === 7)
    assert(sliced.count() === 2 * 1 * 1 * 3 * 8)
    val vSum = sliced
      .select(explode(col("values")).as("v"))
      .agg(sum(when(!isnan(col("v")), col("v")))).head().getDouble(0)
    val naive = graft.source.NetCdfSource.tidy(spark, eaGlob)
      .where("variable = 'sic_mean' and time_idx = 7")
      .select(explode(col("values")).as("v"))
      .agg(sum(when(!isnan(col("v")), col("v")))).head().getDouble(0)
    assert(math.abs(vSum - naive) < 1e-9)
  }

  test("executor-side reads go through the session's Hadoop conf: a " +
    "FileSystem scheme registered only there serves the scan") {
    // a scheme no other suite opens, with its FileSystem cache off, so
    // no instance cached by an earlier open can stand in for the conf
    withSQLConf(
      "fs.graftnc.impl" -> classOf[NetCdfSchemeFs].getName,
      "fs.graftnc.impl.disable.cache" -> "true") {
      val viaScheme = spark.read.format("netcdf").load(s"graftnc:$glob")
        .select(explode(col("values")).as("v"))
        .agg(count(lit(1)), sum(when(!isnan(col("v")), col("v")))).head()
      val local = spark.read.format("netcdf").load(glob)
        .select(explode(col("values")).as("v"))
        .agg(count(lit(1)), sum(when(!isnan(col("v")), col("v")))).head()
      assert(viaScheme === local)
    }
  }
}

/** The local filesystem under the `graftnc` scheme (see
  * [[MockObjectStoreFs]]), registered by [[NetCdfV2Spec]] only.
  */
class NetCdfSchemeFs extends MockObjectStoreFs {
  override def getScheme: String = "graftnc"
  override def getUri: java.net.URI = java.net.URI.create("graftnc:///")
}
