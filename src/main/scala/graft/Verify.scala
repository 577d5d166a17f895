package graft
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. The oracle
  * dump dir starts empty; each query's `setup` runs first (its fixtures
  * and oracle dumps), then its body is dumped.
  *
  * Failures are surfaced, not swallowed: a throwing query gets a
  * `<name>/_FAILED` marker file (so a missing parquet dir cannot silently
  * read as "not registered"), every failure lands in `failures.json`, and
  * the process exits non-zero — mirroring Bench's failure accounting.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // Optional further args restrict the dump to the named queries
    // (dev loop: `tools/run.sh graft.Verify <sf> <out> q69_decontaminate`).
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build(cpus)
    new java.io.File(outDir).mkdirs()
    // every dump the oracle reads must come from this run's setups: a
    // dump left by an earlier run would pass a query whose setup no
    // longer writes it
    Work.wipe(Paths.get(Work.oracleDir))
    val selected = SparkEntry.defs.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    val failures = selected.flatMap {
      case (name, q) =>
        try {
          // untimed fixture build first; a throw fails only this query
          try q.setup(spark, sfDir) finally GraftSession.sweepCaches(spark)
          q.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch {
          case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            System.err.println(s"[verify] $name FAILED: $msg")
            e.printStackTrace()
            val dir = Paths.get(outDir, name)
            Files.createDirectories(dir)
            Files.writeString(dir.resolve("_FAILED"), msg.take(2000))
            Some(name -> Json.quote(msg.take(500)))
        } finally {
          // no cache outlives its query (same sweep as Bench.runOnce)
          GraftSession.sweepCaches(spark)
        }
    }
    val oracle = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .map { case (k, v) => k -> Json.quote(v) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.obj(oracle))
    Files.writeString(Paths.get(s"$outDir/failures.json"), Json.obj(failures))
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
