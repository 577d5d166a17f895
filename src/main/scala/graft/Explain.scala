package graft

/** Plan audit entry point: print the formatted physical plan of selected
  * queries (or all) against a given SF dir — the `.explain("formatted")`
  * loop the scale review runs after every operator lands.
  *
  * Usage: graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.defs.keys.toSeq.sorted
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try {
        val q = SparkEntry.defs(n)
        try q.setup(spark, sfDir) finally GraftSession.sweepCaches(spark)
        q.fn(spark, sfDir).explain("formatted")
      } catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
