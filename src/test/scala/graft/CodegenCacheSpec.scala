package graft

import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** Generated code is compiled once per JVM: the codegen class cache that
  * `GraftSession.build` sizes holds the working set of the `query_mix`
  * trio, so a second pass compiles nothing. With Spark's default
  * 100-entry cache the LRU cycles: on these tables the first pass
  * compiles 105 classes and the second recompiles 57 of them.
  */
class CodegenCacheSpec extends SparkSpec {

  private def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("q115, q126 and q68 compile no class on their second pass") {
    // the columns the three queries read, in the testdata layout
    val d = Files.createTempDirectory("graft-codegen-cache").toString
    spark.range(4000).select((col("id") * 7 % 1000).as("l_orderkey"),
        (col("id") * 13 % 140).as("l_partkey"), (col("id") % 17).as("l_suppkey"))
      .write.parquet(s"$d/lineitem.parquet")
    val words = typedLit(Seq("spark", "scan", "join", "sort", "hash", "group",
      "window", "table", "merge", "vector"))
    spark.range(200).select(col("id").as("doc_id"),
        array_join(transform(sequence(lit(0), lit(24)), i =>
          element_at(words, (abs(xxhash64(col("id") / 4, i)) % 10 + 1).cast("int"))),
          " ").as("text"))
      .write.parquet(s"$d/documents.parquet")

    val trio = Seq("q115_pagerank", "q126_co_occurrence", "q68_dup_clusters")
    trio.foreach(q => SparkEntry.defs(q).setup(spark, d))
    def pass(): Map[String, Long] = trio.map { q =>
      val c0 = compiled()
      SparkEntry.queries(q)(spark, d).write.format("noop").mode("overwrite").save()
      GraftSession.sweepCaches(spark)
      q -> (compiled() - c0)
    }.toMap
    val first = pass()
    val second = pass()
    assert(second.values.forall(_ == 0), s"first pass $first, second $second")
  }
}
