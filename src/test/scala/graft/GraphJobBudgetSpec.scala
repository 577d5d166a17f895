package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ops.{ConnectedComponents, PageRank}

/** Job budgets of the iterative graph operators, counted by a listener:
  * the number of Spark jobs is fixed for fixed input and core count, so
  * a rise is a regression that wall time on a noisy host could hide.
  * A vertex-state round is one shuffle map job plus its checkpoint job.
  */
class GraphJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  test("PageRank.run(edges, 3) consumed by one action") {
    // q115's graph over a parquet scan: distinct (part, supplier) pairs
    // of a generated lineitem, both directions
    val dir = Files.createTempDirectory("graft-pr-jobs").resolve("lineitem").toString
    spark.range(6000).select((col("id") % 200).as("l_partkey"),
      (col("id") * 7 % 10 + 1).as("l_suppkey")).write.parquet(dir)
    val e0 = spark.read.parquet(dir)
      .select(col("l_partkey").as("a"), (col("l_suppkey") + 1000000L).as("b"))
      .distinct()
    val edges = e0.select(col("a").as("src"), col("b").as("dst"))
      .union(e0.select(col("b").as("src"), col("a").as("dst")))
    // an action that reads every rank: a bare count() would let the
    // optimizer prune the rounds from a lazy plan
    var total = 0L
    val jobs = jobsOf("pagerank") {
      total = PageRank.run(edges, 3).agg(sum(col("pr"))).head().getLong(0)
    }
    assert(total > 0)
    assert(jobs.size <= 10, jobs)
  }

  test("ConnectedComponents.components on a star graph") {
    val edges = (1L to 40L).map(i => (0L, i)).toDF("src", "dst")
    var n = 0L
    val jobs = jobsOf("components") {
      n = ConnectedComponents.components(edges).count()
    }
    assert(n === 41)
    assert(jobs.size <= 8, jobs)
  }
}
