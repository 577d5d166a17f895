package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over an edge DataFrame — the iterative
  * join-aggregate workload (one O(E) shuffle per iteration), expressed
  * so the result is EXACTLY reproducible by any SQL engine:
  *
  *   pr_0(v)    = scale
  *   pr_{i+1}(v) = base + (num · Σ_{u→v} (pr_i(u) div d(u))) div den
  *
  * with base = scale·(den−num)/den — all integer arithmetic, every
  * division truncating, so no float accumulation order can perturb the
  * hash (same discipline as the climatology query q110). num/den = the
  * damping factor (17/20 = 0.85).
  *
  * Scale shape: contributions are edges ⋈ ranks ⋈ degrees on `src` —
  * three relations pre-partitioned by the same key, one shuffle per
  * iteration for the dst-side re-aggregation. Nothing is cached or
  * checkpointed: the result is a lazy plan, and callers are expected to
  * run ONE action on it (each further action recomputes every
  * iteration). For hundreds of iterations the accumulated lineage needs
  * `localCheckpoint` every ~20 steps. Nodes without in-edges keep the
  * bare teleport term via the left join against the node set.
  */
object PageRank {

  def run(edges: DataFrame, iterations: Int, scale: Long = 1000000L,
          num: Int = 17, den: Int = 20): DataFrame = {
    require(iterations >= 1 && num > 0 && den > num,
      "need iterations >= 1 and a damping fraction num/den < 1")
    val base = scale * (den - num) / den
    // One lazy chained plan for a bounded iteration count: the unrolled
    // plan re-embeds the edge/degree/node subtrees per round, but they
    // canonicalize equal, so exchange reuse computes each once per
    // action — measured FASTER at sf0.1 (3.0 s) than both an eager
    // per-round localCheckpoint loop (4.0 s: per-job scheduling plus
    // the O(E) checkpoint materialization tax) and a persist() of the
    // edge relation (5.6 s: the action's first stages race the
    // unpopulated cache and each recomputes the edge distinct). For
    // hundreds of iterations the lineage/planning cost takes over —
    // switch to localCheckpoint every ~20 rounds there.
    val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
    // one distinct over the unioned endpoints (previously three:
    // a distinct per side plus a distinct over their union)
    val nodes = edges.select(col("src").as("v"))
      .unionAll(edges.select(col("dst").as("v"))).distinct()
    var ranks = nodes.withColumn("pr", lit(scale))
    for (_ <- 0 until iterations) {
      // fold the static degree into the rank side first (two small
      // same-key relations), so the O(E) edge relation joins ONCE per
      // iteration instead of twice — pr div d commutes with the fan-out
      val rankd = ranks.withColumnRenamed("v", "src").join(deg, "src")
        .select(col("src"), expr("pr div d").as("c"))
      val contribs = edges.join(rankd, "src")
        .groupBy(col("dst").as("v")).agg(sum("c").as("s"))
      ranks = nodes.join(contribs, Seq("v"), "left")
        .select(col("v"),
          (lit(base) + expr(s"($num * coalesce(s, 0L)) div $den")).as("pr"))
    }
    // a lazy plan, not materialized ranks: callers run one action on
    // it; one that needs several should persist or checkpoint it first
    ranks
  }
}
