package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over an edge DataFrame, expressed so the
  * result is EXACTLY reproducible by any SQL engine:
  *
  *   pr_0(v)    = scale
  *   pr_{i+1}(v) = base + (num · Σ_{u→v} (pr_i(u) div d(u))) div den
  *
  * with base = scale·(den−num)/den — all integer arithmetic, every
  * division truncating, so no float accumulation order can perturb the
  * hash (same discipline as the climatology query q110). num/den = the
  * damping factor (17/20 = 0.85). d(u) counts u's out-edges with
  * duplicates.
  *
  * Scale shape: a vertex-centric superstep (Pregel, Malewicz et al.,
  * SIGMOD 2010) over one state relation `(v, dsts, pr)` — one row per
  * vertex, `dsts` its out-neighbour list. Each round explodes `dsts`
  * into `pr div size(dsts)` messages, unions them with every vertex's
  * own row (which carries `dsts` forward) and combines both in ONE
  * grouped aggregate: one shuffle per round, no joins. The new state
  * goes behind an eager `localCheckpoint()`, so every round plans one
  * exchange over a checkpoint scan instead of a plan that re-embeds
  * the edge relation per round. Vertices without in-edges keep the
  * bare teleport term through their own row; vertices without
  * out-edges enter in round 1 through the messages they receive.
  */
object PageRank {

  def run(edges: DataFrame, iterations: Int, scale: Long = 1000000L,
          num: Int = 17, den: Int = 20): DataFrame = {
    require(iterations >= 1 && num > 0 && den > num,
      "need iterations >= 1 and a damping fraction num/den < 1")
    val base = scale * (den - num) / den
    // collect_list keeps duplicate edges, so size(dsts) = d(u)
    var state = edges.groupBy(col("src").as("v"))
      .agg(collect_list(col("dst")).as("dsts"))
      .withColumn("pr", lit(scale))
    val noDsts = lit(null).cast(state.schema("dsts").dataType)
    for (_ <- 0 until iterations) {
      val own = state.select(col("v"), col("dsts"), lit(0L).as("c"))
      val msgs = state.select(explode(col("dsts")).as("v"), noDsts.as("dsts"),
        expr("pr div size(dsts)").as("c"))
      state = own.unionByName(msgs).groupBy(col("v"))
        .agg(flatten(collect_list(col("dsts"))).as("dsts"), sum("c").as("s"))
        .select(col("v"), col("dsts"),
          (lit(base) + expr(s"($num * s) div $den")).as("pr"))
        .localCheckpoint()
    }
    state.select(col("v"), col("pr"))
  }
}
