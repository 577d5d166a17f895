package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation: every node's
  * label becomes the minimum over itself and its neighbors until
  * fixpoint, so each component converges to its smallest node id — the
  * canonical-document election over a near-dup PAIR graph (pairwise
  * similarity alone under-merges: A~B and B~C must land A, B, C in one
  * dup cluster even when A~C was never a candidate pair).
  *
  * Each round is one hash shuffle (a vertex's own row and its
  * neighbours' label messages meet in one grouped min, Pregel-style)
  * and converges in O(component diameter) rounds. Near-dup
  * clusters are shallow (diameter a handful), which makes propagation
  * the right tool here; for adversarial web-scale graphs with long
  * chains, [[runStarContraction]] implements the two-phase
  * small-star/large-star scheme (Kiveris et al., "Connected Components
  * in MapReduce and Beyond") with O(log n) rounds — same output
  * contract. [[components]] is the no-knowledge-needed entry point:
  * propagation under a round budget, star contraction as the fallback.
  * Lineage is truncated every round (localCheckpoint) so the plan does
  * not grow with the iteration count.
  */
object ConnectedComponents {

  /** Shuffle partitions sized to EDGE volume, not the session default:
    * ~2M edges (≈64 MB of long pairs) per partition, floor 8. A
    * near-dup pair graph is orders of magnitude smaller than the corpus
    * it came from — every round pays the partition count as fixed
    * scheduling overhead — but a 10¹⁰-edge web graph must not funnel
    * through 8 reducers either, which is what a constant default did.
    */
  def derivePartitions(edgeCount: Long,
                       targetPerPartition: Long = 2L * 1000 * 1000): Int = {
    // overflow-safe ceil: edgeCount can be anything a count() returns
    val ceil = edgeCount / targetPerPartition +
      (if (edgeCount % targetPerPartition > 0) 1L else 0L)
    math.min(math.max(8L, ceil), 100000L).toInt
  }

  /** The caller-needs-no-graph-knowledge entry point: min-label
    * propagation under `propagationBudget` rounds (cheapest per round on
    * the shallow clusters that dominate dedup workloads), falling back
    * to large-star/small-star contraction when the budget is exhausted —
    * a chain-shaped adversarial graph gets the O(log n) algorithm
    * without the caller choosing. Partitions derive from the edge count
    * unless given.
    */
  def components(edges: DataFrame, numPartitions: Option[Int] = None,
                 propagationBudget: Int = 12): DataFrame =
    componentsChosen(edges, numPartitions, propagationBudget)._1

  /** [[components]] plus which algorithm it settled on ("propagation" |
    * "star") — returned with the result rather than stashed in shared
    * state, so concurrent calls cannot race on the observability signal.
    */
  def componentsChosen(edges: DataFrame, numPartitions: Option[Int] = None,
                       propagationBudget: Int = 12): (DataFrame, String) = {
    val cached = edges.select(col("src"), col("dst")).persist()
    try {
      // rdd.count fills the cache and counts in one job; Dataset.count
      // runs the cache fill, a map stage and its result as three
      val parts = numPartitions.getOrElse(derivePartitions(cached.rdd.count()))
      propagate(cached, propagationBudget, parts) match {
        case Some(labels) => (labels, "propagation")
        case None =>
          (runStarContraction(cached, numPartitions = Some(parts)), "star")
      }
    } finally cached.unpersist() // results are localCheckpoint-backed
  }

  /** @param edges undirected edge list with `src`/`dst` columns
    * @param numPartitions parallelism of the per-round shuffles; derived
    *   from the edge count (one `rdd.count()` over `edges`) when None
    * @return (node, component) — component = min node id reachable
    */
  def run(edges: DataFrame, maxIter: Int = 25,
          numPartitions: Option[Int] = None): DataFrame = {
    val cached = edges.select(col("src"), col("dst")).persist()
    try {
      val parts = numPartitions.getOrElse(derivePartitions(cached.rdd.count()))
      propagate(cached, maxIter, parts).getOrElse(throw new IllegalStateException(
        s"label propagation not converged in $maxIter rounds"))
    } finally cached.unpersist()
  }

  /** The propagation loop; None when the round budget runs out before
    * fixpoint (long-diameter graph — see [[components]] for the switch).
    */
  private def propagate(edges: DataFrame, maxIter: Int,
                        numPartitions: Int): Option[DataFrame] = {
    // One row per vertex: (v, distinct neighbour list, label). Round 1 is
    // folded into initialization: label(v) = min(v, N(v)) is exactly what
    // one propagation round over identity labels computes. On the shallow
    // star-shaped clusters that dominate dedup graphs this IS the
    // fixpoint, leaving a single detection round.
    var state = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(numPartitions, col("src"))
      .groupBy(col("src").as("v"))
      .agg(array_distinct(collect_list(col("dst"))).as("nbrs"))
      .withColumn("label", least(col("v"), array_min(col("nbrs"))))
      .localCheckpoint()
    val noNbrs = lit(null).cast(state.schema("nbrs").dataType)
    val noLabel = lit(null).cast(state.schema("label").dataType)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      // every vertex sends its label to its neighbours; its own row
      // carries the neighbour list and the old label into the same
      // aggregate, so a round is one shuffle
      val own = state.select(col("v"), col("nbrs"), col("label"),
        col("label").as("old"))
      val msgs = state.select(explode(col("nbrs")).as("v"), noNbrs.as("nbrs"),
        col("label"), noLabel.as("old"))
      state = own.unionByName(msgs)
        .repartition(numPartitions, col("v"))
        .groupBy(col("v"))
        .agg(flatten(collect_list(col("nbrs"))).as("nbrs"),
          min(col("label")).as("label"), min(col("old")).as("old"))
        .localCheckpoint()
      // a one-stage count over the checkpoint: Dataset.count plans an
      // aggregate exchange, one more job per round
      changed = state.filter(col("label") < col("old")).rdd.count()
      i += 1
    }
    if (changed == 0)
      Some(state.select(col("v").as("node"), col("label").as("component")))
    else None
  }

  /** Connected components by alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond") — the adversarial-graph form: converges in O(log n)
    * rounds regardless of component DIAMETER, where min-label
    * propagation pays one round per hop. Same output contract as
    * [[run]]; choose this when components can be long chains (web
    * graphs, transitive link structures), and propagation when they
    * are shallow near-dup clusters (fewer shuffles per round).
    *
    * Edges are kept directed large→small; each round is two
    * grouped-min + join passes, with lineage truncated per round.
    */
  def runStarContraction(edges: DataFrame, maxIter: Int = 30,
                         numPartitions: Option[Int] = None): DataFrame = {
    def canon(df: DataFrame): DataFrame = df
      .filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct()
    val cached = edges.select(col("src"), col("dst")).persist()
    val parts = numPartitions.getOrElse(derivePartitions(cached.rdd.count()))
    var e = canon(cached)
      .repartition(parts, col("src"))
      .localCheckpoint()
    cached.unpersist()
    def checksum(df: DataFrame): (Long, Long) = {
      // bit_xor is order-independent and cannot overflow under ANSI
      val r = df.agg(count(lit(1)),
        bit_xor(xxhash64(col("src"), col("dst")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var prev = checksum(e)
    var done = prev._1 == 0
    var i = 0
    while (!done && i < maxIter) {
      // large-star: every neighbor v > u attaches to m(u) = min(u, N(u))
      val sym = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      val mBig = sym.groupBy(col("src"))
        .agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      val ls = canon(sym.join(mBig, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionByName(mBig.select(col("src"), col("m").as("dst"))))
      // small-star on the directed form: all smaller neighbors (and u
      // itself) attach to the minimum
      val mSmall = ls.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val ss = canon(ls.join(mSmall, "src")
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionByName(mSmall.select(col("src"), col("m").as("dst"))))
      // canon()'s distinct already hash-partitions the edge list; the
      // r20 per-round repartition(src) on top of it was one more full
      // exchange per iteration for no downstream requirement (the next
      // round's groupBys re-key regardless)
      e = ss.localCheckpoint()
      val cur = checksum(e)
      done = cur == prev
      prev = cur
      i += 1
    }
    require(done, s"star contraction not converged in $maxIter rounds")
    // fixpoint is a star forest: every edge points child → root
    e.select(col("src").as("node"), col("dst").as("component"))
      .unionByName(e.select(col("dst").as("node"), col("dst").as("component")))
      .distinct()
  }
}
