package graft

import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.ops.PageRank

/** Fixed-iteration integer PageRank: hand-computed two-iteration
  * values on a 3-node graph (including a dangling node and a node
  * whose rank is pure teleport + one in-edge), a multigraph against a
  * plain-Scala reference of the recurrence, the vertex type kept, plus
  * determinism across partitionings. Cross-engine recurrence parity is
  * q115's oracle.
  */
class PageRankSpec extends SparkSpec {

  import spark.implicits._

  test("two iterations match the hand-computed recurrence") {
    // 1→2, 1→3, 2→1; node 3 is dangling (no out-edges)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L)).toDF("src", "dst")
    val r1 = PageRank.run(edges, 1).as[(Long, Long)].collect().toMap
    // pr0 = 1e6 each; d(1)=2, d(2)=1
    // pr1(1) = 150000 + 17*(1000000 div 1) div 20 = 1000000
    // pr1(2) = pr1(3) = 150000 + 17*(1000000 div 2) div 20 = 575000
    assert(r1 === Map(1L -> 1000000L, 2L -> 575000L, 3L -> 575000L))
    val r2 = PageRank.run(edges, 2).as[(Long, Long)].collect().toMap
    // pr2(1) = 150000 + 17*(575000 div 1) div 20 = 638750
    // pr2(2) = pr2(3) = 150000 + 17*(1000000 div 2) div 20 = 575000
    assert(r2 === Map(1L -> 638750L, 2L -> 575000L, 3L -> 575000L))
  }

  test("a node with no in-edges keeps the bare teleport term") {
    val edges = Seq((7L, 8L)).toDF("src", "dst")
    val r = PageRank.run(edges, 3).as[(Long, Long)].collect().toMap
    assert(r(7L) === 150000L)
    // 8 gets teleport + damped full rank of 7 each round; by iter 3 the
    // recurrence has settled: 150000 + 17*150000 div 20 = 277500
    assert(r(8L) === 277500L)
  }

  test("result is independent of input partitioning") {
    val pairs = (0 until 400).map(i => ((i % 23).toLong, ((i * 7) % 19).toLong))
      .filter { case (a, b) => a != b }
    val one = PageRank.run(pairs.toDF("src", "dst").coalesce(1), 3)
      .as[(Long, Long)].collect().toSorted
    val many = PageRank.run(pairs.toDF("src", "dst").repartition(13), 3)
      .as[(Long, Long)].collect().toSorted
    assert(one.toSeq === many.toSeq)
  }

  /** The integer recurrence in plain Scala: every node starts at 1e6,
    * d(u) counts u's out-edges with duplicates, and a node without
    * in-edges gets the bare teleport term.
    */
  private def reference(edges: Seq[(Long, Long)], iterations: Int): Map[Long, Long] = {
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val deg = edges.groupMapReduce(_._1)(_ => 1L)(_ + _)
    var pr = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iterations) {
      val s = edges.groupMapReduce(_._2) { case (u, _) => pr(u) / deg(u) }(_ + _)
      pr = nodes.map(v => v -> (150000L + 17L * s.getOrElse(v, 0L) / 20)).toMap
    }
    pr
  }

  test("a directed multigraph matches the plain-Scala recurrence for 1-4 iterations") {
    val edges = Seq(
      (1L, 2L), (1L, 2L), // duplicate edge: d(1) = 3
      (1L, 3L), (2L, 3L), (3L, 1L),
      (2L, 2L),           // self-loop
      (4L, 1L),           // 4: src only
      (3L, 5L))           // 5: dst only
    val df = edges.toDF("src", "dst")
    for (k <- 1 to 4)
      assert(PageRank.run(df, k).as[(Long, Long)].collect().toMap ===
        reference(edges, k), s"iteration $k")
  }

  test("Int vertex ids come back as Int") {
    val edges = Seq((1, 2), (2, 1), (2, 3)).toDF("src", "dst")
    val out = PageRank.run(edges, 2)
    assert(out.schema.map(f => f.name -> f.dataType) ===
      Seq("v" -> IntegerType, "pr" -> LongType))
    assert(out.as[(Int, Long)].collect().toMap.map { case (v, p) => v.toLong -> p } ===
      reference(Seq((1L, 2L), (2L, 1L), (2L, 3L)), 2))
  }

  private implicit class SortOps(a: Array[(Long, Long)]) {
    def toSorted: Array[(Long, Long)] = a.sortBy(_._1)
  }
}
