package graft

import org.apache.spark.sql.types.IntegerType
import graft.ops.ConnectedComponents

/** Min-label propagation on known graphs: chains (the case pairwise
  * dedup misses), separate components, a star, self-loops and repeated
  * edges — every node must land on its component's minimum id, in the
  * input's vertex type.
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("chains, stars and isolated pairs resolve to component minima") {
    val edges = Seq(
      (5L, 3L), (3L, 9L), (9L, 12L),    // chain: {3,5,9,12} -> 3
      (20L, 21L),                        // pair: {20,21} -> 20
      (30L, 31L), (30L, 32L), (30L, 33L) // star: {30..33} -> 30
    ).toDF("src", "dst")
    val got = ConnectedComponents.run(edges)
      .as[(Long, Long)].collect().toMap
    val expected = Map(
      3L -> 3L, 5L -> 3L, 9L -> 3L, 12L -> 3L,
      20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L, 33L -> 30L)
    assert(got === expected)
  }

  test("self-loops, duplicate and reversed edges change nothing") {
    val edges = Seq(
      (7L, 7L),                          // a lone self-loop: {7} -> 7
      (5L, 3L), (5L, 3L), (3L, 5L),      // duplicate and reversed
      (3L, 9L), (9L, 9L)                 // a self-loop inside a component
    ).toDF("src", "dst")
    val expected = Map(7L -> 7L, 3L -> 3L, 5L -> 3L, 9L -> 3L)
    assert(ConnectedComponents.run(edges).as[(Long, Long)].collect().toMap
      === expected)
    val (df, algo) = ConnectedComponents.componentsChosen(edges)
    assert(algo === "propagation")
    assert(df.as[(Long, Long)].collect().toMap === expected)
  }

  test("Int vertex ids come back as Int") {
    val edges = Seq((4, 2), (2, 6), (8, 9)).toDF("src", "dst")
    val out = ConnectedComponents.components(edges)
    assert(out.schema.map(f => f.name -> f.dataType) ===
      Seq("node" -> IntegerType, "component" -> IntegerType))
    assert(out.as[(Int, Int)].collect().toMap ===
      Map(2 -> 2, 4 -> 2, 6 -> 2, 8 -> 8, 9 -> 8))
  }

  test("long path converges within the diameter bound") {
    // path 0-1-2-...-15: worst case for propagation, diameter 15
    val edges = (0L until 15L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = ConnectedComponents.run(edges, maxIter = 25)
      .as[(Long, Long)].collect().toMap
    assert(got === (0L to 15L).map(_ -> 0L).toMap)
  }

  test("star contraction matches propagation on mixed graphs") {
    val edges = Seq(
      (5L, 3L), (3L, 9L), (9L, 12L),
      (20L, 21L),
      (30L, 31L), (30L, 32L), (30L, 33L),
      (40L, 41L), (41L, 42L), (42L, 40L) // a cycle
    ).toDF("src", "dst")
    val prop = ConnectedComponents.run(edges)
      .as[(Long, Long)].collect().toMap
    val star = ConnectedComponents.runStarContraction(edges)
      .as[(Long, Long)].collect().toMap
    assert(star === prop)
  }

  test("star contraction beats the diameter: a 200-hop chain in few rounds") {
    // propagation would need ~200 rounds here (its maxIter=25 default
    // gives up); star contraction finishes inside its default budget
    val edges = (0L until 200L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException] {
      ConnectedComponents.run(edges) // diameter 200 > 25 rounds
    }
    val got = ConnectedComponents.runStarContraction(edges)
      .as[(Long, Long)].collect().toMap
    assert(got === (0L to 200L).map(_ -> 0L).toMap)
  }

  test("partitions derive from edge volume, not a constant") {
    // floor for the dedup-sized graphs this workload sees…
    assert(ConnectedComponents.derivePartitions(100L) === 8)
    assert(ConnectedComponents.derivePartitions(16L * 1000 * 1000) === 8)
    // …linear in edges past the floor (2M edges ≈ 64 MB per partition)…
    assert(ConnectedComponents.derivePartitions(40L * 1000 * 1000) === 20)
    assert(ConnectedComponents.derivePartitions(200L * 1000 * 1000) === 100)
    assert(ConnectedComponents.derivePartitions(10L * 1000 * 1000 * 1000)
      === 5000)
    // …and capped so a pathological count cannot explode the scheduler
    assert(ConnectedComponents.derivePartitions(Long.MaxValue) === 100000)
  }

  test("components(): propagation on shallow graphs, star on long chains") {
    val shallow = Seq((5L, 3L), (3L, 9L), (20L, 21L)).toDF("src", "dst")
    val (shallowDf, shallowAlgo) = ConnectedComponents.componentsChosen(shallow)
    assert(shallowAlgo === "propagation")
    assert(shallowDf.as[(Long, Long)].collect().toMap ===
      Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L))

    // 120-hop chain: exhausts the 12-round propagation budget, must
    // fall back to star contraction and still land every node on 0
    val chain = (0L until 120L).map(i => (i, i + 1)).toDF("src", "dst")
    val (chainDf, chainAlgo) = ConnectedComponents.componentsChosen(chain)
    assert(chainAlgo === "star")
    assert(chainDf.as[(Long, Long)].collect().toMap ===
      (0L to 120L).map(_ -> 0L).toMap)
  }
}
