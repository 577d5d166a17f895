package graft

import graft.queries.Similarity

/** IVF ANN quality: recall@3 against the exact brute-force baseline. */
class IvfSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("q56 IVF recall@3 vs exact top-3 is high on clustered embeddings") {
    val exact = Similarity.cosineTopK.fn(spark, sf)
      .filter("rank <= 3")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    Similarity.ivfAnn.setup(spark, sf)
    val ivf = Similarity.ivfAnn.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(exact.nonEmpty)
    assert(recall >= 0.6, s"recall@3 = $recall (exact=${exact.size})")
  }

  test("q56 is deterministic across runs") {
    // each run trains its own codebook and probes afresh in setup
    def run() = {
      Similarity.ivfAnn.setup(spark, sf)
      Similarity.ivfAnn.fn(spark, sf).collect().map(_.toString).sorted.toSeq
    }
    assert(run() === run())
  }
}
