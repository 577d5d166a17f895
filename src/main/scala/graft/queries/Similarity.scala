package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.ops.{IvfIndex, SnapshotTable}

/** Similarity search over `embeddings.parquet` (vec_id, embedding:
  * array<float> ×64, label).
  *
  * Scale design:
  *  - q40 is the exact brute-force baseline: the QUERY side (a small key
  *    subset) is broadcast; the corpus side streams — one pass over the
  *    big table, no shuffle of the corpus, `TakeOrderedAndProject`-style
  *    top-k per query via a window over the (small) pair set.
  *  - q41/q42 are the 100 TB path: deterministic random-hyperplane sign
  *    LSH assigns every vector to one of 256 buckets in a single
  *    map-side pass; ANN then probes ONLY the query's bucket (corpus
  *    shuffled once by bucket key; per-query work is bucket-sized, not
  *    corpus-sized).
  *  - Vector math runs through VectorOps.dotUdf: Spark's higher-order
  *    functions evaluate interpreted (boxed, no codegen), so a primitive
  *    while-loop UDF is the fast form for per-pair dot products; the
  *    hyperplane matrix is a driver-precomputed broadcast literal, so the
  *    executor hot path does zero hashing.
  */
object Similarity {

  // native codegen expression (DotProductExpr) — same left-fold double
  // semantics as VectorOps.dotUdf and the oracle's list_sum
  import graft.functions.DotProductExpr.dot
  import graft.functions.VectorOps.planeMatrix

  private def toDouble(emb: Column): Column =
    transform(emb, x => x.cast("double"))

  /** Embedding dimensionality, read once at plan-construction from a
    * single row — lets the hyperplane matrix be a precomputed literal
    * sized to the data instead of per-row md5 evaluation.
    */
  private def embeddingDim(s: SparkSession, d: String): Int =
    Tables.embeddings(s, d).select(size(col("embedding"))).head.getInt(0)

  /** Sign-LSH bucket id over the precomputed deterministic hyperplanes:
    * bit p = sign of the projection onto plane p. The plane matrix is a
    * broadcast literal (VectorOps.planeMatrix — md5-derived, identical to
    * the oracle's in-SQL derivation); the hot path is pure primitive dot
    * products.
    */
  private def lshBucket(emb: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      when(dot(emb, typedLit(plane.toSeq)) > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)

  /** Exact top-5 cosine neighbors for the vec_id%100 query subset —
    * the oracle-checked correctness baseline for ANN.
    */
  val cosineTopK = QueryDef("q40_cosine_topk",
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
      |    sqrt(list_sum(list_transform(generate_series(1, len(embedding)),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |q AS (SELECT vec_id AS q_id, emb AS qe, nrm AS qn FROM e WHERE vec_id % 100 = 0),
      |pairs AS (
      |  SELECT q_id, e.vec_id AS neighbor_id,
      |    list_sum(list_transform(generate_series(1, len(qe)), i -> qe[i] * emb[i]))
      |      / (qn * nrm) AS cos
      |  FROM q, e WHERE e.vec_id <> q_id)
      |SELECT q_id, CAST(rn AS INT) AS rank, neighbor_id, round(cos, 6) AS cos
      |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rn
      |      FROM pairs)
      |WHERE rn <= 5 ORDER BY q_id, rank""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("emb"))
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("emb").as("qe"), col("nrm").as("qn"))
    val pairs = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        (dot(col("qe"), col("emb")) / (col("qn") * col("nrm"))).as("cos"))
    val rn = row_number()
      .over(Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("neighbor_id")))
    pairs.withColumn("rank", rn).filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"))
  }

  /** LSH bucket histogram: 8 deterministic hyperplanes → 256 buckets,
    * assigned in one map-side pass. The histogram is the oracle-checked
    * part; bucket membership at a sign boundary is float-exact because
    * both engines fold the same element order in double.
    */
  val lshBuckets = QueryDef("q41_lsh_buckets",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |proj AS (
      |  SELECT vec_id, p,
      |    list_sum(list_transform(generate_series(1, len(emb)),
      |      i -> emb[i] * (CAST(('0x' || substr(md5(p || ':' || i), 1, 4)) AS BIGINT) / 32768.0 - 1.0))) AS pr
      |  FROM e, generate_series(0, 7) g(p)),
      |buckets AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN pr > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM proj GROUP BY vec_id)
      |SELECT bucket, count(*) AS n_vecs FROM buckets
      |GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
    val planes = planeMatrix(8, embeddingDim(s, d))
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("emb"))
    e.select(col("vec_id"), lshBucket(col("emb"), planes).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"))
  }

  /** Bucketed ANN: probe only the query's LSH bucket for top-3 cosine —
    * per-query work scales with bucket size, not corpus size. Oracle via
    * the dumped candidate-pair relation (the q45/q46 pattern): near-tie
    * ordering over independently recomputed doubles is not cross-engine
    * stable, so BOTH engines rank the SAME dumped full-precision cosines
    * (top-k + tie-break + rounding independently recomputed); the pair
    * generation itself is pinned by the q40 exact baseline and the q41
    * bucket-assignment oracle.
    */
  val annBucketed = QueryDef("q42_ann_bucketed",
    """SELECT q_id, CAST(rn AS INT) AS rank, neighbor_id, cos_r AS cos
      |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
      |        ORDER BY cos DESC, neighbor_id) AS rn
      |      FROM read_parquet('/tmp/graft-oracle/q42_pairs/*.parquet'))
      |WHERE rn <= 3 ORDER BY q_id, rank""".stripMargin,
    setup = { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), toDouble(col("embedding")).as("emb"))
        .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
        .withColumn("bucket",
          lshBucket(col("emb"), planeMatrix(8, embeddingDim(s, d))))
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("emb").as("qe"),
          col("nrm").as("qn"), col("bucket").as("q_bucket"))
      // cos_r is rounded ONCE here: both engines rank the identical dumped
      // full-precision doubles and emit the identical pre-rounded value, so
      // no half-ulp Spark-BigDecimal-vs-DuckDB-float rounding seam remains
      val pairs = e.join(broadcast(q),
          col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          (dot(col("qe"), col("emb")) / (col("qn") * col("nrm"))).as("cos"))
        .withColumn("cos_r", round(col("cos"), 6))
      graft.Work.oracleDump(s, "q42_pairs", pairs)
    }) { (s, _) => topThree(s, "q42_pairs") }

  /** Top-3 neighbors per query from a dumped (q_id, neighbor_id, cos,
    * cos_r) pair relation — the ranking both engines recompute.
    */
  private def topThree(s: SparkSession, tag: String): DataFrame = {
    val rn = row_number()
      .over(Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("neighbor_id")))
    s.read.parquet(graft.Work.oracleDumpPath(tag))
      .withColumn("rank", rn).filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("neighbor_id"),
        col("cos_r").as("cos"))
  }

  /** IVF helpers live in ops.IvfIndex (codebook training + nearest-cell
    * expression) — q56 is the inline query form, IvfIndex the persisted
    * build/open/query lifecycle over the same deterministic codebook.
    */
  private def nearestCells(emb: Column,
                           centroids: Array[(Long, Array[Double])],
                           nprobe: Int): Column =
    graft.ops.IvfIndex.nearestCells(emb, centroids, nprobe)

  private def trainCodebook(sample: Array[Array[Double]], k: Int,
                            iters: Int): Array[(Long, Array[Double])] =
    graft.ops.IvfIndex.trainCodebook(sample, k, iters)

  /** IVF ANN: the second scale path beside sign-LSH (q42). Every vector
    * is assigned to its nearest codebook cell map-side; queries probe
    * their 4 nearest cells, so per-query work is 4 cell-sizes, not
    * corpus-sized, and the corpus never shuffles here (query side
    * broadcast). Oracle over the dumped probe-pair relation, same shape
    * as q42: both engines independently rank/limit/round the same
    * full-precision cosines; IvfSpec pins recall@3 against the exact
    * q40 baseline and IvfIndexSpec the codebook lifecycle.
    */
  val ivfAnn = QueryDef("q56_ivf_ann",
    """SELECT q_id, CAST(rn AS INT) AS rank, neighbor_id, cos_r AS cos
      |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
      |        ORDER BY cos DESC, neighbor_id) AS rn
      |      FROM read_parquet('/tmp/graft-oracle/q56_pairs/*.parquet'))
      |WHERE rn <= 3 ORDER BY q_id, rank""".stripMargin,
    setup = { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), toDouble(col("embedding")).as("emb"))
      // hash-thin, then CAP: the driver-side training collect is bounded by
      // a constant (100k vectors) regardless of corpus size — a bare
      // fraction is still a driver OOM at 100 TB. orderBy+limit keeps the
      // sample (and so the codebook and every answer) deterministic.
      val sample = e.filter(col("vec_id") % 7 === 0).orderBy(col("vec_id"))
        .limit(100000)
        .collect()
        .map(_.getSeq[Double](1).toArray)
      // k ≈ √n, nprobe ≈ √k (IvfIndex.deriveK/deriveNprobe): the probed
      // fraction of the corpus SHRINKS as the corpus grows, instead of the
      // fixed k=16 that probed ~25% of a corpus of any size
      val k = graft.ops.IvfIndex.deriveK(
        graft.Tables.rowCount(s, d, "embeddings"))
      val nprobe = graft.ops.IvfIndex.deriveNprobe(k)
      val centroids = trainCodebook(sample, k, iters = 8)
      val corpus = e
        .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
        .withColumn("cell",
          nearestCells(col("emb"), centroids, 1)(0).getField("cid"))
      val q = corpus.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("emb").as("qe"),
          col("nrm").as("qn"),
          explode(transform(nearestCells(col("emb"), centroids, nprobe),
            _.getField("cid"))).as("probe_cell"))
      // cos_r rounded once Spark-side — see q42 for the rounding-seam note
      val pairs = corpus.join(broadcast(q),
          col("cell") === col("probe_cell") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          (dot(col("qe"), col("emb")) / (col("qn") * col("nrm"))).as("cos"))
        .withColumn("cos_r", round(col("cos"), 6))
      graft.Work.oracleDump(s, "q56_pairs", pairs)
    }) { (s, _) => topThree(s, "q56_pairs") }

  /** Embedding-cosine near-dup (the fifth dedup flavor beside exact /
    * minhash / simhash / n-gram Jaccard): candidates come ONLY from
    * shared sign-LSH buckets (one shuffle keyed by bucket — never
    * all-pairs), pairs above the cosine threshold mark the larger id a
    * duplicate of the smallest qualifying neighbor (first-wins, same
    * election as SO1). Output is per-vector over the whole corpus, so
    * the oracle pins both the pair generation and the election.
    */
  val embeddingDedup = QueryDef("q58_embedding_dedup",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |proj AS (
      |  SELECT vec_id, p,
      |    list_sum(list_transform(generate_series(1, len(emb)),
      |      i -> emb[i] * (CAST(('0x' || substr(md5(p || ':' || i), 1, 4)) AS BIGINT) / 32768.0 - 1.0))) AS pr
      |  FROM e, generate_series(0, 7) g(p)),
      |buckets AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN pr > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM proj GROUP BY vec_id),
      |n AS (SELECT e.vec_id, emb, bucket,
      |        sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm
      |      FROM e JOIN buckets USING (vec_id)),
      |dups AS (
      |  SELECT b.vec_id, min(a.vec_id) AS dup_of
      |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      |  WHERE list_sum(list_transform(generate_series(1, len(a.emb)),
      |          i -> a.emb[i] * b.emb[i])) / (a.nrm * b.nrm) >= 0.35
      |  GROUP BY b.vec_id)
      |SELECT e.vec_id, CAST(d.dup_of IS NOT NULL AS BOOLEAN) AS is_dup, d.dup_of
      |FROM e LEFT JOIN dups d USING (vec_id) ORDER BY e.vec_id""".stripMargin) { (s, d) =>
    val planes = planeMatrix(8, embeddingDim(s, d))
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("emb"))
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
      .withColumn("bucket", lshBucket(col("emb"), planes))
    val a = e.select(col("vec_id").as("id_a"), col("emb").as("emb_a"),
      col("nrm").as("nrm_a"), col("bucket"))
    val b = e.select(col("vec_id").as("id_b"), col("emb").as("emb_b"),
      col("nrm").as("nrm_b"), col("bucket"))
    val dups = a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")) >= 0.35)
      .groupBy(col("id_b").as("vec_id"))
      .agg(min(col("id_a")).as("dup_of"))
    e.select(col("vec_id")).join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
  }

  /** The SQL surface of the native expressions: vec_dot / vec_stats are
    * injected into the function registry by GraftExtensions
    * (spark.sql.extensions-deployable), so the same kernels the Column
    * API uses are callable from plain SQL text. One map-side pass over
    * the corpus, no shuffle; l2_norm parity with DuckDB holds because
    * both fold left-to-right in double (same argument as q40).
    */
  val sqlVecFunctions = QueryDef("q55_sql_vec_functions",
    """SELECT vec_id,
      |  round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 6) AS l2_norm,
      |  CAST(len(embedding) AS BIGINT) AS n_dims,
      |  round(list_max(CAST(embedding AS DOUBLE[])), 6) AS max_val
      |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, d) =>
    Tables.embeddings(s, d).createOrReplaceTempView("g55_embeddings")
    s.sql(
      """SELECT vec_id,
        |  round(sqrt(vec_dot(emb, emb)), 6) AS l2_norm,
        |  CAST(vec_stats(emb).n_valid AS BIGINT) AS n_dims,
        |  round(vec_stats(emb).vmax, 6) AS max_val
        |FROM (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS emb
        |      FROM g55_embeddings)""".stripMargin)
  }

  /** Symmetric per-vector int8 quantization — the ANN memory-scale path
    * (4× smaller vectors, SIMD-friendly int dot products downstream):
    * scale = max|x|/127, q_i = round(x_i/scale) in [-127, 127]. Both
    * engines derive the identical doubles (float→double promotion is
    * exact; one division and one round-half-away-from-zero each), so
    * the digest of the quantized codes hash-matches. Stateless per-row
    * work — one scan, no shuffle.
    */
  val int8Quantize = QueryDef("q96_int8_quantize",
    """WITH s AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
      |  FROM embeddings)
      |SELECT vec_id, scale,
      |  md5(array_to_string(list_transform(embedding,
      |    x -> CASE WHEN scale = 0 THEN 0
      |         ELSE CAST(round(CAST(x AS DOUBLE) / scale) AS INT) END),
      |    ',')) AS q_md5
      |FROM s ORDER BY vec_id""".stripMargin) { (s, d) =>
    val base = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"),
      (array_max(transform(col("embedding"), x => abs(x.cast("double"))))
        / lit(127.0)).as("scale"))
    base.select(col("vec_id"), col("scale"),
      md5(concat_ws(",", transform(col("embedding"),
        x => when(col("scale") === 0, lit(0))
          .otherwise(round(x.cast("double") / col("scale")).cast("int"))
          .cast("string"))).cast("binary")).as("q_md5"))
  }

  /** q127 — Gram matrix Σ v·vᵀ over the embedding corpus (the
    * covariance/PCA-whitening primitive) via [[graft.functions
    * .GramExpr]]: one pass, d(d+1)/2 longs of bounded state per
    * partial, additive merge — never an exploded (row × i × j)
    * relation. Components quantize to exact integers through DOUBLE
    * (both engines convert float32 → float64 losslessly before the
    * multiply), so all 2080 upper-triangle cells hash-match.
    */
  val gramMatrix = QueryDef("q127_gram_matrix",
    """WITH qv AS (
      |  SELECT list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      |  FROM embeddings),
      |cells AS (
      |  SELECT i.i, j.j, CAST(sum(v[i.i] * v[j.j]) AS BIGINT) AS g
      |  FROM qv, generate_series(1, 64) AS i(i),
      |       generate_series(1, 64) AS j(j)
      |  WHERE i.i <= j.j GROUP BY 1, 2)
      |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, g
      |FROM cells ORDER BY i, j""".stripMargin) { (s, d) =>
    import graft.functions.GramExpr.gram
    val qv = Tables.embeddings(s, d).select(
      transform(col("embedding"),
        x => floor(x.cast("double") * 1000).cast("long")).as("v"))
    qv.agg(gram(col("v"), 64).as("gm"))
      .select(explode(col("gm")).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"), col("c.g").as("g"))
      .orderBy("i", "j")
  }

  /** q129 — TWO Lloyd iterations of k-means over the quantized
    * embedding corpus, EXACTLY: squared distances are integer sums,
    * the argmin tie-breaks on center id (row_number, total order), and
    * centroid updates floor-divide per-dimension integer sums — so the
    * assignment sets, the updated centers and the final inertia all
    * hash-match DuckDB's CTE-chain replay. Fixed deterministic seeds
    * (four spread vec_ids) replace the RNG init, the same discipline
    * as the PageRank recurrence (q115). Scale shape per iteration: a
    * broadcast of k centers against the vector scan + one groupBy —
    * never a vector-vector self-join.
    */
  /** The q129 CTE chain up to the final assignment relation `a2`
    * (vec_id, cid, dist) — shared verbatim by the q129 and q138
    * oracles so both gates replay the identical clustering.
    */
  /** k SCALES WITH THE CORPUS — the SemDeDup discipline carried into
    * the gated artifact: `k = max(4, n/125)` keeps expected cluster
    * size ≤ 125, so the within-cluster pair join's Σ|cluster|² stays
    * LINEAR in n instead of quadratic (a fixed k heads past
    * 15 min/pass at 10× — measured, r13 BASELINE). Seeds are
    * `i · stride` for i < k with `stride = min(100, n div k)` —
    * deterministic over the dense 0..n-1 vec_id domain, replayed
    * byte-identically by the DuckDB CTE, and identical to the
    * historical k=4 seeds at the n=500 gate corpus.
    */
  private val KmeansCtes =
    """qv AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      |  FROM embeddings),
      |kk AS (
      |  SELECT greatest(4, count(*) // 125) AS k,
      |    least(100, count(*) // greatest(4, count(*) // 125)) AS stride
      |  FROM qv),
      |c0 AS (SELECT vec_id AS cid, v AS c FROM qv, kk
      |       WHERE vec_id % stride = 0 AND vec_id < k * stride),
      |d1 AS (
      |  SELECT q.vec_id, c.cid,
      |    CAST(sum((q.v[g.i] - c.c[g.i]) * (q.v[g.i] - c.c[g.i]))
      |      AS BIGINT) AS dist
      |  FROM qv q, c0 c, generate_series(1, 64) AS g(i) GROUP BY 1, 2),
      |a1 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid)
      |        AS rn FROM d1) WHERE rn = 1),
      |cs AS (
      |  SELECT a1.cid, g.i AS i,
      |    CAST(sum(q.v[g.i]) AS BIGINT) // count(*) AS cv
      |  FROM a1 JOIN qv q USING (vec_id), generate_series(1, 64) AS g(i)
      |  GROUP BY 1, 2),
      |c1 AS (SELECT cid, list(cv ORDER BY i) AS c FROM cs GROUP BY 1),
      |d2 AS (
      |  SELECT q.vec_id, c.cid,
      |    CAST(sum((q.v[g.i] - c.c[g.i]) * (q.v[g.i] - c.c[g.i]))
      |      AS BIGINT) AS dist
      |  FROM qv q, c1 c, generate_series(1, 64) AS g(i) GROUP BY 1, 2),
      |a2 AS (
      |  SELECT vec_id, cid, dist FROM (
      |    SELECT vec_id, cid, dist,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid)
      |        AS rn FROM d2) WHERE rn = 1)""".stripMargin

  val kmeans = QueryDef("q129_kmeans",
    s"""WITH $KmeansCtes
      |SELECT cid, count(*) AS n_members,
      |  CAST(sum(vec_id) AS BIGINT) AS sum_vec_id,
      |  CAST(sum(dist) AS BIGINT) AS inertia
      |FROM a2 GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    kmeansAssignments(s, d)
      .groupBy("cid")
      .agg(count(lit(1)).as("n_members"),
        sum("vec_id").cast("long").as("sum_vec_id"),
        sum("dist").cast("long").as("inertia"))
      .orderBy("cid")
  }

  /** The two-Lloyd-iteration assignment relation (vec_id, cid, dist)
    * behind q129 — extracted so q138's cluster-balanced sampling
    * composes with the identical clustering instead of re-deriving it.
    */
  private def kmeansAssignments(s: SparkSession, d: String): DataFrame = {
    val qv = Tables.embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 1000).cast("long")).as("v"))
    // k tracks the corpus (see [[KmeansCtes]]): the table
    // cardinality (footer metadata, no extra job), then k and the
    // seed stride are plan-time literals — the scale-safe plan IS
    // the committed plan
    val n = graft.Tables.rowCount(s, d, "embeddings")
    val k = math.max(4L, n / 125)
    val stride = math.min(100L, n / k)
    val c0 = qv.filter(col("vec_id") % stride === 0 &&
        col("vec_id") < k * stride)
      .select(col("vec_id").as("cid"), col("v").as("c"))
    // native codegen sqdist (VecSqDistExpr) — bit-identical to the HOF
    // fold it replaced; see the expression's doc for the exactness note
    def dist2 = graft.functions.VecSqDistExpr.sqdist(col("v"), col("c"))
    // argmin as a partial-aggregating min(struct(dist, cid, v)): struct
    // ordering compares dist first, then cid — the identical total order
    // the row_number(ORDER BY dist, cid) window established (cid is
    // unique per center set, so the v field is never reached) — but a
    // groupBy aggregates map-side (k rows per vector collapse before the
    // exchange) and skips the window's per-partition sort entirely
    def assign(centers: DataFrame) =
      qv.crossJoin(broadcast(centers))
        .select(col("vec_id"), col("cid"), col("v"), dist2.as("dist"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("dist"), col("cid"), col("v"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cid"), col("m.v").as("v"),
          col("m.dist").as("dist"))
    val a1 = assign(c0)
    // centroid update: per-dim integer sums, TRUNCATION-divided —
    // Spark's `div` and DuckDB's `//` both round toward zero
    val c1 = a1.select(col("cid"),
        posexplode(col("v")).as(Seq("i", "comp")))
      .groupBy(col("cid"), col("i"))
      .agg(sum("comp").as("sm"), count(lit(1)).as("m"))
      .withColumn("cv", expr("sm div m"))
      .groupBy("cid")
      .agg(array_sort(collect_list(struct(col("i"), col("cv"))))
        .as("pairs"))
      .select(col("cid"),
        transform(col("pairs"), p => p.getField("cv")).as("c"))
    assign(c1)
  }

  /** q138 — CLUSTER-BALANCED CURATION SAMPLE: the composition every
    * embedding-space data-curation pipeline runs (cluster the corpus,
    * then cap each cluster's contribution so dominant modes don't
    * swamp the mixture — the DoReMi/SemDeDup-style rebalancing step).
    * Composes q129's EXACT k-means assignment with q71's deterministic
    * content-hash sampling discipline: within each cluster, rank by
    * md5(vec_id) (a stateless, engine-reproducible order — no RNG) and
    * keep the first `cap`. Emits per-cluster kept/total counts and
    * exact integer digests of the kept set, so the oracle re-derives
    * the SELECTION itself, not just its size.
    *
    * Scale shape: everything q129 already pays (broadcast centers, one
    * groupBy per Lloyd round) plus ONE window partitioned by cluster
    * id — k partitions, each holding only that cluster's ids, never a
    * global sort. At a 10⁹-vector corpus the cap makes the output
    * bounded by k·cap however skewed the clusters.
    */
  val clusterSample = QueryDef("q138_cluster_sample",
    s"""WITH $KmeansCtes,
      |sel AS (
      |  SELECT vec_id, cid, dist,
      |    row_number() OVER (PARTITION BY cid
      |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
      |  FROM a2)
      |SELECT cid,
      |  CAST(count(*) AS BIGINT) AS n_total,
      |  CAST(count(CASE WHEN rk <= 100 THEN 1 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN rk <= 100 THEN vec_id END) AS BIGINT)
      |    AS kept_id_sum,
      |  CAST(sum(CASE WHEN rk <= 100 THEN dist END) AS BIGINT)
      |    AS kept_inertia
      |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val cap = 100
    val w = Window.partitionBy("cid")
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    kmeansAssignments(s, d)
      .withColumn("rk", row_number().over(w))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_total"),
        count(when(col("rk") <= cap, 1)).as("n_kept"),
        sum(when(col("rk") <= cap, col("vec_id"))).cast("long")
          .as("kept_id_sum"),
        sum(when(col("rk") <= cap, col("dist"))).cast("long")
          .as("kept_inertia"))
      .orderBy("cid")
  }

  /** q130 — TWO POWER ITERATIONS over the (symmetrized) Gram matrix:
    * the top-principal-direction primitive that completes the q127
    * story. Instead of float normalization, each matvec truncation-
    * divides by 2^16 — a fixed deterministic rescale — so both
    * iterations stay exact integers and the 64 resulting components
    * hash-match DuckDB's join-replay of the same recurrence. The
    * matvec is a 4096-cell × 64-row join: constant-sized whatever the
    * corpus, because the DATA-sized pass already happened inside the
    * one-pass Gram aggregate.
    */
  val powerIteration = QueryDef("q130_power_iteration",
    """WITH qv AS (
      |  SELECT list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      |  FROM embeddings),
      |tri AS (
      |  SELECT i.i, j.j, CAST(sum(v[i.i] * v[j.j]) AS BIGINT) AS g
      |  FROM qv, generate_series(1, 64) AS i(i),
      |       generate_series(1, 64) AS j(j)
      |  WHERE i.i <= j.j GROUP BY 1, 2),
      |gm AS (SELECT i, j, g FROM tri
      |       UNION ALL SELECT j, i, g FROM tri WHERE i < j),
      |v1 AS (SELECT i, CAST(sum(g) AS BIGINT) // 65536 AS v
      |       FROM gm GROUP BY 1),
      |v2 AS (SELECT gm.i, CAST(sum(gm.g * v1.v) AS BIGINT) // 65536 AS v
      |       FROM gm JOIN v1 ON gm.j = v1.i GROUP BY 1)
      |SELECT CAST(i AS INT) AS i, v FROM v2 ORDER BY i""".stripMargin) {
    (s, d) =>
    import graft.functions.GramExpr.gram
    val qv = Tables.embeddings(s, d).select(
      transform(col("embedding"),
        x => floor(x.cast("double") * 1000).cast("long")).as("v"))
    val tri = qv.agg(gram(col("v"), 64).as("gm"))
      .select(explode(col("gm")).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"), col("c.g").as("g"))
    val gm = tri.unionAll(tri.filter(col("i") < col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("g")))
    val v1 = gm.groupBy(col("i"))
      .agg(expr("CAST(sum(g) AS BIGINT) div 65536").as("v"))
      .withColumnRenamed("i", "vi")
    gm.join(broadcast(v1), col("j") === col("vi"))
      .groupBy(col("i"))
      .agg(expr("CAST(sum(g * v) AS BIGINT) div 65536").as("v"))
      .orderBy("i")
  }

  /** q160 — PRODUCT-QUANTIZATION ANN (Jégou-Douze-Schmid 2011), the
    * memory-bound scale path brute cosine (q40) and IVF (q56) don't
    * cover: vectors compress to m sub-space centroid CODES (here 8
    * sub-spaces × 8 dims, 4 centroids each → 8 small ints per vector
    * instead of 64 floats — the compression that lets a 100 TB corpus'
    * index live in RAM), and a query scans CODES ONLY via an
    * asymmetric-distance LUT (m×k partial distances computed once per
    * query, broadcast; the scan is one hash-agg over the code table —
    * no vector arithmetic per row). Everything is integer-exact in the
    * q129 discipline: quantized components, deterministic sub-space
    * codebooks (four spread seed vectors, ONE Lloyd update, truncation
    * division, ties broken on centroid id), so DuckDB replays codebook
    * training, encoding, the LUT, and the ADC top-10 bit-for-bit —
    * the full PQ pipeline is hash-gated, not just its shape.
    */
  val pqAnn = QueryDef("q160_pq_ann",
    """WITH qv AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      |  FROM embeddings),
      |sub AS (
      |  SELECT vec_id, j, v[j * 8 + 1 : j * 8 + 8] AS sv
      |  FROM qv, generate_series(0, 7) AS s(j)),
      |c0 AS (SELECT j, vec_id AS cid, sv AS c FROM sub
      |       WHERE vec_id IN (0, 100, 200, 300)),
      |d1 AS (
      |  SELECT s.vec_id, s.j, c.cid,
      |    CAST(sum((s.sv[g.i] - c.c[g.i]) * (s.sv[g.i] - c.c[g.i]))
      |      AS BIGINT) AS dist
      |  FROM sub s JOIN c0 c ON s.j = c.j,
      |       generate_series(1, 8) AS g(i)
      |  GROUP BY 1, 2, 3),
      |a1 AS (
      |  SELECT vec_id, j, cid FROM (
      |    SELECT vec_id, j, cid,
      |      row_number() OVER (PARTITION BY vec_id, j
      |        ORDER BY dist, cid) AS rn FROM d1) WHERE rn = 1),
      |cs AS (
      |  SELECT a1.j, a1.cid, g.i AS i,
      |    CAST(sum(s.sv[g.i]) AS BIGINT) // count(*) AS cv
      |  FROM a1 JOIN sub s USING (vec_id, j),
      |       generate_series(1, 8) AS g(i)
      |  GROUP BY 1, 2, 3),
      |c1 AS (SELECT j, cid, list(cv ORDER BY i) AS c FROM cs
      |       GROUP BY 1, 2),
      |d2 AS (
      |  SELECT s.vec_id, s.j, c.cid,
      |    CAST(sum((s.sv[g.i] - c.c[g.i]) * (s.sv[g.i] - c.c[g.i]))
      |      AS BIGINT) AS dist
      |  FROM sub s JOIN c1 c ON s.j = c.j,
      |       generate_series(1, 8) AS g(i)
      |  GROUP BY 1, 2, 3),
      |codes AS (
      |  SELECT vec_id, j, cid FROM (
      |    SELECT vec_id, j, cid,
      |      row_number() OVER (PARTITION BY vec_id, j
      |        ORDER BY dist, cid) AS rn FROM d2) WHERE rn = 1),
      |lut AS (
      |  SELECT c.j, c.cid,
      |    CAST(sum((q.sv[g.i] - c.c[g.i]) * (q.sv[g.i] - c.c[g.i]))
      |      AS BIGINT) AS qdist
      |  FROM c1 c JOIN sub q ON q.j = c.j AND q.vec_id = 42,
      |       generate_series(1, 8) AS g(i)
      |  GROUP BY 1, 2),
      |adist AS (
      |  SELECT codes.vec_id, CAST(sum(lut.qdist) AS BIGINT) AS adist
      |  FROM codes JOIN lut USING (j, cid) GROUP BY 1)
      |SELECT vec_id, adist FROM adist
      |ORDER BY adist, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    val m = 8; val dsub = 8
    val qv = Tables.embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 1000).cast("long")).as("v"))
    // (vec_id, j, sv): the m sub-vectors of every vector
    val sub = qv.select(col("vec_id"),
        explode(sequence(lit(0), lit(m - 1))).as("j"), col("v"))
      .select(col("vec_id"), col("j"),
        slice(col("v"), col("j") * dsub + 1, lit(dsub)).as("sv"))
    val c0 = sub.filter(col("vec_id").isin(0L, 100L, 200L, 300L))
      .select(col("j"), col("vec_id").as("cid"), col("sv").as("c"))
    // native codegen sqdist (VecSqDistExpr) — bit-identical to the HOF
    // fold it replaced; see the expression's doc for the exactness note
    def dist2 = graft.functions.VecSqDistExpr.sqdist(col("sv"), col("c"))
    // argmin as a partial-aggregating min(struct(dist, cid, …)): struct
    // ordering compares dist then cid — the same total order the
    // row_number window used — but aggregates map-side and never sorts
    def assign(centers: DataFrame) =
      sub.join(broadcast(centers), Seq("j"))
        .select(col("vec_id"), col("j"), col("cid"), col("sv"),
          dist2.as("dist"))
        .groupBy(col("vec_id"), col("j"))
        .agg(min(struct(col("dist"), col("cid"), col("sv"))).as("m"))
        .select(col("vec_id"), col("j"), col("m.cid").as("cid"),
          col("m.sv").as("sv"), col("m.dist").as("dist"))
    val a1 = assign(c0)
    // per-sub-space centroid update: truncation-divided integer means
    val c1 = a1.select(col("j"), col("cid"),
        posexplode(col("sv")).as(Seq("i", "comp")))
      .groupBy(col("j"), col("cid"), col("i"))
      .agg(sum("comp").as("sm"), count(lit(1)).as("mcnt"))
      .withColumn("cv", expr("sm div mcnt"))
      .groupBy("j", "cid")
      .agg(array_sort(collect_list(struct(col("i"), col("cv"))))
        .as("pairs"))
      .select(col("j"), col("cid"),
        transform(col("pairs"), p => p.getField("cv")).as("c"))
    val codes = assign(c1).select(col("vec_id"), col("j"), col("cid"))
    // ADC lookup table: the query's m×k partial distances — one tiny
    // broadcast relation; the scan below never touches a vector again
    val lut = sub.filter(col("vec_id") === 42L)
      .join(broadcast(c1), Seq("j"))
      .select(col("j"), col("cid"), dist2.as("qdist"))
    codes.join(broadcast(lut), Seq("j", "cid"))
      .groupBy("vec_id")
      .agg(sum("qdist").cast("long").as("adist"))
      .orderBy(col("adist"), col("vec_id"))
      .limit(10)
  }

  /** q172 — SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023): cluster the
    * embedding space, then compare pairs ONLY within clusters and drop
    * every vector that sits within τ of a lower-id clustermate — the
    * lower-id-wins rule that makes the survivor set deterministic.
    * Composes q129's exact integer k-means (same [[KmeansCtes]] replay
    * in the oracle) with an integer squared-distance pair join, so the
    * whole pipeline — assignment, pairing, thresholding, survivor
    * arithmetic — is engine-exact; τ = 1,300,000 sits in the observed
    * distance distribution's thin near-dup tail (min pair ≈ 1.04M,
    * 0.1 % quantile ≈ 1.24M on the synthetic corpus).
    *
    * Scale shape — the reason SemDeDup exists: the pair join is keyed
    * on cluster id, so candidate pairs are Σ|cluster|², never n² —
    * and the GATED entry derives `k = max(4, n/125)` from the corpus
    * itself ([[KmeansCtes]]), so expected cluster size — and each
    * cid-partition's quadratic — stays bounded at every scale (the
    * same mega-bucket discipline as the LSH `maxBucket` guard), with
    * the DuckDB oracle replaying the identical derivation rather than
    * a pinned k. One hash shuffle on cid,
    * one distinct on the loser ids, one broadcast-free left-anti —
    * nothing global, nothing driver-side.
    */
  val semanticDedup = QueryDef("q172_semantic_dedup",
    s"""WITH $KmeansCtes,
      |m AS (SELECT a2.vec_id, a2.cid, qv.v
      |      FROM a2 JOIN qv USING (vec_id)),
      |pairs AS (
      |  SELECT a.cid, a.vec_id AS i,
      |    CAST(sum((a.v[g.k] - b.v[g.k]) * (a.v[g.k] - b.v[g.k]))
      |      AS BIGINT) AS d2
      |  FROM m a JOIN m b ON a.cid = b.cid AND b.vec_id < a.vec_id,
      |    generate_series(1, 64) AS g(k)
      |  GROUP BY a.cid, a.vec_id, b.vec_id),
      |dups AS (SELECT DISTINCT cid, i FROM pairs WHERE d2 <= 1300000)
      |SELECT m.cid,
      |  CAST(count(*) AS BIGINT) AS n_total,
      |  CAST(count(dups.i) AS BIGINT) AS n_dup,
      |  CAST(sum(CASE WHEN dups.i IS NULL THEN m.vec_id END) AS BIGINT)
      |    AS survivor_id_sum
      |FROM m LEFT JOIN dups ON m.cid = dups.cid AND m.vec_id = dups.i
      |GROUP BY m.cid ORDER BY m.cid""".stripMargin) { (s, d) =>
    val tau = 1300000L
    // the assignment relation feeds THREE plan branches (both sides of
    // the within-cluster pair join and the final survivor rollup) —
    // persisted so the two-Lloyd-round k-means lineage runs once, not
    // three times (the q132 shingle-cache discipline; LRU-evictable,
    // stays live across the caller's action like every other in-query
    // persist here)
    val m = kmeansAssignments(s, d).select("cid", "vec_id", "v").persist()
    val d2 = graft.functions.VecSqDistExpr.sqdist(col("a.v"), col("b.v"))
    val dups = m.as("a").join(m.as("b"),
        col("a.cid") === col("b.cid") &&
          col("b.vec_id") < col("a.vec_id"))
      .select(col("a.cid").as("cid"), col("a.vec_id").as("i"), d2.as("d2"))
      .filter(col("d2") <= tau)
      .select("cid", "i").distinct()
    m.join(dups, m("cid") === dups("cid") && m("vec_id") === dups("i"),
        "left")
      .groupBy(m("cid"))
      .agg(count(lit(1)).as("n_total"),
        count(dups("i")).as("n_dup"),
        sum(when(dups("i").isNull, m("vec_id"))).cast("long")
          .as("survivor_id_sum"))
      .orderBy(m("cid"))
  }

  /** q184 — VERSIONED ANN: the IVF index under the table layer's
    * lineage discipline ([[graft.ops.IvfIndex.buildAt]]/`openAt`).
    * Blooms and curve stats already follow commits; a bare
    * side-directory index is the one derived artifact that silently
    * stales after any delete/MERGE. Here each index pins the exact
    * (table, version) it serves: the corpus commits as a snapshot
    * table, v1 indexes the full corpus, a COW delete drops the low
    * vec_id quarter, v2 indexes the survivor state — and probes at
    * BOTH versions answer from their own version's index
    * (require-asserted: opening a version without an index fails
    * loudly rather than serving a neighbor; the v2 probe can never
    * surface a deleted vector, the v1 probe still can — time travel
    * for similarity search). DuckDB re-ranks the dumped candidate
    * pairs per version, so a probe that answered from the wrong
    * version's index hash-mismatches.
    */
  val versionedAnn: QueryDef = {
    val path = graft.Work.oracleDumpPath("q184_table")
    // the COW delete drops vec_id in [0, cut]
    def cutOf(s: SparkSession, d: String) =
      graft.Tables.rowCount(s, d, "embeddings") / 4 - 1
    def probePairs(s: SparkSession, cut: Long, version: Long) = {
      val idx = IvfIndex.openAt(s, path, version)
      val nprobe = IvfIndex.deriveNprobe(idx.centroids.length)
      // survivor queries only, so both versions answer the same batch
      val q = idx.corpus
        .filter(col("vec_id") % 100 === 0 && col("vec_id") > cut)
        .select(col("vec_id").as("q_id"), col("emb").as("qe"))
        .withColumn("qn", sqrt(dot(col("qe"), col("qe"))))
        .withColumn("probe_cell",
          explode(transform(
            IvfIndex.nearestCells(col("qe"), idx.centroids, nprobe),
            _.getField("cid"))))
      idx.corpus.join(broadcast(q),
          col("cell") === col("probe_cell") &&
            col("vec_id") =!= col("q_id"))
        .select(lit(version).as("version"), col("q_id"),
          col("vec_id").as("neighbor_id"),
          (dot(col("qe"), col("emb")) / (col("qn") * col("nrm")))
            .as("cos"))
        .withColumn("cos_r", round(col("cos"), 6))
    }
    QueryDef("q184_versioned_ann",
      """SELECT version, q_id, CAST(rn AS INT) AS rank, neighbor_id,
        |  cos_r AS cos
        |FROM (SELECT *, row_number() OVER (PARTITION BY version, q_id
        |        ORDER BY cos DESC, neighbor_id) AS rn
        |      FROM read_parquet('/tmp/graft-oracle/q184_pairs/*.parquet'))
        |WHERE rn <= 3 ORDER BY version, q_id, rank""".stripMargin,
      setup = { (s, d) =>
        val cut = cutOf(s, d)
        graft.Work.wipe(java.nio.file.Paths.get(path))
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), toDouble(col("embedding")).as("emb"))
        SnapshotTable.append(e, path, numPartitions = 4,
          statsCol = Some("vec_id"))
        IvfIndex.buildAt(s, path, 1)
        SnapshotTable.deleteStatsRange(s, path, 0, cut)
        IvfIndex.buildAt(s, path, 2)
        graft.Work.oracleDump(s, "q184_pairs",
          probePairs(s, cut, 1L).unionByName(probePairs(s, cut, 2L)))
      }) { (s, d) =>
      val cut = cutOf(s, d)
      // a version without an index refuses — never a silent answer from
      // another version's index
      val stale =
        try { IvfIndex.openAt(s, path, 3); false }
        catch { case _: IllegalArgumentException => true }
      require(stale, "openAt served a version that has no index")
      val p1 = probePairs(s, cut, 1L)
      val p2 = probePairs(s, cut, 2L)
      // lineage is live, not decorative: v1's index still reaches the
      // deleted quarter, v2's cannot
      require(p1.filter(col("neighbor_id") <= cut).limit(1).count() == 1L,
        "v1 probe lost the pre-delete corpus")
      require(p2.filter(col("neighbor_id") <= cut).limit(1).count() == 0L,
        "v2 probe resurrected deleted vectors — wrong version's index")
      val rn = row_number().over(Window.partitionBy(col("version"),
        col("q_id")).orderBy(col("cos").desc, col("neighbor_id")))
      s.read.parquet(graft.Work.oracleDumpPath("q184_pairs"))
        .withColumn("rank", rn).filter(col("rank") <= 3)
        .select(col("version"), col("q_id"), col("rank"),
          col("neighbor_id"), col("cos_r").as("cos"))
        .orderBy("version", "q_id", "rank")
    }
  }

  val all: Seq[QueryDef] = Seq(cosineTopK, lshBuckets, annBucketed, sqlVecFunctions, ivfAnn,
    embeddingDedup, int8Quantize, gramMatrix, kmeans, clusterSample,
    powerIteration, pqAnn, semanticDedup, versionedAnn)
}
