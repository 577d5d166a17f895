package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-21 optimization guards.
  *
  * The r21 rewrites restructure HOW q132 / q136 compute (basket-pattern
  * pair generation instead of self-joins) without changing WHAT they
  * compute — these tests pin the contract against an independent
  * brute-force restatement of each oracle's semantics, so a candidate
  * dropped by the restructure fails here before it can hash-mismatch
  * at the driver.
  *
  * Plus the harness cache-sweep guard: no in-query `.persist()` may
  * outlive its query's action once the harness sweep runs (the r20
  * verdict's item 2 — caches accumulating across the suite both
  * pressured later queries and let bench iterations 2+ serve from
  * iteration 1's cache).
  */
class R21OptimizationSpec extends SparkSpec {

  private val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** The q132 shingle set, restated independently in SQL (the same
    * zip-of-shifted-views construction TextPipeline.shingles uses).
    */
  private def shingleSets(sf: String): DataFrame =
    Tables.documents(spark, sf)
      .select(col("doc_id"), expr(
        """array_distinct(filter(zip_with(
          |  zip_with(split(trim(text), '\\s+'),
          |    slice(split(trim(text), '\\s+'), 2,
          |      greatest(size(split(trim(text), '\\s+')) - 1, 0)),
          |    (a, b) -> concat(a, ' ', b)),
          |  slice(split(trim(text), '\\s+'), 3,
          |    greatest(size(split(trim(text), '\\s+')) - 2, 0)),
          |  (p, c) -> concat(p, ' ', c)), x -> x IS NOT NULL))
          |""".stripMargin).as("sg"))

  test("q132 basket-pattern candidates match brute-force set-similarity") {
    for (sf <- sfs) {
      val got = queries.TextPipeline.setsimJoin.fn(spark, sf)
      val tok = shingleSets(sf).select(col("doc_id"),
        size(col("sg")).as("n"), explode(col("sg")).as("t"))
      // brute force: the oracle's own shape — token self-join, exact
      // intersection count per pair, integer-bp Jaccard threshold
      val brute = tok.as("a").join(tok.as("b"),
          col("a.t") === col("b.t") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          col("a.n").as("na"), col("b.n").as("nb"))
        .agg(count(lit(1)).as("i"))
        .select(col("id_a"), col("id_b"),
          col("i").cast("long").as("inter_n"),
          (col("na") + col("nb") - col("i")).cast("long").as("union_n"),
          expr("(i * 10000) div (na + nb - i)").cast("long")
            .as("jaccard_bp"))
        .filter(col("jaccard_bp") >= 5000)
        .orderBy("id_a", "id_b")
      val b = rows(brute)
      assert(rows(got) === b, s"q132 mismatch at $sf")
      if (sf.endsWith("sf0.01"))
        assert(b.nonEmpty, "fixture must actually exercise near-dup pairs")
      GraftSession.sweepCaches(spark)
    }
  }

  test("q132 prefilter keeps every pair however far collisions inflate " +
      "the hash-level intersection (ih = na + nb included)") {
    import spark.implicits._
    val kept = Seq(3L, 4L, 9L, 10L, 11L).map(ih => (ih, 5, 5))
      .toDF("ih", "na", "nb")
      .filter(queries.TextPipeline.hashJaccardKeeps(
        col("ih"), col("na"), col("nb")))
      .select("ih").as[Long].collect().toSet
    // 3/7 < 1/2 drops; 4/6 keeps; 9, 10 and 11 clamp to 9/1
    assert(kept === Set(4L, 9L, 10L, 11L))
  }

  test("q136 basket-pattern pairs match the brute-force gram self-join") {
    val SubL = 40
    for (sf <- sfs) {
      val got = queries.TrainingPrep.exactSubstringDup.fn(spark, sf)
      val g = Tables.documents(spark, sf)
        .filter(length(col("text")) >= SubL)
        .select(col("doc_id"), explode(array_distinct(expr(
          s"transform(sequence(1, length(text) - ${SubL - 1}), " +
            s"i -> substring(text, i, $SubL))"))).as("g"))
      val brute = g.select(col("doc_id").as("id_a"), col("g"))
        .join(g.select(col("doc_id").as("id_b"), col("g")), "g")
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
        .orderBy("id_a", "id_b")
      val b = rows(brute)
      assert(rows(got) === b, s"q136 mismatch at $sf")
      if (sf.endsWith("sf0.01"))
        assert(b.nonEmpty, "fixture must actually exercise shared grams")
      GraftSession.sweepCaches(spark)
    }
  }

  test("native word-ngrams is bit-identical to the zip_with fold") {
    import graft.functions.WordNgramsExpr.wordNgrams
    // the construction WordNgramsExpr replaced — k-1 chained zip_with
    // steps over shifted token-array views, nulls filtered
    def foldNgrams(text: org.apache.spark.sql.Column, k: Int) = {
      val ts = split(trim(text), "\\s+")
      val n = size(ts)
      val joined = (2 to k).foldLeft(ts) { (acc, i) =>
        zip_with(acc, slice(ts, lit(i), greatest(n - (i - 1), lit(0))),
          (a, b) => concat(a, lit(" "), b))
      }
      filter(joined, _.isNotNull)
    }
    for (sf <- sfs; k <- Seq(2, 3, 5, 8)) {
      val edge = Seq("", " ", "a", "a b", "\ta  b\nc d e f g h i",
        "x " * 20).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      import spark.implicits._
      val corpus = Tables.documents(spark, sf)
        .select(col("doc_id"), col("text"))
        .unionByName(edge.toDF("doc_id", "text"))
      val mismatch = corpus.select(
        wordNgrams(col("text"), k, distinct = false).as("native"),
        foldNgrams(col("text"), k).as("fold"),
        wordNgrams(col("text"), k, distinct = true).as("native_d"),
        array_distinct(foldNgrams(col("text"), k)).as("fold_d"))
        .filter(col("native") =!= col("fold") ||
          col("native_d") =!= col("fold_d"))
        .count()
      assert(mismatch === 0L, s"k=$k at $sf")
    }
  }

  test("harness sweep leaves zero registered caches behind") {
    // q132 persists its shingle relation for the action's branches; the
    // sweep the harness runs after every action must clear it
    queries.TextPipeline.setsimJoin.fn(spark, sfs.head)
      .write.format("noop").mode("overwrite").save()
    assert(!spark.sharedState.cacheManager.isEmpty)
    GraftSession.sweepCaches(spark)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
