package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** LLM-training-data pipeline operators over `documents.parquet`:
  * deduplication (exact, minhash/LSH-banded, simhash), n-gram Jaccard
  * verification, and text analysis (token stats, quality scoring,
  * language-ID heuristic, document fingerprinting).
  *
  * Scale design (the point of these operators at 100 TB):
  *  - NOTHING is all-pairs. Near-dup candidates come from a banded
  *    minhash self-join — each doc lands in B buckets, pairs are generated
  *    only inside a bucket (groupBy/join on the band key shuffles by
  *    bucket, so skew is bounded by the largest true near-dup cluster, and
  *    a mega-bucket cap can be added as a HAVING before the self-join).
  *  - Exact dedup is a single hash-aggregate on md5(text) — one shuffle of
  *    (16-byte digest, doc_id), never the text payload.
  *  - Jaccard verification runs ONLY on LSH candidates (419 pairs at
  *    sf0.01, not the 124,750 of all-pairs).
  *  - Signatures are pure Column expressions over the tokenized text —
  *    codegen'd, no UDFs, no driver-side loops.
  */
object TextPipeline {

  /** Whitespace tokens, matching a `text.split()`-style tokenizer. */
  private def tokens(text: Column): Column =
    split(trim(text), "\\s+")

  /** Distinct 3-gram word shingles — one native codegen pass
    * ([[graft.functions.WordNgramsExpr]], r21). The previous zip-of-
    * shifted-views construction was O(n) in ARRAY passes but its
    * zip_with lambdas evaluate interpreted per element and each fold
    * step re-concatenates partial gram strings; the native pass builds
    * each gram exactly once (bit-identical output, pinned by
    * R21OptimizationSpec against the zip_with form over the corpus).
    * Shingle ORDER (first occurrence) matches the old form and differs
    * from the generate_series form the oracle uses, but every consumer
    * is order-insensitive (set min / intersect size).
    */
  private def shingles(text: Column): Column =
    graft.functions.WordNgramsExpr.wordNgrams(text, 3, distinct = true)

  /** Keyed minhash: min over the shingle set of md5("<h>:" ++ shingle) —
    * one independent permutation approximation per key h.
    */
  private def minhash(sg: Column, h: Int): Column =
    array_min(transform(sg, t => md5(concat(lit(s"$h:"), t))))

  private val Stopwords = Seq("the", "a", "of", "to", "in", "and")

  /** Text analysis: per-(lang, source) token statistics. */
  val tokenStats = QueryDef("q32_token_stats",
    """SELECT lang, source, count(*) AS n_docs,
      |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS sum_tokens,
      |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS DOUBLE) / count(*) AS avg_tokens,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin) { (s, d) =>
    val nTok = size(tokens(col("text")))
    Tables.documents(s, d)
      .select(col("lang"), col("source"), nTok.as("nt"), col("n_chars"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("sum_tokens"),
        // exact-int sum / count, not avg(): deterministic across engines;
        // CAST(... AS BIGINT) on the DuckDB side because sum(BIGINT) is
        // HUGEINT there, which pandas renders as float64 and the driver's
        // exact hash then sees 123.0 vs 123
        (sum(col("nt")).cast("double") / count(lit(1))).as("avg_tokens"),
        sum(col("n_chars")).as("sum_chars"))
  }

  /** Text analysis: per-document quality scoring — token count, stopword
    * ratio, average token length, and a quality bucket from
    * length/stopword heuristics (the standard pre-training filters).
    */
  val qualityScore = QueryDef("q33_quality_score",
    s"""SELECT doc_id, n_tokens,
       |  round(n_stop / CAST(n_tokens AS DOUBLE), 6) AS stop_ratio,
       |  round((n_chars - n_tokens + 1) / CAST(n_tokens AS DOUBLE), 6) AS avg_token_len,
       |  CASE WHEN n_tokens BETWEEN 20 AND 1000
       |         AND n_stop / CAST(n_tokens AS DOUBLE) < 0.3 THEN 'good'
       |       WHEN n_tokens >= 20 THEN 'fair'
       |       ELSE 'short' END AS quality
       |FROM (
       |  SELECT doc_id, n_chars,
       |    len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
       |    len(list_filter(string_split_regex(trim(text), '\\s+'),
       |        t -> t IN (${Stopwords.map("'" + _ + "'").mkString(", ")}))) AS n_stop
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val ts = tokens(col("text"))
    val base = Tables.documents(s, d).select(col("doc_id"), col("n_chars"),
      size(ts).as("n_tokens"),
      size(filter(ts, t => t.isin(Stopwords: _*))).as("n_stop"))
    val stopRatio = col("n_stop") / col("n_tokens").cast("double")
    base.select(col("doc_id"), col("n_tokens"),
      round(stopRatio, 6).as("stop_ratio"),
      // chars minus the (n_tokens-1) separating spaces, per token
      round((col("n_chars") - col("n_tokens") + 1) / col("n_tokens").cast("double"), 6)
        .as("avg_token_len"),
      when(col("n_tokens").between(20, 1000) && stopRatio < 0.3, "good")
        .when(col("n_tokens") >= 20, "fair")
        .otherwise("short").as("quality"))
  }

  /** Text analysis: stopword-profile language-ID heuristic (an n-gram/
    * stopword scorer: docs whose English-stopword ratio clears a threshold
    * classify "en", else "und"), reported as a per-actual-lang confusion
    * summary.
    */
  val langId = QueryDef("q34_lang_id",
    s"""SELECT lang, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN n_stop / CAST(n_tokens AS DOUBLE) >= 0.05
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_en
       |FROM (
       |  SELECT lang,
       |    len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
       |    len(list_filter(string_split_regex(trim(text), '\\s+'),
       |        t -> t IN (${Stopwords.map("'" + _ + "'").mkString(", ")}))) AS n_stop
       |  FROM documents)
       |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    val ts = tokens(col("text"))
    Tables.documents(s, d).select(col("lang"),
      size(ts).as("n_tokens"),
      size(filter(ts, t => t.isin(Stopwords: _*))).as("n_stop"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_stop") / col("n_tokens").cast("double") >= 0.05, 1)
          .otherwise(0)).as("n_pred_en"))
  }

  /** Text analysis: document fingerprints — a canonical-form fingerprint
    * (md5 of the sorted distinct token set, word-order-insensitive) and a
    * min-shingle-hash fingerprint (the h=0 minhash, an order-sensitive
    * rolling-hash analogue).
    */
  val fingerprint = QueryDef("q35_fingerprint",
    """SELECT doc_id,
      |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp_canonical,
      |  list_min(list_transform(
      |    list_distinct(list_transform(generate_series(1, len(string_split(text,' '))-2),
      |      i -> array_to_string(string_split(text,' ')[i:i+2], ' '))),
      |    t -> md5('0:' || t))) AS fp_minshingle
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(col("doc_id"),
      md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " ")))))
        .as("fp_canonical"),
      minhash(shingles(col("text")), 0).as("fp_minshingle"))
  }

  /** Exact dedup: hash-group on md5(text), first-wins survivor election
    * (min doc_id). One shuffle of (digest, doc_id) pairs — the text
    * payload never moves.
    */
  val exactDedup = QueryDef("q36_exact_dedup",
    """SELECT md5(text) AS checksum, min(doc_id) AS survivor_id,
      |  count(*) AS n_dups
      |FROM documents GROUP BY md5(text) ORDER BY survivor_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(md5(col("text")).as("checksum"), col("doc_id"))
      .groupBy(col("checksum"))
      .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("n_dups"))
  }

  /** Near-dup candidates via banded minhash LSH: 4 bands × 1 minhash over
    * 3-gram shingles; docs sharing any band bucket become a candidate
    * pair. The self-join is per-bucket (shuffle on the band key), never
    * all-pairs.
    */
  val minhashBands = QueryDef("q37_minhash_bands",
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, len(string_split(text,' '))-2),
      |      i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS sg
      |  FROM documents),
      |bands AS (
      |  SELECT doc_id, b,
      |    list_min(list_transform(sg, t -> md5(CAST(b AS VARCHAR) || ':' || t))) AS key
      |  FROM sh, generate_series(0, 3) g(b))
      |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key
      |  AND a.doc_id < b.doc_id
      |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    // persist: the signature relation is both sides of the self-join
    val bands = bandedSignatures(
      Tables.documents(s, d)
        .select(col("doc_id"), shingles(col("text")).as("sg"))).persist()
    candidatePairs(s, bands)
  }

  /** n-gram Jaccard verification of the LSH candidates: exact 3-gram-set
    * Jaccard computed ONLY for pairs sharing a band bucket; pairs clearing
    * 0.5 are confirmed near-duplicates.
    */
  /** Shared oracle CTEs: shingles → minhash bands → candidate pairs →
    * jaccard-verified near-dup pairs (used by q38 and q68's closure).
    */
  private val pairCtes =
    """sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, len(string_split(text,' '))-2),
      |      i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS sg
      |  FROM documents),
      |bands AS (
      |  SELECT doc_id, b,
      |    list_min(list_transform(sg, t -> md5(CAST(b AS VARCHAR) || ':' || t))) AS key
      |  FROM sh, generate_series(0, 3) g(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key
      |    AND a.doc_id < b.doc_id),
      |pairs AS (
      |  SELECT id_a, id_b,
      |    CAST(len(list_intersect(s1.sg, s2.sg)) AS DOUBLE) /
      |      (len(s1.sg) + len(s2.sg) - len(list_intersect(s1.sg, s2.sg))) AS j
      |  FROM cand
      |  JOIN sh s1 ON s1.doc_id = id_a
      |  JOIN sh s2 ON s2.doc_id = id_b
      |  WHERE CAST(len(list_intersect(s1.sg, s2.sg)) AS DOUBLE) /
      |        (len(s1.sg) + len(s2.sg) - len(list_intersect(s1.sg, s2.sg))) >= 0.5)""".stripMargin

  val ngramJaccard = QueryDef("q38_ngram_jaccard",
    s"""WITH $pairCtes
      |SELECT id_a, id_b, round(j, 6) AS jaccard
      |FROM pairs ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    // The shingle relation feeds FOUR plan branches (both self-join sides
    // of the candidate generation plus both sides of the pair join);
    // without persisting, Spark recomputes the shingle+minhash expressions
    // per branch — measured 293 s vs ~20 s at sf0.1. At cluster scale the
    // same holds: signatures are computed once, kept columnar in memory/
    // disk, reused across the LSH stages.
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), shingles(col("text")).as("sg"))
      .persist()
    val bands = bandedSignatures(sh).persist()
    val cand = candidatePairs(s, bands)
    val joined = cand
      .join(sh.select(col("doc_id").as("id_a"), col("sg").as("sg_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sg").as("sg_b")), "id_b")
    val inter = size(array_intersect(col("sg_a"), col("sg_b"))).cast("double")
    val jaccard = inter / (size(col("sg_a")) + size(col("sg_b")) - inter)
    joined.filter(jaccard >= 0.5)
      .select(col("id_a"), col("id_b"), round(jaccard, 6).as("jaccard"))
  }

  /** SimHash: 32-bit fingerprint over the distinct token set, in the
    * fully relational two-level-aggregate form (explode tokens × bit
    * positions → per-bit majority vote → bit reassembly) — the shape that
    * distributes: both aggregations are hash-aggs keyed by (doc, bit) /
    * doc.
    */
  val simhash = QueryDef("q39_simhash",
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS hv FROM tok),
      |bits AS (
      |  SELECT doc_id, j, sum(((hv >> j) & 1) * 2 - 1) AS s
      |  FROM h, generate_series(0, 31) g(j) GROUP BY doc_id, j)
      |SELECT doc_id,
      |  CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
      |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val tok = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("t"))
    val h = tok.select(col("doc_id"),
      conv(substring(md5(col("t")), 1, 8), 16, 10).cast("long").as("hv"))
    val bits = h
      .select(col("doc_id"), col("hv"), explode(sequence(lit(0), lit(31))).as("j"))
      .groupBy(col("doc_id"), col("j"))
      .agg(sum((expr("(hv >> j) & 1") * 2 - 1)).as("s"))
    bits.groupBy(col("doc_id"))
      .agg(sum(when(col("s") > 0, expr("cast(1 as bigint) << j")).otherwise(0L))
        .as("simhash"))
  }

  /** Shared 4-band minhash signature relation over a (doc_id, sg)
    * shingle-set input: (doc_id, band, key).
    *
    * Relational form — explode shingles × bands, hash, groupBy-min —
    * rather than per-row array transforms: every operator here is
    * whole-stage-codegen'd (the HOF `transform`+`array_min` route
    * evaluates interpreted per element), and the same shape is the one
    * that scales: signature computation becomes one shuffle keyed by
    * (doc, band) with map-side partial min.
    */
  private def bandedSignatures(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), explode(col("sg")).as("shingle"))
      .select(col("doc_id"), explode(sequence(lit(0), lit(3))).as("band"),
        col("shingle"))
      .select(col("doc_id"), col("band"),
        md5(concat(col("band").cast("string"), lit(":"), col("shingle")))
          .as("h"))
      .groupBy(col("doc_id"), col("band"))
      .agg(min(col("h")).as("key"))

  /** LSH candidate pairs from a (doc_id, band, key) signature relation —
    * the per-bucket self-join, with the mega-bucket guard that keeps the
    * join from going quadratic at scale: a bucket of n docs emits n²/2
    * pairs, so one degenerate bucket (boilerplate text, empty documents, a
    * hot template) can dominate the whole job at 100 TB. When
    * `spark.graft.lsh.maxBucket` is set (> 0), buckets larger than the cap
    * are dropped before the self-join via a semi-join against the
    * per-bucket counts (same shuffle key as the join itself, so the guard
    * adds one hash-agg, not a new shuffle shape). Docs in a dropped bucket
    * still pair through their other bands — band redundancy is exactly
    * what makes the cap safe for recall. Default (unset / 0) is
    * unlimited, which keeps the q37/q38 oracles exact.
    */
  private def candidatePairs(spark: SparkSession, bands: DataFrame): DataFrame = {
    val cap = spark.conf.getOption("spark.graft.lsh.maxBucket")
      .map(_.toInt).getOrElse(0)
    val pruned =
      if (cap <= 0) bands
      else bands.join(
        bands.groupBy(col("band"), col("key"))
          .agg(count(lit(1)).as("n")).filter(col("n") <= cap),
        Seq("band", "key"), "left_semi")
    pruned.as("a")
      .join(pruned.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** Token counting, the BPE-ish form: a GPT-2-style pretokenizer regex
    * (contraction suffixes | space-prefixed letter runs | digit runs |
    * punctuation runs) counted per document next to the whitespace count
    * — the standard cheap token-budget estimator for training-data
    * accounting. Pure regexp_count, codegen'd, one map pass; the ASCII
    * classes keep Java-regex and RE2 (DuckDB) semantics identical.
    */
  val bpeTokens: QueryDef = {
    val pattern = "'(?:s|d|m|t|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"
    // only quote-doubling is needed: DuckDB single-quoted literals do not
    // process backslash escapes, so \s survives verbatim
    val sqlPattern = pattern.replace("'", "''")
    QueryDef("q59_bpe_tokens",
      s"""SELECT doc_id,
         |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_ws,
         |  CAST(len(regexp_extract_all(text, '$sqlPattern')) AS BIGINT) AS n_bpe,
         |  round(CAST(len(regexp_extract_all(text, '$sqlPattern')) AS DOUBLE)
         |    / len(string_split_regex(trim(text), '\\s+')), 6) AS bpe_per_word
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val nWs = size(tokens(col("text"))).cast("bigint")
      val nBpe = regexp_count(col("text"), lit(pattern)).cast("bigint")
      Tables.documents(s, d).select(col("doc_id"),
        nWs.as("n_ws"), nBpe.as("n_bpe"),
        round(nBpe.cast("double") / nWs, 6).as("bpe_per_word"))
    }
  }

  /** Dup CLUSTERS from the verified near-dup pairs: pairwise similarity
    * under-merges (A~B, B~C must cluster A,B,C even when A~C never
    * became a candidate pair), so the pair graph runs through connected
    * components; cluster_id = the component's smallest doc_id (the
    * canonical-document election). The oracle closes the same pair
    * relation with a recursive CTE and takes min per node.
    *
    * Routed through [[graft.ops.ConnectedComponents.components]]: min-
    * label propagation under a bounded round budget (cheapest on the
    * shallow clusters that dominate dedup graphs), auto-switching to
    * the O(log n)-round star contraction when the budget runs out — so
    * this entry point stays safe on a long-chain graph at archive
    * scale instead of paying one round per hop of the diameter. The
    * output contract (every node → component minimum) is identical on
    * both paths, so the oracle hash does not depend on the route.
    */
  val dupClusters = QueryDef("q68_dup_clusters",
    s"""WITH RECURSIVE $pairCtes,
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs),
      |nodes AS (SELECT DISTINCT src AS node FROM edges),
      |reach(node, r) AS (
      |  SELECT node, node FROM nodes
      |  UNION
      |  SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src)
      |SELECT node AS doc_id, min(r) AS cluster_id
      |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin) { (s, d) =>
    val pairs = ngramJaccard.fn(s, d)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    graft.ops.ConnectedComponents.components(pairs)
      .select(col("node").as("doc_id"), col("component").as("cluster_id"))
  }

  /** The same clustering through the O(log n)-round large-star/
    * small-star contraction (the adversarial-graph path — diameter-
    * independent, for when dup chains run long) against the identical
    * recursive-CTE oracle: both algorithms must land every node on its
    * component minimum.
    */
  val dupClustersStar = QueryDef("q78_dup_clusters_star",
    dupClusters.oracle.get) { (s, d) =>
    val pairs = ngramJaccard.fn(s, d)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    graft.ops.ConnectedComponents.runStarContraction(pairs)
      .select(col("node").as("doc_id"), col("component").as("cluster_id"))
  }

  /** TF-IDF top terms per document: term frequency × a rational inverse-
    * document-frequency weight ((N+1)/(df+1) — the usual log is avoided
    * deliberately: IEEE +,×,÷ are exactly specified so the score is
    * bit-identical across engines, while libm log differs in ulps and
    * would make ranking oracle-fragile). Three hash-aggs (tf, df, global
    * N) + one join + a per-doc top-3 window — every stage distributes;
    * df is a term-keyed aggregate whose skew is bounded by vocabulary
    * frequency, and the window partitions by doc_id (never global).
    */
  val tfidfTerms = QueryDef("q74_tfidf_terms",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
      |  FROM documents),
      |tf AS (SELECT doc_id, t, count(*) AS n FROM tok GROUP BY doc_id, t),
      |df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
      |nd AS (SELECT count(*) AS nd FROM documents),
      |s AS (
      |  SELECT doc_id, t, n * (nd + 1.0) / (df + 1.0) AS score
      |  FROM tf JOIN df USING (t) CROSS JOIN nd),
      |r AS (
      |  SELECT doc_id, t, score,
      |    CAST(row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, t) AS INT) AS rank
      |  FROM s)
      |SELECT doc_id, t AS term, round(score, 6) AS tfidf, rank
      |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("n"))
    val df = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val nd = Tables.documents(s, d).agg(count(lit(1)).as("nd"))
    val score = col("n") * (col("nd") + 1.0) / (col("df") + 1.0)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("t"))
    tf.join(df, "t").crossJoin(broadcast(nd))
      .select(col("doc_id"), col("t"), score.as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("t").as("term"),
        round(col("score"), 6).as("tfidf"), col("rank"))
  }

  /** Unicode NFC canonicalization (graft_nfc, a native codegen
    * Expression — Spark ships no normalizer built-in) vs DuckDB's
    * nfc_normalize. The ASCII corpus is already NFC, so both engines
    * append the same combining sequences (e+U+0301, A+U+0300,
    * o+U+0308) and the decomposable U+212B ANGSTROM SIGN to half the
    * docs, then must agree on the changed flag, the post-NFC character
    * count, and the digest of the normalized text. Stateless per-row —
    * one scan, no shuffle.
    */
  val nfcNormalize = QueryDef("q91_nfc_normalize",
    """WITH aug AS (
      |  SELECT doc_id, text || CASE WHEN doc_id % 2 = 0
      |    THEN ' caf' || chr(101) || chr(769) || ' ' || chr(65) ||
      |         chr(768) || chr(111) || chr(776) || ' ' || chr(8491)
      |    ELSE '' END AS t
      |  FROM documents)
      |SELECT doc_id, nfc_normalize(t) <> t AS changed,
      |  length(nfc_normalize(t)) AS n_chars_nfc,
      |  md5(nfc_normalize(t)) AS nfc_md5
      |FROM aug ORDER BY doc_id""".stripMargin) { (s, d) =>
    import graft.functions.NfcNormalizeExpr.nfcCol
    val aug = Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"), when(col("doc_id") % 2 === 0,
        // decomposed sequences + U+212B ANGSTROM SIGN, codepoint-
        // identical to the oracle's chr() chain
        lit(" caf" + "e\u0301" + " " + "A\u0300" + "o\u0308" +
          " \u212B"))
        .otherwise(lit(""))).as("t"))
    aug.select(col("doc_id"),
      (nfcCol(col("t")) =!= col("t")).as("changed"),
      length(nfcCol(col("t"))).cast("long").as("n_chars_nfc"),
      md5(nfcCol(col("t")).cast("binary")).as("nfc_md5"))
  }

  /** LM-familiarity scoring — the CCNet/KenLM-style perplexity filter:
    * an add-one-smoothed BIGRAM language model trained on the corpus
    * itself scores every document's mean-free log-likelihood. The
    * per-pair logprob ln((c(w1,w2)+1)/(c(w1)+V)) is floored to
    * micro-units BEFORE the per-doc sum, so the cross-engine hash sums
    * integers and never depends on float accumulation order.
    *
    * Scale shape: pairs come from a zip of two shifted token-array
    * views (no shuffle, no window — the same O(n) trick as
    * [[shingles]]); the three count/score joins shuffle on vocabulary
    * keys (w1,w2 then w1), which is how an n-gram count table wants to
    * be keyed at 100 TB; the one-row vocabulary size broadcasts.
    * n_repeated counts pairs the corpus saw ≥ 2× (the familiarity
    * signal a novelty filter thresholds on).
    */
  val bigramLm = QueryDef("q111_bigram_lm",
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
      |  FROM documents),
      |uni AS (
      |  SELECT w, count(*) AS c1
      |  FROM (SELECT unnest(ws) AS w FROM toks) GROUP BY w),
      |v AS (SELECT count(*) AS v FROM uni),
      |pairs AS (
      |  SELECT doc_id, w1, w2 FROM (
      |    SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM (
      |      SELECT doc_id, unnest(list_zip(ws, ws[2:])) AS p FROM toks))
      |  WHERE w2 IS NOT NULL),
      |big AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2)
      |SELECT doc_id, count(*) AS n_pairs,
      |  CAST(sum(CASE WHEN c12 >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_repeated,
      |  CAST(sum(CAST(floor(1e6 * ln(CAST(c12 + 1 AS DOUBLE)
      |    / CAST(c1 + v AS DOUBLE))) AS BIGINT)) AS BIGINT) AS score_u
      |FROM pairs JOIN big USING (w1, w2) JOIN uni ON uni.w = pairs.w1
      |CROSS JOIN v
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val toksArr = docs.select(col("doc_id"),
      expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("ws"))
    val uni = toksArr.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val pairStructs = zip_with(col("ws"),
      slice(col("ws"), lit(2), greatest(size(col("ws")) - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val pairs = toksArr
      .select(col("doc_id"),
        explode(filter(pairStructs, p => p.getField("w2").isNotNull))
          .as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val big = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val scored = pairs.join(big, Seq("w1", "w2"))
      .join(uni.withColumnRenamed("w", "w1"), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp_u", floor(lit(1e6) *
        log((col("c12") + lit(1)).cast("double") /
          (col("c1") + col("v")).cast("double"))).cast("long"))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("c12") >= 2, 1L).otherwise(0L)).cast("long")
          .as("n_repeated"),
        sum(col("lp_u")).cast("long").as("score_u"))
  }

  /** q132's hash-level prefilter: J = i / (na + nb − i) ≥ 1/2 on the
    * hash-level intersection `ih`. Collisions only inflate `ih`, and the
    * test is monotone in it; clamping `ih` to na + nb − 1 keeps the
    * divisor ≥ 1, so any collision count keeps the pair (a superset of
    * the exact result) instead of dividing by zero or a negative.
    */
  def hashJaccardKeeps(ih: Column, na: Column, nb: Column): Column = {
    val i = least(ih, na + nb - 1)
    call_function("div", i * 10000, na + nb - i) >= 5000
  }

  /** q132 — exact set-similarity JOIN: every pair of documents whose
    * distinct 3-gram shingle Jaccard clears τ = 1/2, as an equi-join on
    * HASHED tokens with a count aggregation and an exact verification of
    * the (few) survivors — bit-identical to brute force.
    *
    * Shape (r21, measured): tokens travel as 8-byte xxhash64 identities
    * from the explode on (guide §2.3 — never the ~30-byte shingle
    * strings); the self-join co-partitions on the hash (ONE exchange,
    * planned once and reused by both sides); the intersection size is
    * counted IN the join's aggregate (map-side partials, no per-pair
    * array materialization); the length filter 2·min(na,nb) ≥ max kills
    * mismatched sizes inside the join; and only pairs whose HASH-level
    * Jaccard clears τ pay the exact array_intersect — a superset of the
    * true result (collisions can only merge identities and inflate i),
    * so the exact recheck yields exactly brute force's rows and values.
    *
    * Why not AllPairs/PPJoin prefix filtering (the r20 shape): prefix
    * selectivity needs a rare-token tail, and this corpus has none —
    * measured at sf0.1: 27k distinct shingles over 260k occurrences
    * (mean df ≈ 10), where frequency-ordered prefixes emitted 310k
    * candidate pairs for 256 true ones and the per-pair exact verify
    * dominated the runtime (~6 s of array_intersect); adding PPJoin's
    * positional filter still left 210k candidates. The count-based form
    * runs the same Σ df² join fan-out the prefix form merely halved,
    * but replaces 310k interpreted set intersections with one codegen
    * hash aggregate. On a Zipf-tailed corpus the prefix filter becomes
    * profitable again — reintroduce it THERE from the r20 history, with
    * the verify kept count-based.
    */
  val setsimJoin = QueryDef("q132_setsim_join",
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, len(string_split(text,' '))-2),
      |      i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS sg
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(sg) AS t, len(sg) AS n FROM sh),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
      |    count(*) AS i
      |  FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4)
      |SELECT id_a, id_b, CAST(i AS BIGINT) AS inter_n,
      |  CAST(na + nb - i AS BIGINT) AS union_n,
      |  CAST((i * 10000) // (na + nb - i) AS BIGINT) AS jaccard_bp
      |FROM pairs
      |WHERE (i * 10000) // (na + nb - i) >= 5000
      |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), shingles(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .persist() // feeds the hash join AND both verify sides
    val tok = docs
      .select(col("doc_id"), col("n"), explode(col("toks")).as("t"))
      .select(col("doc_id"), col("n"), xxhash64(col("t")).as("h"))
    // both sides of the candidate self-join are the IDENTICAL plan, so
    // the token-hash exchange is planned once and REUSED — the r20
    // `.persist()` of an O(corpus-tokens) relation (which thrashed
    // storage memory at 32 cores: 26.4 s vs the 6.8 s floor) and the
    // broadcast that forced its pipeline to run twice are both gone.
    val a = tok.select(col("doc_id").as("id_a"), col("n").as("na"),
      col("h").as("ha"))
    val b = tok.select(col("doc_id").as("id_b"), col("n").as("nb"),
      col("h").as("hb"))
    // hash-level intersection counts: i_h ≥ the true i for every pair
    // (collisions only merge), so filtering on the hash-level Jaccard
    // keeps a SUPERSET of the true result for the exact verify below
    // (see [[hashJaccardKeeps]])
    val cand = a.hint("shuffle_merge").join(b.hint("shuffle_merge"),
        col("ha") === col("hb") && col("id_a") < col("id_b") &&
        // length filter: J ≥ 1/2 needs 2·min(na,nb) ≥ max(na,nb)
        lit(2) * least(col("na"), col("nb")) >=
          greatest(col("na"), col("nb")))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("ih"), first(col("na")).as("na"),
        first(col("nb")).as("nb"))
      .filter(hashJaccardKeeps(col("ih"), col("na"), col("nb")))
      .select(col("id_a"), col("id_b"))
    val verify = cand
      .join(docs.select(col("doc_id").as("id_a"), col("toks").as("ta"),
        col("n").as("na")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("toks").as("tb"),
        col("n").as("nb")), "id_b")
      .withColumn("inter_n", size(array_intersect(col("ta"), col("tb")))
        .cast("long"))
      .withColumn("union_n", (col("na") + col("nb") - col("inter_n"))
        .cast("long"))
      .withColumn("jaccard_bp",
        expr("(inter_n * 10000) div union_n").cast("long"))
    // docs stays persisted across the action's branches (LRU-evictable),
    // exactly like q38's shingle cache; the harness sweeps it afterwards
    verify.filter(col("jaccard_bp") >= 5000)
      .select(col("id_a"), col("id_b"), col("inter_n"), col("union_n"),
        col("jaccard_bp"))
      .orderBy("id_a", "id_b")
  }

  /** q139 — VOCABULARY BUILD + OOV RATE: the tokenizer-training
    * precursor (fix a top-V vocabulary over the corpus, then measure
    * how much of each slice it fails to cover — the coverage signal
    * that drives vocab sizing and corpus-mix decisions). The top-V cut
    * is deterministic (count DESC, token ASC — no RNG, no hash
    * ordering), membership is an exact set probe, and rates are exact
    * integer basis points, so the whole report hash-matches.
    *
    * Scale shape: one token explode feeding a hash-aggregate keyed by
    * token (bounded by VOCABULARY size, not corpus size — Zipf keeps
    * it millions at worst), a top-V TakeOrdered (V rows to the
    * driver-side broadcast), then a second pass whose vocab probe is a
    * BROADCAST left-anti-style membership join — the corpus is never
    * shuffled by token twice, and per-source aggregation is the only
    * other exchange.
    */
  val vocabOov: QueryDef = {
    val V = 1000
    QueryDef("q139_vocab_oov",
      s"""WITH tok AS (
        |  SELECT doc_id, source, unnest(string_split_regex(trim(text),
        |    '\\s+')) AS t
        |  FROM documents),
        |tok2 AS (SELECT * FROM tok WHERE t <> ''),
        |vocab AS (
        |  SELECT t FROM (
        |    SELECT t, count(*) AS c FROM tok2 GROUP BY 1
        |    ORDER BY c DESC, t ASC LIMIT $V)),
        |flag AS (
        |  SELECT k.doc_id, k.source, k.t,
        |    CASE WHEN v.t IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM tok2 k LEFT JOIN vocab v ON k.t = v.t)
        |SELECT source,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(oov) AS BIGINT) AS n_oov,
        |  CAST((sum(oov) * 10000) // count(*) AS BIGINT) AS oov_bp
        |FROM flag GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(tokens(col("text"))).as("t"))
        .filter(col("t") =!= "")
      val vocab = tok.groupBy("t").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t").asc).limit(V)
        .select("t")
      tok.join(broadcast(vocab.withColumn("in_v", lit(1))), Seq("t"), "left")
        .select(col("doc_id"), col("source"),
          when(col("in_v").isNull, 1L).otherwise(0L).as("oov"))
        .groupBy("source")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_tokens"),
          sum(col("oov")).as("n_oov"),
          expr("(sum(oov) * 10000) div count(*)").as("oov_bp"))
        .orderBy("source")
    }
  }

  /** q146 — EXACT edit-distance-1 string join via SymSpell DELETION
    * NEIGHBORHOODS: the third member of the similarity-join family,
    * covering the metric q132 (set-similarity/prefix filter) and q38
    * (LSH) cannot — Levenshtein distance, where token and gram sets
    * are blind to single-character noise. The index maps each string
    * to itself plus its |s| single-deletion variants (O(n·L) keys);
    * any two strings within edit distance 1 MUST share a key (the
    * edit's deletion on one side reproduces the other, or their common
    * deletion coincides for substitutions — the SymSpell observation),
    * so the candidate equi-join is lossless, and `levenshtein` runs
    * only on candidates. At 100 TB this is the difference between an
    * O(n²) cross join and a key-partitioned shuffle of O(n·L) short
    * strings; hex-uniform keys cannot skew. Both engines build the
    * SAME records (md5-derived names + a deterministic one-character
    * deletion per twin), the same key sets, and the same exact verify,
    * so candidate-set and verify bugs both hash-mismatch.
    */
  val editDistanceJoin = QueryDef("q146_edit_distance_join",
    """WITH base AS (
      |  SELECT c_custkey AS id,
      |    substr(md5(CAST(c_custkey AS VARCHAR)), 1, 10) AS nm
      |  FROM customer),
      |recs AS (
      |  SELECT id * 2 AS rid, nm FROM base
      |  UNION ALL
      |  SELECT id * 2 + 1,
      |    substr(nm, 1, (id % 10)) || substr(nm, (id % 10) + 2, 10)
      |  FROM base),
      |ks AS (
      |  -- fixed series 0..10 (names are <= 10 chars): i beyond the
      |  -- length degenerates to the identity key the record already
      |  -- has, so the DISTINCT candidate set is unchanged
      |  SELECT rid, nm,
      |    CASE WHEN g.i = 0 OR g.i > length(nm) THEN nm
      |         ELSE substr(nm, 1, g.i - 1) || substr(nm, g.i + 1, 10) END AS k
      |  FROM recs, generate_series(0, 10) AS g(i)),
      |cand AS (
      |  SELECT DISTINCT a.rid AS ra, b.rid AS rb, a.nm AS na, b.nm AS nb
      |  FROM ks a JOIN ks b ON a.k = b.k AND a.rid < b.rid),
      |m AS (SELECT ra, rb, levenshtein(na, nb) AS lev FROM cand
      |      WHERE levenshtein(na, nb) <= 1)
      |SELECT count(*) AS n_pairs,
      |  CAST(sum(lev) AS BIGINT) AS sum_lev,
      |  count(DISTINCT ra) AS n_left,
      |  count(DISTINCT rb) AS n_right
      |FROM m""".stripMargin) { (s, d) =>
    val base = Tables.customer(s, d).select(col("c_custkey").as("id"),
      expr("substr(md5(CAST(c_custkey AS STRING)), 1, 10)").as("nm"))
    val recs = base.select((col("id") * 2).as("rid"), col("nm"))
      .unionAll(base.select((col("id") * 2 + 1).as("rid"),
        expr("concat(substr(nm, 1, (id % 10)), " +
          "substr(nm, (id % 10) + 2, 10))").as("nm")))
    // deletion keys travel as xxhash64 identities (guide §2.3): a pair
    // within edit distance 1 shares an EXACT deletion key (the SymSpell
    // theorem), so it also shares that key's hash — the hash join's
    // candidate set is a superset and the exact `levenshtein <= 1`
    // filter below already discards every false candidate, making the
    // final pair set identical to the string-keyed join's.
    val ks = recs.select(col("rid"), col("nm"),
      explode(expr("transform(sequence(0, length(nm)), i -> " +
        "CASE WHEN i = 0 THEN nm " +
        "ELSE concat(substr(nm, 1, i - 1), substr(nm, i + 1, 10)) END)"))
        .as("k0"))
      .select(col("rid"), col("nm"), xxhash64(col("k0")).as("k"))
    val cand = ks.as("a").join(ks.as("b"),
        col("a.k") === col("b.k") && col("a.rid") < col("b.rid"))
      .select(col("a.rid").as("ra"), col("b.rid").as("rb"),
        col("a.nm").as("na"), col("b.nm").as("nb"))
      .distinct()
    cand.withColumn("lev", levenshtein(col("na"), col("nb")))
      .filter(col("lev") <= 1)
      .agg(count(lit(1)).as("n_pairs"),
        sum("lev").cast("long").as("sum_lev"),
        count_distinct(col("ra")).as("n_left"),
        count_distinct(col("rb")).as("n_right"))
  }

  val all: Seq[QueryDef] = Seq(tokenStats, qualityScore, langId, fingerprint, bpeTokens,
    exactDedup, minhashBands, ngramJaccard, simhash, dupClusters,
    dupClustersStar, tfidfTerms, nfcNormalize, bigramLm, setsimJoin,
    vocabOov, editDistanceJoin)
}
