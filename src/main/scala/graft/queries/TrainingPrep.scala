package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.ops.SnapshotTable

/** Training-data preparation operators — the corpus-assembly stage that sits
  * between the dedup/quality layer (TextPipeline) and the trainer:
  * benchmark decontamination, repetition filtering (Gopher-style), exact
  * deterministic stratified sampling, and token-budget sequence packing.
  *
  * Scale design (what keeps these alive at 100 TB):
  *  - Decontamination joins the CORPUS n-grams against the BENCHMARK n-gram
  *    set, and the benchmark side is small by construction (eval suites are
  *    thousands of documents) — it broadcasts, so the corpus is one scan +
  *    one map-side join + one hash-agg keyed by doc_id. No shuffle of text.
  *  - Repetition stats are two hash-aggregations keyed by (doc, gram) then
  *    doc — map-side partial counts absorb the repetition itself (that's
  *    the very signal being measured), so skew is self-limiting.
  *  - Sampling is a stateless per-row predicate on a content hash — no
  *    shuffle at all, fully deterministic, reproducible across runs and
  *    engines (no RNG state, unlike `df.sample`).
  *  - Packing computes its running token offsets WITHIN hash shards
  *    (partitionBy shard), never as one global window — a global
  *    unpartitioned window is a single-task serialization point at scale;
  *    per-shard packing is how production packers parallelize, trading a
  *    bounded per-shard remainder (< one sequence) for linear scaling.
  */
object TrainingPrep {

  private def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Word n-grams in one native codegen pass (r21 — see
    * [[graft.functions.WordNgramsExpr]]; bit-identical to the zip-of-
    * shifted-views fold it replaces, whose zip_with lambdas evaluated
    * interpreted and re-concatenated partial grams at every step).
    */
  private def ngrams(text: Column, k: Int): Column =
    graft.functions.WordNgramsExpr.wordNgrams(text, k, distinct = false)

  /** First-occurrence-distinct word n-grams (≡ array_distinct(ngrams)),
    * with the dedup folded into the same native pass.
    */
  private def distinctNgrams(text: Column, k: Int): Column =
    graft.functions.WordNgramsExpr.wordNgrams(text, k, distinct = true)

  /** Benchmark decontamination: flag corpus documents sharing any 5-gram
    * with the held-out benchmark set (here: every 50th doc_id stands in for
    * the eval suite). The benchmark's distinct 5-gram set is broadcast;
    * corpus grams stream through a map-side join and a per-doc count.
    * Every corpus doc is reported (matched or not) via a left join so the
    * output is a full decontamination manifest, not just the hit list.
    */
  val decontaminate = QueryDef("q69_decontaminate",
    """WITH sp AS (
      |  SELECT doc_id, doc_id % 50 = 0 AS is_bench,
      |    string_split(trim(text), ' ') AS ts
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, is_bench,
      |    unnest(list_distinct(list_transform(generate_series(1, len(ts) - 4),
      |      i -> array_to_string(ts[i:i+4], ' ')))) AS g
      |  FROM sp),
      |hits AS (
      |  SELECT c.doc_id, count(DISTINCT c.g) AS n_matched
      |  FROM grams c JOIN (SELECT DISTINCT g FROM grams WHERE is_bench) b
      |    ON c.g = b.g
      |  WHERE NOT c.is_bench GROUP BY c.doc_id)
      |SELECT sp.doc_id AS doc_id,
      |  CAST(coalesce(h.n_matched, 0) AS BIGINT) AS n_matched,
      |  coalesce(h.n_matched, 0) > 0 AS contaminated
      |FROM sp LEFT JOIN hits h ON sp.doc_id = h.doc_id
      |WHERE NOT sp.is_bench ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), (col("doc_id") % 50 === 0).as("is_bench"),
        distinctNgrams(col("text"), 5).as("grams"))
    val benchGrams = docs.filter(col("is_bench"))
      .select(explode(col("grams")).as("g")).distinct()
    val corpus = docs.filter(!col("is_bench"))
    // ONE corpus pass (r21): the manifest derives from the same exploded
    // relation as the hit counts — explode_outer keeps gram-less docs (a
    // null gram matches nothing), the LEFT broadcast join marks matches
    // map-side, and one doc-keyed hash-agg emits the full manifest. The
    // old shape ran a second corpus branch plus a doc-keyed left join
    // just to restore the zero-match rows.
    corpus.select(col("doc_id"), explode_outer(col("grams")).as("g"))
      .join(broadcast(benchGrams.withColumn("hit", lit(1L))), Seq("g"),
        "left")
      .groupBy(col("doc_id"))
      .agg(coalesce(sum(col("hit")), lit(0L)).as("n_matched"))
      .select(col("doc_id"), col("n_matched"),
        (col("n_matched") > 0).as("contaminated"))
  }

  /** Benchmark decontamination restated for ARCHIVE scale (identical
    * semantics and oracle to q69): instead of broadcasting every
    * benchmark gram string, the bench set folds into a ~10-bit/element
    * Bloom filter built distributively (xxhash64 per gram, per-partition
    * filters merged on the driver — the driver never sees a gram).
    * Corpus grams stream through the codegen'd `might_contain`
    * expression map-side — a BINARY literal + xxhash64, no UDF — and
    * only the tiny bloom-positive survivor set pays the exact verify
    * join that removes false positives, so output is bit-identical to
    * the exact path and the same DuckDB oracle applies. At 100 TB this
    * turns a multi-GB gram-set broadcast into megabytes of filter.
    *
    * Filter lifecycle (r21): built PER INVOCATION — one small
    * distributed job over the bench docs (2 % of the corpus). The r20
    * per-(dir, JVM) memo made bench iterations 2+ skip the build,
    * which flattered the median with work iteration 1 had already
    * paid; every invocation now computes from the parquet inputs (a
    * production deployment would of course persist the filter beside
    * the eval suite it derives from — that lifecycle belongs to the
    * caller, not inside a measured query).
    */
  val bloomDecontaminate = QueryDef("q83_bloom_decontaminate",
    """WITH sp AS (
      |  SELECT doc_id, doc_id % 50 = 0 AS is_bench,
      |    string_split(trim(text), ' ') AS ts
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, is_bench,
      |    unnest(list_distinct(list_transform(generate_series(1, len(ts) - 4),
      |      i -> array_to_string(ts[i:i+4], ' ')))) AS g
      |  FROM sp),
      |hits AS (
      |  SELECT c.doc_id, count(DISTINCT c.g) AS n_matched
      |  FROM grams c JOIN (SELECT DISTINCT g FROM grams WHERE is_bench) b
      |    ON c.g = b.g
      |  WHERE NOT c.is_bench GROUP BY c.doc_id)
      |SELECT sp.doc_id AS doc_id,
      |  CAST(coalesce(h.n_matched, 0) AS BIGINT) AS n_matched,
      |  coalesce(h.n_matched, 0) > 0 AS contaminated
      |FROM sp LEFT JOIN hits h ON sp.doc_id = h.doc_id
      |WHERE NOT sp.is_bench ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.BinaryType
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), (col("doc_id") % 50 === 0).as("is_bench"),
        distinctNgrams(col("text"), 5).as("grams"))
    val benchGrams = docs.filter(col("is_bench"))
      .select(explode(col("grams")).as("g")).distinct()
    val corpus = docs.filter(!col("is_bench"))
    val filterBytes = {
      // filter sizing needs only an order of magnitude (fpp shapes the
      // survivor-set size, never correctness): docs/50 bench docs at a
      // generous 256 distinct grams each, from the footer row count
      val expected =
        math.max(1000L, Tables.rowCount(s, d, "documents") / 50 * 256)
      import s.implicits._
      val bf = benchGrams.select(xxhash64(col("g")).as("h")).as[Long].rdd
        .aggregate(org.apache.spark.util.sketch.BloomFilter.create(expected, 0.01))(
          (f, h) => { f.putLong(h); f },
          (a, b) => { a.mergeInPlace(b); a })
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val might = Bridge.column(BloomFilterMightContain(
      Literal.create(filterBytes, BinaryType),
      Bridge.expression(xxhash64(col("g")))))
    // ONE corpus pass (r21, same shape as q69): explode_outer keeps
    // gram-less docs, bloom-negative grams collapse to a null marker
    // instead of dropping their row's doc, and one doc-keyed hash-agg
    // emits the full manifest — the second corpus branch and the
    // doc-keyed left join that restored zero-match rows are gone.
    val candidates = corpus
      .select(col("doc_id"), explode_outer(col("grams")).as("g"))
      .select(col("doc_id"), when(might, col("g")).as("g"))
    // NO broadcast hint on the verify join: the whole point is not to
    // ship the gram set to every executor — both sides here are small
    // (bloom survivors × bench grams), so AQE picks the strategy; at
    // fixture scale that is a broadcast anyway, at archive scale a
    // shuffle of the survivor set
    candidates
      .join(benchGrams.withColumn("hit", lit(1L)), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(coalesce(sum(col("hit")), lit(0L)).as("n_matched"))
      .select(col("doc_id"), col("n_matched"),
        (col("n_matched") > 0).as("contaminated"))
  }

  /** Gopher-style repetition filter: per-document duplicate-token ratio
    * (1 − distinct/total) and most-common-2-gram fraction, with the
    * Gopher thresholds (dup-token > 0.3 OR top-2-gram > 0.2 → drop).
    * The 2-gram occurrence counts run as two stacked hash-aggs —
    * (doc, gram) then doc — so repeated grams collapse map-side.
    */
  val repetition = QueryDef("q70_repetition",
    """WITH sp AS (
      |  SELECT doc_id, string_split(trim(text), ' ') AS ts FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 1),
      |    i -> array_to_string(ts[i:i+1], ' '))) AS g
      |  FROM sp),
      |c AS (SELECT doc_id, g, count(*) AS n FROM g GROUP BY doc_id, g),
      |m AS (SELECT doc_id, max(n) AS top_n, CAST(sum(n) AS BIGINT) AS tot
      |      FROM c GROUP BY doc_id)
      |SELECT sp.doc_id AS doc_id,
      |  round(1.0 - CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts), 6)
      |    AS dup_token_ratio,
      |  round(CAST(m.top_n AS DOUBLE) / m.tot, 6) AS top_bigram_frac,
      |  (1.0 - CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts)) > 0.3
      |    OR CAST(m.top_n AS DOUBLE) / m.tot > 0.2 AS repetitive
      |FROM sp JOIN m ON sp.doc_id = m.doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val sp = docs.select(col("doc_id"), tokens(col("text")).as("ts"))
    val dupRatio =
      lit(1.0) - size(array_distinct(col("ts"))).cast("double") / size(col("ts"))
    val bigramTop = docs
      .select(col("doc_id"), explode(ngrams(col("text"), 2)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("top_n"), sum(col("n")).as("tot"))
    sp.join(bigramTop, "doc_id")
      .select(col("doc_id"),
        round(dupRatio, 6).as("dup_token_ratio"),
        round(col("top_n").cast("double") / col("tot"), 6).as("top_bigram_frac"),
        (dupRatio > 0.3 || col("top_n").cast("double") / col("tot") > 0.2)
          .as("repetitive"))
  }

  /** Deterministic stratified sampling: per-source keep rates applied
    * through a content-hash bucket (md5 of the doc id → bucket 0..99,
    * keep iff bucket < rate). Stateless, shuffle-free, and reproducible —
    * the same doc survives every run on every engine, which `df.sample`'s
    * RNG cannot promise. Reported as the per-source sampling manifest.
    */
  val stratifiedSample = QueryDef("q71_stratified_sample",
    """WITH s AS (
      |  SELECT doc_id, source,
      |    10 + 5 * (CAST(substr(source, 4) AS INT) % 10) AS rate_pct,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
      |      % 100 AS bucket
      |  FROM documents)
      |SELECT source, rate_pct, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN bucket < rate_pct THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept
      |FROM s GROUP BY source, rate_pct ORDER BY source""".stripMargin) { (s, d) =>
    val rate = (lit(10) + lit(5) * (substring(col("source"), 4, 10).cast("int") % 10))
      .as("rate_pct")
    val bucket =
      conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long") % 100
    Tables.documents(s, d)
      .select(col("source"), rate, bucket.as("bucket"))
      .groupBy(col("source"), col("rate_pct"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("bucket") < col("rate_pct"), 1L).otherwise(0L)).as("n_kept"))
  }

  /** Token-budget sequence packing (GPT-style contiguous packing with
    * document splitting): docs are hash-sharded, ordered by doc_id within
    * a shard, and laid end-to-end into 2048-token sequences via a
    * per-shard running token offset. Emits each doc's first/last sequence
    * index and offset — the trainer-facing pack manifest. The window is
    * partitioned by shard, so packing parallelizes linearly; only the
    * per-shard tail sequence is padded.
    */
  val sequencePacking = QueryDef("q72_sequence_packing",
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
      |      % 8 AS shard,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, shard, n_tok,
      |    CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM t)
      |SELECT doc_id, shard, n_tok,
      |  (cum - n_tok) // 2048 AS first_seq,
      |  (cum - 1) // 2048 AS last_seq,
      |  (cum - n_tok) % 2048 AS seq_offset
      |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val t = Tables.documents(s, d).select(col("doc_id"),
      (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 8).as("shard"),
      size(tokens(col("text"))).cast("long").as("n_tok"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.withColumn("cum", sum(col("n_tok")).over(w))
      .select(col("doc_id"), col("shard"), col("n_tok"),
        expr("(cum - n_tok) div 2048").as("first_seq"),
        expr("(cum - 1) div 2048").as("last_seq"),
        ((col("cum") - col("n_tok")) % 2048).as("seq_offset"))
  }

  /** The corpus-assembly flagship: every stage above composed into one
    * per-document disposition manifest — the first failing gate wins
    * (short → duplicate → contaminated → repetitive → sampled_out → kept).
    * Benchmark docs are excluded up front (they are the eval set, never
    * trainable). This is the query a training-data pipeline actually runs;
    * the stages stay individually cheap because each is the same
    * broadcast-join / hash-agg shape proven in q69–q71, glued by doc_id
    * equi-joins that all shuffle on the same key.
    */
  val corpusAssembly = QueryDef("q73_corpus_assembly",
    """WITH d AS (
      |  SELECT doc_id, source, text, string_split(trim(text), ' ') AS ts
      |  FROM documents WHERE doc_id % 50 <> 0),
      |dd AS (
      |  SELECT doc_id, source, ts, len(ts) AS n_tok,
      |    min(doc_id) OVER (PARTITION BY md5(text)) AS survivor
      |  FROM d),
      |bench AS (
      |  SELECT DISTINCT unnest(list_distinct(list_transform(
      |    generate_series(1, len(string_split(trim(text), ' ')) - 4),
      |    i -> array_to_string(string_split(trim(text), ' ')[i:i+4], ' ')))) AS g
      |  FROM documents WHERE doc_id % 50 = 0),
      |hits AS (
      |  SELECT DISTINCT c.doc_id FROM (
      |    SELECT doc_id, unnest(list_distinct(list_transform(
      |      generate_series(1, len(ts) - 4),
      |      i -> array_to_string(ts[i:i+4], ' ')))) AS g
      |    FROM d) c JOIN bench b ON c.g = b.g),
      |bm AS (
      |  SELECT doc_id, max(n) AS top_n, CAST(sum(n) AS BIGINT) AS tot FROM (
      |    SELECT doc_id, g, count(*) AS n FROM (
      |      SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 1),
      |        i -> array_to_string(ts[i:i+1], ' '))) AS g
      |      FROM d) GROUP BY doc_id, g) GROUP BY doc_id)
      |SELECT dd.doc_id AS doc_id, dd.source AS source,
      |  CAST(dd.n_tok AS BIGINT) AS n_tok,
      |  CASE
      |    WHEN dd.n_tok < 20 THEN 'short'
      |    WHEN dd.doc_id <> dd.survivor THEN 'duplicate'
      |    WHEN h.doc_id IS NOT NULL THEN 'contaminated'
      |    WHEN (1.0 - CAST(len(list_distinct(dd.ts)) AS DOUBLE) / dd.n_tok) > 0.3
      |      OR CAST(bm.top_n AS DOUBLE) / bm.tot > 0.2 THEN 'repetitive'
      |    WHEN CAST(('0x' || substr(md5(CAST(dd.doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
      |      % 100 >= 10 + 5 * (CAST(substr(dd.source, 4) AS INT) % 10)
      |      THEN 'sampled_out'
      |    ELSE 'kept' END AS disposition
      |FROM dd LEFT JOIN hits h ON dd.doc_id = h.doc_id
      |JOIN bm ON dd.doc_id = bm.doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val base = Tables.documents(s, d).filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("source"), col("text"),
        tokens(col("text")).as("ts"))
    // dedup survivor election in q36's digest-agg shape: a digest-keyed
    // aggregate joined back on the digest carries the same shuffle
    // payload as the previous min-over-window on md5(text) but needs no
    // per-partition sort, and the agg side is partial-aggregated
    // map-side (the window form shuffled every full row into a sorted
    // partition first)
    val survivors = base
      .groupBy(md5(col("text")).as("digest"))
      .agg(min(col("doc_id")).as("survivor"))
    val dd = base
      .withColumn("n_tok", size(col("ts")))
      .withColumn("digest", md5(col("text")))
      .join(survivors, "digest")
      .drop("digest")
    val benchGrams = Tables.documents(s, d).filter(col("doc_id") % 50 === 0)
      .select(explode(distinctNgrams(col("text"), 5)).as("g"))
      .distinct()
    val hits = base
      .select(col("doc_id"), explode(distinctNgrams(col("text"), 5)).as("g"))
      .join(broadcast(benchGrams), "g")
      .select(col("doc_id")).distinct()
      .withColumn("hit", lit(true))
    val bm = base
      .select(col("doc_id"), explode(ngrams(col("text"), 2)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("top_n"), sum(col("n")).as("tot"))
    val dupRatio =
      lit(1.0) - size(array_distinct(col("ts"))).cast("double") / col("n_tok")
    val bucket =
      conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long") % 100
    val rate = lit(10) + lit(5) * (substring(col("source"), 4, 10).cast("int") % 10)
    dd.join(hits, Seq("doc_id"), "left").join(bm, "doc_id")
      .select(col("doc_id"), col("source"), col("n_tok").cast("long").as("n_tok"),
        when(col("n_tok") < 20, "short")
          .when(col("doc_id") =!= col("survivor"), "duplicate")
          .when(col("hit").isNotNull, "contaminated")
          .when(dupRatio > 0.3 ||
            col("top_n").cast("double") / col("tot") > 0.2, "repetitive")
          .when(bucket >= rate, "sampled_out")
          .otherwise("kept").as("disposition"))
  }

  /** Domain mixture weighting: per-source token accounting plus the
    * sampling factor that rebalances the corpus toward a target mixture
    * (uniform across sources here) — factor = target_share /
    * natural_share, the number every mixture-weighted sampler multiplies
    * a source's keep-rate by. One source-keyed hash-agg + a broadcast of
    * the one-row global totals; all arithmetic is IEEE-exact ratios of
    * exact integer sums, so the manifest is engine-reproducible.
    */
  val mixtureWeights = QueryDef("q75_mixture_weights",
    """WITH s AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
      |      AS n_tokens
      |  FROM documents GROUP BY source),
      |t AS (
      |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
      |    count(*) AS nsrc FROM s)
      |SELECT source, n_docs, n_tokens,
      |  round(CAST(n_tokens AS DOUBLE) / tot, 6) AS natural_share,
      |  round((1.0 / nsrc) / (CAST(n_tokens AS DOUBLE) / tot), 6)
      |    AS sample_factor
      |FROM s CROSS JOIN t ORDER BY source""".stripMargin) { (s, d) =>
    val perSource = Tables.documents(s, d)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val totals = perSource
      .agg(sum(col("n_tokens")).as("tot"), count(lit(1)).as("nsrc"))
    val natural = col("n_tokens").cast("double") / col("tot")
    perSource.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(natural, 6).as("natural_share"),
        round((lit(1.0) / col("nsrc")) / natural, 6).as("sample_factor"))
  }

  /** ExactSubstr-style duplicated-span flagging (the fixed-window Spark
    * restatement of Lee et al. 2022's suffix-array substring dedup —
    * "Deduplicating Training Data Makes Language Models Better"): every
    * 8-token window of every document is counted CORPUS-GLOBALLY, a
    * window occurring more than once anywhere (another doc or a repeat
    * inside the same doc) is a duplicated span, and each document
    * reports how much of it is covered by such spans plus the
    * drop-if-mostly-duplicate verdict.
    *
    * Scale shape: two shuffles, both keyed by the window hash — the
    * occurrence count (a hash-agg whose map-side partials absorb the
    * repetition being measured) and the join back of duplicated windows
    * to their positions. Coverage then folds WITHIN each document row
    * (higher-order `exists` over the bounded position list) — no
    * all-pairs stage, no suffix array to build, and the window length
    * caps every intermediate at O(tokens) rows.
    */
  val spanDedup = QueryDef("q85_span_dedup",
    """WITH sp AS (
      |  SELECT doc_id, string_split(trim(text), ' ') AS ts FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    unnest(generate_series(1, len(ts) - 7)) AS pos,
      |    unnest(list_transform(generate_series(1, len(ts) - 7),
      |      i -> array_to_string(ts[i:i+7], ' '))) AS g
      |  FROM sp),
      |cnt AS (SELECT g, count(*) AS n FROM sh GROUP BY g),
      |dp AS (
      |  SELECT sh.doc_id, list(sh.pos ORDER BY sh.pos) AS ps
      |  FROM sh JOIN cnt ON sh.g = cnt.g WHERE cnt.n > 1 GROUP BY sh.doc_id)
      |SELECT sp.doc_id AS doc_id,
      |  CAST(len(sp.ts) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(len(list_filter(generate_series(1, len(sp.ts)),
      |    t -> len(list_filter(dp.ps, p -> p <= t AND t < p + 8)) > 0)), 0)
      |    AS BIGINT) AS n_dup_tokens,
      |  round(CAST(coalesce(len(list_filter(generate_series(1, len(sp.ts)),
      |    t -> len(list_filter(dp.ps, p -> p <= t AND t < p + 8)) > 0)), 0)
      |    AS DOUBLE) / len(sp.ts), 6) AS dup_fraction,
      |  CAST(coalesce(len(list_filter(generate_series(1, len(sp.ts)),
      |    t -> len(list_filter(dp.ps, p -> p <= t AND t < p + 8)) > 0)), 0)
      |    AS DOUBLE) / len(sp.ts) <= 0.5 AS keep
      |FROM sp LEFT JOIN dp ON sp.doc_id = dp.doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    spanDedupOn(Tables.documents(s, d))
  }

  /** q85's plan body over any (doc_id, text) frame — split out so specs
    * can drive it with hand-built corpora.
    */
  def spanDedupOn(docs: DataFrame): DataFrame = {
    val k = 8
    val sp = docs
      .select(col("doc_id"), tokens(col("text")).as("ts"))
    val sh = docs.select(col("doc_id"),
        posexplode(ngrams(col("text"), k)).as(Seq("pos0", "g")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("g"))
    val dupG = sh.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select(col("g"))
    val dp = sh.join(dupG, "g")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
    val ps = coalesce(col("ps"), array().cast("array<int>"))
    val nDup = size(filter(sequence(lit(1), size(col("ts"))),
      t => exists(ps, p => p <= t && t < p + k)))
    sp.join(dp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("ts")).cast("long").as("n_tokens"),
        nDup.cast("long").as("n_dup_tokens"),
        round(nDup.cast("double") / size(col("ts")), 6).as("dup_fraction"),
        (nDup.cast("double") / size(col("ts")) <= 0.5).as("keep"))
  }

  // PII patterns shared by both engines: plain character classes and
  // bounded quantifiers only — semantics identical between Java regex
  // (Spark codegen) and RE2 (DuckDB), no lookaround/backreferences
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Re = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"

  /** PII scrub (redaction) — the compliance pass every assembled corpus
    * runs before training: count and redact email addresses and IPv4
    * literals per document. The synthetic corpus carries no PII, so
    * both engines INJECT it identically (deterministic doc_id-derived
    * suffixes) and must then agree on the match count and the digest of
    * the redacted text. Stateless per-row regex work — one scan, no
    * shuffle, embarrassingly parallel at 100 TB.
    */
  val piiScrub = QueryDef("q90_pii_scrub",
    s"""WITH aug AS (
      |  SELECT doc_id, text ||
      |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id ||
      |      '@example.com or admin-' || doc_id || '@corp.test.org'
      |      ELSE '' END ||
      |    CASE WHEN doc_id % 4 = 0 THEN ' from 192.168.' ||
      |      (doc_id % 256) || '.42 and 10.0.' || (doc_id % 100) || '.7'
      |      ELSE '' END AS t
      |  FROM documents)
      |SELECT doc_id,
      |  len(regexp_extract_all(t, '$EmailRe')) AS n_emails,
      |  len(regexp_extract_all(t, '$Ipv4Re')) AS n_ips,
      |  md5(regexp_replace(regexp_replace(t, '$EmailRe', '<EMAIL>', 'g'),
      |      '$Ipv4Re', '<IP>', 'g')) AS redacted_md5
      |FROM aug ORDER BY doc_id""".stripMargin) { (s, d) =>
    val aug = Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com"),
            lit(" or admin-"), col("doc_id"), lit("@corp.test.org")))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" from 192.168."), col("doc_id") % 256, lit(".42"),
            lit(" and 10.0."), col("doc_id") % 100, lit(".7")))
          .otherwise(lit(""))).as("t"))
    aug.select(col("doc_id"),
      size(regexp_extract_all(col("t"), lit(EmailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col("t"), lit(Ipv4Re), lit(0)))
        .cast("long").as("n_ips"),
      md5(regexp_replace(regexp_replace(col("t"), EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>").cast("binary")).as("redacted_md5"))
  }

  /** q136 — EXACT SUBSTRING duplication detection (the ExactSubstr
    * primitive of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): document pairs sharing at least one
    * verbatim character run of length ≥ L (=40), with the count of
    * distinct shared L-grams. This is a DIFFERENT duplication signal
    * from the shingle-Jaccard family (q36–q39, q132): long verbatim
    * runs catch boilerplate/quotation/copy-paste contamination that
    * whole-document similarity dilutes below any Jaccard threshold.
    *
    * This entry is the brute-force semantics twin (sliding L-gram
    * explode + self-join — the oracle does the identical thing);
    * [[winnowedSubstringDup]] (q137) is the archive-scale path over
    * the same contract.
    */
  private val SubL = 40
  val exactSubstringDup = QueryDef("q136_exact_substring_dup",
    s"""WITH pos AS (
      |  SELECT doc_id, text,
      |    unnest(generate_series(1, len(text) - ${SubL - 1})) AS i
      |  FROM documents),
      |g AS (SELECT DISTINCT doc_id, substr(text, i, $SubL) AS g FROM pos)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(count(*) AS BIGINT) AS n_shared
      |FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    // Lightweight-proxy candidate generation (guide §8 / §2.3): the old
    // plan materialized every 40-char substring of every position and
    // shuffled those strings on BOTH sides of a self-join — ~40× the
    // corpus bytes through each exchange. Candidates now come from a
    // self-join over DISTINCT 8-byte rolling k-gram hashes (one native
    // O(n) pass per document, no substring materialization); equal grams
    // hash equal, so the candidate pair set is a superset of the truth,
    // and the exact gram join below — restricted to documents that
    // appear in some candidate pair — recounts n_shared exactly,
    // dropping collision-born pairs (count 0 rows never emit).
    val docs = Tables.documents(s, d).filter(length(col("text")) >= SubL)
    val hs = docs.select(col("doc_id"),
      explode(graft.functions.GramHashesExpr.gramHashes(col("text"), SubL))
        .as("h"))
    // both sides of the candidate join are the IDENTICAL plan, so the
    // hash exchange is planned once and reused (no persist needed)
    val cand = hs.as("a").join(hs.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
      .persist() // three consumers: both doc-set derivations + the verify
    val inCand = cand.select(col("id_a").as("doc_id"))
      .union(cand.select(col("id_b"))).distinct()
    val g = docs.join(inCand, "doc_id")
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(1, length(text) - ${SubL - 1}), " +
          s"i -> substring(text, i, $SubL))"))).as("g"))
      .persist() // the two verify joins key on different columns
    cand
      .join(g.select(col("doc_id").as("id_a"), col("g")), "id_a")
      .join(g.select(col("doc_id").as("id_b"), col("g").as("g2")), "id_b")
      .filter(col("g") === col("g2"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .orderBy("id_a", "id_b")
  }

  /** q137 — the ARCHIVE-SCALE form of the q136 contract via robust
    * WINNOWING (Schleimer, Wilkerson & Aiken, SIGMOD 2003): per
    * document, hash every k-gram and select as ANCHORS the windowed
    * minima (min over (hash, rightmost-position), tie-free and
    * content-local), join documents on shared anchors, then exactly
    * verify only CANDIDATE pairs. The winnowing theorem guarantees any
    * shared run of ≥ w+k−1 chars selects the SAME anchor gram in both
    * documents (the all-shared window's minimum depends only on shared
    * content), so the candidate set provably covers the contract; the
    * oracle brute-forces the verified relation, so a dropped candidate
    * (a winnowing bug) hash-mismatches.
    *
    * Parameter choice is a MEASURED selectivity decision, and the
    * reason this entry's threshold is 64 rather than q136's 40: the
    * anchor gram length k must make shared k-grams RARE or the
    * candidate join explodes — in this corpus 16-char grams are shared
    * boilerplate (5.5M candidate pair-slots at sf0.1, which made a
    * k=16 draft SLOWER than brute force) while 40-char grams are
    * selective (63k pair-slots). With k=40 and w=25 the guarantee
    * threshold w+k−1 is 64, so the verified contract here is "shares a
    * ≥64-char verbatim run" (⇔ shares a 64-gram).
    *
    * Scale shape: anchor selection is [[graft.functions
    * .WinnowAnchorsExpr]] — a native codegen expression doing the
    * whole rolling-hash + monotonic-deque windowed-minimum pass in
    * O(n) per document with NO shuffle and no per-position rows (the
    * higher-order-function formulation allocated a slice per position
    * and measured 5× slower than the brute plan); only anchors
    * (density ~2/(w+1) ≈ 8% of positions) reach the candidate join,
    * and the heavyweight verification explode happens only for
    * documents that appear in some candidate pair (semi-join
    * pushdown). The brute q136 plan shuffles every position of every
    * document; this one shuffles anchors and verifies survivors — the
    * ratio IS the winnowing win.
    *
    * Adversarial note: an anchor gram mass-duplicated across the
    * corpus (boilerplate shared by m documents) contributes O(m²)
    * candidate pairs — and those pairs ARE the contract's true answer
    * whenever the boilerplate run reaches the threshold, so no cap
    * can drop them without breaking the guarantee (q132's
    * `lsh.maxBucket` situation, but here exactness forbids the cap).
    * On a corpus where that bites, the operator-level fix is to
    * normalize boilerplate away BEFORE dedup (the PII/NFC scrub
    * stage), not to weaken the join.
    */
  private val SubL2 = 64
  val winnowedSubstringDup = QueryDef("q137_winnowed_substring_dup",
    s"""WITH pos AS (
      |  SELECT doc_id, text,
      |    unnest(generate_series(1, len(text) - ${SubL2 - 1})) AS i
      |  FROM documents),
      |g AS (SELECT DISTINCT doc_id, substr(text, i, $SubL2) AS g FROM pos)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(count(*) AS BIGINT) AS n_shared
      |FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val K = 40; val W = 25 // guarantee threshold w+k-1 = 64 = SubL2
    val docs = Tables.documents(s, d).filter(length(col("text")) >= SubL2)
    val anchors = docs.select(col("doc_id"),
      explode(graft.functions.WinnowAnchorsExpr
        .winnowAnchors(col("text"), K, W)).as("a"))
      .persist() // ~2/(w+1) of positions; feeds both join sides
    // the candidate PAIR set is referenced three times below (both
    // doc-set derivations + the verify join) — without the persist the
    // anchor self-join would recompute once per reference
    val cand = anchors.select(col("doc_id").as("id_a"), col("a"))
      .join(anchors.select(col("doc_id").as("id_b"), col("a")), "a")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .persist()
    // exact verification, threshold-length grams only for documents in
    // candidate pairs; persisted because the two verify joins key on
    // DIFFERENT columns (id_a, id_b) — without the cache the heaviest
    // stage, the gram explode, would run once per side.
    // Persist lifecycle (all three persists here): the result is
    // returned lazily, so an eager unpersist would force the caller's
    // action to recompute every branch — the q132 shingle-cache
    // discipline applies: blocks stay LRU-evictable and are reclaimed
    // under memory pressure rather than by hand.
    val inCand = cand.select(col("id_a").as("doc_id"))
      .union(cand.select(col("id_b"))).distinct()
    val g = docs.join(inCand, "doc_id")
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(1, length(text) - ${SubL2 - 1}), " +
          s"i -> substring(text, i, $SubL2))"))).as("g"))
      .persist()
    cand
      .join(g.select(col("doc_id").as("id_a"), col("g")), "id_a")
      .join(g.select(col("doc_id").as("id_b"), col("g").as("g2")), "id_b")
      .filter(col("g") === col("g2"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .orderBy("id_a", "id_b")
  }

  /** q171 — WEIGHTED SAMPLE WITHOUT REPLACEMENT (Efraimidis–Spirakis
    * A-ES, the one-pass distributed algorithm): each document draws an
    * exponential key Exp(w) — here −ln(u)/w with u a DETERMINISTIC
    * 60-bit hash-uniform from md5(doc_id) and w = n_chars — and the k
    * smallest keys ARE a weighted sample without replacement
    * (P(doc first) = w/Σw, the exponential race). This is the
    * training-mix primitive "sample 10 B tokens proportional to
    * quality×size": one scan, a k-row TakeOrdered — no shuffle of the
    * corpus, no sequential pass, and reproducible across runs/engines
    * because the randomness is content-addressed, exactly like q71's
    * stratified buckets. The float key is computed identically in
    * DuckDB (same md5-uniform, same ln) but EXCLUDED from the output:
    * selection flips only if the rank-k and rank-k+1 keys sit within
    * one double ulp of each other (~1e-6 odds), whereas emitting the
    * key would hash float formatting differences directly.
    * doc_id tiebreak makes equal keys deterministic.
    */
  val weightedSample = QueryDef("q171_weighted_sample",
    """WITH keyed AS (
      |  SELECT doc_id, n_chars,
      |    -ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |           AS BIGINT) + 1) / 1152921504606846976.0)
      |      / greatest(n_chars, 1) AS k
      |  FROM documents)
      |SELECT doc_id, n_chars
      |FROM keyed ORDER BY k, doc_id LIMIT 100""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 15),
      16, 10).cast("double") + lit(1.0)) / lit(1152921504606846976.0)
    docs.select(col("doc_id"), col("n_chars"),
        (-log(u) / greatest(col("n_chars"), lit(1L))).as("k"))
      .orderBy(col("k"), col("doc_id"))
      .limit(100)
      .select("doc_id", "n_chars")
  }

  /** q181 — GOVERNED TRAINING CORPUS: the end-to-end shape a curation
    * pipeline takes on a lakehouse, composing the r14 table layer with
    * the dedup/decontamination operators. The documents corpus is
    * ingested into a snapshot table (v1); near-duplicates (8-token
    * prefix fingerprint) die by MERGE-ON-READ deletion vectors ([[graft.ops.SnapshotTable
    * .deleteRowsIn]] — the loser doc_ids come from a distributed
    * min-per-text pass, never a driver IN-list; v2 moves zero corpus
    * bytes, require-asserted); benchmark-contaminated documents (q69's
    * 5-gram overlap, computed on the raw corpus so the two passes are
    * independent and idempotent) die the same way (v3). Every
    * curation decision is a COMMIT: time travel reproduces the corpus
    * as trained-on at any stage, the history records APPEND/DELETE/
    * DELETE, and the audit trail costs O(versions) metadata. DuckDB
    * replays the whole pipeline relationally — dedup survivor rule,
    * contamination scan, final corpus stats — so a DV that misses a
    * duplicate, re-kills an already-dead row, or loses a survivor
    * hash-mismatches.
    */
  val corpusGovernance: QueryDef = {
    val path = graft.Work.oracleDumpPath("q181_table")
    QueryDef("q181_corpus_governance",
      """WITH docs AS (SELECT doc_id, text, n_chars FROM documents),
        |keep1 AS (SELECT min(doc_id) AS doc_id FROM docs
        |  GROUP BY array_to_string(string_split(trim(text), ' ')[1:8], ' ')),
        |sp AS (
        |  SELECT doc_id, doc_id % 50 = 0 AS is_bench,
        |    string_split(trim(text), ' ') AS ts
        |  FROM docs),
        |grams AS (
        |  SELECT doc_id, is_bench,
        |    unnest(list_distinct(list_transform(generate_series(1, len(ts) - 4),
        |      i -> array_to_string(ts[i:i+4], ' ')))) AS g
        |  FROM sp),
        |contaminated AS (
        |  SELECT DISTINCT c.doc_id
        |  FROM grams c JOIN (SELECT DISTINCT g FROM grams WHERE is_bench) b
        |    ON c.g = b.g
        |  WHERE NOT c.is_bench),
        |final AS (
        |  SELECT * FROM docs
        |  WHERE doc_id IN (SELECT doc_id FROM keep1)
        |    AND doc_id NOT IN (SELECT doc_id FROM contaminated))
        |SELECT
        |  (SELECT count(*) FROM docs) AS n_v1,
        |  (SELECT count(*) FROM docs
        |    WHERE doc_id IN (SELECT doc_id FROM keep1)) AS n_dedup,
        |  (SELECT count(*) FROM final) AS n_final,
        |  (SELECT CAST(sum(n_chars) AS BIGINT) FROM final) AS chars_final,
        |  TRUE AS segments_shared""".stripMargin,
      setup = { (s, d) =>
        graft.Work.wipe(java.nio.file.Paths.get(path))
        // the curation table runs SEGMENTED (threshold 1): the
        // metadata plane must be O(Δ) — a curation commit re-
        // references the corpus's file-list segment, never re-lists
        // the carried files
        val prevThresh =
          s.conf.getOption("spark.graft.manifest.segmentThreshold")
        s.conf.set("spark.graft.manifest.segmentThreshold", "1")
        try {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("text"), col("n_chars"))
        SnapshotTable.append(docs, path, numPartitions = 4,
          statsCol = Some("doc_id"))
        val v1 = SnapshotTable.readVersion(s, path, 1)
        // prefix-fingerprint dedup (first 8 tokens — boilerplate
        // headers collide, unique bodies don't): lower id survives;
        // losers computed distributively, handed over as a relation
        val losers = docs
          .withColumn("fp", concat_ws(" ",
            slice(split(trim(col("text")), "\\s+"), 1, 8)))
          .groupBy(col("fp"))
          .agg(min(col("doc_id")).as("keep"),
            collect_list(col("doc_id")).as("ids"))
          .select(explode(col("ids")).as("doc_id"), col("keep"))
          .filter(col("doc_id") =!= col("keep"))
        val (v2, nDup) = SnapshotTable.deleteRowsIn(s, path,
          "doc_id", losers)
        require(SnapshotTable.readVersion(s, path, 2).files == v1.files,
          "dedup rewrote corpus files — DV delete must not")
        // decontamination: q69's 5-gram overlap on the raw corpus;
        // overlapping ids may include already-dead duplicates — the DV
        // layer skips them (idempotent compose), require-asserted by
        // the oracle's final count
        val sp = docs.select(col("doc_id"),
          (col("doc_id") % 50 === 0).as("is_bench"),
          distinctNgrams(col("text"), 5).as("grams"))
        val benchGrams = sp.filter(col("is_bench"))
          .select(explode(col("grams")).as("g")).distinct()
        val contaminated = sp.filter(!col("is_bench"))
          .select(col("doc_id"), explode(col("grams")).as("g"))
          .join(broadcast(benchGrams), "g")
          .select("doc_id").distinct()
        val (v3, nCont) = SnapshotTable.deleteRowsIn(s, path,
          "doc_id", contaminated)
        require(v2 == 2 && v3 == 3 && nDup > 0 && nCont > 0,
          s"pipeline fixture degenerate: nDup=$nDup nCont=$nCont")
        val ops = SnapshotTable.history(s, path).orderBy("version")
          .select("op").collect().map(_.getString(0)).toSeq
        require(ops == Seq("APPEND", "DELETE", "DELETE"),
          s"audit trail drifted: $ops")
        // segment economics, pinned in the flagship: both curation
        // commits re-reference v1's segments verbatim (the DV deletes
        // touch no corpus file), so the log holds exactly v1's fresh
        // segments and the DELETE headers name no carried files
        val m1 = SnapshotTable.readVersion(s, path, 1)
        val m3v = SnapshotTable.readVersion(s, path, 3)
        require(m1.segRefs.exists(_.nonEmpty),
          "curation table is not segmented — the economics pin is void")
        require(m3v.segRefs == m1.segRefs,
          "a curation commit re-listed carried files — the metadata " +
            "plane is not O(Δ)")
        val segCount = java.nio.file.Files.list(
          java.nio.file.Paths.get(path, "log")).iterator()
        var nSegs = 0
        segCount.forEachRemaining(pp =>
          if (pp.getFileName.toString.startsWith("seg-")) nSegs += 1)
        require(nSegs == m1.segRefs.get.length,
          s"curation commits wrote $nSegs segments, expected only " +
            s"v1's ${m1.segRefs.get.length}")
        } finally {
          prevThresh match {
            case Some(v) =>
              s.conf.set("spark.graft.manifest.segmentThreshold", v)
            case None =>
              s.conf.unset("spark.graft.manifest.segmentThreshold")
          }
        }
      }) { (s, d) =>
      val (s1, _, r1) = SnapshotTable.scanAt(s, path, 1)
      val (s2, _, r2) = SnapshotTable.scanAt(s, path, 2)
      val (s3, _, r3) = SnapshotTable.scanAt(s, path, 3)
      val n1 = s1.count(); val n2 = s2.count()
      val f = s3.agg(count(lit(1)), sum("n_chars").cast("long"))
        .collect().head
      require(n1 == r1 && n2 == r2 && f.getLong(0) == r3,
        "scan/manifest drift across the governance pipeline")
      import s.implicits._
      Seq((n1, n2, f.getLong(0), f.getLong(1), true))
        .toDF("n_v1", "n_dedup", "n_final", "chars_final",
          "segments_shared")
    }
  }

  val all: Seq[QueryDef] =
    Seq(decontaminate, bloomDecontaminate, repetition, stratifiedSample,
      sequencePacking, corpusAssembly, mixtureWeights, spanDedup, piiScrub,
      exactSubstringDup, winnowedSubstringDup, weightedSample,
      corpusGovernance)
}
