package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession construction for every entry point (Bench, Verify,
  * tests). Centralizes the configs correctness depends on:
  *
  *   - UTC session time zone (F3 `ensure_utc`: the reference normalizes
  *     every timestamp to UTC, utils.py:169-187 — with the session TZ
  *     pinned, every parse/format/arithmetic path is UTC by
  *     construction and naive inputs attach UTC exactly like the
  *     reference helper);
  *   - `nanosAsLong`: if a driver-generated events.parquet carries
  *     INT64 TIMESTAMP(NANOS) (it did through r8; r9 regenerated it as
  *     TIMESTAMP(MICROS)), Spark 4's vectorized parquet reader would
  *     reject it at task time even when the column is pruned. Reading
  *     nanos as a plain long keeps every events query runnable under
  *     either fixture shape — `Tables.normalizeEventTs` then folds both
  *     into the single integer-nanos contract downstream operators use;
  *   - LAST_WIN map-key dedup: Python dict-merge (`|=`) right-bias
  *     (reference generator.py:716-717);
  *   - shuffle partitions sized to the local core count, not the 200
  *     default (on a real cluster this would be set per-job to match
  *     executor cores × nodes);
  *   - a codegen class cache that holds the suite's working set, so each
  *     generated class is compiled once per JVM. `graft.Bench` prints
  *     the classes each run compiled; after the warm-up a query should
  *     compile none (BASELINE.md, "Compile census", lists the few that
  *     do and why).
  */
object GraftSession {
  def build(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // native graft expressions (vec_dot, vec_stats) on the SQL surface;
      // cluster deployments get the same via
      // --conf spark.sql.extensions=graft.GraftExtensions
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      // bucketed-table writes (q57) land here, not in $PWD/spark-warehouse
      .config("spark.sql.warehouse.dir",
        Work.stableDir("warehouse").toUri.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // java.time externals (LocalDate/Instant) for collected rows,
      // literals and pushed filter values: the legacy java.sql.Date
      // conversion (SparkDateTimeUtils.toJavaDate/fromJavaDate) needs
      // a method handle into sun.util.calendar that only exists under
      // `--add-opens java.base/sun.util.calendar=ALL-UNNAMED` — a
      // spark-submit default this library cannot assume (a plain
      // `java -cp` driver crashes on the FIRST DATE-typed collect or
      // pushed DATE predicate otherwise). java.time is pure JDK API
      // and the representation every operator here expects
      // (TypedBounds.keyOfValue, row-group predicate translation).
      .config("spark.sql.datetime.java8API.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // standard int64-micros timestamps (not INT96): what gives
      // timestamp columns parquet min/max statistics, so the snapshot
      // table's typed row-group predicates can skip inside files
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      // let AQE re-optimize (coalesce/skew-split) the partitioning of
      // plans under a persist(): off by default only to keep cached
      // output partitioning stable for consumers that co-partition on
      // it, which nothing here does. Without it every in-query cache
      // pins the static shuffle-partition count onto all downstream
      // stages — tiny cached graph/basket relations (q126/q133/q172)
      // then fan 32 near-empty tasks per stage locally, and at cluster
      // scale the same mechanism mis-sizes partitions in the other
      // direction. Measured r21: q133 2.2→1.4 s, q126 2.4→1.8 s,
      // q172 1.9→1.5 s at local[32], neutral on the non-cached suite.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // Compiled generated classes live in a JVM-wide LRU keyed by their
      // source, Spark default 100 entries. The query_mix trio
      // (q115/q126/q68) alone compiles 121 at sf0.001 on local[4], so the
      // LRU cycled and every later pass recompiled 87-89 of them in
      // Janino; with this cache a later pass compiles 0 (94 -> 0 per run
      // on perfbench's query_mix tables, where Janino took about a
      // quarter of executor-thread samples). Census (BASELINE.md): one
      // pass of all 215 queries at sf0.001 compiles 2,622 distinct
      // classes, plus 135 that a later pass compiles afresh; 4096 covers
      // both with headroom. The cache
      // holds classes, never data: after that census a full GC leaves
      // 256 MB of heap and 252 MB of Metaspace in use, against 175 and
      // 233 MB at the default size, which recompiled 2,892 classes on
      // the census's timed pass.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Keep the whole-stage stage id out of the generated class name:
      // AQE numbers stages in the order they materialize, which varies
      // from run to run, so the same pipeline under a new id was a new
      // cache key and compiled again. The id stays in the plan and in
      // the source comment.
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop every registered in-query cache (the q38/q132/q126-style
    * `.persist()` calls that speed a single action's shared branches).
    * Harnesses call this after each query's action so that (a) caches
    * never accumulate across the suite and pressure later queries, and
    * (b) a repeated timing iteration cannot silently serve iteration 1's
    * cached result through plan canonicalization — every bench/verify
    * invocation recomputes from the parquet inputs.
    */
  def sweepCaches(spark: SparkSession): Unit =
    spark.sharedState.cacheManager.clearCache()
}
