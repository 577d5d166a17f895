package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.ops.{SkewJoin, SnapshotTable}
import graft.ops.SnapshotTable.PartSpec

/** Event-stream batch operators over `events.parquet` + the salted-join
  * skew recipe — the batch twins of the streaming surface, each with a
  * DuckDB oracle.
  *
  * `ts` arrives as integer nanos whatever the parquet physical type
  * (Tables.normalizeEventTs); window bucketing converts via micros
  * truncation exactly like DuckDB's TIMESTAMP_NS → TIMESTAMP cast, and
  * session-gap arithmetic stays in raw nanos so no float/timestamp
  * conversion can drift.
  */
object EventOps {

  /** Tumbling event-time windows (the batch form of
    * streaming.EventStream.windowedCounts). Sum over DECIMAL so the
    * aggregation is exact in both engines regardless of partial-agg
    * order (double sums are order-sensitive).
    */
  val eventWindows = QueryDef("q50_event_windows",
    """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
      |  event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val eventTime = timestamp_micros(expr("ts div 1000"))
    Tables.events(s, d)
      // cast to NTZ: the bare window start writes parquet timestamp[ns]
      // (UTC-adjusted), while DuckDB's time_bucket is a naive µs
      // timestamp — NTZ lands both sides on identical timestamp[us]
      .select(window(eventTime, "1 hour")("start").cast("timestamp_ntz")
          .as("window_start"),
        col("event_type"), col("value"))
      .groupBy(col("window_start"), col("event_type"))
      // decimal sum is exact; the final cast to double makes both engines
      // ship the same float64 (a parquet DECIMAL reads back as a Python
      // Decimal object, which the driver's exact hash never matches
      // against DuckDB's float rendering)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
  }

  /** Sessionization (gaps-and-islands): a >30-minute silence starts a
    * new session per user; per-session event count and duration. Gap
    * math in raw nanos — integer-exact in both engines.
    */
  val sessionize = QueryDef("q51_sessionize",
    """WITH base AS (
      |  SELECT user_id, epoch_ns(CAST(ts AS TIMESTAMP_NS)) AS ts, event_id
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN ts - lag(ts) OVER w > 1800000000000 OR lag(ts) OVER w IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, ts,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  (max(ts) - min(ts)) // 1000000 AS duration_ms
      |FROM sessions GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapNs = 30L * 60 * 1000 * 1000 * 1000
    val flagged = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("new_session",
        when(col("ts") - lag(col("ts"), 1).over(w) > gapNs ||
          lag(col("ts"), 1).over(w).isNull, 1).otherwise(0))
    flagged
      .withColumn("session_id",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        // integer division in BOTH engines: double-divide-then-cast would
        // round vs truncate differently across them
        expr("(max(ts) - min(ts)) div 1000000").as("duration_ms"))
  }

  /** Salted skew join: result must equal the plain join (the oracle IS
    * the plain join) while the physical plan spreads each orderkey over
    * 8 shards — the hot-key recipe for 100 TB fact-fact joins.
    */
  val saltedJoin = QueryDef("q52_salted_join",
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val joined = SkewJoin.saltedJoin(
      Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
      Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
      key = "o_orderkey", shards = 8)
    joined.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,6)")).cast("double").as("sum_qty"))
  }

  /** Bucketed co-located join: both sides written `bucketBy(8, key)` +
    * sorted, so the sort-merge join reads co-located buckets and the
    * plan has NO shuffle exchange on either side (BucketedJoinSpec
    * asserts this on the physical plan). This is the 100 TB fact-fact
    * recipe when both tables are join-heavy on the same key: pay the
    * bucketed write once, then every subsequent join skips its
    * exchange+sort entirely. Results are physically-identical to the
    * plain join — the oracle IS the plain join. The bucketed tables are
    * session-catalog tables under the stable warehouse dir, which setup
    * rebuilds.
    */
  val bucketedJoin = QueryDef("q57_bucketed_join",
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    setup = { (s, d) =>
      val (lt, ot) = bucketedTables(d)
      def build(table: String, df: org.apache.spark.sql.DataFrame,
                key: String): Unit = {
        // the in-memory catalog dies with the JVM but the warehouse dir
        // persists — a leftover location from a previous run must be
        // wiped or saveAsTable aborts with LOCATION_ALREADY_EXISTS
        graft.Work.wipe(java.nio.file.Paths.get(
          graft.Work.stableDir("warehouse").toString, table))
        df.write.bucketBy(8, key).sortBy(key)
          .mode("overwrite").saveAsTable(table)
      }
      build(lt, Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice")), "l_orderkey")
      build(ot, Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority")), "o_orderkey")
    }) { (s, d) =>
    joinBucketed(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double")
          .as("sum_price"))
  }

  private def bucketedTables(d: String): (String, String) = {
    val tag = math.abs(d.hashCode).toString
    (s"graft_bkt_lineitem_$tag", s"graft_bkt_orders_$tag")
  }

  /** The exchange-free join itself (pre-aggregation) over the tables
    * q57's setup builds, shared with the plan-asserting spec.
    */
  def joinBucketed(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val (lt, ot) = bucketedTables(d)
    // merge hint: keep the sort-merge form even when one side would fit
    // a broadcast — the point is the exchange-free bucketed merge
    s.table(lt).hint("merge")
      .join(s.table(ot).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
  }

  private val streamRun = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Stage the events table as parquet FILES for the file-watch source.
    * Robust to the driver regenerating events.parquet as either a single
    * file (today's shape) or a directory of part files — the same
    * fixture-shape discipline SchemaDriftSpec enforces for types.
    * `copies` > 1 duplicates the input (the at-least-once fixtures).
    */
  private[graft] def stageEvents(d: String, tag: String, copies: Int = 1): String = {
    import scala.jdk.CollectionConverters._
    // materialize + close each directory listing (Files.list holds an
    // open handle until closed; these run once per streaming query)
    def listParquet(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.list(p)
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toList
      finally s.close()
    }
    val src = java.nio.file.Paths.get(d, "events.parquet")
    val dir = graft.Work.stableDir(s"$tag-${math.abs(d.hashCode)}")
    // leftovers from an earlier staging SHAPE would double the input
    listParquet(dir).foreach(java.nio.file.Files.delete)
    val parts: Seq[java.nio.file.Path] =
      if (java.nio.file.Files.isDirectory(src)) listParquet(src).sortBy(_.toString)
      else Seq(src)
    for (c <- 0 until copies; (p, i) <- parts.zipWithIndex)
      java.nio.file.Files.copy(p, dir.resolve(f"ev_${c}%d_$i%03d.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  /** The STREAMING twin of q50 under the SAME DuckDB oracle: the events
    * table staged as a file-watch source, consumed by a watermarked
    * tumbling-window aggregation via Trigger.AvailableNow, memory sink.
    * Complete output mode keeps every window in state, so the final
    * table must equal the batch aggregation exactly — Structured
    * Streaming's event-time semantics are oracle-gated, not just
    * spec-asserted. Decimal sums keep the aggregation order-insensitive
    * across micro-batch boundaries exactly as across batch partials.
    */
  val streamEventWindows = QueryDef("q92_stream_event_windows",
    """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
      |  event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    graft.streaming.EventStream.withStatePartitions(s, 8) {
      val events = graft.streaming.EventStream.readEvents(s,
        stageEvents(d, "stream-events"))
      val agg = events
        .withWatermark("event_time", "2 hours")
        .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .select(col("window.start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n"), col("sum_value"))
      graft.streaming.EventStream.runToCompletion(s, agg,
        s"q92_win_${streamRun.incrementAndGet()}", outputMode = "complete")
    }
  }

  /** Streaming sessionization (flatMapGroupsWithState + event-time
    * timeouts) under the oracle: a session is EMITTED iff a later
    * in-stream event closed it, or the final watermark (max event time
    * − 2 h) passed its gap deadline — the oracle SQL replicates exactly
    * that emission rule on top of the batch gaps-and-islands, so the
    * custom state machine's output is hash-gated, not just
    * spec-asserted. Times are epoch millis (the state machine's unit).
    * Since r11 the stream lands in the checkpointed parquet FILE sink
    * and the oracle reads back what the sink committed, gating the
    * production sink path, not just the memory-sink harness.
    */
  val streamSessionize = QueryDef("q93_stream_sessionize",
    """WITH base AS (
      |  SELECT user_id, epoch_us(ts) // 1000 AS ms FROM events),
      |flagged AS (
      |  SELECT user_id, ms,
      |    CASE WHEN ms - lag(ms) OVER w > 1800000 OR lag(ms) OVER w IS NULL
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
      |sessions AS (
      |  SELECT user_id, ms,
      |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ms
      |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      |  FROM flagged),
      |agg AS (
      |  SELECT user_id, sid, min(ms) AS session_start,
      |    max(ms) AS session_end, count(*) AS n_events
      |  FROM sessions GROUP BY 1, 2),
      |wm AS (SELECT max(ms) - 7200000 AS final_wm FROM base)
      |SELECT user_id, session_start, session_end, n_events
      |FROM agg, wm
      |WHERE sid < (SELECT max(sid) FROM agg a2 WHERE a2.user_id = agg.user_id)
      |   OR session_end + 1800000 < final_wm
      |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
    graft.streaming.EventStream.withStatePartitions(s, 8) {
      val sessions = graft.streaming.EventStream.sessionizeStream(s,
        graft.streaming.EventStream.readEvents(s,
          stageEvents(d, "stream-events")))
      // through the PRODUCTION parquet file sink (checkpointed,
      // exactly-once commit log) rather than the driver-side memory sink:
      // the oracle gates the sink path a live deployment would run
      graft.streaming.EventStream.runToParquet(s, sessions.toDF(),
        graft.Work.stableDir(s"q93-sink-${math.abs(d.hashCode)}"))
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"))
    }
  }

  /** Streaming exact dedup under the oracle: the events file staged
    * TWICE (an at-least-once upstream), dropDuplicatesWithinWatermark
    * collapsing each event_id to one emission — the result must equal
    * the plain distinct event set. Aggregated per event_type so the
    * oracle row count stays bounded while every surviving row still
    * participates in the hash (count + sums over id/value).
    */
  val streamDedup = QueryDef("q94_stream_dedup",
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(event_id) AS BIGINT) AS sum_id,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (s, d) =>
    graft.streaming.EventStream.withStatePartitions(s, 8) {
      val deduped = graft.streaming.EventStream.dedupStream(
        graft.streaming.EventStream.readEvents(s,
          stageEvents(d, "stream-events-dup", copies = 2)))
      graft.streaming.EventStream.runToCompletion(s, deduped,
        s"q94_dedup_${streamRun.incrementAndGet()}", outputMode = "append")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
    }
  }

  /** First-wins keyed state (mapGroupsWithState) under the oracle: the
    * duplicated stream's per-user state must land on min(ts) with the
    * doubled sighting count — the get-or-create J2 semantics in their
    * streaming form, hash-gated.
    */
  val streamFirstSeen = QueryDef("q95_stream_first_seen",
    """SELECT user_id,
      |  CAST(min(epoch_ns(CAST(ts AS TIMESTAMP_NS))) AS BIGINT) AS first_ts,
      |  CAST(2 * count(*) AS BIGINT) AS n_events
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    graft.streaming.EventStream.withStatePartitions(s, 8) {
      val firsts = graft.streaming.EventStream.firstSeenPerUser(s,
        graft.streaming.EventStream.readEvents(s,
          stageEvents(d, "stream-events-dup", copies = 2)))
      // the update-mode memory table keeps every state revision if the
      // files split across micro-batches; state is MONOTONE (first_ts
      // only falls, n_events only grows), so min/max per user recovers
      // the final state whatever the batching
      graft.streaming.EventStream.runToCompletion(s, firsts.toDF(),
        s"q95_first_${streamRun.incrementAndGet()}", outputMode = "update")
        .groupBy(col("user_id"))
        .agg(min(col("first_ts")).as("first_ts"),
          max(col("n_events")).as("n_events"))
    }
  }

  /** Watermarked stream-stream interval join under the oracle: every
    * view→click attribution pair within 30 minutes per user, via
    * Spark's symmetric-hash stream join with watermark-derived state
    * eviction on BOTH buffers ([[graft.streaming.EventStream
    * .intervalJoinStream]]). The append-mode pair stream is aggregated
    * per user in batch afterwards so the oracle row count stays
    * bounded while sum/min over the pair delays still hash every
    * emitted pair.
    */
  val streamIntervalJoin = QueryDef("q99_stream_interval_join",
    """SELECT v.user_id,
      |  count(*) AS n_pairs,
      |  CAST(sum(epoch_us(c.ts) - epoch_us(v.ts)) AS BIGINT) AS sum_delay_us,
      |  CAST(min(epoch_us(c.ts) - epoch_us(v.ts)) AS BIGINT) AS min_delay_us
      |FROM events v JOIN events c
      |  ON v.user_id = c.user_id
      | AND v.event_type = 'view' AND c.event_type = 'click'
      | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL '30 minutes'
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    graft.streaming.EventStream.withStatePartitions(s, 8) {
      val pairs = graft.streaming.EventStream.intervalJoinStream(
        graft.streaming.EventStream.readEvents(s,
          stageEvents(d, "stream-events")))
      graft.streaming.EventStream.runToCompletion(s, pairs,
        s"q99_ssjoin_${streamRun.incrementAndGet()}", outputMode = "append")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("click_us") - col("view_us")).as("sum_delay_us"),
          min(col("click_us") - col("view_us")).as("min_delay_us"))
    }
  }

  /** LEFT-OUTER stream-stream join under the oracle: matched
    * view→click pairs emit inner-style; an unmatched view emits ONCE
    * with a null click when the watermark passes its match horizon
    * (eviction = outer emission). The oracle replicates exactly that
    * emission rule: the final watermark is min(max view ts, max click
    * ts) − 2 h (each side's watermark tracks its own filtered stream),
    * and an orphan view emits iff view + 30 min < final watermark —
    * verified row-for-row in EventStreamSpec before being gated here.
    */
  val streamOuterJoin = QueryDef("q102_stream_outer_join",
    """WITH v AS (
      |  SELECT user_id AS u, epoch_us(ts) AS vus FROM events
      |  WHERE event_type = 'view'),
      |c AS (
      |  SELECT user_id AS cu, epoch_us(ts) AS cus FROM events
      |  WHERE event_type = 'click'),
      |wm AS (
      |  SELECT least((SELECT max(vus) FROM v), (SELECT max(cus) FROM c))
      |         - 7200000000 AS final_wm),
      |j AS (
      |  SELECT u, vus, cus FROM v LEFT JOIN c
      |    ON u = cu AND cus >= vus AND cus <= vus + 1800000000),
      |f AS (
      |  SELECT u, vus, cus FROM j, wm
      |  WHERE cus IS NOT NULL OR vus + 1800000000 < final_wm)
      |SELECT u AS user_id, count(*) AS n_rows, count(cus) AS n_matched,
      |  CAST(sum(CASE WHEN cus IS NULL THEN 0 ELSE cus - vus END)
      |    AS BIGINT) AS sum_delay_us
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    graft.streaming.EventStream.withStatePartitions(s, 8) {
      val joined = graft.streaming.EventStream.intervalJoinStream(
        graft.streaming.EventStream.readEvents(s,
          stageEvents(d, "stream-events")), joinType = "left_outer")
      graft.streaming.EventStream.runToCompletion(s, joined,
        s"q102_ssouter_${streamRun.incrementAndGet()}", outputMode = "append")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("click_us")).as("n_matched"),
          sum(coalesce(col("click_us") - col("view_us"), lit(0L)))
            .as("sum_delay_us"))
    }
  }

  /** Ordered funnel (view → later click → later purchase): per stage,
    * the qualifying timestamp is the FIRST event of that type strictly
    * after the user's previous-stage time — the order-sensitive funnel,
    * not independent existence checks. Each stage is an aggregate +
    * broadcast join of the (tiny) per-user stage table back against
    * events; the big relation never shuffles twice for one stage.
    */
  val funnel = QueryDef("q105_funnel",
    """WITH v AS (
      |  SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) AS t2
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
      |  GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) AS t3
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
      |  GROUP BY 1)
      |SELECT (SELECT count(*) FROM v) AS n_view,
      |  (SELECT count(*) FROM c) AS n_view_click,
      |  (SELECT count(*) FROM p) AS n_view_click_purchase,
      |  (SELECT CAST(coalesce(sum(c.t2 - v.t1), 0) AS BIGINT)
      |   FROM c JOIN v ON c.user_id = v.user_id) AS sum_click_delay_us""".stripMargin) {
    (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("t"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("t")).as("t1"))
    val c = ev.filter(col("event_type") === "click")
      .join(broadcast(v), "user_id").filter(col("t") > col("t1"))
      .groupBy("user_id").agg(min(col("t")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(broadcast(c), "user_id").filter(col("t") > col("t2"))
      .groupBy("user_id").agg(min(col("t")).as("t3"))
    val delay = c.join(v, "user_id")
      .agg(coalesce(sum(col("t2") - col("t1")), lit(0L)).as("sum_click_delay_us"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_view_click_purchase")))
      .crossJoin(delay)
  }

  /** Weekly retention cohorts: users grouped by the ISO week of their
    * first event; each (cohort, week-offset) cell counts distinct
    * users active that week. Offsets are exact integer arithmetic on
    * epoch microseconds of the week-truncated timestamps, so the
    * cross-engine hash never touches calendar-diff semantics.
    */
  val cohorts = QueryDef("q106_retention_cohorts",
    """WITH firsts AS (
      |  SELECT user_id,
      |    epoch_us(date_trunc('week', min(CAST(ts AS TIMESTAMP)))) AS cw
      |  FROM events GROUP BY 1),
      |act AS (
      |  SELECT DISTINCT e.user_id, f.cw,
      |    (epoch_us(date_trunc('week', CAST(e.ts AS TIMESTAMP))) - f.cw)
      |      // 604800000000 AS week_offset
      |  FROM events e JOIN firsts f ON e.user_id = f.user_id)
      |SELECT cw AS cohort_week_us, week_offset,
      |  count(*) AS n_active
      |FROM act GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("user_id"),
        date_trunc("week", timestamp_micros(expr("ts div 1000"))).as("w"))
    val firsts = ev.groupBy("user_id")
      .agg(min(unix_micros(col("w"))).as("cw"))
    ev.join(broadcast(firsts), "user_id")
      .select(col("user_id"), col("cw"),
        ((unix_micros(col("w")) - col("cw")) / 604800000000L)
          .cast("long").as("week_offset"))
      .distinct()
      .groupBy(col("cw").as("cohort_week_us"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** Arbitrary stateful processing on Spark 4's NEW `transformWithState`
    * API (RocksDB-backed typed state variables — the successor to
    * mapGroupsWithState) under the oracle: per-user running totals
    * whose every field is monotone, so whatever the micro-batch
    * slicing, per-column max over the update stream equals the plain
    * batch aggregate DuckDB computes. This gates the new API's state
    * round-trip (encoder-backed ValueState in RocksDB) end to end.
    */
  /** STREAM-STATIC join under the oracle (the remaining streaming join
    * shape after q99/q102's stream-stream forms): the event stream
    * enriched per micro-batch against a BROADCAST static dimension —
    * stateless, append-mode, no watermark needed — then aggregated in
    * batch. The result must equal the plain batch join, whatever the
    * file batching.
    */
  val streamStaticJoin = QueryDef("q125_stream_static_join",
    """SELECT c_mktsegment AS segment, count(*) AS n,
      |  CAST(sum(event_id) AS BIGINT) AS sum_id,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    graft.streaming.EventStream.withStatePartitions(s, 8) {
      val ev = graft.streaming.EventStream.readEvents(s,
        stageEvents(d, "stream-events"))
      val dim = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      val enriched = ev
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), col("event_id"),
          col("value"))
      graft.streaming.EventStream.runToCompletion(s, enriched,
        s"q125_enrich_${streamRun.incrementAndGet()}",
        outputMode = "append")
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
        .orderBy("segment")
    }
  }

  val streamRunningTotals = QueryDef("q120_stream_running_totals",
    """SELECT user_id, count(*) AS n_events,
      |  CAST(sum(event_id) AS BIGINT) AS sum_id,
      |  CAST(max(epoch_ns(CAST(ts AS TIMESTAMP_NS))) AS BIGINT) AS max_ts
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    graft.streaming.EventStream.withRocksDbStateStore(s) {
      graft.streaming.EventStream.withStatePartitions(s, 8) {
        val totals = graft.streaming.EventStream.runningTotalsPerUser(s,
          graft.streaming.EventStream.readEvents(s,
            stageEvents(d, "stream-events")))
        graft.streaming.EventStream.runToCompletion(s, totals.toDF(),
          s"q120_totals_${streamRun.incrementAndGet()}",
          outputMode = "update")
          .groupBy(col("user_id"))
          .agg(max(col("n_events")).as("n_events"),
            max(col("sum_id")).as("sum_id"),
            max(col("max_ts")).as("max_ts"))
      }
    }
  }

  /** Interval union / coverage ([[graft.ops.Intervals]]): each event
    * opens a 5-minute half-open activity interval; overlapping-or-
    * touching intervals merge into maximal islands per user, and the
    * per-user coverage (total covered nanos, island count, longest
    * island) is exact integer arithmetic in both engines. This is the
    * multi-run generalization of the A3/A4 temporal extent: gaps
    * survive instead of collapsing into one min/max range.
    */
  val intervalCoverage = QueryDef("q117_interval_coverage",
    """WITH iv AS (
      |  SELECT user_id, epoch_ns(CAST(ts AS TIMESTAMP_NS)) AS s,
      |    epoch_ns(CAST(ts AS TIMESTAMP_NS)) + 300000000000 AS e
      |  FROM events),
      |g AS (
      |  SELECT user_id, s, e,
      |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM iv),
      |isl AS (
      |  SELECT user_id, s, e,
      |    sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY s, e
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM g),
      |m AS (SELECT user_id, island, min(s) AS st, max(e) AS en,
      |        count(*) AS nr
      |      FROM isl GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_islands,
      |  CAST(sum(nr) AS BIGINT) AS n_raw,
      |  CAST(sum(en - st) AS BIGINT) AS covered_ns,
      |  CAST(max(en - st) AS BIGINT) AS max_island_ns
      |FROM m GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    graft.ops.Intervals.merge(ev, col("user_id"), col("ts"),
        col("ts") + lit(300000000000L))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("n_raw")).cast("long").as("n_raw"),
        sum(col("end") - col("start")).cast("long").as("covered_ns"),
        max(col("end") - col("start")).cast("long").as("max_island_ns"))
      .select(col("k").as("user_id"), col("n_islands"), col("n_raw"),
        col("covered_ns"), col("max_island_ns"))
  }

  /** q158 — STREAMING INGESTION into the snapshot table, exactly-once:
    * the events file-stream lands in [[graft.ops.SnapshotTable]] via
    * `foreachBatch`, each micro-batch committed with a transaction id
    * `(writer, batchId)` the manifest records per writer. Replay is the
    * whole point: a re-delivered micro-batch (restart, checkpoint
    * rollback, foreachBatch's at-least-once contract) hits the recorded
    * watermark and commits NOTHING — asserted by re-appending the last
    * batch id and requiring the version unchanged. maxFilesPerTrigger
    * forces ≥2 real micro-batches so cross-batch txn accounting is
    * exercised, and the require pins exactly-once structurally: the
    * table's committed row count must equal the source row count (a
    * duplicated batch doubles it, a skipped one loses it) — then DuckDB
    * recomputes the aggregate from the raw events table, catching
    * row-level duplication the count alone might balance out.
    */
  val streamTableIngest: QueryDef = {
    val path = graft.Work.oracleDumpPath("q158_table")
    QueryDef("q158_stream_table_ingest",
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  count(DISTINCT user_id) AS n_users,
        |  TRUE AS replay_skipped
        |FROM events""".stripMargin,
      setup = { (s, d) =>
        graft.Work.wipe(java.nio.file.Paths.get(path))
        // stage the events table as FOUR files so maxFilesPerTrigger=1
        // yields four real micro-batches (the raw table is one file)
        val srcDir = graft.Work.stableDir(
          s"q158-src-${math.abs(d.hashCode)}").toString
        graft.Work.wipe(java.nio.file.Paths.get(srcDir))
        Tables.load(s, d, "events").repartition(4)
          .write.mode("overwrite").parquet(srcDir)
        val ckpt = graft.Work.stableDir(
          s"q158-ckpt-${math.abs(d.hashCode)}")
        graft.Work.wipe(ckpt)
        val events = s.readStream
          .schema(s.read.parquet(srcDir).schema)
          .option("maxFilesPerTrigger", 1) // force multiple micro-batches
          .parquet(srcDir)
        val writer = "q158_ingest"
        val q = events.writeStream
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             batchId: Long) =>
              SnapshotTable.append(
                batch.select(col("event_id").cast("long").as("event_id"),
                  col("user_id").cast("long").as("user_id"),
                  col("value")),
                path, numPartitions = 2, txn = Some((writer, batchId)))
              ()
          }
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val v = SnapshotTable.latestVersion(path)
        require(v >= 2, s"expected ≥2 micro-batch commits, got $v")
        val ver = SnapshotTable.readVersion(s, path, v)
        // replay the last delivered batch: must commit nothing
        val lastBatch = ver.txns(writer)
        val vReplay = SnapshotTable.append(
          s.read.parquet(srcDir).limit(5)
            .select(col("event_id").cast("long").as("event_id"),
              col("user_id").cast("long").as("user_id"), col("value")),
          path, numPartitions = 1, txn = Some((writer, lastBatch)))
        require(vReplay == v && SnapshotTable.latestVersion(path) == v,
          s"replayed batch $lastBatch committed a new version")
        // exactly-once, structurally: table rows == source rows
        val srcRows = s.read.parquet(srcDir).count()
        require(ver.rows == srcRows,
          s"ingest landed ${ver.rows} rows, source has $srcRows")
      }) { (s, d) =>
      val (scan, _, rowsExp) =
        SnapshotTable.scanAt(s, path, SnapshotTable.latestVersion(path))
      val a = scan.agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("sum_value"),
        count_distinct(col("user_id")).as("n_users")).collect().head
      require(a.getLong(0) == rowsExp, "scan/manifest drift after ingest")
      import s.implicits._
      Seq((a.getLong(0), a.getDouble(1), a.getLong(2), true))
        .toDF("n", "sum_value", "n_users", "replay_skipped")
    }
  }

  /** q161 — STREAMING CDC APPLY, exactly-once: the composition a
    * change-data-capture consumer actually runs — per micro-batch,
    * reduce the batch to one winner per key (arg-max on the unique,
    * monotonically-assigned event id), MERGE it into the snapshot
    * table, and commit the batch's transaction id in the SAME manifest
    * as the data, so replays apply nothing ([[graft.ops.SnapshotTable
    * .merge]] with `txn`). The batches are staged in event-id order
    * (sequential single-file writes — the file source processes them
    * oldest-first), so the table's final state is exactly "every user's
    * latest event", which DuckDB recomputes from the raw events table
    * with arg_max. Replay of the final batch is asserted to merge
    * nothing, and the per-user row count is pinned structurally (a
    * duplicated apply inflates it; upsert semantics keep one row per
    * key however many batches touch it).
    */
  val streamCdcApply: QueryDef = {
    val path = graft.Work.oracleDumpPath("q161_table")
    QueryDef("q161_stream_cdc_apply",
      """WITH w AS (
        |  SELECT user_id, arg_max(value, event_id) AS value,
        |    max(event_id) AS last_event_id
        |  FROM events GROUP BY 1)
        |SELECT count(*) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |    AS sum_last_value,
        |  CAST(sum(last_event_id) AS BIGINT) AS sum_last_event,
        |  TRUE AS replay_skipped
        |FROM w""".stripMargin,
      setup = { (s, d) =>
        graft.Work.wipe(java.nio.file.Paths.get(path))
        val ev = Tables.load(s, d, "events")
          .select(col("event_id").cast("long").as("event_id"),
            col("user_id").cast("long").as("user_id"), col("value"))
        // seed state: one row per user, sentinel value, id -1 — every
        // user is overwritten by its first CDC batch
        SnapshotTable.append(
          ev.select(col("user_id")).distinct()
            .withColumn("last_event_id", lit(-1L))
            .withColumn("value", lit(0.0)),
          path, numPartitions = 4, statsCol = Some("user_id"))
        // stage 4 batches in EVENT-ID ORDER as sequential single-file
        // writes (increasing mtimes — the file source replays them
        // oldest-first, the Kafka-partition-order stand-in)
        val srcDir = graft.Work.stableDir(
          s"q161-src-${math.abs(d.hashCode)}").toString
        graft.Work.wipe(java.nio.file.Paths.get(srcDir))
        val maxId = ev.agg(max("event_id")).collect().head.getLong(0)
        for (k <- 0 until 4) {
          ev.filter(col("event_id") >= k * (maxId + 1) / 4 &&
              col("event_id") < (k + 1) * (maxId + 1) / 4)
            .coalesce(1)
            .write.mode("append").parquet(srcDir)
          Thread.sleep(5) // distinct mtimes -> deterministic replay order
        }
        val ckpt = graft.Work.stableDir(
          s"q161-ckpt-${math.abs(d.hashCode)}")
        graft.Work.wipe(ckpt)
        val writer = "q161_cdc"
        val q = s.readStream
          .schema(s.read.parquet(srcDir).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir)
          .writeStream
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             batchId: Long) =>
              // one winner per key: the batch's latest event
              val ups = batch.groupBy("user_id")
                .agg(max_by(col("value"), col("event_id")).as("value"),
                  max("event_id").as("last_event_id"))
                .select(col("user_id"), col("last_event_id"), col("value"))
              if (!ups.isEmpty)
                SnapshotTable.merge(s, path, ups, "user_id",
                  txn = Some((writer, batchId)))
              ()
          }
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val v = SnapshotTable.latestVersion(path)
        val ver = SnapshotTable.readVersion(s, path, v)
        require(ver.txns.contains(writer) && v >= 3,
          s"expected ≥2 CDC merges after the seed, got version $v")
        // replay the last batch: must merge nothing
        val res = SnapshotTable.merge(s, path,
          s.read.parquet(srcDir).limit(3)
            .select(col("user_id").cast("long").as("user_id"),
              col("event_id").cast("long").as("last_event_id"),
              col("value")),
          "user_id", txn = Some((writer, ver.txns(writer))))
        require(res.version == v && res.rowsMatched == 0 &&
            res.rowsInserted == 0,
          s"replayed CDC batch ${ver.txns(writer)} applied changes")
      }) { (s, d) =>
      val (scan, _, rowsExp) =
        SnapshotTable.scanAt(s, path, SnapshotTable.latestVersion(path))
      // upsert discipline: exactly one state row per user
      val nUsers = Tables.load(s, d, "events")
        .select(col("user_id")).distinct().count()
      require(rowsExp == nUsers,
        s"CDC state holds $rowsExp rows for $nUsers users")
      // no sentinel survived: every user was reached by some batch
      val a = scan.agg(count(lit(1)).as("n_users"),
        sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("sum_last_value"),
        sum("last_event_id").cast("long").as("sum_last_event"),
        min("last_event_id").as("min_last")).collect().head
      require(a.getLong(3) >= 0, "a seed sentinel row survived the stream")
      import s.implicits._
      Seq((a.getLong(0), a.getDouble(1), a.getLong(2), true))
        .toDF("n_users", "sum_last_value", "sum_last_event",
          "replay_skipped")
    }
  }

  /** q180 — STREAMING INGESTION into a HIDDEN-PARTITIONED snapshot
    * table, exactly-once: q158's foreachBatch + txn-id discipline
    * composed with q167's partition layout
    * ([[graft.ops.SnapshotTable.appendPartitioned]] takes the same
    * per-writer transaction ids) — the shape a production event
    * pipeline actually lands: micro-batches arrive partition-PURE into
    * `bucket(8)` on the user key, a re-delivered batch commits nothing
    * (require-asserted by replaying the last id), and the payoff is
    * immediate: a per-user probe after ingest opens at most the users'
    * buckets (require-asserted `read < total`). Exactly-once is pinned
    * structurally (table rows == source rows) and DuckDB recomputes
    * global and probe aggregates from raw events — a duplicated or
    * dropped micro-batch, or a bucket-routing drift between executor
    * and driver hashes, hash-mismatches.
    */
  val streamPartitionedIngest: QueryDef = {
    val path = graft.Work.oracleDumpPath("q180_table")
    QueryDef("q180_stream_partitioned_ingest",
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  (SELECT count(*) FROM events
        |    WHERE CAST(user_id AS BIGINT) IN (1, 2, 3)) AS n_probe,
        |  TRUE AS replay_skipped
        |FROM events""".stripMargin,
      setup = { (s, d) =>
        graft.Work.wipe(java.nio.file.Paths.get(path))
        val srcDir = graft.Work.stableDir(
          s"q180-src-${math.abs(d.hashCode)}").toString
        graft.Work.wipe(java.nio.file.Paths.get(srcDir))
        Tables.load(s, d, "events").repartition(4)
          .write.mode("overwrite").parquet(srcDir)
        val ckpt = graft.Work.stableDir(
          s"q180-ckpt-${math.abs(d.hashCode)}")
        graft.Work.wipe(ckpt)
        val events = s.readStream
          .schema(s.read.parquet(srcDir).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir)
        val writer = "q180_ingest"
        val spec = PartSpec("user_id", "bucket", 8)
        val q = events.writeStream
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             batchId: Long) =>
              SnapshotTable.appendPartitioned(
                batch.select(col("event_id").cast("long").as("event_id"),
                  col("user_id").cast("long").as("user_id"),
                  col("value")),
                path, spec, txn = Some((writer, batchId)))
              ()
          }
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val v = SnapshotTable.latestVersion(path)
        require(v >= 2, s"expected ≥2 micro-batch commits, got $v")
        val ver = SnapshotTable.readVersion(s, path, v)
        val vReplay = SnapshotTable.appendPartitioned(
          s.read.parquet(srcDir).limit(5)
            .select(col("event_id").cast("long").as("event_id"),
              col("user_id").cast("long").as("user_id"), col("value")),
          path, spec, txn = Some((writer, ver.txns(writer))))
        require(vReplay == v && SnapshotTable.latestVersion(path) == v,
          s"replayed batch ${ver.txns(writer)} committed a new version")
        val srcRows = s.read.parquet(srcDir).count()
        require(ver.rows == srcRows,
          s"ingest landed ${ver.rows} rows, source has $srcRows")
      }) { (s, d) =>
      val latest = SnapshotTable.latestVersion(path)
      val (scan, _, rowsExp) = SnapshotTable.scanAt(s, path, latest)
      val a = scan.agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("sum_value")).collect().head
      require(a.getLong(0) == rowsExp, "scan/manifest drift after ingest")
      // the partition payoff: a 3-user probe opens at most the keys' 3
      // buckets — per micro-batch, so ≤ 3/8 of the files
      val (probe, read, total) =
        SnapshotTable.scanPartitionKeys(s, path, latest, Seq(1L, 2L, 3L))
      require(read < total,
        s"bucket pruning died: read $read of $total partition files")
      val nProbe = probe.count()
      import s.implicits._
      Seq((a.getLong(0), a.getDouble(1), nProbe, true))
        .toDF("n", "sum_value", "n_probe", "replay_skipped")
    }
  }

  /** q185 — THE SNAPSHOT TABLE AS A STREAMING SOURCE
    * (`spark.readStream.format("graft_table")`,
    * [[graft.source.v2.GraftTableSource]]): the commit log is the
    * offset domain — each micro-batch delivers exactly the files that
    * ENTERED the table in its version range, planned from the
    * manifest diff (cost ∝ appended files, never table size). The
    * fixture streams an initial two-version snapshot into a parquet
    * sink, appends two MORE versions, and RESTARTS the stream on the
    * same checkpoint: the tail delivers only the new versions' rows,
    * so the sink holds every source row exactly once — the
    * q158 ingest direction reversed (table→stream instead of
    * stream→table), closing the loop: a table can now sit in the
    * MIDDLE of a streaming pipeline. Exactly-once is require-asserted
    * (sink rows == source rows; a re-delivered version doubles, a
    * skipped one loses), then DuckDB recomputes the aggregate from
    * raw lineitem, catching row-level duplication counts can balance.
    */
  val tableStream: QueryDef = {
    val table = graft.Work.oracleDumpPath("q185_table")
    val sink = graft.Work.oracleDumpPath("q185_sink")
    QueryDef("q185_table_stream",
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty_u,
        |  min(l_orderkey) AS k_min, max(l_orderkey) AS k_max,
        |  TRUE AS exactly_once
        |FROM lineitem WHERE l_linenumber <= 4""".stripMargin,
      setup = { (s, d) =>
        graft.Work.wipe(java.nio.file.Paths.get(table))
        graft.Work.wipe(java.nio.file.Paths.get(sink))
        val ckpt = graft.Work.stableDir(
          s"q185-ckpt-${math.abs(d.hashCode)}")
        graft.Work.wipe(ckpt)
        val li = Tables.lineitem(s, d)
        def slice(ln: Int) = li.filter(col("l_linenumber") === ln)
          .select(col("l_orderkey").as("k"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        def runStream(): Unit = {
          val q = s.readStream.format("graft_table")
            .option("path", table).load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt.toString)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination(300000)
          ()
        }
        SnapshotTable.append(slice(1), table, 2, statsCol = Some("k"))
        SnapshotTable.append(slice(2), table, 2, statsCol = Some("k"))
        runStream() // initial snapshot: versions (0, 2]
        SnapshotTable.append(slice(3), table, 2, statsCol = Some("k"))
        SnapshotTable.append(slice(4), table, 2, statsCol = Some("k"))
        runStream() // tail: versions (2, 4] only
      }) { (s, d) =>
      val sunk = s.read.parquet(sink)
      val (scan, _, tableRows) =
        SnapshotTable.scanAt(s, table, SnapshotTable.latestVersion(table))
      val nSunk = sunk.count()
      require(nSunk == tableRows && nSunk == scan.count(),
        s"streamed sink holds $nSunk rows, table holds $tableRows — " +
          "the version tail was duplicated or dropped")
      sunk.agg(count(lit(1)).as("n"),
          sum("qty_u").cast("long").as("qty_u"),
          min("k").as("k_min"), max("k").as("k_max"))
        .withColumn("exactly_once", lit(true))
    }
  }

  val all: Seq[QueryDef] =
    Seq(eventWindows, sessionize, saltedJoin, bucketedJoin,
      streamEventWindows, streamSessionize, streamDedup, streamFirstSeen,
      streamIntervalJoin, streamOuterJoin, funnel, cohorts,
      intervalCoverage, streamRunningTotals, streamStaticJoin,
      streamTableIngest, streamCdcApply, streamPartitionedIngest,
      tableStream)
}
