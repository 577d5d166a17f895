package graft.queries

import graft.{QueryDef, Tables, Work}
import graft.functions.ZOrderExpr
import graft.ops.{BloomIndex, IncrementalView, SnapshotTable, ZOrderCluster}
import graft.ops.SnapshotTable.{Constraint, PartField, PartSpec}
import graft.source.v2.ScanMetrics, ScanMetrics.Files
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator inventory from SURVEY.md §2.2-§2.7: aggregations
  * (A1-A7), get-or-create / anti-join upserts (J1-J4), window election
  * (W1-W3), set ops (SO1-SO2), classification predicates (P3/P9), sorts and
  * top-k (§2.6). Each query is the Spark-first expression of one reference
  * operator, exercised over the driver's relational testdata so the DuckDB
  * oracle can hash-check it.
  *
  * Scale notes (100 TB): every aggregation here is a partial+final hash agg
  * (map-side combine free from Catalyst); small dimension tables
  * (region/nation) carry an explicit `broadcast()` hint; sorts feed
  * TakeOrderedAndProject via `orderBy().limit()` where a top-k is wanted,
  * and queries carry NO terminal global sort otherwise — the driver
  * canonicalizes row order itself, and a full-output Sort is an avoidable
  * total shuffle at 100×. (Oracle SQL keeps ORDER BY for readability; the
  * compare sorts rows before hashing so it is inert.)
  */
object Relational {

  /** A2 band statistics: min/max/mean/stddev_pop + valid_percent (floored to
    * 2dp) per group — the reference's most characteristic computation
    * (reference utils.py:213-259; population stddev = numpy ddof=0, and
    * valid_percent = floor(100*valid/total*100)/100 at utils.py:250).
    */
  val bandStats = QueryDef(
    "q01_band_stats",
    """SELECT l_returnflag, l_linestatus,
      |  min(l_quantity) AS min_val, max(l_quantity) AS max_val,
      |  avg(l_quantity) AS mean_val,
      |  round(stddev_pop(l_quantity), 6) AS stddev_val,
      |  floor(10000.0 * count(CASE WHEN l_quantity IS NOT NULL AND NOT isnan(l_quantity) THEN 1 END) / count(*)) / 100.0 AS valid_percent
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        min("l_quantity").as("min_val"),
        max("l_quantity").as("max_val"),
        avg("l_quantity").as("mean_val"),
        round(stddev_pop("l_quantity"), 6).as("stddev_val"),
        (floor(count(when(col("l_quantity").isNotNull && !isnan(col("l_quantity")), 1))
          * lit(10000.0) / count(lit(1))) / 100.0).as("valid_percent"))
  }

  /** A1 bbox aggregate: min/max of x and y per group (reference
    * generator.py:555-585). Coordinates stand in as (extendedprice, quantity).
    */
  val bbox = QueryDef(
    "q02_bbox_agg",
    """SELECT l_suppkey,
      |  min(l_extendedprice) AS xmin, min(l_quantity) AS ymin,
      |  max(l_extendedprice) AS xmax, max(l_quantity) AS ymax
      |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_suppkey")
      .agg(
        min("l_extendedprice").as("xmin"), min("l_quantity").as("ymin"),
        max("l_extendedprice").as("xmax"), max("l_quantity").as("ymax"))
  }

  /** A3 temporal extent of a file: first/last of the time axis (reference
    * generator.py:517-518) — min/max per key, emitted as DATE for oracle
    * parity.
    */
  val temporalExtent = QueryDef(
    "q03_temporal_extent",
    """SELECT o_custkey,
      |  CAST(min(o_orderdate) AS DATE) AS extent_start,
      |  CAST(max(o_orderdate) AS DATE) AS extent_end,
      |  count(*) AS n_orders
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(
        min("o_orderdate").cast("date").as("extent_start"),
        max("o_orderdate").cast("date").as("extent_end"),
        count(lit(1)).as("n_orders"))
  }

  /** A4 temporal extent merge: union new [start,end] ranges into existing
    * extents and re-aggregate (reference generator.py:192-207). Two disjoint
    * slices of `orders` play the roles of stored vs incoming extents.
    */
  val extentMerge = QueryDef(
    "q04_extent_merge",
    """WITH old AS (
      |  SELECT o_custkey, min(o_orderdate) AS s, max(o_orderdate) AS e
      |  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey),
      |new AS (
      |  SELECT o_custkey, min(o_orderdate) AS s, max(o_orderdate) AS e
      |  FROM orders WHERE o_orderstatus <> 'F' GROUP BY o_custkey),
      |u AS (SELECT * FROM old UNION ALL SELECT * FROM new)
      |SELECT o_custkey, CAST(min(s) AS DATE) AS extent_start,
      |       CAST(max(e) AS DATE) AS extent_end
      |FROM u GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) { (s, d) =>
    val orders = Tables.orders(s, d)
    def extent(pred: org.apache.spark.sql.Column) = orders.filter(pred)
      .groupBy("o_custkey")
      .agg(min("o_orderdate").as("s"), max("o_orderdate").as("e"))
    extent(col("o_orderstatus") === "F")
      .unionAll(extent(col("o_orderstatus") =!= "F"))
      .groupBy("o_custkey")
      .agg(min("s").cast("date").as("extent_start"),
        max("e").cast("date").as("extent_end"))
  }

  /** A5 leadtime count: distinct count per group (reference generator.py:647). */
  val distinctCount = QueryDef(
    "q05_distinct_count",
    """SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts,
      |  count(*) AS n_lines
      |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_suppkey")
      .agg(countDistinct("l_partkey").as("n_parts"), count(lit(1)).as("n_lines"))
  }

  /** A6 directory size sum: total bytes per tree (reference
    * stac/utils.py:77-83) — sum of an integral size column per group.
    */
  val sizeSum = QueryDef(
    "q06_size_sum",
    """SELECT source, CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  count(*) AS n_docs
      |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy("source")
      .agg(sum("n_chars").as("total_chars"), count(lit(1)).as("n_docs"))
  }

  /** A7 valid-pixel count: finite-value count over a measure (reference
    * utils.py:241-243).
    */
  val validCount = QueryDef(
    "q07_valid_count",
    """SELECT event_type,
      |  count(CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN 1 END) AS n_valid,
      |  count(*) AS n_total
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        count(when(col("value").isNotNull && !isnan(col("value")), 1)).as("n_valid"),
        count(lit(1)).as("n_total"))
  }

  /** P9 hemisphere classifier: 3-way band classification with out-of-range
    * branch (reference utils.py:47-82). A derived integer "latitude" from
    * nationkey exercises all branches deterministically.
    */
  val hemisphere = QueryDef(
    "q08_hemisphere",
    """SELECT CASE
      |    WHEN (n_nationkey * 8 - 90) BETWEEN 0 AND 90 THEN 'north'
      |    WHEN (n_nationkey * 8 - 90) >= -90 AND (n_nationkey * 8 - 90) < 0 THEN 'south'
      |    ELSE 'invalid' END AS hemisphere,
      |  count(*) AS n
      |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val lat = col("n_nationkey") * 8 - 90
    Tables.nation(s, d)
      .select(
        when(lat.between(0, 90), "north")
          .when(lat >= -90 && lat < 0, "south")
          .otherwise("invalid").as("hemisphere"))
      .groupBy("hemisphere").agg(count(lit(1)).as("n"))
  }

  /** P3/F9 unit normalization: km -> m scale on coordinate columns
    * (reference generator.py:533-553).
    */
  val unitNorm = QueryDef(
    "q09_unit_norm",
    """SELECT o_orderkey, o_totalprice * 1000.0 AS price_milli
      |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"), (col("o_totalprice") * 1000.0).as("price_milli"))
      .orderBy("o_orderkey").limit(100)
  }

  /** J2 get-or-create item, "existing wins": candidates minus existing as a
    * left-anti join (reference generator.py:211-262 probe at 243). Customers
    * with no orders = the anti side to insert.
    */
  val antiJoin = QueryDef(
    "q10_anti_join",
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    // Probe side pre-aggregated with distinct(): the anti join only needs
    // the key set, and shuffling ~400 distinct custkeys instead of every
    // order row shrinks exchange volume ~10x (and far more at 100x SF).
    Tables.customer(s, d)
      .join(Tables.orders(s, d).select("o_custkey").distinct(),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
  }

  /** J3 skip-existing semi join: keys already present (reference
    * dataloader.py:138-154 replaces per-row probes with one set-oriented
    * semi join; small side broadcast).
    */
  val semiJoin = QueryDef(
    "q11_semi_join",
    """SELECT p_partkey, p_name FROM part
      |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
      |ORDER BY p_partkey""".stripMargin) { (s, d) =>
    // distinct() on the probe key set before the semi join — same
    // shuffle-volume rationale as q10.
    Tables.part(s, d)
      .join(Tables.lineitem(s, d).select("l_partkey").distinct(),
        col("p_partkey") === col("l_partkey"), "left_semi")
      .select("p_partkey", "p_name")
  }

  /** J1 get-or-create collection with extent merge: full-outer merge of
    * existing vs incoming collections, coalescing fields and merging
    * [start,end] (reference generator.py:144-209).
    */
  val getOrCreateMerge = QueryDef(
    "q12_get_or_create",
    """WITH existing AS (
      |  SELECT o_custkey AS id, CAST(min(o_orderdate) AS DATE) AS s,
      |         CAST(max(o_orderdate) AS DATE) AS e
      |  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_custkey),
      |incoming AS (
      |  SELECT o_custkey AS id, CAST(min(o_orderdate) AS DATE) AS s,
      |         CAST(max(o_orderdate) AS DATE) AS e
      |  FROM orders WHERE o_orderkey % 2 = 1 GROUP BY o_custkey)
      |SELECT COALESCE(existing.id, incoming.id) AS id,
      |  LEAST(COALESCE(existing.s, incoming.s), COALESCE(incoming.s, existing.s)) AS extent_start,
      |  GREATEST(COALESCE(existing.e, incoming.e), COALESCE(incoming.e, existing.e)) AS extent_end
      |FROM existing FULL OUTER JOIN incoming ON existing.id = incoming.id
      |ORDER BY id""".stripMargin) { (s, d) =>
    val orders = Tables.orders(s, d)
    def half(m: Int) = orders.filter(col("o_orderkey") % 2 === m)
      .groupBy(col("o_custkey").as("id"))
      .agg(min("o_orderdate").cast("date").as("s"),
        max("o_orderdate").cast("date").as("e"))
    val ex = half(0).as("ex")
    val in = half(1).as("in")
    ex.join(in, col("ex.id") === col("in.id"), "full_outer")
      .select(
        coalesce(col("ex.id"), col("in.id")).as("id"),
        least(coalesce(col("ex.s"), col("in.s")),
          coalesce(col("in.s"), col("ex.s"))).as("extent_start"),
        greatest(coalesce(col("ex.e"), col("in.e")),
          coalesce(col("in.e"), col("ex.e"))).as("extent_end"))
  }

  /** J4 upsert, "new wins": incoming rows override stored rows on key;
    * result = incoming UNION (stored ANTI incoming) (reference
    * dataloader.py:171-189 Methods.upsert).
    */
  val upsert = QueryDef(
    "q13_upsert",
    """WITH incoming AS (
      |  SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal
      |  FROM customer WHERE c_mktsegment = 'BUILDING')
      |SELECT c_custkey, c_name, c_acctbal FROM incoming
      |UNION ALL
      |SELECT c.c_custkey, c.c_name, c.c_acctbal FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM incoming i
      |                  WHERE i.c_custkey = c.c_custkey)
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    // Single scan: c_custkey is the table's primary key, so "incoming wins,
    // others kept" collapses to a marker-column projection — no second
    // customer scan and no anti join at all (the round-2 plan read the
    // table twice). The general J4 shape (incoming UNION stored ANTI
    // incoming) is what the oracle SQL expresses; this is its key-unique
    // specialization.
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"),
        when(col("c_mktsegment") === "BUILDING", col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")).as("c_acctbal"))
  }

  /** SO1 dedup-by-key, first-wins: one row per key chosen by a deterministic
    * order (reference generator.py:175-177 / 243 probe-and-skip).
    */
  val dedupFirstWins = QueryDef(
    "q14_dedup_first_wins",
    """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate
      |FROM orders
      |QUALIFY row_number() OVER (PARTITION BY o_custkey
      |  ORDER BY o_orderdate, o_orderkey) = 1
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_orderdate"))
  }

  /** SO2 config equality via multiset difference: EXCEPT ALL both ways must
    * be empty for identical configs (reference generator.py:444-448); here
    * the asymmetric difference is aggregated so the result is deterministic.
    */
  val exceptAllDiff = QueryDef(
    "q15_except_all",
    """WITH diff AS (
      |  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
      |  EXCEPT ALL
      |  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O')
      |SELECT o_orderpriority, count(*) AS n FROM diff
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val orders = Tables.orders(s, d)
    orders.filter(col("o_orderstatus") === "F").select("o_orderpriority")
      .exceptAll(orders.filter(col("o_orderstatus") === "O").select("o_orderpriority"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
  }

  /** W2 positional index enumeration per partition (reference
    * generator.py:784, 855-858): row_number over an ordered axis. Ordering
    * key is the unique event_id (ns timestamps truncate to us in Spark, so
    * ts itself is not a stable cross-engine sort key).
    */
  val rowNumber = QueryDef(
    "q16_row_number",
    """SELECT user_id, event_id, rn FROM (
      |  SELECT user_id, event_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      |  FROM events) t WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("user_id", "event_id", "rn")
  }

  /** W3 first-wins election (thumbnail promotion, reference
    * generator.py:913-921, 798-803): the single first row per group.
    */
  val firstElection = QueryDef(
    "q17_first_election",
    """SELECT user_id, event_id, event_type FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id) = 1
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "event_type")
  }

  /** §2.6 top-k: orderBy().limit() so Spark plans TakeOrderedAndProject
    * (no global sort materialization at scale).
    */
  val topK = QueryDef(
    "q18_topk",
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
  }

  /** Rollup totals (free-from-Spark extension noted at SURVEY §2.4): counts
    * by region/nation with subtotal rows; grouping nulls coalesced to 'ALL'
    * to keep cross-engine sort order stable.
    */
  val rollup = QueryDef(
    "q19_rollup",
    """SELECT COALESCE(r_name, 'ALL') AS region_name,
      |  COALESCE(n_name, 'ALL') AS nation_name,
      |  count(*) AS n
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY region_name, nation_name""".stripMargin) { (s, d) =>
    // SQL formulation: the DataFrame-API rollup duplicates grouping
    // attributes under the Expand node and any post-rollup re-select of
    // them trips Spark's ambiguous-self-join detection (two rounds of
    // workarounds failed). The SQL analyzer resolves ROLLUP + COALESCE over
    // grouping columns without ambiguity; the physical plan is identical
    // (Expand -> partial/final HashAggregate, region broadcast).
    Tables.nation(s, d).createOrReplaceTempView("g19_nation")
    Tables.region(s, d).createOrReplaceTempView("g19_region")
    s.sql(
      """SELECT /*+ BROADCAST(g19_region) */
        |  COALESCE(r_name, 'ALL') AS region_name,
        |  COALESCE(n_name, 'ALL') AS nation_name,
        |  count(*) AS n
        |FROM g19_nation JOIN g19_region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin)
  }

  /** W1-adjacent running aggregate with an explicit frame (SURVEY §2.5):
    * cumulative revenue per customer in deterministic (date, key) order;
    * rounded because windowed double summation is association-order
    * sensitive across engines.
    */
  val runningSum = QueryDef(
    "q20_running_sum",
    """SELECT o_custkey, o_orderkey,
      |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum("o_totalprice").over(w), 2).as("running_total"))
  }

  /** Z-order clustering key (the lakehouse multi-dimensional layout
    * operator): the Morton interleave of two quantized dimensions,
    * grouped by Z-PREFIX — the top 2 bits of each dimension, i.e. the
    * 4×4 tile grid the key induces. The per-tile px/py min/max the
    * oracle hashes ARE the data-skipping property: each prefix range
    * covers one contiguous quadrant in BOTH dimensions, which is what
    * per-file stats pruning exploits after [[graft.ops.ZOrderCluster]]
    * lays a 100 TB table out by this key. Shuffle-free key computation
    * (codegen'd bit spreading), one aggregation exchange.
    */
  val zorderKey = QueryDef("q113_zorder_key",
    """WITH c AS (SELECT l_partkey % 1024 AS px, l_orderkey % 1024 AS py
      |           FROM lineitem),
      |z AS (SELECT px, py,
      |  CAST((SELECT sum(((px >> g.i) & 1) * (1::BIGINT << (2*g.i)) +
      |                   ((py >> g.i) & 1) * (1::BIGINT << (2*g.i + 1)))
      |        FROM generate_series(0, 9) AS g(i)) AS BIGINT) AS zkey
      |  FROM c)
      |SELECT zkey >> 16 AS cluster, count(*) AS n,
      |  min(zkey) AS z_min, max(zkey) AS z_max,
      |  min(px) AS px_min, max(px) AS px_max,
      |  min(py) AS py_min, max(py) AS py_max
      |FROM z GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    import graft.functions.ZOrderExpr.zorder
    val px = pmod(col("l_partkey"), lit(1024)).cast("long")
    val py = pmod(col("l_orderkey"), lit(1024)).cast("long")
    Tables.lineitem(s, d)
      .select(px.as("px"), py.as("py"))
      .withColumn("zkey", zorder(col("px"), col("py"), 10))
      .groupBy(shiftright(col("zkey"), 16).as("cluster"))
      .agg(count(lit(1)).as("n"),
        min("zkey").as("z_min"), max("zkey").as("z_max"),
        min("px").as("px_min"), max("px").as("px_max"),
        min("py").as("py_min"), max("py").as("py_max"))
      .orderBy("cluster")
  }

  /** Register catalog `graft_<q>` rooted at `wh`. One catalog name per
    * query: Spark caches catalog instances by name after first
    * initialization, so a shared name would pin the first query's root
    * for everyone.
    */
  private def useCatalog(s: SparkSession, q: String, wh: String): Unit = {
    s.conf.set(s"spark.sql.catalog.graft_$q", "graft.source.v2.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.graft_$q.root", wh)
  }

  /** q131 — the data-skipping PAYOFF of the clustered layout (q113
    * proved locality; this proves pruning): lineitem laid out by
    * [[graft.ops.ZOrderCluster.write]] into range-partitioned files with
    * a per-file min/max key manifest, then a rectangle query scans via
    * [[graft.ops.ZOrderCluster.scanRange]] — manifest-pruned to the
    * files intersecting the rectangle's Morton corner interval, residual
    * x/y predicate on the survivors. The pruning is ASSERTED, not
    * narrated: the query throws unless files_read < files_total (and
    * > 0), and emits the strictness as a hashed column so the gate sees
    * it. The aggregate itself is recomputed by DuckDB from the raw
    * table — a wrong file set (dropped file, wrong manifest range)
    * changes n/qty_u and hash-mismatches.
    *
    * The rectangle is a 64-aligned Z tile ([128,191]²), whose Morton
    * cover [zorder(128,128), zorder(191,191)] is exact — at 16 files
    * over a 2^20 key space the scan touches ~1-2 of them.
    */
  val clusterSkip: QueryDef = {
    val path = Work.oracleDumpPath("q131_layout")
    QueryDef("q131_cluster_skip",
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty_u,
        |  min(px) AS px_min, max(px) AS px_max,
        |  min(py) AS py_min, max(py) AS py_max,
        |  TRUE AS files_pruned
        |FROM (SELECT l_partkey % 1024 AS px, l_orderkey % 1024 AS py,
        |        l_quantity FROM lineitem)
        |WHERE px BETWEEN 128 AND 191 AND py BETWEEN 128 AND 191""".stripMargin,
      setup = { (s, d) =>
        val base = Tables.lineitem(s, d).select(
          pmod(col("l_partkey"), lit(1024)).cast("long").as("px"),
          pmod(col("l_orderkey"), lit(1024)).cast("long").as("py"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        ZOrderCluster.write(base, path, col("px"), col("py"), bits = 10,
          numPartitions = 16)
      }) { (s, d) =>
      val lo = ZOrderExpr.interleave(128, 128, 10)
      val hi = ZOrderExpr.interleave(191, 191, 10)
      val (scan, filesRead, filesTotal) = ZOrderCluster.scanRange(s, path, lo, hi)
      require(filesRead > 0 && filesRead < filesTotal,
        s"clustered layout did not prune: read $filesRead of $filesTotal " +
          "files — the manifest ranges or the layout are broken")
      scan
        .filter(col("px").between(128, 191) && col("py").between(128, 191))
        .agg(count(lit(1)).as("n"), sum("qty_u").cast("long").as("qty_u"),
          min("px").as("px_min"), max("px").as("px_max"),
          min("py").as("py_min"), max("py").as("py_max"))
        .withColumn("files_pruned", lit(filesRead < filesTotal))
    }
  }

  /** q135 — multi-interval curve-cover pruning on a NON-ALIGNED
    * rectangle, over BOTH curves: the same lineitem projection is laid
    * out once by Morton key and once by Hilbert key, and the rectangle
    * [100,300]×[50,137] — deliberately straddling the x=256 and y=128
    * power-of-two boundaries, so its Morton CORNER interval is ~5× the
    * rectangle's area and a Hilbert corner interval doesn't exist —
    * scans each layout through [[graft.ops.CurveCover]]'s bounded
    * multi-interval decomposition ([[graft.ops.ZOrderCluster
    * .scanRectangle]]). Pruning is ASSERTED per curve (throws unless
    * 0 < files_read < files_total) and both scans' aggregates are
    * emitted side-by-side: they must equal each other AND DuckDB's
    * recompute from the raw table, so a wrong cover (dropped interval,
    * mis-decomposed Hilbert block) hash-mismatches.
    */
  val curveCoverSkip: QueryDef = {
    val zPath = Work.oracleDumpPath("q135_layout_z")
    val hPath = Work.oracleDumpPath("q135_layout_h")
    QueryDef("q135_curve_cover_skip",
      """SELECT count(*) AS n,
        |  CAST(sum(qty_u) AS BIGINT) AS qty_u,
        |  count(*) AS n_h,
        |  CAST(sum(qty_u) AS BIGINT) AS qty_u_h,
        |  TRUE AS files_pruned_z, TRUE AS files_pruned_h
        |FROM (SELECT l_partkey % 1024 AS px, l_orderkey % 1024 AS py,
        |        CAST(floor(l_quantity * 100) AS BIGINT) AS qty_u
        |      FROM lineitem)
        |WHERE px BETWEEN 100 AND 300 AND py BETWEEN 50 AND 137""".stripMargin,
      setup = { (s, d) =>
        val base = Tables.lineitem(s, d).select(
          pmod(col("l_partkey"), lit(1024)).cast("long").as("px"),
          pmod(col("l_orderkey"), lit(1024)).cast("long").as("py"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        ZOrderCluster.write(base, zPath, col("px"), col("py"), bits = 10,
          numPartitions = 16, curve = "zorder")
        ZOrderCluster.write(base, hPath, col("px"), col("py"), bits = 10,
          numPartitions = 16, curve = "hilbert")
      }) { (s, d) =>
      def scanOne(path: String, curve: String): DataFrame = {
        val (scan, filesRead, filesTotal) = ZOrderCluster.scanRectangle(
          s, path, 100, 300, 50, 137, bits = 10, curve = curve)
        require(filesRead > 0 && filesRead < filesTotal,
          s"$curve cover did not prune: read $filesRead of $filesTotal files")
        scan.filter(col("px").between(100, 300) && col("py").between(50, 137))
          .agg(count(lit(1)).as("n"), sum("qty_u").cast("long").as("qty_u"))
      }
      scanOne(zPath, "zorder")
        .crossJoin(scanOne(hPath, "hilbert")
          .withColumnRenamed("n", "n_h").withColumnRenamed("qty_u", "qty_u_h"))
        .withColumn("files_pruned_z", lit(true))
        .withColumn("files_pruned_h", lit(true))
    }
  }

  /** q140 — 3-D curve-cover pruning: lineitem laid out by the Morton-3
    * key over (px, py, pt) — the (x, y, time) shape every forecast
    * archive actually clusters on — and a BOX query straddling a
    * power-of-two boundary on all three axes scans through
    * [[graft.ops.CurveCover.cover3]]'s octree decomposition
    * ([[graft.ops.ZOrderCluster.scanBox3]]). Pruning asserted
    * (0 < files_read < files_total); the aggregate is recomputed by
    * DuckDB from the raw table so a wrong cover hash-mismatches. With
    * three interleaved dimensions a corner interval would be useless
    * almost always (any axis straddle inflates it eightfold per
    * level), which is why the 3-D layout ships WITH the multi-interval
    * cover rather than gaining it later.
    */
  val curveCover3Skip: QueryDef = {
    val path = Work.oracleDumpPath("q140_layout")
    QueryDef("q140_curve_cover3_skip",
      """SELECT count(*) AS n,
        |  CAST(sum(qty_u) AS BIGINT) AS qty_u,
        |  TRUE AS files_pruned
        |FROM (SELECT l_partkey % 256 AS px, l_orderkey % 256 AS py,
        |        l_suppkey % 256 AS pt,
        |        CAST(floor(l_quantity * 100) AS BIGINT) AS qty_u
        |      FROM lineitem)
        |WHERE px BETWEEN 30 AND 97 AND py BETWEEN 100 AND 201
        |  AND pt BETWEEN 10 AND 40""".stripMargin,
      setup = { (s, d) =>
        val base = Tables.lineitem(s, d).select(
          pmod(col("l_partkey"), lit(256)).cast("long").as("px"),
          pmod(col("l_orderkey"), lit(256)).cast("long").as("py"),
          pmod(col("l_suppkey"), lit(256)).cast("long").as("pt"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        ZOrderCluster.write3(base, path, col("px"), col("py"), col("pt"),
          bits = 8, numPartitions = 24)
      }) { (s, d) =>
      val (scan, filesRead, filesTotal) = ZOrderCluster.scanBox3(
        s, path, 30, 97, 100, 201, 10, 40, bits = 8)
      require(filesRead > 0 && filesRead < filesTotal,
        s"3-D cover did not prune: read $filesRead of $filesTotal files")
      scan
        .filter(col("px").between(30, 97) && col("py").between(100, 201) &&
          col("pt").between(10, 40))
        .agg(count(lit(1)).as("n"), sum("qty_u").cast("long").as("qty_u"))
        .withColumn("files_pruned", lit(true))
    }
  }

  /** q141 — the q140 box scan over a 3-D HILBERT layout: identical box,
    * identical oracle (the answer is layout-independent — that is the
    * point), but the layout key is [[graft.functions.Hilbert3Expr]]
    * and the cover is the Hilbert-3 octree decomposition, exercising
    * the octant-contiguity property end-to-end (a wrong Hilbert block
    * interval reads the wrong files and hash-mismatches the DuckDB
    * recompute). Mirrors the q68/q78 twin pattern: one contract, both
    * layout strategies gated.
    */
  val curveCover3HilbertSkip: QueryDef = {
    val path = Work.oracleDumpPath("q141_layout")
    QueryDef("q141_curve_cover3_hilbert",
      curveCover3Skip.oracle.get,
      setup = { (s, d) =>
        val base = Tables.lineitem(s, d).select(
          pmod(col("l_partkey"), lit(256)).cast("long").as("px"),
          pmod(col("l_orderkey"), lit(256)).cast("long").as("py"),
          pmod(col("l_suppkey"), lit(256)).cast("long").as("pt"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        ZOrderCluster.write3(base, path, col("px"), col("py"), col("pt"),
          bits = 8, numPartitions = 24, curve = "hilbert")
      }) { (s, d) =>
      val (scan, filesRead, filesTotal) = ZOrderCluster.scanBox3(
        s, path, 30, 97, 100, 201, 10, 40, bits = 8, curve = "hilbert")
      require(filesRead > 0 && filesRead < filesTotal,
        s"hilbert-3 cover did not prune: read $filesRead of $filesTotal files")
      scan
        .filter(col("px").between(30, 97) && col("py").between(100, 201) &&
          col("pt").between(10, 40))
        .agg(count(lit(1)).as("n"), sum("qty_u").cast("long").as("qty_u"))
        .withColumn("files_pruned", lit(true))
    }
  }

  /** q142 — per-file BLOOM index point lookup: the skipping complement
    * of q131's min/max manifests. lineitem is laid out in its natural
    * archive order (range-partitioned by l_shipdate), so every file's
    * [min, max] over l_orderkey spans essentially the whole key domain
    * and range stats prune NOTHING for an orderkey probe — the exact
    * layout/probe mismatch of a time-partitioned fact table. A per-file
    * Bloom over l_orderkey ([[graft.ops.BloomIndex]]) restores pruning
    * for equality probes: an order's lineitems ship within a few months,
    * landing in 1–3 of 16 date-ranged files, and blooms have no false
    * negatives, so the probe reads those files (plus rare fp files the
    * residual IN empties) and THROWS unless files_read < files_total.
    * The aggregate is recomputed by DuckDB from the raw table — a
    * dropped file (a bloom false NEGATIVE, which must never happen)
    * loses rows and hash-mismatches.
    */
  val bloomSkip: QueryDef = {
    val path = Work.oracleDumpPath("q142_layout")
    QueryDef("q142_bloom_index_skip",
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty_u,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  TRUE AS files_pruned
        |FROM lineitem WHERE l_orderkey IN (1, 2, 3)""".stripMargin,
      setup = { (s, d) =>
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_shipdate"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        // blooms auto-sized per file: a fixed expectedPerFile guess
        // saturates (fpp -> 1) once file sizes outgrow it — measured
        // at the 10× table, where 65536 stopped pruning entirely
        BloomIndex.write(base, path, col("l_shipdate"), "l_orderkey",
          numPartitions = 16)
      }) { (s, d) =>
      val (scan, filesRead, filesTotal) =
        BloomIndex.scanKeys(s, path, "l_orderkey", Seq(1L, 2L, 3L))
      require(filesRead > 0 && filesRead < filesTotal,
        s"bloom index did not prune: read $filesRead of $filesTotal files — " +
          "the per-file blooms or the date layout are broken")
      scan
        .agg(count(lit(1)).as("n"), sum("qty_u").cast("long").as("qty_u"),
          count_distinct(col("l_orderkey")).as("n_orders"))
        .withColumn("files_pruned", lit(filesRead < filesTotal))
    }
  }

  /** q144 — small-file compaction PLAN ([[graft.ops.Compaction]]):
    * next-fit bin assignment in layout order over a per-file manifest,
    * the metadata-only step behind every OPTIMIZE/rewrite job. The
    * manifest here is derived (one "file" per partkey residue, bytes =
    * its price-cents mass) so DuckDB can recompute the identical plan;
    * in production it is the layout's `_manifest` relation. The
    * `contiguous` column ASSERTS the property the algorithm exists for
    * — every output bin is an unbroken run of input files, so compacted
    * files inherit contiguous clustering-key ranges and [[graft.ops
    * .ZOrderCluster]] pruning survives the rewrite; an FFD-style
    * reorder would break it (and hash-mismatch). Plan cost is
    * O(manifest), never O(data).
    */
  val compactionPlan = QueryDef("q144_compaction_plan",
    """WITH files AS (
      |  SELECT l_partkey % 500 AS fid,
      |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS bytes
      |  FROM lineitem GROUP BY 1),
      |plan AS (
      |  SELECT fid, bytes,
      |    COALESCE(sum(bytes) OVER (ORDER BY fid
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS cum_excl
      |  FROM files)
      |SELECT CAST(cum_excl // 10000000000 AS BIGINT) AS bin,
      |  count(*) AS n_files, CAST(sum(bytes) AS BIGINT) AS bytes,
      |  min(fid) AS fid_min, max(fid) AS fid_max,
      |  (max(fid) - min(fid) + 1 = count(*)) AS contiguous
      |FROM plan GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    import graft.ops.Compaction
    val files = Tables.lineitem(s, d)
      .groupBy(pmod(col("l_partkey"), lit(500)).cast("long").as("fid"))
      .agg(sum(floor(col("l_extendedprice") * 100).cast("long"))
        .cast("long").as("bytes"))
    Compaction.planBins(files, col("bytes"), col("fid"), 10000000000L)
      .groupBy("bin")
      .agg(count(lit(1)).as("n_files"), sum("bytes").cast("long").as("bytes"),
        min("fid").as("fid_min"), max("fid").as("fid_max"))
      .withColumn("contiguous",
        col("fid_max") - col("fid_min") + 1 === col("n_files"))
      .orderBy("bin")
  }

  /** q148 — SNAPSHOT TABLE time travel ([[graft.ops.SnapshotTable]]):
    * two committed versions (a base load and an append), then BOTH
    * versions scanned side by side from their manifests. Version
    * isolation is ASSERTED twice: structurally (the v1 scan opens
    * strictly fewer files than v2's manifest lists — a directory
    * listing would see them all, which is exactly the failure the
    * manifest protocol exists to prevent) and by value (each scan's
    * count must equal its manifest's committed row count, so a scan
    * leaking the other version's files throws before the oracle even
    * runs). The per-version aggregates are recomputed by DuckDB from
    * the raw table with the same date predicates — a manifest that
    * drops or duplicates a file hash-mismatches.
    */
  val timeTravel: QueryDef = {
    val path = Work.oracleDumpPath("q148_table")
    QueryDef("q148_time_travel",
      """SELECT
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_shipdate < TIMESTAMP '1998-01-01') AS n_v1,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    FROM lineitem
        |    WHERE l_shipdate < TIMESTAMP '1998-01-01') AS qty_v1,
        |  (SELECT count(*) FROM lineitem) AS n_v2,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    FROM lineitem) AS qty_v2,
        |  TRUE AS isolated""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(path))
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_shipdate"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        SnapshotTable.append(
          base.filter(col("l_shipdate") < lit("1998-01-01")), path,
          numPartitions = 8)
        SnapshotTable.append(
          base.filter(col("l_shipdate") >= lit("1998-01-01")), path,
          numPartitions = 4)
      }) { (s, d) =>
      val (scan1, files1, rows1) = SnapshotTable.scanAt(s, path, 1)
      val (scan2, files2, rows2) = SnapshotTable.scanAt(s, path, 2)
      require(files1 < files2,
        s"time travel leaked: v1 sees $files1 files, v2 lists $files2")
      val a1 = scan1.agg(count(lit(1)).as("n_v1"),
        sum("qty_u").cast("long").as("qty_v1"))
      val a2 = scan2.agg(count(lit(1)).as("n_v2"),
        sum("qty_u").cast("long").as("qty_v2"))
      // one execution: the collected row both feeds the drift assertion
      // and becomes the (1-row) result
      val r = a1.crossJoin(a2).collect().head
      require(r.getLong(0) == rows1 && r.getLong(2) == rows2,
        s"scan/manifest row drift: v1 ${r.getLong(0)}!=$rows1 or " +
          s"v2 ${r.getLong(2)}!=$rows2")
      import s.implicits._
      Seq((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), true))
        .toDF("n_v1", "qty_v1", "n_v2", "qty_v2", "isolated")
    }
  }

  /** q149 — COLUMN-STATS file skipping on the snapshot table: the
    * manifest carries per-file min/max of a plain data column
    * (ship-day), so an arbitrary date-range predicate prunes files
    * with NO curve key involved — the Iceberg stats story
    * complementing q131 (curve manifests) and q142 (blooms): together
    * the three cover range-on-sorted, rectangle-on-clustered and
    * equality-on-unsorted. Layout is the natural ingest order (range
    * by ship day), a one-year slice out of seven years of data must
    * leave most files untouched (asserted by require), and the
    * aggregate is recomputed by DuckDB from the raw table with the
    * same calendar predicate — a stats row off by one day admits or
    * drops a file's rows and hash-mismatches.
    */
  val statsSkip: QueryDef = {
    val path = Work.oracleDumpPath("q149_table")
    QueryDef("q149_stats_skip",
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty_u,
        |  min(l_orderkey) AS k_min, max(l_orderkey) AS k_max,
        |  TRUE AS files_pruned
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(path))
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"),
          expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
            .as("ship_day"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        SnapshotTable.append(base, path, numPartitions = 16,
          statsCol = Some("ship_day"))
      }) { (s, d) =>
      val lo = java.time.LocalDate.of(1996, 1, 1).toEpochDay
      val hi = java.time.LocalDate.of(1996, 12, 31).toEpochDay
      // re-routed through the DSv2 provider: the SAME manifest pruning,
      // but driven by an ORDINARY Catalyst filter pushdown instead of
      // the bespoke scanStatsRange entry point — any SQL predicate on
      // the stats column prunes files at planning time
      import graft.source.v2.GraftTableSource
      import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
      val res = GraftTableSource.resolve(Map("path" -> path, "version" -> "1"))
      val kept = GraftTableSource.pruneFiles(res, Array(
        GreaterThanOrEqual("ship_day", lo), LessThanOrEqual("ship_day", hi)))
      require(kept.nonEmpty && kept.length < res.ver.files.length,
        s"column stats did not prune: planned ${kept.length} of " +
          s"${res.ver.files.length} files")
      s.read.format("graft_table")
        .option("path", path).option("version", "1").load()
        .filter(col("ship_day").between(lo, hi))
        .agg(count(lit(1)).as("n"), sum("qty_u").cast("long").as("qty_u"),
          min("l_orderkey").as("k_min"), max("l_orderkey").as("k_max"))
        .withColumn("files_pruned",
          lit(kept.length < res.ver.files.length))
    }
  }

  /** q150 — COPY-ON-WRITE DELETE on the snapshot table: dropping one
    * year out of seven rewrites ONLY the files whose stat range
    * intersects it ([[graft.ops.SnapshotTable.deleteStatsRange]]);
    * everything else carries into v2 by reference, zero I/O — the
    * economics that make a 100 TB delete feasible at all. The rewrite
    * scope is ASSERTED (0 < rewritten < total files), v1 remains
    * readable and must still aggregate to the FULL table (time travel
    * across a destructive operation — the recovery story), and both
    * versions' aggregates are recomputed by DuckDB from the raw table
    * with and without the deleted range.
    */
  val cowDelete: QueryDef = {
    val path = Work.oracleDumpPath("q150_table")
    val lo = java.time.LocalDate.of(1996, 1, 1).toEpochDay
    val hi = java.time.LocalDate.of(1996, 12, 31).toEpochDay
    QueryDef("q150_cow_delete",
      """SELECT
        |  (SELECT count(*) FROM lineitem) AS n_v1,
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_shipdate < TIMESTAMP '1996-01-01'
        |       OR l_shipdate >= TIMESTAMP '1997-01-01') AS n_v2,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    FROM lineitem
        |    WHERE l_shipdate < TIMESTAMP '1996-01-01'
        |       OR l_shipdate >= TIMESTAMP '1997-01-01') AS qty_v2,
        |  TRUE AS partial_rewrite""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(path))
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"),
          expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
            .as("ship_day"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        SnapshotTable.append(base, path, numPartitions = 16,
          statsCol = Some("ship_day"))
        val (_, rewritten, total) =
          SnapshotTable.deleteStatsRange(s, path, lo, hi)
        require(rewritten > 0 && rewritten < total,
          s"copy-on-write delete rewrote $rewritten of $total files — " +
            "stats pruning of the rewrite scope is broken")
      }) { (s, d) =>
      val (scan1, _, rows1) = SnapshotTable.scanAt(s, path, 1)
      val (scan2, _, rows2) = SnapshotTable.scanAt(s, path, 2)
      val r1 = scan1.agg(count(lit(1))).collect().head.getLong(0)
      val a2 = scan2.agg(count(lit(1)).as("n"),
        sum("qty_u").cast("long").as("q")).collect().head
      require(r1 == rows1 && a2.getLong(0) == rows2,
        "scan/manifest row drift across the delete")
      // deleted rows must actually be GONE from v2
      require(scan2.filter(col("ship_day").between(lo, hi)).isEmpty,
        "deleted range still present at v2")
      import s.implicits._
      Seq((r1, a2.getLong(0), a2.getLong(1), true))
        .toDF("n_v1", "n_v2", "qty_v2", "partial_rewrite")
    }
  }

  /** q151 — SCHEMA EVOLUTION on the snapshot table: v2 appends a
    * column v1's files don't have; the manifest-driven scan reads the
    * union schema (old files surface the new column as NULL — additive
    * evolution, no rewrite), and the aggregate folds the evolved
    * column with null-as-absent semantics. DuckDB recomputes from the
    * raw table by reconstructing the same two-batch union, so a scan
    * that drops old files, fails to merge schemas, or defaults the
    * missing column to anything but NULL hash-mismatches.
    */
  val schemaEvolution: QueryDef = {
    val path = Work.oracleDumpPath("q151_table")
    QueryDef("q151_schema_evolution",
      """WITH v1 AS (
        |  SELECT l_orderkey AS k,
        |    CAST(floor(l_quantity * 100) AS BIGINT) AS a,
        |    CAST(NULL AS BIGINT) AS b
        |  FROM lineitem WHERE l_linenumber = 1),
        |v2 AS (
        |  SELECT l_orderkey AS k,
        |    CAST(floor(l_quantity * 100) AS BIGINT) AS a,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS b
        |  FROM lineitem WHERE l_linenumber = 2),
        |t AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |SELECT count(*) AS n, CAST(sum(a) AS BIGINT) AS sum_a,
        |  CAST(sum(b) AS BIGINT) AS sum_b,
        |  count(b) AS n_with_b
        |FROM t""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(path))
        val li = Tables.lineitem(s, d)
        SnapshotTable.append(
          li.filter(col("l_linenumber") === 1).select(
            col("l_orderkey").as("k"),
            floor(col("l_quantity") * 100).cast("long").as("a")),
          path, numPartitions = 4)
        SnapshotTable.append(
          li.filter(col("l_linenumber") === 2).select(
            col("l_orderkey").as("k"),
            floor(col("l_quantity") * 100).cast("long").as("a"),
            floor(col("l_extendedprice") * 100).cast("long").as("b")),
          path, numPartitions = 4)
      }) { (s, d) =>
      val (scan, _, _) = SnapshotTable.scanAt(s, path, 2)
      scan.agg(count(lit(1)).as("n"), sum("a").cast("long").as("sum_a"),
        sum("b").cast("long").as("sum_b"),
        count(col("b")).as("n_with_b"))
    }
  }

  /** q152 — OPTIMIZE: compaction EXECUTED through the snapshot table
    * ([[graft.ops.SnapshotTable.compact]]), closing the loop q144 only
    * planned. Seven single-year appends fragment the table into small
    * files; compact() next-fit-bins them in ship-day order and commits
    * a new version whose manifest swaps the merged inputs for their
    * outputs. Three properties are ASSERTED, because they are the whole
    * point of the design: (a) the file count strictly shrinks, (b)
    * stats pruning SURVIVES the rewrite — next-fit in layout order was
    * chosen precisely so compacted files inherit contiguous disjoint
    * key ranges; an FFD-style bin packer would interleave years and a
    * one-year slice would stop pruning — and (c) the pre-compaction
    * version still time-travels. The full-table aggregate AND the
    * pruned one-year slice are recomputed by DuckDB from the raw
    * table, so a compaction that drops, duplicates, or mis-ranges a
    * single row hash-mismatches.
    */
  val optimizeCompact: QueryDef = {
    val path = Work.oracleDumpPath("q152_table")
    QueryDef("q152_optimize_compact",
      """SELECT
        |  (SELECT count(*) FROM lineitem) AS n,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    FROM lineitem) AS qty_u,
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |      AND l_shipdate < TIMESTAMP '1997-01-01') AS n_slice,
        |  TRUE AS compacted, TRUE AS pruned""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(path))
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"),
          expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
            .as("ship_day"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        // one append per ship year (the synthetic corpus ships
        // 1995-2001): a fragmented ingest history
        for (y <- 1995 to 2001) {
          val lo = java.time.LocalDate.of(y, 1, 1).toEpochDay
          val hi = java.time.LocalDate.of(y + 1, 1, 1).toEpochDay
          SnapshotTable.append(
            base.filter(col("ship_day") >= lo && col("ship_day") < hi),
            path, numPartitions = 4, statsCol = Some("ship_day"))
        }
        val before = SnapshotTable.readVersion(s, path,
          SnapshotTable.latestVersion(path))
        val res = SnapshotTable.compact(s, path,
          targetBytes = before.fileBytes.get.sum / 5)
        require(res.version > before.version && res.rewritten > 0 &&
            res.filesAfter < res.filesBefore,
          s"OPTIMIZE did not shrink the table: ${res.filesAfter} of " +
            s"${res.filesBefore} files after, ${res.rewritten} rewritten")
      }) { (s, d) =>
      val v = SnapshotTable.latestVersion(path)
      val (scan, _, rowsExp) = SnapshotTable.scanAt(s, path, v)
      // (c) the fragmented pre-OPTIMIZE version still reads whole
      val (pre, _, rowsPre) = SnapshotTable.scanAt(s, path, v - 1)
      require(rowsPre == rowsExp && pre.count() == rowsExp,
        "pre-compaction version lost rows")
      // (b) pruning survives: one year out of seven skips most files
      val lo = java.time.LocalDate.of(1996, 1, 1).toEpochDay
      val hi = java.time.LocalDate.of(1996, 12, 31).toEpochDay
      val (slice, read, total) = SnapshotTable.scanStatsRange(s, path, v, lo, hi)
      require(read > 0 && read < total,
        s"stats pruning did not survive OPTIMIZE: read $read of $total")
      val a = scan.agg(count(lit(1)).as("n"),
        sum("qty_u").cast("long").as("qty_u")).collect().head
      require(a.getLong(0) == rowsExp, "scan/manifest row drift after OPTIMIZE")
      val nSlice = slice.count()
      import s.implicits._
      Seq((a.getLong(0), a.getLong(1), nSlice, true, true))
        .toDF("n", "qty_u", "n_slice", "compacted", "pruned")
    }
  }

  /** q153 — VERSIONED bloom probe: q142's equality skipping composed
    * with q148's time travel ([[graft.ops.SnapshotTable.scanKeysAt]]).
    * The table carries its bloom index THROUGH commits — append writes
    * index rows for each new batch — so a probe at version N tests
    * membership over exactly N's files (in executors; bloom bytes never
    * reach the driver) instead of whatever layout is latest. Isolation
    * and pruning are both ASSERTED: the v1 probe must see strictly
    * fewer files than v2's manifest, and the v2 probe must still skip
    * (orders ship within months, so date-ranged files prune for an
    * orderkey probe). Both versions' aggregates are recomputed by
    * DuckDB from the raw table with the batch-defining predicate — a
    * probe that opens the other version's files (or drops a
    * false-negative file) hash-mismatches.
    */
  val versionedBloom: QueryDef = {
    val path = Work.oracleDumpPath("q153_table")
    QueryDef("q153_versioned_bloom_probe",
      """SELECT
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_orderkey IN (1, 2, 3) AND l_linenumber <= 3) AS n_v1,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    FROM lineitem
        |    WHERE l_orderkey IN (1, 2, 3) AND l_linenumber <= 3) AS qty_v1,
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_orderkey IN (1, 2, 3)) AS n_v2,
        |  TRUE AS isolated, TRUE AS files_pruned""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(path))
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
            .as("ship_day"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        SnapshotTable.append(base.filter(col("l_linenumber") <= 3), path,
          numPartitions = 8, statsCol = Some("ship_day"),
          bloomCol = Some("l_orderkey"))
        SnapshotTable.append(base.filter(col("l_linenumber") > 3), path,
          numPartitions = 8, statsCol = Some("ship_day"),
          bloomCol = Some("l_orderkey"))
      }) { (s, d) =>
      val keys = Seq(1L, 2L, 3L)
      val (s1, read1, total1) = SnapshotTable.scanKeysAt(s, path, 1, keys)
      val (s2, read2, total2) = SnapshotTable.scanKeysAt(s, path, 2, keys)
      require(total1 < total2,
        s"versioned probe leaked: v1 tests $total1 files, v2 lists $total2")
      require(read1 > 0 && read2 > 0 && read2 < total2,
        s"versioned bloom did not prune: v1 $read1/$total1, v2 $read2/$total2")
      val a1 = s1.agg(count(lit(1)).as("n_v1"),
        sum("qty_u").cast("long").as("qty_v1")).collect().head
      val n2 = s2.count()
      import s.implicits._
      Seq((a1.getLong(0), a1.getLong(1), n2, true, true))
        .toDF("n_v1", "qty_v1", "n_v2", "isolated", "files_pruned")
    }
  }

  /** q155 — MERGE INTO (copy-on-write upsert) on the snapshot table
    * ([[graft.ops.SnapshotTable.merge]]): a late-data correction batch
    * (every 1999 order gets +10000.00 on its total, same key and order
    * day) plus fresh inserts (one negative-keyed row per corrected
    * order) merged in ONE commit that rewrites ONLY the files
    * whose stat range intersects the batch's — stats-pruned, then
    * bloom-refined by the merge keys when the batch is collect-able.
    * The require asserts the three facts that make this a MERGE and
    * not a rewrite: partial file rewrite, exact matched-row count
    * (manifest arithmetic, no extra scan), exact inserted-row count.
    * DuckDB recomputes post-merge totals from the raw table — a lost
    * survivor row, a duplicated key, or a dropped insert all
    * hash-mismatch.
    */
  val mergeUpsert: QueryDef = {
    val path = Work.oracleDumpPath("q155_table")
    QueryDef("q155_merge_upsert",
      """SELECT
        |  (SELECT count(*) FROM orders) +
        |  (SELECT count(*) FROM orders
        |    WHERE o_orderdate >= TIMESTAMP '1999-01-01'
        |      AND o_orderdate < TIMESTAMP '2000-01-01') AS n,
        |  (SELECT CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
        |     AS BIGINT) FROM orders) +
        |  (SELECT 1000007 * count(*) FROM orders
        |    WHERE o_orderdate >= TIMESTAMP '1999-01-01'
        |      AND o_orderdate < TIMESTAMP '2000-01-01') AS price_u,
        |  (SELECT count(*) FROM orders) AS n_v1,
        |  TRUE AS partial_rewrite""".stripMargin,
      setup = { (s, d) =>
        val lo99 = java.time.LocalDate.of(1999, 1, 1).toEpochDay
        val hi99 = java.time.LocalDate.of(1999, 12, 31).toEpochDay
        def keyed(df: DataFrame) = df.select(
          col("o_orderkey").cast("long").as("k"),
          expr("CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT)")
            .as("order_day"),
          floor(col("o_totalprice") * 100).cast("long").as("price_u"))
        Work.wipe(java.nio.file.Paths.get(path))
        val base = keyed(Tables.load(s, d, "orders"))
        SnapshotTable.append(base, path, numPartitions = 16,
          statsCol = Some("order_day"), bloomCol = Some("k"))
        val hit = keyed(Tables.load(s, d, "orders"))
          .filter(col("order_day").between(lo99, hi99))
        val updates = hit.withColumn("price_u", col("price_u") + 1000000L)
          .unionByName(hit.select((-col("k")).as("k"), col("order_day"),
            lit(7L).as("price_u")))
        val nHit = hit.count()
        val res = SnapshotTable.merge(s, path, updates, "k")
        require(res.filesRewritten > 0 &&
            res.filesRewritten < res.filesTotal,
          s"merge rewrote ${res.filesRewritten} of ${res.filesTotal} " +
            "files — candidate pruning is broken")
        require(res.rowsMatched == nHit && res.rowsInserted == nHit,
          s"merge accounting drift: matched ${res.rowsMatched}, " +
            s"inserted ${res.rowsInserted}, expected $nHit each")
      }) { (s, d) =>
      val (s2, _, rows2) = SnapshotTable.scanAt(s, path, 2)
      val (s1, _, rows1) = SnapshotTable.scanAt(s, path, 1)
      val a = s2.agg(count(lit(1)).as("n"),
        sum("price_u").cast("long").as("price_u")).collect().head
      require(a.getLong(0) == rows2, "scan/manifest row drift after merge")
      val n1 = s1.count()
      require(n1 == rows1, "pre-merge version lost rows")
      import s.implicits._
      Seq((a.getLong(0), a.getLong(1), n1, true))
        .toDF("n", "price_u", "n_v1", "partial_rewrite")
    }
  }

  /** q156 — SNAPSHOT EXPIRATION (retention sweep,
    * [[graft.ops.SnapshotTable.expire]]): after a COW delete, the
    * pre-delete version is expired — its manifest removed and exactly
    * the files no retained version references unlinked. The per-run
    * requires pin the three retention facts: the expired version fails
    * loudly (no manifest, no silent directory fallback), the on-disk
    * parquet population equals the retained manifest exactly (the
    * sweep removed the dead files and ONLY them), and the retained
    * version's aggregate — recomputed by DuckDB from the raw table
    * with the delete predicate — is untouched by the sweep.
    */
  val expireSnapshots: QueryDef = {
    val path = Work.oracleDumpPath("q156_table")
    QueryDef("q156_expire_snapshots",
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty_u,
        |  TRUE AS expired_loud, TRUE AS files_swept
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1996-01-01'
        |   OR l_shipdate >= TIMESTAMP '1997-01-01'""".stripMargin,
      setup = { (s, d) =>
        val lo = java.time.LocalDate.of(1996, 1, 1).toEpochDay
        val hi = java.time.LocalDate.of(1996, 12, 31).toEpochDay
        Work.wipe(java.nio.file.Paths.get(path))
        val base = Tables.lineitem(s, d).select(
          expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
            .as("ship_day"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        SnapshotTable.append(base, path, numPartitions = 16,
          statsCol = Some("ship_day"))
        SnapshotTable.deleteStatsRange(s, path, lo, hi)
        val res = SnapshotTable.expire(s, path, keepFrom = 2)
        require(res.manifestsDeleted == 1 && res.filesDeleted > 0,
          s"expire swept ${res.manifestsDeleted} manifests, " +
            s"${res.filesDeleted} files — nothing was dead?")
      }) { (s, d) =>
      // the expired version is loud, per run
      require(scala.util.Try(SnapshotTable.scanAt(s, path, 1)).isFailure,
        "expired version 1 still readable")
      val ver = SnapshotTable.readVersion(s, path, 2)
      // on-disk population == the retained manifest, exactly
      val onDisk = Work.walkAll(java.nio.file.Paths.get(path, "files"))
        .count(_.getFileName.toString.endsWith(".parquet"))
      require(onDisk == ver.files.length,
        s"$onDisk parquet files on disk, manifest lists ${ver.files.length}")
      val (s2, _, rows2) = SnapshotTable.scanAt(s, path, 2)
      val a = s2.agg(count(lit(1)).as("n"),
        sum("qty_u").cast("long").as("qty_u")).collect().head
      require(a.getLong(0) == rows2, "retained version lost rows")
      import s.implicits._
      Seq((a.getLong(0), a.getLong(1), true, true))
        .toDF("n", "qty_u", "expired_loud", "files_swept")
    }
  }

  /** q157 — CHANGE DATA FEED ([[graft.ops.SnapshotTable.changes]]):
    * row-level diff between versions computed from the MANIFEST diff —
    * only churned files are read, carried files cost nothing, so CDF
    * cost scales with the change, never the table. The v1→v2 diff of a
    * COW delete must emit EXACTLY the deleted rows (the survivors were
    * rewritten into new files, but identical rows cancel in the
    * multiset difference — asserted by the zero insert count riding in
    * the hash); the v2→v3 diff of an append is pure inserts. DuckDB
    * recomputes both sides from the raw table with the same predicates.
    */
  val changeDataFeed: QueryDef = {
    val path = Work.oracleDumpPath("q157_table")
    QueryDef("q157_change_data_feed",
      """SELECT
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |      AND l_shipdate < TIMESTAMP '1997-01-01') AS n_del,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
        |     AS BIGINT) FROM lineitem
        |    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |      AND l_shipdate < TIMESTAMP '1997-01-01') AS qty_del,
        |  CAST(0 AS BIGINT) AS n_ins_12,
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |      AND l_shipdate < TIMESTAMP '1998-01-01'
        |      AND l_linenumber = 1) AS n_ins_23""".stripMargin,
      setup = { (s, d) =>
        val lo96 = java.time.LocalDate.of(1996, 1, 1).toEpochDay
        val hi96 = java.time.LocalDate.of(1996, 12, 31).toEpochDay
        val lo97 = java.time.LocalDate.of(1997, 1, 1).toEpochDay
        val hi97 = java.time.LocalDate.of(1997, 12, 31).toEpochDay
        Work.wipe(java.nio.file.Paths.get(path))
        val base = Tables.lineitem(s, d).select(
          expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
            .as("ship_day"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        SnapshotTable.append(base, path, numPartitions = 16,
          statsCol = Some("ship_day"))
        SnapshotTable.deleteStatsRange(s, path, lo96, hi96) // v2
        SnapshotTable.append(                               // v3
          Tables.lineitem(s, d)
            .filter(col("l_linenumber") === 1)
            .select(
              expr("CAST(datediff(l_shipdate, DATE '1970-01-01') " +
                "AS BIGINT)").as("ship_day"),
              floor(col("l_quantity") * 100).cast("long").as("qty_u"))
            .filter(col("ship_day").between(lo97, hi97)),
          path, numPartitions = 2, statsCol = Some("ship_day"))
      }) { (s, d) =>
      val d12 = SnapshotTable.changes(s, path, 1, 2)
      val d23 = SnapshotTable.changes(s, path, 2, 3)
      val a = d12.groupBy("_change")
        .agg(count(lit(1)).as("n"), sum("qty_u").cast("long").as("q"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      val (nDel, qtyDel) = a.getOrElse("delete", (0L, 0L))
      val nIns12 = a.get("insert").map(_._1).getOrElse(0L)
      require(nIns12 == 0,
        s"COW-delete CDF leaked $nIns12 phantom inserts — survivor " +
          "rewrites must cancel")
      val nIns23 = d23.filter(col("_change") === "insert").count()
      require(d23.filter(col("_change") === "delete").isEmpty,
        "append CDF emitted deletes")
      import s.implicits._
      Seq((nDel, qtyDel, nIns12, nIns23))
        .toDF("n_del", "qty_del", "n_ins_12", "n_ins_23")
    }
  }

  /** q159 — VERSIONED curve-key rectangle probe: q131's Z-order
    * data skipping composed with q148's time travel, with NO separate
    * `_manifest` file — the snapshot manifest's per-file stats over the
    * Morton key ARE the curve manifest ([[graft.ops.SnapshotTable
    * .scanRectangleAt]]). Two curve-clustered batches commit as v1/v2;
    * the same 64-aligned rectangle probes both versions, pruning
    * asserted at each (a 64² tile of a 1024² domain must touch 1-2 of
    * 16 files per batch) and isolation asserted structurally (the v1
    * probe plans over strictly fewer files). DuckDB recomputes both
    * versions' rectangle aggregates from the raw table with the
    * batch-defining predicate — a wrong cover interval or a leaked
    * v2 file changes the v1 numbers and hash-mismatches.
    */
  val versionedCurveSkip: QueryDef = {
    val path = Work.oracleDumpPath("q159_table")
    QueryDef("q159_versioned_curve_skip",
      """WITH pts AS (
        |  SELECT l_partkey % 1024 AS px, l_orderkey % 1024 AS py,
        |    l_linenumber AS ln,
        |    CAST(floor(l_quantity * 100) AS BIGINT) AS qty_u
        |  FROM lineitem)
        |SELECT
        |  (SELECT count(*) FROM pts
        |    WHERE px BETWEEN 128 AND 191 AND py BETWEEN 128 AND 191
        |      AND ln <= 3) AS n_v1,
        |  (SELECT CAST(sum(qty_u) AS BIGINT) FROM pts
        |    WHERE px BETWEEN 128 AND 191 AND py BETWEEN 128 AND 191
        |      AND ln <= 3) AS qty_v1,
        |  (SELECT count(*) FROM pts
        |    WHERE px BETWEEN 128 AND 191 AND py BETWEEN 128 AND 191)
        |    AS n_v2,
        |  TRUE AS isolated, TRUE AS files_pruned""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(path))
        val base = Tables.lineitem(s, d).select(
          pmod(col("l_partkey"), lit(1024)).cast("long").as("px"),
          pmod(col("l_orderkey"), lit(1024)).cast("long").as("py"),
          col("l_linenumber").as("ln"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
          .withColumn("z", graft.functions.ZOrderExpr.zorder(
            col("px"), col("py"), 10))
        SnapshotTable.append(base.filter(col("ln") <= 3), path,
          numPartitions = 16, statsCol = Some("z"))
        SnapshotTable.append(base.filter(col("ln") > 3), path,
          numPartitions = 16, statsCol = Some("z"))
      }) { (s, d) =>
      def probe(version: Long) = {
        val (scan, read, total) = SnapshotTable.scanRectangleAt(
          s, path, version, 128, 191, 128, 191, bits = 10)
        require(read > 0 && read < total,
          s"versioned curve cover did not prune at v$version: " +
            s"read $read of $total files")
        (scan.filter(col("px").between(128, 191) &&
          col("py").between(128, 191)), total)
      }
      val (s1, total1) = probe(1)
      val (s2, total2) = probe(2)
      require(total1 < total2,
        s"versioned probe leaked: v1 plans over $total1 files, v2 $total2")
      val a1 = s1.agg(count(lit(1)).as("n_v1"),
        sum("qty_u").cast("long").as("qty_v1")).collect().head
      val n2 = s2.count()
      import s.implicits._
      Seq((a1.getLong(0), a1.getLong(1), n2, true, true))
        .toDF("n_v1", "qty_v1", "n_v2", "isolated", "files_pruned")
    }
  }

  /** q164 — INCREMENTAL VIEW MAINTENANCE over the change feed
    * ([[graft.ops.IncrementalView]]): the downstream consumer the CDF
    * (q157) exists for. A per-week aggregate view is built once in
    * full, then the table churns — a COW delete of 1996 and an append
    * of 1997 line-1 rows — and ONE incremental refresh (require-
    * asserted: mode == "incremental", i.e. the gap is applied as a
    * delta over [[graft.ops.SnapshotTable.changes]], reading only
    * churned files, never the table) brings the view to head across
    * BOTH commits. The refreshed view is emitted in full and DuckDB
    * recomputes it from scratch against the final table state: a
    * delta that double-counts a survivor rewrite, misses a dead
    * group, or mis-signs a delete changes some group's (cnt, sum) and
    * hash-mismatches.
    */
  val incrementalView: QueryDef = {
    val view = Work.oracleDumpPath("q164_view")
    QueryDef("q164_incremental_view",
      """WITH fin AS (
        |  -- v1 survivors of the 1996 delete ...
        |  SELECT CAST(datediff('day', DATE '1970-01-01',
        |      CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_day,
        |    CAST(floor(l_quantity * 100) AS BIGINT) AS qty_u
        |  FROM lineitem
        |  WHERE l_linenumber <= 3
        |    AND (l_shipdate < TIMESTAMP '1996-01-01'
        |         OR l_shipdate >= TIMESTAMP '1997-01-01')
        |  UNION ALL
        |  -- ... plus the v3 append, WITH multiplicity: line-1 1997 rows
        |  -- exist twice in the final table (once from each commit)
        |  SELECT CAST(datediff('day', DATE '1970-01-01',
        |      CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_day,
        |    CAST(floor(l_quantity * 100) AS BIGINT) AS qty_u
        |  FROM lineitem
        |  WHERE l_linenumber = 1
        |    AND l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01')
        |SELECT ship_day % 32 AS wk, count(*) AS cnt,
        |  CAST(sum(qty_u) AS BIGINT) AS s_qty
        |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin,
      setup = { (s, d) =>
        val path = Work.oracleDumpPath("q164_table")
        val lo96 = java.time.LocalDate.of(1996, 1, 1).toEpochDay
        val hi96 = java.time.LocalDate.of(1996, 12, 31).toEpochDay
        val lo97 = java.time.LocalDate.of(1997, 1, 1).toEpochDay
        val hi97 = java.time.LocalDate.of(1997, 12, 31).toEpochDay
        Work.wipe(java.nio.file.Paths.get(path))
        Work.wipe(java.nio.file.Paths.get(view))
        def rows(pred: Column) = Tables.lineitem(s, d).filter(pred)
          .select(
            expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
              .as("ship_day"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u"))
          .withColumn("wk", pmod(col("ship_day"), lit(32L)))
        SnapshotTable.append(rows(col("l_linenumber") <= 3), path,
          numPartitions = 16, statsCol = Some("ship_day"))
        val r1 = IncrementalView.refresh(s, path, view,
          Seq("wk"), Seq("qty_u" -> "s_qty"))
        require(r1.mode == "full" && r1.tableVersion == 1,
          s"first refresh was ${r1.mode} at v${r1.tableVersion}")
        SnapshotTable.deleteStatsRange(s, path, lo96, hi96) // v2
        SnapshotTable.append(                               // v3
          rows(col("l_linenumber") === 1)
            .filter(col("ship_day").between(lo97, hi97)),
          path, numPartitions = 2, statsCol = Some("ship_day"))
        val r2 = IncrementalView.refresh(s, path, view,
          Seq("wk"), Seq("qty_u" -> "s_qty"))
        require(r2.mode == "incremental" && r2.tableVersion == 3,
          s"catch-up refresh was ${r2.mode} at v${r2.tableVersion} — " +
            "the delta path did not run")
      }) { (s, d) =>
      IncrementalView.read(s, view)
        .select(col("wk"), col("cnt"), col("s_qty"))
    }
  }

  /** q163 — OPTIMIZE ZORDER BY: [[graft.ops.SnapshotTable.recluster]]
    * converts an ingest-ordered table into a curve-ordered one through
    * one commit. The table lands laid out (and stats-pruned) on
    * `ship_day` — the only order an ingest can produce — while carrying
    * a Morton key over (px, py) that the arrival order scatters across
    * every file, so rectangle probes cannot prune. Reclustering by `z`
    * is the one whole-table rewrite in the lifecycle: one range-shuffle
    * job, after which the SAME manifest machinery prunes rectangles
    * ([[graft.ops.SnapshotTable.scanRectangleAt]], require-asserted),
    * while time travel to v1 still prunes on ship_day — stats live per
    * manifest, so changing the clustering dimension never rewrites
    * history. Both versions' aggregates are recomputed by DuckDB from
    * the raw table: a recluster that drops, duplicates, or re-derives a
    * row (rather than purely reordering) hash-mismatches, and the
    * rectangle residual catches a wrong curve cover.
    */
  val optimizeZorder: QueryDef = {
    val path = Work.oracleDumpPath("q163_table")
    QueryDef("q163_optimize_zorder",
      """WITH pts AS (
        |  SELECT l_partkey % 1024 AS px, l_orderkey % 1024 AS py,
        |    CAST(floor(l_quantity * 100) AS BIGINT) AS qty_u,
        |    l_shipdate AS sd
        |  FROM lineitem)
        |SELECT
        |  (SELECT count(*) FROM pts
        |    WHERE px BETWEEN 128 AND 191 AND py BETWEEN 128 AND 191)
        |    AS n_rect,
        |  (SELECT CAST(sum(qty_u) AS BIGINT) FROM pts
        |    WHERE px BETWEEN 128 AND 191 AND py BETWEEN 128 AND 191)
        |    AS qty_rect,
        |  (SELECT count(*) FROM pts
        |    WHERE sd >= TIMESTAMP '1996-01-01'
        |      AND sd < TIMESTAMP '1997-01-01') AS n_1996,
        |  TRUE AS reclustered, TRUE AS pruned""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(path))
        val base = Tables.lineitem(s, d).select(
          pmod(col("l_partkey"), lit(1024)).cast("long").as("px"),
          pmod(col("l_orderkey"), lit(1024)).cast("long").as("py"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"),
          expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
            .as("ship_day"))
          .withColumn("z", graft.functions.ZOrderExpr.zorder(
            col("px"), col("py"), 10))
        SnapshotTable.append(base, path, numPartitions = 16,
          statsCol = Some("ship_day"))
        val r = SnapshotTable.recluster(s, path, "z", 16)
        require(r.version == 2 && r.filesAfter == 16,
          s"recluster committed v${r.version} with ${r.filesAfter} files")
      }) { (s, d) =>
      // v2 prunes the rectangle via the curve cover over the NEW stats
      val (rect, read2, total2) = SnapshotTable.scanRectangleAt(
        s, path, 2, 128, 191, 128, 191, bits = 10)
      require(read2 > 0 && read2 < total2,
        s"rectangle did not prune after ZORDER: read $read2 of $total2")
      // v1 still prunes a calendar year via the OLD stats
      val lo = java.time.LocalDate.of(1996, 1, 1).toEpochDay
      val hi = java.time.LocalDate.of(1996, 12, 31).toEpochDay
      val (slice, read1, total1) =
        SnapshotTable.scanStatsRange(s, path, 1, lo, hi)
      require(read1 > 0 && read1 < total1,
        s"ship_day pruning lost at v1: read $read1 of $total1")
      val a = rect.filter(col("px").between(128, 191) &&
          col("py").between(128, 191))
        .agg(count(lit(1)).as("n_rect"),
          sum("qty_u").cast("long").as("qty_rect")).collect().head
      val n96 = slice.count()
      import s.implicits._
      Seq((a.getLong(0), a.getLong(1), n96, true, true))
        .toDF("n_rect", "qty_rect", "n_1996", "reclustered", "pruned")
    }
  }

  /** q165 — VACUUM: physical GC of the snapshot table
    * ([[graft.ops.SnapshotTable.vacuum]]), the sweep that closes the
    * storage loop q156's expire deliberately left open. The table
    * accumulates the two garbage classes expire cannot touch: an
    * aborted ingest's durable-but-uncommitted batch (written straight
    * into the data directory, never committed — expire only ever
    * deletes files a manifest REFERENCES, so these are invisible to
    * it), and the bloom-index rows of the files expire did delete. One
    * vacuum pass (TTL 0 — the test IS the maintenance window) must
    * sweep exactly the 2-file aborted batch (require-asserted), drop
    * dead index rows, and leave the live version byte-identical: the
    * aggregate and a bloom-pruned key probe are recomputed by DuckDB —
    * a vacuum that unlinks one live file breaks the aggregate; one
    * that drops a live index row breaks the probe's completeness
    * require.
    */
  val vacuumSweep: QueryDef = {
    val path = Work.oracleDumpPath("q165_table")
    QueryDef("q165_vacuum",
      """SELECT
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_shipdate < TIMESTAMP '1996-01-01'
        |       OR l_shipdate >= TIMESTAMP '1997-01-01') AS n,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    FROM lineitem
        |    WHERE l_shipdate < TIMESTAMP '1996-01-01'
        |       OR l_shipdate >= TIMESTAMP '1997-01-01') AS qty_u,
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_orderkey IN (1, 2, 3)
        |      AND (l_shipdate < TIMESTAMP '1996-01-01'
        |           OR l_shipdate >= TIMESTAMP '1997-01-01')) AS n_probe,
        |  TRUE AS swept, TRUE AS index_gcd""".stripMargin,
      setup = { (s, d) =>
        val lo96 = java.time.LocalDate.of(1996, 1, 1).toEpochDay
        val hi96 = java.time.LocalDate.of(1996, 12, 31).toEpochDay
        Work.wipe(java.nio.file.Paths.get(path))
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey").as("k"),
          expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
            .as("ship_day"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        SnapshotTable.append(base, path, numPartitions = 16,
          statsCol = Some("ship_day"), bloomCol = Some("k"))
        SnapshotTable.deleteStatsRange(s, path, lo96, hi96) // v2
        // an aborted ingest: durable batch no manifest references
        base.limit(100).repartition(2)
          .write.parquet(s"$path/files/batch-aborted")
        SnapshotTable.expire(s, path, keepFrom = 2)
        val r = SnapshotTable.vacuum(s, path, olderThanMs = 0L)
        // expire removed the referenced-dead pre-delete originals
        // itself; vacuum's catch is the UNreferenced garbage — the
        // 2-file aborted batch — plus the dead files' index rows
        require(r.orphansDeleted == 2,
          s"vacuum swept ${r.orphansDeleted} files — expected exactly " +
            "the 2-file aborted batch")
        require(r.indexRowsDropped > 0,
          "dead files' bloom-index rows survived the GC")
      }) { (s, d) =>
      val (scan, _, rowsExp) = SnapshotTable.scanAt(s, path, 2)
      val a = scan.agg(count(lit(1)).as("n"),
        sum("qty_u").cast("long").as("qty_u")).collect().head
      require(a.getLong(0) == rowsExp,
        s"post-vacuum scan (${a.getLong(0)} rows) drifted from the " +
          s"manifest ($rowsExp) — a live file was swept")
      val (probe, read, total) =
        SnapshotTable.scanKeysAt(s, path, 2, Seq(1L, 2L, 3L))
      require(read > 0 && read < total,
        s"bloom probe stopped pruning after vacuum: read $read of $total")
      val nProbe = probe.count()
      import s.implicits._
      Seq((a.getLong(0), a.getLong(1), nProbe, true, true))
        .toDF("n", "qty_u", "n_probe", "swept", "index_gcd")
    }
  }

  /** q166 — SQL TIME TRAVEL: the snapshot table surfaced as a
    * table-valued function (`graft_snapshot(path[, version])`,
    * registered by [[graft.GraftExtensions]] via
    * `injectTableFunction`), so PLAIN SQL reads committed versions from
    * the FROM clause — the full declarative surface over the q148
    * layer: scalar subqueries over two versions and a cross-version
    * anti-join (v1 rows whose (k, ln) key has no survivor in v2 —
    * (l_orderkey, l_linenumber) is NOT unique in the synthetic data,
    * so the oracle states the same semantics via NOT EXISTS rather
    * than a removed-row count), all in one statement, no
    * Column API. The TVF resolves to the manifest's analyzed file scan,
    * so Catalyst sees an ordinary parquet relation (pushdown, pruning,
    * broadcast all apply). DuckDB recomputes every branch from the raw
    * table with the version-defining predicates — a TVF that resolves
    * the wrong version's file list hash-mismatches.
    */
  val sqlTimeTravel: QueryDef = {
    val path = Work.oracleDumpPath("q166_table")
    QueryDef("q166_sql_time_travel",
      """SELECT
        |  (SELECT count(*) FROM lineitem WHERE l_linenumber <= 3) AS n_v1,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    FROM lineitem WHERE l_linenumber <= 3) AS qty_v1,
        |  (SELECT count(*) FROM lineitem WHERE l_linenumber <= 3
        |    AND (l_shipdate < TIMESTAMP '1996-01-01'
        |         OR l_shipdate >= TIMESTAMP '1997-01-01')) AS n_v2,
        |  (SELECT count(*) FROM lineitem a WHERE a.l_linenumber <= 3
        |    AND NOT EXISTS (SELECT 1 FROM lineitem b
        |      WHERE b.l_linenumber <= 3
        |      AND (b.l_shipdate < TIMESTAMP '1996-01-01'
        |           OR b.l_shipdate >= TIMESTAMP '1997-01-01')
        |      AND b.l_orderkey = a.l_orderkey
        |      AND b.l_linenumber = a.l_linenumber)) AS n_removed""".stripMargin,
      setup = { (s, d) =>
        val lo96 = java.time.LocalDate.of(1996, 1, 1).toEpochDay
        val hi96 = java.time.LocalDate.of(1996, 12, 31).toEpochDay
        Work.wipe(java.nio.file.Paths.get(path))
        SnapshotTable.append(
          Tables.lineitem(s, d).filter(col("l_linenumber") <= 3).select(
            col("l_orderkey").as("k"),
            col("l_linenumber").as("ln"), // (k, ln) = unique row identity
            expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
              .as("ship_day"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u")),
          path, numPartitions = 8, statsCol = Some("ship_day"))
        SnapshotTable.deleteStatsRange(s, path, lo96, hi96) // v2
      }) { (s, d) =>
      s.sql(
        s"""SELECT
           |  (SELECT count(*) FROM graft_snapshot('$path', 1)) AS n_v1,
           |  (SELECT CAST(sum(qty_u) AS BIGINT)
           |     FROM graft_snapshot('$path', 1)) AS qty_v1,
           |  (SELECT count(*) FROM graft_snapshot('$path')) AS n_v2,
           |  (SELECT count(*) FROM graft_snapshot('$path', 1) a
           |     ANTI JOIN graft_snapshot('$path', 2) b
           |     ON a.k = b.k AND a.ln = b.ln) AS n_removed""".stripMargin)
    }
  }

  /** q167 — HIDDEN PARTITIONING with a metadata-only partition drop
    * ([[graft.ops.SnapshotTable.appendPartitioned]]): lineitem is laid
    * out in 32-day partitions by `truncate(ship_day, 32)` — the
    * Iceberg-style transform lives in the MANIFEST, not the schema, so
    * the probe filters on the raw ship-day column and the planner
    * pushes the bounds through the transform to open only the covering
    * partitions (require-asserted, partition-PURE files so pruning is
    * exact, and the derived value is require-asserted absent from the
    * scan schema). Then the delete shape ingest actually produces —
    * drop a bad date range — lands as a METADATA-ONLY commit: the
    * range aligns to partition boundaries ([1997-05-03, 1998-05-22) =
    * day 9984..10367, multiples of 32), so v2's manifest simply omits
    * whole files; zero bytes read or written, the step past the COW
    * delete's economics. Time travel: the probe and n_v1 read VERSION
    * 1 through the drop. DuckDB recomputes every branch from raw
    * lineitem — a wrong transform floor, an off-by-one partition
    * boundary, or a leaked/dropped row hash-mismatches.
    */
  val hiddenPartitionPrune: QueryDef = {
    val path = Work.oracleDumpPath("q167_table")
    QueryDef("q167_hidden_partition_prune",
      """SELECT
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_shipdate >= TIMESTAMP '1996-03-15'
        |      AND l_shipdate < TIMESTAMP '1996-09-16') AS n_probe,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    FROM lineitem
        |    WHERE l_shipdate >= TIMESTAMP '1996-03-15'
        |      AND l_shipdate < TIMESTAMP '1996-09-16') AS qty_probe,
        |  (SELECT count(*) FROM lineitem) AS n_v1,
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_shipdate < TIMESTAMP '1997-05-03'
        |       OR l_shipdate >= TIMESTAMP '1998-05-22') AS n_v2""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(path))
        SnapshotTable.appendPartitioned(
          Tables.lineitem(s, d).select(
            expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
              .as("ship_day"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u")),
          path, PartSpec("ship_day", "truncate", 32))
        // days 9984..10367 = [1997-05-03, 1998-05-22): multiples of 32
        val (_, dropped, total) =
          SnapshotTable.deletePartitionRange(s, path, 9984L, 10367L)
        require(dropped > 0 && dropped < total,
          s"metadata-only delete dropped $dropped of $total files")
      }) { (s, d) =>
      val plo = java.time.LocalDate.of(1996, 3, 15).toEpochDay
      val phi = java.time.LocalDate.of(1996, 9, 15).toEpochDay
      val (probe, read, total) =
        SnapshotTable.scanPartitionRange(s, path, 1, plo, phi)
      require(read > 0 && read < total,
        s"hidden partitioning did not prune: read $read of $total files")
      require(!probe.columns.contains("__p"),
        "partition value leaked into the scan schema")
      val p = probe.agg(count(lit(1)).as("n"),
        sum("qty_u").cast("long").as("q")).collect().head
      val (s1, _, rows1) = SnapshotTable.scanAt(s, path, 1)
      val (s2, _, rows2) = SnapshotTable.scanAt(s, path, 2)
      val n1 = s1.count(); val n2 = s2.count()
      require(n1 == rows1 && n2 == rows2,
        "scan/manifest row drift across the partition drop")
      import s.implicits._
      Seq((p.getLong(0), p.getLong(1), n1, n2))
        .toDF("n_probe", "qty_probe", "n_v1", "n_v2")
    }
  }

  /** q186 — RUNTIME (DPP-style) file pruning through the DSv2
    * provider: lineitem lives as a hidden-partitioned snapshot table
    * (`truncate(ship_day, 32)`), and the query is a plain JOIN against
    * a filtered dimension — one month of order dates — with NO static
    * predicate on the fact side at all. Catalyst plans the dimension
    * as the broadcast side, Spark's PartitionPruning rule sees the
    * scan's `SupportsRuntimeFiltering` attributes, executes the
    * dimension FIRST and hands its join keys back as an `In` filter;
    * the manifest then drops every partition file holding none of
    * those days AT RUNTIME (require-asserted: a strict subset
    * planned). This is the 100 TB join shape — fact-side I/O bounded
    * by the dimension's reach, not the table's size — with zero
    * bespoke API: `spark.read.format("graft_table")` + `join`.
    * DuckDB recomputes the join from raw lineitem×orders; a file
    * over- or under-pruned at runtime changes (n, qty_u, n_days) and
    * hash-mismatches.
    */
  val runtimePrune: QueryDef = {
    val path = Work.oracleDumpPath("q186_table")
    QueryDef("q186_runtime_prune",
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty_u,
        |  count(DISTINCT CAST(l_shipdate AS DATE)) AS n_days,
        |  TRUE AS files_pruned
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) IN (
        |  SELECT DISTINCT CAST(o_orderdate AS DATE) FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-03-01'
        |    AND o_orderdate < TIMESTAMP '1996-04-01')""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(path))
        SnapshotTable.appendPartitioned(
          Tables.lineitem(s, d).select(
            expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
              .as("ship_day"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u")),
          path, PartSpec("ship_day", "truncate", 32))
      }) { (s, d) =>
      val fact = s.read.format("graft_table").option("path", path).load()
      val dim = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-03-01").cast("timestamp")
          && col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select(
          expr("CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT)")
            .as("order_day"))
        .distinct()
      // deterministic DPP benefit check (stats-free plan cost estimates
      // vary with sf); restored after the EAGER aggregate below
      val key = "spark.sql.optimizer.dynamicPartitionPruning.useStats"
      val prior = s.conf.getOption(key)
      s.conf.set(key, "false")
      val (Array(r), Seq(Files(planned, total))) = try {
        ScanMetrics.collect(fact.join(dim, col("ship_day") === col("order_day"))
          .agg(count(lit(1)).as("n"),
            sum("qty_u").cast("long").as("qty_u"),
            countDistinct("ship_day").as("n_days")))
      } finally prior match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
      require(planned > 0 && planned < total,
        s"runtime filter did not prune: planned $planned of $total files")
      import s.implicits._
      Seq((r.getLong(0), r.getLong(1), r.getLong(2), true))
        .toDF("n", "qty_u", "n_days", "files_pruned")
    }
  }

  /** q187 — the DSv2 WRITE front door: the snapshot table's full
    * ingest lifecycle driven ONLY through
    * `df.write.format("graft_table")` — create (first append fixes
    * the stats layout), a second append that INHERITS the layout from
    * the manifest, and `mode("overwrite")` as an atomic
    * TRUNCATE+INSERT commit — then read back through the same format:
    * the post-append total, a pruned range probe (require-asserted
    * strict subset: the inherited stats index the second batch's
    * files too), the overwritten v3, and TIME TRAVEL back across the
    * overwrite to v1. Every branch recomputed by DuckDB from raw
    * lineitem; a dropped batch, a stale layout, an overwrite that
    * leaked old rows, or a broken travel changes some branch and
    * hash-mismatches.
    */
  val dsv2Write: QueryDef = {
    val path = Work.oracleDumpPath("q187_table")
    QueryDef("q187_dsv2_write",
      """SELECT
        |  (SELECT count(*) FROM lineitem) AS n_all,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    FROM lineitem) AS qty_all,
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_shipdate >= TIMESTAMP '1995-03-01'
        |      AND l_shipdate < TIMESTAMP '1995-09-01') AS n_probe,
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_shipdate < TIMESTAMP '1997-01-01') AS n_v1,
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |      AND l_shipdate < TIMESTAMP '1997-01-01') AS n_v3,
        |  TRUE AS files_pruned""".stripMargin,
      setup = { (s, d) =>
        val day96 = java.time.LocalDate.of(1996, 1, 1).toEpochDay
        val day97 = java.time.LocalDate.of(1997, 1, 1).toEpochDay
        Work.wipe(java.nio.file.Paths.get(path))
        val li = Tables.lineitem(s, d).select(
          expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
            .as("ship_day"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        // v1: create — the first write fixes the stats layout
        li.filter(col("ship_day") < day97)
          .write.format("graft_table").mode("append")
          .option("path", path).option("write_partitions", "8")
          .option("stats_col", "ship_day").save()
        // v2: append — stats col INHERITED from the manifest
        li.filter(col("ship_day") >= day97)
          .write.format("graft_table").mode("append")
          .option("path", path).option("write_partitions", "8").save()
        // v3: atomic TRUNCATE+INSERT
        li.filter(col("ship_day") >= day96 && col("ship_day") < day97)
          .write.format("graft_table").mode("overwrite")
          .option("path", path).option("write_partitions", "4")
          .option("stats_col", "ship_day").save()
      }) { (s, d) =>
      def at(v: Int) = s.read.format("graft_table")
        .option("path", path).option("version", v.toString).load()
      val plo = java.time.LocalDate.of(1995, 3, 1).toEpochDay
      val phi = java.time.LocalDate.of(1995, 9, 1).toEpochDay
      val all = at(2).agg(count(lit(1)).as("n"),
        sum("qty_u").cast("long").as("q")).collect().head
      val (probe, Files(planned, total)) = ScanMetrics.rowCount(at(2)
        .filter(col("ship_day") >= plo && col("ship_day") < phi))
      require(planned > 0 && planned < total,
        s"inherited stats did not prune: planned $planned of $total files")
      val nV1 = at(1).count()
      val nV3 = at(3).count()
      import s.implicits._
      Seq((all.getLong(0), all.getLong(1), probe, nV1, nV3, true))
        .toDF("n_all", "qty_all", "n_probe", "n_v1", "n_v3", "files_pruned")
    }
  }

  /** q188 — MANIFEST-ANSWERED AGGREGATES through the DSv2 provider:
    * `SELECT count(*), min(ship_day), max(ship_day)` on the snapshot
    * table completes as an O(1) metadata read — Spark pushes the
    * aggregation into the scan builder, the manifest's exact row
    * counts and per-file [min, max] produce the one-row answer, and
    * ZERO data files are opened (require-asserted via the pushdown
    * probe). The 100 TB shape: table-level facts at manifest cost.
    * The guard rails are part of the query: a FILTERED count must
    * DECLINE the pushdown (manifest bounds are not exact under a
    * residual predicate) and still agree with DuckDB, which recomputes
    * every branch from raw lineitem.
    */
  val manifestAgg: QueryDef = {
    val path = Work.oracleDumpPath("q188_table")
    QueryDef("q188_manifest_agg",
      """SELECT
        |  (SELECT count(*) FROM lineitem) AS n,
        |  (SELECT CAST(min(datediff('day', DATE '1970-01-01',
        |      CAST(l_shipdate AS DATE))) AS BIGINT) FROM lineitem) AS d_min,
        |  (SELECT CAST(max(datediff('day', DATE '1970-01-01',
        |      CAST(l_shipdate AS DATE))) AS BIGINT) FROM lineitem) AS d_max,
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |      AND l_shipdate < TIMESTAMP '1997-01-01') AS n_filtered,
        |  TRUE AS manifest_served""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(path))
        SnapshotTable.append(
          Tables.lineitem(s, d).select(
            expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
              .as("ship_day"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u")),
          path, numPartitions = 8, statsCol = Some("ship_day"))
      }) { (s, d) =>
      val t = s.read.format("graft_table").option("path", path).load()
      val (Array(r), Seq(sa)) = ScanMetrics.collect(t.agg(
        count(lit(1)).as("n"), min("ship_day").as("d_min"),
        max("ship_day").as("d_max")))
      require(sa.manifestAgg,
        "count/min/max were not manifest-served")
      val lo = java.time.LocalDate.of(1996, 1, 1).toEpochDay
      val hi = java.time.LocalDate.of(1997, 1, 1).toEpochDay
      val (nf, sf) = ScanMetrics.rowCount(
        t.filter(col("ship_day") >= lo && col("ship_day") < hi))
      require(!sf.manifestAgg,
        "a FILTERED count must not be served from manifest bounds")
      import s.implicits._
      Seq((r.getLong(0), r.getLong(1), r.getLong(2), nf, true))
        .toDF("n", "d_min", "d_max", "n_filtered", "manifest_served")
    }
  }

  /** q189 — STORAGE-PARTITIONED JOIN: customer and supplier live as
    * snapshot tables identity-partitioned on nation key, the scans
    * report `KeyGroupedPartitioning` with per-file partition keys, and
    * with v2 bucketing enabled Spark joins them FILE-AGAINST-FILE —
    * the executed plan carries NO hash-partitioning exchange on
    * either side (require-asserted on the plan text, with broadcast
    * disabled so the assert can't be satisfied vacuously). This is
    * the co-located fact↔fact join: at 100 TB the shuffle this
    * eliminates IS the query cost. DuckDB recomputes the join from
    * raw customer×supplier; a mis-keyed partition (rows under the
    * wrong key would join against the wrong files) changes n or a
    * sum and hash-mismatches.
    */
  val spjJoin: QueryDef = {
    val p1 = Work.oracleDumpPath("q189_cust")
    val p2 = Work.oracleDumpPath("q189_supp")
    QueryDef("q189_spj_join",
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(floor(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS c_sum,
        |  CAST(sum(CAST(floor(s.s_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS s_sum,
        |  TRUE AS no_shuffle
        |FROM customer c JOIN supplier s
        |  ON c.c_nationkey = s.s_nationkey""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(p1))
        Work.wipe(java.nio.file.Paths.get(p2))
        SnapshotTable.appendPartitioned(
          Tables.customer(s, d).select(
            col("c_nationkey").cast("long").as("nkey"),
            floor(col("c_acctbal") * 100).cast("long").as("c_acct")),
          p1, PartSpec("nkey", "identity", 0))
        SnapshotTable.appendPartitioned(
          Tables.supplier(s, d).select(
            col("s_nationkey").cast("long").as("nkey"),
            floor(col("s_acctbal") * 100).cast("long").as("s_acct")),
          p2, PartSpec("nkey", "identity", 0))
      }) { (s, d) =>
      val t1 = s.read.format("graft_table").option("path", p1).load()
      val t2 = s.read.format("graft_table").option("path", p2).load()
      val keys = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val prior = keys.map { case (k, _) => k -> s.conf.getOption(k) }
      keys.foreach { case (k, v) => s.conf.set(k, v) }
      val (r, plan) = try {
        val j = t1.join(t2, "nkey")
          .agg(count(lit(1)).as("n"), sum("c_acct").as("c_sum"),
            sum("s_acct").as("s_sum"))
        (j.collect().head, j.queryExecution.executedPlan.toString)
      } finally prior.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
      require(!plan.contains("Exchange hashpartitioning"),
        s"storage-partitioned join still shuffles:\n$plan")
      import s.implicits._
      Seq((r.getLong(0), r.getLong(1), r.getLong(2), true))
        .toDF("n", "c_sum", "s_sum", "no_shuffle")
    }
  }

  /** q190 — the SQL CATALOG lifecycle: everything q187 does through
    * the DataFrame writer happens here in PURE SQL against a
    * registered `GraftCatalog` — CREATE TABLE with a hidden
    * `truncate(32, ship_day)` partition transform and a stats
    * TBLPROPERTY, two INSERT INTO commits, a WHERE-range SELECT whose
    * partition pruning is require-asserted (the transform lives in
    * the manifest, the predicate is plain SQL on the source column),
    * VERSION AS OF time travel back across the second insert, and a
    * metadata-only ALTER TABLE RENAME COLUMN whose new name serves
    * the final aggregate. DuckDB recomputes every branch from raw
    * lineitem; nothing here touches a bespoke API — a Delta/Iceberg
    * user's day-one workflow, answered by the same manifests.
    */
  val sqlCatalog: QueryDef = {
    val wh = Work.oracleDumpPath("q190_warehouse")
    QueryDef("q190_sql_catalog",
      """SELECT
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_shipdate >= TIMESTAMP '1996-03-15'
        |      AND l_shipdate < TIMESTAMP '1996-09-16') AS n_probe,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    FROM lineitem
        |    WHERE l_shipdate >= TIMESTAMP '1996-03-15'
        |      AND l_shipdate < TIMESTAMP '1996-09-16') AS qty_probe,
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_shipdate < TIMESTAMP '1997-01-01') AS n_v1,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    FROM lineitem) AS qty_renamed,
        |  TRUE AS files_pruned""".stripMargin,
      setup = { (s, d) =>
        useCatalog(s, "q190", wh)
        Work.wipe(java.nio.file.Paths.get(wh))
        Tables.lineitem(s, d).select(
          expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
            .as("ship_day"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
          .createOrReplaceTempView("q190_src")
        s.sql("""CREATE TABLE graft_q190.q190.li (ship_day BIGINT, qty_u BIGINT)
          PARTITIONED BY (truncate(32, ship_day))""")
        s.sql("INSERT INTO graft_q190.q190.li " +
          "SELECT ship_day, qty_u FROM q190_src WHERE ship_day < 9862")
        s.sql("INSERT INTO graft_q190.q190.li " +
          "SELECT ship_day, qty_u FROM q190_src WHERE ship_day >= 9862")
        s.sql("ALTER TABLE graft_q190.q190.li RENAME COLUMN qty_u TO qty")
      }) { (s, d) =>
      useCatalog(s, "q190", wh)
      val plo = java.time.LocalDate.of(1996, 3, 15).toEpochDay
      val phi = java.time.LocalDate.of(1996, 9, 15).toEpochDay
      val (Array(probe), Seq(Files(planned, total))) = ScanMetrics.collect(s.sql(
        s"""SELECT count(*) AS n, CAST(sum(qty) AS BIGINT) AS q
           |FROM graft_q190.q190.li
           |WHERE ship_day >= $plo AND ship_day <= $phi""".stripMargin))
      require(planned > 0 && planned < total,
        s"SQL partition pruning failed: planned $planned of $total files")
      val nV1 = s.sql(
        "SELECT count(*) FROM graft_q190.q190.li VERSION AS OF 1")
        .head.getLong(0)
      val qtyAll = s.sql(
        "SELECT CAST(sum(qty) AS BIGINT) FROM graft_q190.q190.li")
        .head.getLong(0)
      import s.implicits._
      Seq((probe.getLong(0), probe.getLong(1), nV1, qtyAll, true))
        .toDF("n_probe", "qty_probe", "n_v1", "qty_renamed", "files_pruned")
    }
  }

  /** q191 — SQL DELETE: `DELETE FROM ... WHERE` through the catalog —
    * the predicate lands as a merge-on-read deletion-vector commit
    * immediately folded into a bounded rewrite (history reads
    * APPEND / DELETE / OPTIMIZE, asserted in-query), so a SQL user
    * gets COW-delete economics with zero bespoke API and the reader
    * never sees a DV. Deleting one year from seven; DuckDB recomputes
    * the survivor aggregate and the pre-delete travel from raw
    * lineitem — an over- or under-deleted row changes n/qty and
    * hash-mismatches.
    */
  val sqlDelete: QueryDef = {
    val wh = Work.oracleDumpPath("q191_warehouse")
    QueryDef("q191_sql_delete",
      """SELECT
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_shipdate < TIMESTAMP '1996-01-01'
        |       OR l_shipdate >= TIMESTAMP '1997-01-01') AS n_after,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    FROM lineitem
        |    WHERE l_shipdate < TIMESTAMP '1996-01-01'
        |       OR l_shipdate >= TIMESTAMP '1997-01-01') AS qty_after,
        |  (SELECT count(*) FROM lineitem) AS n_v1,
        |  TRUE AS folded""".stripMargin,
      setup = { (s, d) =>
        useCatalog(s, "q191", wh)
        val lo = java.time.LocalDate.of(1996, 1, 1).toEpochDay
        val hi = java.time.LocalDate.of(1997, 1, 1).toEpochDay
        Work.wipe(java.nio.file.Paths.get(wh))
        Tables.lineitem(s, d).select(
          expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
            .as("ship_day"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
          .createOrReplaceTempView("q191_src")
        s.sql("""CREATE TABLE graft_q191.q191.li (ship_day BIGINT, qty_u BIGINT)
          TBLPROPERTIES ('stats_col'='ship_day')""")
        s.sql("INSERT INTO graft_q191.q191.li SELECT * FROM q191_src")
        s.sql("DELETE FROM graft_q191.q191.li " +
          s"WHERE ship_day >= $lo AND ship_day < $hi")
      }) { (s, d) =>
      useCatalog(s, "q191", wh)
      val path = s"$wh/q191/li"
      val ver = SnapshotTable.readVersion(s, path,
        SnapshotTable.latestVersion(path))
      require(ver.dvFiles.isEmpty && ver.op == "OPTIMIZE",
        s"DELETE did not fold: op=${ver.op}, dvFiles=${ver.dvFiles.length}")
      val after = s.sql("SELECT count(*) AS n, CAST(sum(qty_u) AS BIGINT)" +
        " AS q FROM graft_q191.q191.li").collect().head
      val nV1 = s.sql("SELECT count(*) FROM graft_q191.q191.li VERSION AS OF 1")
        .head.getLong(0)
      import s.implicits._
      Seq((after.getLong(0), after.getLong(1), nV1, true))
        .toDF("n_after", "qty_after", "n_v1", "folded")
    }
  }

  /** q192 — BUCKET storage-partitioned join in pure SQL: lineitem and
    * orders live as catalog tables both `PARTITIONED BY
    * (bucket(16, okey))`, and THE TPC-H join — fact⋈fact on order
    * key — plans with NO exchange on either side: the catalog's
    * FunctionCatalog carries the bucket transform, Catalyst proves
    * both sides agree, and the join runs file-against-file
    * (require-asserted: no hash exchange, both scans present, with
    * broadcast disabled). q189 demonstrated the identity case; this
    * is the transform real tables use — at 100 TB the eliminated
    * shuffle IS the query. DuckDB recomputes the join from raw
    * lineitem×orders; a row mis-bucketed on either side joins against
    * the wrong files and changes (n, qty_u, total_u).
    */
  val bucketSpj: QueryDef = {
    val wh = Work.oracleDumpPath("q192_warehouse")
    QueryDef("q192_bucket_spj",
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(floor(l.l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty_u,
        |  CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_u,
        |  TRUE AS no_shuffle
        |FROM lineitem l JOIN orders o
        |  ON l.l_orderkey = o.o_orderkey""".stripMargin,
      setup = { (s, d) =>
        useCatalog(s, "q192", wh)
        Work.wipe(java.nio.file.Paths.get(wh))
        Tables.lineitem(s, d).select(
          col("l_orderkey").cast("long").as("okey"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
          .createOrReplaceTempView("q192_li")
        Tables.orders(s, d).select(
          col("o_orderkey").cast("long").as("okey"),
          floor(col("o_totalprice") * 100).cast("long").as("total_u"))
          .createOrReplaceTempView("q192_ord")
        s.sql("""CREATE TABLE graft_q192.q192.li (okey BIGINT, qty_u BIGINT)
          PARTITIONED BY (bucket(16, okey))""")
        s.sql("""CREATE TABLE graft_q192.q192.ord (okey BIGINT, total_u BIGINT)
          PARTITIONED BY (bucket(16, okey))""")
        s.sql("INSERT INTO graft_q192.q192.li SELECT * FROM q192_li")
        s.sql("INSERT INTO graft_q192.q192.ord SELECT * FROM q192_ord")
      }) { (s, d) =>
      useCatalog(s, "q192", wh)
      val keys = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val prior = keys.map { case (k, _) => k -> s.conf.getOption(k) }
      keys.foreach { case (k, v) => s.conf.set(k, v) }
      val (r, plan) = try {
        val j = s.sql("""SELECT count(*) AS n,
          CAST(sum(l.qty_u) AS BIGINT) AS qty_u,
          CAST(sum(o.total_u) AS BIGINT) AS total_u
          FROM graft_q192.q192.li l JOIN graft_q192.q192.ord o
          ON l.okey = o.okey""")
        val row = j.collect().head
        val phys = j.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        (row, phys.toString)
      } finally prior.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
      require(!plan.contains("Exchange hashpartitioning"),
        s"bucket SPJ still shuffles:\n$plan")
      require("BatchScan graft_table".r.findAllIn(plan).length == 2,
        s"expected two graft_table scans in the join:\n$plan")
      import s.implicits._
      Seq((r.getLong(0), r.getLong(1), r.getLong(2), true))
        .toDF("n", "qty_u", "total_u", "no_shuffle")
    }
  }

  /** q193 — SQL MERGE INTO: Spark's group-based copy-on-write
    * machinery driven end-to-end against the snapshot table — the
    * catalog's `SupportsRowLevelOperations` hands Spark a scan whose
    * planned files become the replaced GROUPS, executors rewrite them
    * through the table's own parquet row codec, and the commit is one
    * conditional put that swaps scanned files for rewritten ones
    * (history op MERGE, asserted). The business shape: bump every
    * lineitem of March-1996 orders by 100 quantity units. DuckDB
    * recomputes the post-merge aggregate from raw lineitem×orders and
    * the pre-merge travel; a lost row, double-applied bump, or
    * resurrected group hash-mismatches.
    */
  val sqlMerge: QueryDef = {
    val wh = Work.oracleDumpPath("q193_warehouse")
    QueryDef("q193_sql_merge",
      """SELECT
        |  (SELECT count(*) FROM lineitem) AS n,
        |  (SELECT CAST(sum(CAST(floor(l.l_quantity * 100) AS BIGINT)
        |     + CASE WHEN o.o_orderdate >= TIMESTAMP '1996-03-01'
        |             AND o.o_orderdate < TIMESTAMP '1996-04-01'
        |        THEN 100 ELSE 0 END) AS BIGINT)
        |    FROM lineitem l JOIN orders o
        |      ON l.l_orderkey = o.o_orderkey) AS qty_after,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
        |     AS BIGINT) FROM lineitem) AS qty_v1,
        |  TRUE AS merged""".stripMargin,
      setup = { (s, d) =>
        useCatalog(s, "q193", wh)
        Work.wipe(java.nio.file.Paths.get(wh))
        Tables.lineitem(s, d).select(
          col("l_orderkey").cast("long").as("okey"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
          .createOrReplaceTempView("q193_li")
        Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-03-01").cast("timestamp")
            && col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
          .select(col("o_orderkey").cast("long").as("okey"))
          .createOrReplaceTempView("q193_src")
        s.sql("""CREATE TABLE graft_q193.q193.li (okey BIGINT, qty_u BIGINT)
          TBLPROPERTIES ('stats_col'='okey')""")
        s.sql("INSERT INTO graft_q193.q193.li SELECT * FROM q193_li")
        s.sql("""MERGE INTO graft_q193.q193.li t USING q193_src s
          ON t.okey = s.okey
          WHEN MATCHED THEN UPDATE SET qty_u = t.qty_u + 100""")
      }) { (s, d) =>
      useCatalog(s, "q193", wh)
      val path = s"$wh/q193/li"
      val ver = SnapshotTable.readVersion(s, path,
        SnapshotTable.latestVersion(path))
      require(ver.op == "MERGE", s"expected MERGE commit, got ${ver.op}")
      val after = s.sql("SELECT count(*) AS n, CAST(sum(qty_u) AS BIGINT)" +
        " AS q FROM graft_q193.q193.li").collect().head
      require(after.getLong(0) == ver.rows,
        s"scan/manifest row drift: ${after.getLong(0)} != ${ver.rows}")
      val qtyV1 = s.sql(
        "SELECT CAST(sum(qty_u) AS BIGINT) FROM graft_q193.q193.li " +
          "VERSION AS OF 1").head.getLong(0)
      import s.implicits._
      Seq((after.getLong(0), after.getLong(1), qtyV1, true))
        .toDF("n", "qty_after", "qty_v1", "merged")
    }
  }

  /** q194 — SQL `INSERT INTO ... REPLACE WHERE`: the idempotent
    * backfill shape (re-run a corrected pipeline over one date range)
    * as ONE commit against a hidden-partitioned catalog table. The
    * range [9632, 9760) is aligned to the `truncate(32, ship_day)`
    * transform, so the delete half is pure METADATA — every surviving
    * file carries into the new manifest BY REFERENCE
    * (require-asserted: same paths, zero data bytes moved) — and only
    * the replacement batch is written. At 100 TB this is the
    * difference between a backfill that rewrites the table and one
    * that costs (new partition bytes + one manifest put). The
    * replacement recomputes the window's rows with +7 quantity units;
    * DuckDB states the post-replace aggregates in closed form from
    * raw lineitem, and time travel still reads the pre-replace table.
    */
  val replaceWhere: QueryDef = {
    val wh = Work.oracleDumpPath("q194_warehouse")
    QueryDef("q194_replace_where",
      """SELECT
        |  (SELECT count(*) FROM lineitem) AS n_after,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)
        |     + CASE WHEN datediff('day', DATE '1970-01-01',
        |              CAST(l_shipdate AS DATE)) BETWEEN 9632 AND 9759
        |        THEN 7 ELSE 0 END) AS BIGINT) FROM lineitem) AS qty_after,
        |  (SELECT count(*) FROM lineitem
        |    WHERE datediff('day', DATE '1970-01-01',
        |      CAST(l_shipdate AS DATE)) BETWEEN 9632 AND 9759) AS n_window,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
        |     AS BIGINT) FROM lineitem) AS qty_v1,
        |  TRUE AS zero_copy""".stripMargin,
      setup = { (s, d) =>
        useCatalog(s, "q194", wh)
        Work.wipe(java.nio.file.Paths.get(wh))
        Tables.lineitem(s, d).select(
          expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
            .as("ship_day"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
          .createOrReplaceTempView("q194_src")
        s.sql("""CREATE TABLE graft_q194.q194.li (ship_day BIGINT, qty_u BIGINT)
          PARTITIONED BY (truncate(32, ship_day))""")
        s.sql("INSERT INTO graft_q194.q194.li SELECT * FROM q194_src")
        val v1 = SnapshotTable.readVersion(s, s"$wh/q194/li", 1)
        // the corrected backfill of four aligned partitions
        s.sql("""INSERT INTO graft_q194.q194.li
          REPLACE WHERE ship_day >= 9632 AND ship_day < 9760
          SELECT ship_day, qty_u + 7 FROM q194_src
          WHERE ship_day >= 9632 AND ship_day < 9760""")
        val v2 = SnapshotTable.readVersion(s, s"$wh/q194/li", 2)
        require(v2.op == "OVERWRITE", s"expected OVERWRITE, got ${v2.op}")
        // zero-copy delete half: every outside-range v1 file carried
        // BY REFERENCE; every in-range v1 file gone
        val pv1 = v1.partKeys.get.longs
        val v2set = v2.files.toSet
        v1.files.indices.foreach { i =>
          val inRange = pv1(i) >= 9632 / 32 && pv1(i) < 9760 / 32
          require(v2set.contains(v1.files(i)) == !inRange,
            s"replace moved bytes it should not have: file ${v1.files(i)}" +
              s" (partition ${pv1(i)}, inRange=$inRange)")
        }
      }) { (s, d) =>
      useCatalog(s, "q194", wh)
      val after = s.sql("SELECT count(*) AS n, CAST(sum(qty_u) AS BIGINT)" +
        " AS q FROM graft_q194.q194.li").collect().head
      val nWindow = s.sql("SELECT count(*) FROM graft_q194.q194.li " +
        "WHERE ship_day BETWEEN 9632 AND 9759").head.getLong(0)
      val qtyV1 = s.sql("SELECT CAST(sum(qty_u) AS BIGINT) FROM " +
        "graft_q194.q194.li VERSION AS OF 1").head.getLong(0)
      import s.implicits._
      Seq((after.getLong(0), after.getLong(1), nWindow, qtyV1, true))
        .toDF("n_after", "qty_after", "n_window", "qty_v1", "zero_copy")
    }
  }

  /** q195 — SQL MERGE INTO a BUCKET-PARTITIONED catalog table: q193's
    * business shape (bump March-1996 orders' lineitems by 100 units)
    * against the layout real fact tables use. The row-level write
    * declares `RequiresDistributionAndOrdering` — clustered + sorted
    * on the catalog's own bucket function — so rewritten files stay
    * PARTITION-PURE and the manifest's per-file values keep pruning
    * exact (require-asserted: a post-merge key probe plans a strict
    * subset). A row whose bucket went stale after the merge would
    * either break the probe's count or the recorded purity — DuckDB
    * recomputes the post-merge aggregate and the probe key's rows
    * from raw lineitem×orders.
    */
  val partitionedSqlMerge: QueryDef = {
    val wh = Work.oracleDumpPath("q195_warehouse")
    QueryDef("q195_partitioned_sql_merge",
      """SELECT
        |  (SELECT count(*) FROM lineitem) AS n,
        |  (SELECT CAST(sum(CAST(floor(l.l_quantity * 100) AS BIGINT)
        |     + CASE WHEN o.o_orderdate >= TIMESTAMP '1996-03-01'
        |             AND o.o_orderdate < TIMESTAMP '1996-04-01'
        |        THEN 100 ELSE 0 END) AS BIGINT)
        |    FROM lineitem l JOIN orders o
        |      ON l.l_orderkey = o.o_orderkey) AS qty_after,
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey = 7) AS n_probe,
        |  TRUE AS pruned""".stripMargin,
      setup = { (s, d) =>
        useCatalog(s, "q195", wh)
        Work.wipe(java.nio.file.Paths.get(wh))
        Tables.lineitem(s, d).select(
          col("l_orderkey").cast("long").as("okey"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
          .createOrReplaceTempView("q195_li")
        Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-03-01").cast("timestamp")
            && col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
          .select(col("o_orderkey").cast("long").as("okey"))
          .createOrReplaceTempView("q195_src")
        s.sql("""CREATE TABLE graft_q195.q195.li (okey BIGINT, qty_u BIGINT)
          PARTITIONED BY (bucket(16, okey))""")
        s.sql("INSERT INTO graft_q195.q195.li SELECT * FROM q195_li")
        s.sql("""MERGE INTO graft_q195.q195.li t USING q195_src s
          ON t.okey = s.okey
          WHEN MATCHED THEN UPDATE SET qty_u = t.qty_u + 100""")
      }) { (s, d) =>
      useCatalog(s, "q195", wh)
      val path = s"$wh/q195/li"
      val ver = SnapshotTable.readVersion(s, path,
        SnapshotTable.latestVersion(path))
      require(ver.op == "MERGE" && ver.part.exists(_.transform == "bucket"),
        s"expected a MERGE on the bucket layout, got ${ver.op}/${ver.part}")
      require(ver.partKeys.exists(_.nFiles == ver.files.length),
        "rewritten files must carry their partition values")
      val after = s.sql("SELECT count(*) AS n, CAST(sum(qty_u) AS BIGINT)" +
        " AS q FROM graft_q195.q195.li").collect().head
      require(after.getLong(0) == ver.rows,
        s"scan/manifest row drift: ${after.getLong(0)} != ${ver.rows}")
      // post-merge pruning stays EXACT: a key probe plans a strict
      // subset of the rewritten table's files
      val (nProbe, Files(planned, total)) = ScanMetrics.rowCount(
        s.sql("SELECT * FROM graft_q195.q195.li WHERE okey = 7"))
      require(planned > 0 && planned < total,
        s"post-merge bucket pruning failed: $planned of $total files")
      import s.implicits._
      Seq((after.getLong(0), after.getLong(1), nProbe, true))
        .toDF("n", "qty_after", "n_probe", "pruned")
    }
  }

  /** q196 — the NATIVE exactly-once streaming sink:
    * `writeStream.format("graft_table")` replaces the foreachBatch
    * idiom (q158/q180) with zero user code — each epoch's executors
    * write through the table's parquet row codec and the commit is
    * one conditional put keyed `txn = (queryId, epochId)`. The run:
    * tail one snapshot table into another with Trigger.AvailableNow,
    * append a delta to the source, run again (exactly the delta
    * arrives — no duplication, no loss), then an IDLE restart which
    * must commit NOTHING (require-asserted zero version churn — the
    * replayed-offset form of the q158 assertion, native). The sink
    * inherits the stats layout, so the streamed table keeps pruning
    * (require-asserted). DuckDB recomputes both watermarks from raw
    * lineitem.
    */
  val streamSink: QueryDef = {
    val dst = Work.oracleDumpPath("q196_dst")
    QueryDef("q196_stream_sink",
      """SELECT
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_shipdate < TIMESTAMP '1997-01-01') AS n_first,
        |  (SELECT count(*) FROM lineitem) AS n_all,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
        |     AS BIGINT) FROM lineitem) AS qty_all,
        |  TRUE AS exactly_once""".stripMargin,
      setup = { (s, d) =>
        val src = Work.oracleDumpPath("q196_src")
        val ckpt = Work.oracleDumpPath("q196_ckpt")
        val day97 = java.time.LocalDate.of(1997, 1, 1).toEpochDay
        Seq(src, dst, ckpt).foreach(p =>
          Work.wipe(java.nio.file.Paths.get(p)))
        val li = Tables.lineitem(s, d).select(
          expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
            .as("ship_day"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        SnapshotTable.append(li.filter(col("ship_day") < day97), src, 4,
          statsCol = Some("ship_day"))
        def run(): Unit = {
          val q = s.readStream.format("graft_table").option("path", src)
            .load()
            .writeStream.format("graft_table")
            .option("path", dst).option("stats_col", "ship_day")
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination(300000)
          ()
        }
        run()
        // the delta arrives exactly once on restart
        SnapshotTable.append(li.filter(col("ship_day") >= day97), src, 2,
          statsCol = Some("ship_day"))
        run()
        // an IDLE restart must not commit: zero version churn
        val vBefore = SnapshotTable.latestVersion(dst)
        run()
        require(SnapshotTable.latestVersion(dst) == vBefore,
          "an idle streaming restart committed a version")
        val ver = SnapshotTable.readVersion(s, dst, vBefore)
        require(ver.txns.keys.exists(_.startsWith("stream-")),
          "streamed commits must be txn-keyed by (queryId, epochId)")
        require(ver.stats.exists(_.col == "ship_day"),
          "the sink must inherit the stats layout")
      }) { (s, d) =>
      // AvailableNow + the version-offset source = ONE commit per
      // non-idle run, so dst's v1 IS the first watermark
      val nFirst = SnapshotTable.readVersion(s, dst, 1).rows
      val t = s.read.format("graft_table").option("path", dst).load()
      val r = t.agg(count(lit(1)).as("n"),
        sum("qty_u").cast("long").as("q")).collect().head
      import s.implicits._
      Seq((nFirst, r.getLong(0), r.getLong(1), true))
        .toDF("n_first", "n_all", "qty_all", "exactly_once")
    }
  }

  /** q197 — DAY-TWO MAINTENANCE from pure SQL: Spark 4's procedure
    * catalog (`CALL graft.system.optimize/zorder/expire/vacuum`) over
    * the same commit protocol as every Scala-API mutation. An
    * ingest-fragmented table (8 small inserts) is compacted toward
    * the target size (require-asserted fewer files), re-clustered by
    * the VALUE column (OPTIMIZE ... ZORDER BY's shape — the layout
    * that turns value-range queries prunable), old versions expired
    * and orphans vacuumed — and the DATA is bit-identical throughout,
    * which is the whole point: maintenance must never change answers.
    * DuckDB recomputes the aggregates from raw lineitem.
    */
  val sqlMaintenance: QueryDef = {
    val wh = Work.oracleDumpPath("q197_warehouse")
    QueryDef("q197_sql_maintenance",
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty_u,
        |  CAST(min(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty_min,
        |  TRUE AS compacted
        |FROM lineitem""".stripMargin,
      setup = { (s, d) =>
        useCatalog(s, "q197", wh)
        Work.wipe(java.nio.file.Paths.get(wh))
        Tables.lineitem(s, d).select(
          expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
            .as("ship_day"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
          .createOrReplaceTempView("q197_src")
        s.sql("""CREATE TABLE graft_q197.q197.li (ship_day BIGINT, qty_u BIGINT)
          TBLPROPERTIES ('stats_col'='ship_day')""")
        // fragmented ingest: 8 small commits
        (0 until 8).foreach(i => s.sql("INSERT INTO graft_q197.q197.li " +
          s"SELECT * FROM q197_src WHERE pmod(ship_day, 8) = $i"))
        val p = s"$wh/q197/li"
        val before = SnapshotTable.readVersion(s, p, 8).files.length
        val opt = s.sql("CALL graft_q197.system.optimize(" +
          "`table` => 'q197.li', target_bytes => 67108864)")
          .collect().head
        require(opt.getInt(2) < before,
          s"optimize did not shrink: ${opt.getInt(2)} of $before files")
        // re-cluster by the VALUE column: q135's layout flip, from SQL
        val z = s.sql("CALL graft_q197.system.zorder('q197.li', 'qty_u', 4)")
          .collect().head
        require(z.getInt(2) > 0, s"zorder produced no files: $z")
        val keep = SnapshotTable.latestVersion(p)
        val ex = s.sql(s"CALL graft_q197.system.expire('q197.li', $keep)")
          .collect().head
        require(ex.getInt(0) > 0, "expire dropped no manifests")
        s.sql("CALL graft_q197.system.vacuum('q197.li', 0)")
      }) { (s, d) =>
      useCatalog(s, "q197", wh)
      val r = s.sql("SELECT count(*) AS n, CAST(sum(qty_u) AS BIGINT) AS q," +
        " CAST(min(qty_u) AS BIGINT) AS mn FROM graft_q197.q197.li")
        .collect().head
      import s.implicits._
      Seq((r.getLong(0), r.getLong(1), r.getLong(2), true))
        .toDF("n", "qty_u", "qty_min", "compacted")
    }
  }

  /** q169 — SQL CHANGE FEED: [[graft.ops.SnapshotTable.changes]]
    * surfaced as the `graft_changes(path, fromV, toV)` table-valued
    * function, so the version delta is a plain FROM-clause relation.
    * The table is built as two interleaved halves of lineitem (odd /
    * even line numbers) plus a COW delete of 1996, and the multiset
    * algebra of the manifest diff collapses to a closed form DuckDB
    * can state directly from the raw table: inserts = the second
    * batch minus the deleted range (its in-range rows entered and
    * left between the versions, cancelling), deletes = the FIRST
    * batch's in-range rows only (the second batch's never existed at
    * v1). Rewritten-but-identical survivor rows must cancel exactly —
    * any survivor leaking through the exceptAll shows up as a phantom
    * insert+delete pair and hash-mismatches.
    */
  val sqlChangeFeed: QueryDef = {
    val path = Work.oracleDumpPath("q169_table")
    QueryDef("q169_sql_change_feed",
      """SELECT 'delete' AS _change, count(*) AS n,
        |  CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty_u
        |FROM lineitem
        |WHERE l_linenumber % 2 = 1
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |UNION ALL
        |SELECT 'insert' AS _change, count(*) AS n,
        |  CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty_u
        |FROM lineitem
        |WHERE l_linenumber % 2 = 0
        |  AND (l_shipdate < TIMESTAMP '1996-01-01'
        |       OR l_shipdate >= TIMESTAMP '1997-01-01')""".stripMargin,
      setup = { (s, d) =>
        val lo96 = java.time.LocalDate.of(1996, 1, 1).toEpochDay
        val hi96 = java.time.LocalDate.of(1996, 12, 31).toEpochDay
        Work.wipe(java.nio.file.Paths.get(path))
        def half(parity: Int) = Tables.lineitem(s, d)
          .filter(col("l_linenumber") % 2 === parity).select(
            col("l_orderkey").as("k"),
            expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
              .as("ship_day"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        SnapshotTable.append(half(1), path, numPartitions = 8,
          statsCol = Some("ship_day"))
        SnapshotTable.append(half(0), path, numPartitions = 8,
          statsCol = Some("ship_day"))
        SnapshotTable.deleteStatsRange(s, path, lo96, hi96) // v3
      }) { (s, d) =>
      s.sql(
        s"""SELECT _change, count(*) AS n,
           |  CAST(sum(qty_u) AS BIGINT) AS qty_u
           |FROM graft_changes('$path', 1, 3)
           |GROUP BY _change""".stripMargin)
    }
  }

  /** q170 — EXACTLY-ONCE TABLE→TABLE TAIL
    * ([[graft.ops.SnapshotTable.tailChanges]]): the batch bridge a
    * downstream store uses to follow a snapshot table — durable
    * consumer offset, initial-snapshot-then-deltas delivery, and
    * deterministic at-least-once batches that a txn-keyed downstream
    * append turns into exactly-once. The query BUILDS the failure it
    * claims to survive: after the real tail of the delete delta, the
    * offset is rewound and the same (2, 3) range re-delivered; the
    * downstream's txn watermark absorbs the replay (require-asserted:
    * its version does not advance). The final downstream state —
    * inserts = the full table, deletes = the 1996 range — is
    * recomputed by DuckDB from raw lineitem, so a lost batch, a
    * double-applied replay, or a wrong delta each hash-mismatch.
    */
  val exactlyOnceTail: QueryDef = {
    val down = Work.oracleDumpPath("q170_down")
    QueryDef("q170_exactly_once_tail",
      """SELECT 'delete' AS _change, count(*) AS n,
        |  CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty_u
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |UNION ALL
        |SELECT 'insert' AS _change, count(*) AS n,
        |  CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty_u
        |FROM lineitem""".stripMargin,
      setup = { (s, d) =>
        val src = Work.oracleDumpPath("q170_src")
        val ckpt = Work.oracleDumpPath("q170_ckpt")
        val lo96 = java.time.LocalDate.of(1996, 1, 1).toEpochDay
        val hi96 = java.time.LocalDate.of(1996, 12, 31).toEpochDay
        Seq(src, down, ckpt).foreach(p =>
          Work.wipe(java.nio.file.Paths.get(p)))
        def half(parity: Int) = Tables.lineitem(s, d)
          .filter(col("l_linenumber") % 2 === parity).select(
            col("l_orderkey").as("k"),
            expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
              .as("ship_day"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        SnapshotTable.append(half(1), src, numPartitions = 8,
          statsCol = Some("ship_day"))
        SnapshotTable.append(half(0), src, numPartitions = 8,
          statsCol = Some("ship_day"))
        def apply1(df: org.apache.spark.sql.DataFrame, toV: Long): Unit =
          SnapshotTable.append(df, down, numPartitions = 8,
            txn = Some(("q170-consumer", toV)))
        // initial snapshot: versions (0, 2] as inserts
        SnapshotTable.tailChanges(s, src, ckpt)((df, _, to) =>
          apply1(df, to))
        SnapshotTable.deleteStatsRange(s, src, lo96, hi96) // v3
        // the delete delta: versions (2, 3]
        SnapshotTable.tailChanges(s, src, ckpt)((df, _, to) =>
          apply1(df, to))
        val vDown = SnapshotTable.latestVersion(down)
        // rewind and RE-DELIVER (2, 3]: the txn watermark must absorb it
        SnapshotTable.resetOffset(ckpt, 2)
        val replay = SnapshotTable.tailChanges(s, src, ckpt)((df, from, to) => {
          require(from == 2 && to == 3, s"replay range drifted: $from->$to")
          apply1(df, to)
        })
        require(replay.contains(SnapshotTable.TailBatch(2, 3)),
          s"expected a replayed (2,3] batch, got $replay")
        require(SnapshotTable.latestVersion(down) == vDown,
          "replayed batch was applied twice — txn dedupe failed")
      }) { (s, d) =>
      val (scan, _, _) =
        SnapshotTable.scanAt(s, down, SnapshotTable.latestVersion(down))
      scan.groupBy("_change").agg(count(lit(1)).as("n"),
        sum("qty_u").cast("long").as("qty_u"))
    }
  }

  /** q173 — PARTITION-AWARE OPTIMIZE
    * ([[graft.ops.SnapshotTable.compactPartitioned]]): three ingest
    * waves each drop one small file into every 32-day partition (the
    * daily-ingest fragmentation shape); compaction then merges files
    * WITHIN partitions only — the rewrite re-derives the hidden
    * partition value from the source column, so the output files are
    * partition-pure by construction and range pruning survives
    * (require-asserted after, alongside fewer-files and an EMPTY
    * change feed across the commit — OPTIMIZE moves bytes, never
    * rows). DuckDB recomputes the post-compaction aggregates from raw
    * lineitem; a partition-crossing merge would break the pruned
    * probe's arithmetic and hash-mismatch.
    */
  val partitionCompact: QueryDef = {
    val path = Work.oracleDumpPath("q173_table")
    QueryDef("q173_partition_compact",
      """SELECT
        |  (SELECT count(*) FROM lineitem) AS n_total,
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_shipdate >= TIMESTAMP '1996-03-15'
        |      AND l_shipdate < TIMESTAMP '1996-09-16') AS n_probe,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    FROM lineitem
        |    WHERE l_shipdate >= TIMESTAMP '1996-03-15'
        |      AND l_shipdate < TIMESTAMP '1996-09-16') AS qty_probe,
        |  TRUE AS compacted""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(path))
        def wave(pred: org.apache.spark.sql.Column) =
          Tables.lineitem(s, d).filter(pred).select(
            expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
              .as("ship_day"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        val spec = PartSpec("ship_day", "truncate", 32)
        SnapshotTable.appendPartitioned(
          wave(col("l_linenumber") <= 2), path, spec,
          statsCol = Some("ship_day"))
        SnapshotTable.appendPartitioned(
          wave(col("l_linenumber").between(3, 4)), path, spec,
          statsCol = Some("ship_day"))
        SnapshotTable.appendPartitioned(
          wave(col("l_linenumber") >= 5), path, spec,
          statsCol = Some("ship_day"))
        val res = SnapshotTable.compactPartitioned(s, path, 1L << 30)
        require(res.rewritten > 0 && res.filesAfter < res.filesBefore,
          s"compaction did not shrink the layout: $res")
        require(SnapshotTable.changes(s, path, 3, 4).isEmpty,
          "OPTIMIZE must be row-preserving — change feed not empty")
      }) { (s, d) =>
      val plo = java.time.LocalDate.of(1996, 3, 15).toEpochDay
      val phi = java.time.LocalDate.of(1996, 9, 15).toEpochDay
      val (probe, read, total) =
        SnapshotTable.scanPartitionRange(s, path, 4, plo, phi)
      require(read > 0 && read < total,
        s"pruning died across compaction: read $read of $total files")
      val p = probe.agg(count(lit(1)).as("n"),
        sum("qty_u").cast("long").as("q")).collect().head
      val (all4, _, rows4) = SnapshotTable.scanAt(s, path, 4)
      val n4 = all4.count()
      require(n4 == rows4, "scan/manifest row drift after compaction")
      import s.implicits._
      Seq((n4, p.getLong(0), p.getLong(1), true))
        .toDF("n_total", "n_probe", "qty_probe", "compacted")
    }
  }

  /** q174 — TIMESTAMP time travel (`AS OF TIMESTAMP`,
    * [[graft.ops.SnapshotTable.versionAsOf]]): three commits — a base
    * load, an append, a stats-ranged COW delete — each manifest
    * recording its commit wall-clock (`committed_ms`). The probe
    * resolves three timestamps against the log: the v1 commit instant
    * itself (at-or-before = the inclusive boundary every SQL
    * `AS OF TIMESTAMP` dialect uses), the instant just before v3, and
    * v3's own — and require-asserts the resolutions land on 1/2/3
    * before scanning, so a resolver that rounds the wrong way or
    * trusts file mtimes fails loudly rather than hash-mismatching
    * downstream. The build sleeps between commits to make the
    * ordering strict (manifest times are milliseconds). Each resolved
    * version is then scanned from its manifest and aggregated; DuckDB
    * recomputes all three states from raw lineitem with the
    * version-defining predicates.
    */
  val timestampTravel: QueryDef = {
    val path = Work.oracleDumpPath("q174_table")
    QueryDef("q174_timestamp_travel",
      """SELECT
        |  (SELECT count(*) FROM lineitem WHERE l_linenumber = 1) AS n_t1,
        |  (SELECT count(*) FROM lineitem WHERE l_linenumber <= 2) AS n_t2,
        |  (SELECT count(*) FROM lineitem WHERE l_linenumber <= 2
        |    AND (l_shipdate < TIMESTAMP '1996-01-01'
        |         OR l_shipdate >= TIMESTAMP '1997-01-01')) AS n_t3,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    FROM lineitem WHERE l_linenumber <= 2
        |    AND (l_shipdate < TIMESTAMP '1996-01-01'
        |         OR l_shipdate >= TIMESTAMP '1997-01-01')) AS qty_t3""".stripMargin,
      setup = { (s, d) =>
        val lo96 = java.time.LocalDate.of(1996, 1, 1).toEpochDay
        val hi96 = java.time.LocalDate.of(1996, 12, 31).toEpochDay
        Work.wipe(java.nio.file.Paths.get(path))
        def wave(pred: org.apache.spark.sql.Column) =
          Tables.lineitem(s, d).filter(pred).select(
            expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
              .as("ship_day"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        SnapshotTable.append(wave(col("l_linenumber") === 1), path,
          numPartitions = 4, statsCol = Some("ship_day"))
        Thread.sleep(25) // strict ms ordering between manifests
        SnapshotTable.append(wave(col("l_linenumber") === 2), path,
          numPartitions = 4, statsCol = Some("ship_day"))
        Thread.sleep(25)
        SnapshotTable.deleteStatsRange(s, path, lo96, hi96) // v3
      }) { (s, d) =>
      val t1 = SnapshotTable.readVersion(s, path, 1).committedMs
      val t2 = SnapshotTable.readVersion(s, path, 2).committedMs
      val t3 = SnapshotTable.readVersion(s, path, 3).committedMs
      require(t1 > 0 && t1 < t2 && t2 < t3,
        s"commit times not strictly ordered: $t1 $t2 $t3")
      val rv = Seq(SnapshotTable.versionAsOf(s, path, t1),
        SnapshotTable.versionAsOf(s, path, t3 - 1),
        SnapshotTable.versionAsOf(s, path, t3))
      require(rv == Seq(1L, 2L, 3L), s"AS OF resolution drifted: $rv")
      def aggAt(v: Long) = {
        val (scan, _, rows) = SnapshotTable.scanAt(s, path, v)
        val r = scan.agg(count(lit(1)), sum("qty_u").cast("long"))
          .collect().head
        require(r.getLong(0) == rows,
          s"scan/manifest row drift at v$v: ${r.getLong(0)} != $rows")
        (r.getLong(0), r.getLong(1))
      }
      val (n1, _) = aggAt(rv(0))
      val (n2, _) = aggAt(rv(1))
      val (n3, q3) = aggAt(rv(2))
      import s.implicits._
      Seq((n1, n2, n3, q3)).toDF("n_t1", "n_t2", "n_t3", "qty_t3")
    }
  }

  /** q175 — RESTORE TO VERSION ([[graft.ops.SnapshotTable.restore]]):
    * a bad COW delete (v3 drops 1996) is rolled back by committing v4
    * as a metadata-only copy of v2's manifest. Structurally asserted:
    * v4's file list IS v2's (zero data bytes moved — the rollback is a
    * manifest write, nothing else), and the change feed across the
    * restore commit reports the revived 1996 rows as inserts and
    * nothing as deletes — a downstream incremental consumer absorbs
    * the rollback like any other commit. DuckDB recomputes the
    * post-delete state, the restored state, and the re-added row count
    * from raw lineitem; a restore that revived the wrong version or
    * leaked the deleted rows into the feed hash-mismatches.
    */
  val restoreVersion: QueryDef = {
    val path = Work.oracleDumpPath("q175_table")
    QueryDef("q175_restore_version",
      """SELECT
        |  (SELECT count(*) FROM lineitem WHERE l_linenumber <= 2
        |    AND (l_shipdate < TIMESTAMP '1996-01-01'
        |         OR l_shipdate >= TIMESTAMP '1997-01-01')) AS n_deleted_state,
        |  (SELECT count(*) FROM lineitem WHERE l_linenumber <= 2) AS n_restored,
        |  (SELECT count(*) FROM lineitem WHERE l_linenumber <= 2
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01') AS n_readded,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    FROM lineitem WHERE l_linenumber <= 2) AS qty_restored""".stripMargin,
      setup = { (s, d) =>
        val lo96 = java.time.LocalDate.of(1996, 1, 1).toEpochDay
        val hi96 = java.time.LocalDate.of(1996, 12, 31).toEpochDay
        Work.wipe(java.nio.file.Paths.get(path))
        def wave(pred: org.apache.spark.sql.Column) =
          Tables.lineitem(s, d).filter(pred).select(
            expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
              .as("ship_day"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        SnapshotTable.append(wave(col("l_linenumber") === 1), path,
          numPartitions = 4, statsCol = Some("ship_day"))
        SnapshotTable.append(wave(col("l_linenumber") === 2), path,
          numPartitions = 4, statsCol = Some("ship_day"))
        SnapshotTable.deleteStatsRange(s, path, lo96, hi96) // v3: the mistake
        val v4 = SnapshotTable.restore(s, path, 2)
        require(v4 == 4, s"restore committed v$v4, expected v4")
      }) { (s, d) =>
      val v2 = SnapshotTable.readVersion(s, path, 2)
      val v4 = SnapshotTable.readVersion(s, path, 4)
      require(v4.files == v2.files,
        "restore was not metadata-only: v4's file list differs from v2's")
      val feed = SnapshotTable.changes(s, path, 3, 4)
        .groupBy("_change").agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      require(!feed.contains("delete"),
        s"restore change feed reported deletes: $feed")
      val (scan3, _, rows3) = SnapshotTable.scanAt(s, path, 3)
      val (scan4, _, rows4) = SnapshotTable.scanAt(s, path, 4)
      val n3 = scan3.count()
      val r4 = scan4.agg(count(lit(1)), sum("qty_u").cast("long"))
        .collect().head
      require(n3 == rows3 && r4.getLong(0) == rows4,
        "scan/manifest row drift across restore")
      import s.implicits._
      Seq((n3, r4.getLong(0), feed.getOrElse("insert", 0L), r4.getLong(1)))
        .toDF("n_deleted_state", "n_restored", "n_readded", "qty_restored")
    }
  }

  /** q176 — DESCRIBE HISTORY ([[graft.ops.SnapshotTable.history]],
    * surfaced as the `graft_history` TVF): every manifest records the
    * operation that committed it, so the table's full audit trail —
    * what each commit did and the state it left — is one plain-SQL
    * FROM clause over metadata (O(versions) manifest reads, never
    * data). The lifecycle exercised is append → append → COW delete →
    * OPTIMIZE → RESTORE; the oracle states the expected op sequence as
    * literals and recomputes each version's row count from raw
    * lineitem — an op recorded wrong, a version lost, or a row count
    * drifting across OPTIMIZE/RESTORE hash-mismatches. File counts
    * (not SQL-recomputable) are require-asserted in-query: OPTIMIZE
    * shrinks the layout, RESTORE revives exactly v2's.
    */
  val tableHistory: QueryDef = {
    val path = Work.oracleDumpPath("q176_table")
    QueryDef("q176_table_history",
      """SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS version, 'APPEND' AS op,
        |    (SELECT count(*) FROM lineitem WHERE l_linenumber = 1) AS n_rows
        |  UNION ALL SELECT 2, 'APPEND',
        |    (SELECT count(*) FROM lineitem WHERE l_linenumber <= 2)
        |  UNION ALL SELECT 3, 'DELETE',
        |    (SELECT count(*) FROM lineitem WHERE l_linenumber <= 2
        |      AND (l_shipdate < TIMESTAMP '1996-01-01'
        |           OR l_shipdate >= TIMESTAMP '1997-01-01'))
        |  UNION ALL SELECT 4, 'OPTIMIZE',
        |    (SELECT count(*) FROM lineitem WHERE l_linenumber <= 2
        |      AND (l_shipdate < TIMESTAMP '1996-01-01'
        |           OR l_shipdate >= TIMESTAMP '1997-01-01'))
        |  UNION ALL SELECT 5, 'RESTORE',
        |    (SELECT count(*) FROM lineitem WHERE l_linenumber <= 2)
        |) ORDER BY version""".stripMargin,
      setup = { (s, d) =>
        val lo96 = java.time.LocalDate.of(1996, 1, 1).toEpochDay
        val hi96 = java.time.LocalDate.of(1996, 12, 31).toEpochDay
        Work.wipe(java.nio.file.Paths.get(path))
        def wave(pred: org.apache.spark.sql.Column) =
          Tables.lineitem(s, d).filter(pred).select(
            expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
              .as("ship_day"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        SnapshotTable.append(wave(col("l_linenumber") === 1), path,
          numPartitions = 6, statsCol = Some("ship_day"))
        SnapshotTable.append(wave(col("l_linenumber") === 2), path,
          numPartitions = 6, statsCol = Some("ship_day"))
        SnapshotTable.deleteStatsRange(s, path, lo96, hi96)  // v3
        SnapshotTable.compact(s, path, 1L << 30)             // v4
        SnapshotTable.restore(s, path, 2)                    // v5
      }) { (s, d) =>
      val h = SnapshotTable.history(s, path).orderBy("version").collect()
      require(h.length == 5, s"expected 5 versions, history has ${h.length}")
      val nf = h.map(r => r.getAs[Long]("n_files"))
      require(nf(3) < nf(2),
        s"OPTIMIZE did not shrink the layout: ${nf.toSeq}")
      require(nf(4) == nf(1),
        s"RESTORE did not revive v2's file count: ${nf.toSeq}")
      s.sql(s"""SELECT version, op, rows AS n_rows
               |FROM graft_history('$path') ORDER BY version""".stripMargin)
    }
  }

  /** q177 — CHECK-constraint gated ingest
    * ([[graft.ops.SnapshotTable.setConstraints]]): the table declares
    * invariants (`qty_u >= 0`, `ship_day < 2000-01-01`,
    * `ship_day IS NOT NULL`); a clean wave commits, then a dirty wave
    * (containing year-2000+ ship days) is REJECTED at commit time —
    * the batch is validated as WRITTEN (what readers would observe),
    * the abort names the violated constraint and its row count, the
    * batch directory is wiped (nothing left for vacuum), and the table
    * provably stays at v1 (require-asserted: latest version, history
    * length, and zero unreferenced batch dirs on disk). The dirty wave
    * is require-asserted non-empty in its violating slice, so the
    * rejection is exercised for real at every scale factor. DuckDB
    * recomputes the surviving table's aggregates with the constraint
    * predicate — an enforcement leak (dirty rows committed) or an
    * over-rejection (clean rows lost) hash-mismatches.
    */
  val constraintGate: QueryDef = {
    val path = Work.oracleDumpPath("q177_table")
    val y2k = java.time.LocalDate.of(2000, 1, 1).toEpochDay
    def wave(s: SparkSession, d: String, pred: Column) =
      Tables.lineitem(s, d).filter(pred).select(
        expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
          .as("ship_day"),
        floor(col("l_quantity") * 100).cast("long").as("qty_u"))
    QueryDef("q177_constraint_gate",
      """SELECT
        |  (SELECT count(*) FROM lineitem WHERE l_linenumber = 1
        |    AND l_shipdate < TIMESTAMP '2000-01-01') AS n_clean,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    FROM lineitem WHERE l_linenumber = 1
        |    AND l_shipdate < TIMESTAMP '2000-01-01') AS qty_clean,
        |  (SELECT count(*) FROM lineitem WHERE l_linenumber = 2
        |    AND l_shipdate >= TIMESTAMP '2000-01-01') AS n_rejected_cause,
        |  CAST(1 AS BIGINT) AS n_versions""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(path))
        SnapshotTable.setConstraints(path, Seq(
          Constraint("qty_nonneg", "qty_u >= 0"),
          Constraint("ship_pre_y2k", s"ship_day < $y2k"),
          Constraint("ship_known", "ship_day IS NOT NULL")))
        SnapshotTable.append(
          wave(s, d, col("l_linenumber") === 1)
            .filter(col("ship_day") < y2k),
          path, numPartitions = 4, statsCol = Some("ship_day"))
        val dirty = wave(s, d, col("l_linenumber") === 2)
        require(dirty.filter(col("ship_day") >= y2k).limit(1).count() > 0,
          "fixture drift: the dirty wave has no violating rows")
        val e = try {
          SnapshotTable.append(dirty, path, numPartitions = 4,
            statsCol = Some("ship_day"))
          null
        } catch { case ex: IllegalArgumentException => ex }
        require(e != null && e.getMessage.contains("ship_pre_y2k"),
          s"dirty commit was not rejected by name: $e")
        require(SnapshotTable.latestVersion(path) == 1,
          "rejected commit advanced the version")
        // the aborted batch must leave no garbage on disk
        val live = SnapshotTable.readVersion(s, path, 1).files
          .map(f => java.nio.file.Paths.get(f.stripPrefix("file:"))
            .getParent.getFileName.toString).toSet
        val onDisk = {
          val st = java.nio.file.Files.list(
            java.nio.file.Paths.get(path, "files"))
          try {
            val it = st.iterator()
            val b = scala.collection.mutable.Set.empty[String]
            while (it.hasNext) b += it.next().getFileName.toString
            b.toSet
          } finally st.close()
        }
        require(onDisk == live,
          s"aborted batch left garbage: ${onDisk -- live}")
      }) { (s, d) =>
      val (scan, _, rows) = SnapshotTable.scanAt(s, path, 1)
      val r = scan.agg(count(lit(1)), sum("qty_u").cast("long"))
        .collect().head
      require(r.getLong(0) == rows, "scan/manifest row drift")
      val nCause = wave(s, d, col("l_linenumber") === 2)
        .filter(col("ship_day") >= y2k).count()
      import s.implicits._
      Seq((r.getLong(0), r.getLong(1), nCause,
          SnapshotTable.history(s, path).count()))
        .toDF("n_clean", "qty_clean", "n_rejected_cause", "n_versions")
    }
  }

  /** q178 — DELETION VECTORS (merge-on-read delete,
    * [[graft.ops.SnapshotTable.deleteRowsWhere]]): the third point on
    * the delete-economics triangle — q150's COW rewrites hit files,
    * q167's aligned drop moves metadata only, and this moves only the
    * deleted rows' ADDRESSES: v2 carries v1's exact file list
    * (require-asserted — zero data bytes rewritten) plus a DV batch;
    * every scan flavor then hides the dead rows via a broadcast
    * anti-join, the change feed reports exactly the MOR-deleted rows
    * (address-delta path, no file churn to diff), and
    * [[graft.ops.SnapshotTable.materializeDeletes]] folds the DVs into
    * a rewrite of ONLY the DV-hit files (require-asserted partial),
    * ending the read tax with an empty change feed across the
    * materialize commit. DuckDB recomputes the pre-delete, post-delete
    * and post-materialize states plus the feed's delete count from raw
    * lineitem — a DV that misses rows, double-deletes, or a
    * materialize that loses survivors hash-mismatches.
    */
  val deletionVectors: QueryDef = {
    val path = Work.oracleDumpPath("q178_table")
    QueryDef("q178_deletion_vectors",
      """SELECT
        |  (SELECT count(*) FROM lineitem WHERE l_linenumber <= 2) AS n_v1,
        |  (SELECT count(*) FROM lineitem WHERE l_linenumber <= 2
        |    AND (l_shipdate < TIMESTAMP '1996-01-01'
        |         OR l_shipdate >= TIMESTAMP '1997-01-01')) AS n_mor,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    FROM lineitem WHERE l_linenumber <= 2
        |    AND (l_shipdate < TIMESTAMP '1996-01-01'
        |         OR l_shipdate >= TIMESTAMP '1997-01-01')) AS qty_mor,
        |  (SELECT count(*) FROM lineitem WHERE l_linenumber <= 2
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01') AS n_feed_del,
        |  (SELECT count(*) FROM lineitem WHERE l_linenumber <= 2
        |    AND (l_shipdate < TIMESTAMP '1996-01-01'
        |         OR l_shipdate >= TIMESTAMP '1997-01-01'))
        |    AS n_materialized""".stripMargin,
      setup = { (s, d) =>
        val lo96 = java.time.LocalDate.of(1996, 1, 1).toEpochDay
        val hi96 = java.time.LocalDate.of(1996, 12, 31).toEpochDay
        Work.wipe(java.nio.file.Paths.get(path))
        SnapshotTable.append(
          Tables.lineitem(s, d).filter(col("l_linenumber") <= 2).select(
            expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
              .as("ship_day"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u")),
          path, numPartitions = 8, statsCol = Some("ship_day"))
        val v1 = SnapshotTable.readVersion(s, path, 1)
        val (v2, nDel) = SnapshotTable.deleteRowsWhere(s, path,
          s"ship_day BETWEEN $lo96 AND $hi96")
        require(v2 == 2 && nDel > 0, s"MOR delete removed $nDel rows")
        require(SnapshotTable.readVersion(s, path, 2).files == v1.files,
          "MOR delete rewrote data files — the whole point is not to")
        val res = SnapshotTable.materializeDeletes(s, path) // v3
        require(res.rewritten > 0 && res.rewritten < v1.files.length,
          s"materialize must rewrite only DV-hit files: $res")
        require(SnapshotTable.readVersion(s, path, 3).dvFiles.isEmpty,
          "materialize left DVs behind")
        require(SnapshotTable.changes(s, path, 2, 3).isEmpty,
          "materialize must be row-preserving — change feed not empty")
      }) { (s, d) =>
      val (scan1, _, rows1) = SnapshotTable.scanAt(s, path, 1)
      val (scan2, _, rows2) = SnapshotTable.scanAt(s, path, 2)
      val (scan3, _, rows3) = SnapshotTable.scanAt(s, path, 3)
      val feedDel = SnapshotTable.changes(s, path, 1, 2)
        .filter(col("_change") === "delete").count()
      val n1 = scan1.count()
      val r2 = scan2.agg(count(lit(1)), sum("qty_u").cast("long"))
        .collect().head
      val n3 = scan3.count()
      require(n1 == rows1 && r2.getLong(0) == rows2 && n3 == rows3,
        "scan/manifest row drift across the DV lifecycle")
      import s.implicits._
      Seq((n1, r2.getLong(0), r2.getLong(1), feedDel, n3))
        .toDF("n_v1", "n_mor", "qty_mor", "n_feed_del", "n_materialized")
    }
  }

  /** q179 — PARTITIONED MERGE
    * ([[graft.ops.SnapshotTable.mergePartitioned]]): upsert into a
    * hidden-partitioned table, including the hazard every partitioned
    * merge must face — updates that MOVE keys across partitions (here
    * ship_day += 40 crosses the 32-day transform boundary,
    * require-asserted to actually occur). Candidates prune by the
    * updates' partition values UNION a bloom probe on the merge key
    * over all files, so a moved key's OLD row is found and anti-joined
    * out wherever it lives while untouched partitions carry by
    * reference; the rewrite re-derives the hidden value so outputs
    * stay partition-pure, and range pruning survives the merge
    * (require-asserted read<total on the probe window). Matched and
    * inserted counts are require-asserted against the update batch's
    * composition. DuckDB replays the merge relationally (base minus
    * updated keys, union modified rows, union inserts) — a duplicated
    * moved key, a lost insert, or partition-impure output
    * hash-mismatches.
    */
  val partitionMerge: QueryDef = {
    val path = Work.oracleDumpPath("q179_table")
    QueryDef("q179_partition_merge",
      """WITH base AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS k,
        |         min(l_shipdate) AS sd,
        |         CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
        |           AS BIGINT) AS qty_u
        |  FROM lineitem WHERE l_linenumber <= 2 GROUP BY 1),
        |upd AS (
        |  SELECT k, sd + INTERVAL 40 DAY AS sd, qty_u + 1000000 AS qty_u
        |  FROM base WHERE k >= 10000 AND k < 14000
        |    AND sd >= TIMESTAMP '1996-01-01'
        |    AND sd < TIMESTAMP '1997-01-01'),
        |ins AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS k,
        |         min(l_shipdate) AS sd,
        |         CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
        |           AS BIGINT) AS qty_u
        |  FROM lineitem WHERE l_linenumber = 3
        |    AND l_orderkey >= 1000 AND l_orderkey < 1400
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01' GROUP BY 1),
        |final AS (
        |  SELECT * FROM base WHERE k NOT IN (SELECT k FROM upd)
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins)
        |SELECT CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(qty_u) AS BIGINT) AS qty_total,
        |  (SELECT count(*) FROM final
        |    WHERE sd >= TIMESTAMP '1996-03-15'
        |      AND sd < TIMESTAMP '1996-09-16') AS n_probe
        |FROM final""".stripMargin,
      setup = { (s, d) =>
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data
        // (see q166) — group to a unique merge key, deterministically
        def rowsOf(pred: org.apache.spark.sql.Column) =
          Tables.lineitem(s, d).filter(pred).select(
            (col("l_orderkey") * 10 + col("l_linenumber")).cast("long")
              .as("k"),
            expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
              .as("sd"),
            floor(col("l_quantity") * 100).cast("long").as("q"))
            .groupBy("k")
            .agg(min(col("sd")).as("ship_day"),
              sum(col("q")).cast("long").as("qty_u"))
        Work.wipe(java.nio.file.Paths.get(path))
        val spec = PartSpec("ship_day", "truncate", 32)
        // CDC-shaped micro-batch: a fixed orderkey window keeps the
        // update-key count scale-invariant, and the tight fpp keeps a
        // few-hundred-key bloom probe selective across all files
        SnapshotTable.appendPartitioned(
          rowsOf(col("l_linenumber") <= 2), path, spec,
          statsCol = Some("ship_day"), bloomCol = Some("k"),
          bloomFpp = 1e-4)
        // localized like a real CDC correction batch: one orderkey
        // window × one year of ship days, so partition-value pruning
        // has something to prune (an update set spread over every
        // partition would legitimately rewrite every partition)
        val lo96 = java.time.LocalDate.of(1996, 1, 1).toEpochDay
        val hi96x = java.time.LocalDate.of(1997, 1, 1).toEpochDay
        val upd = rowsOf(col("l_linenumber") <= 2)
          .filter(col("k") >= 10000L && col("k") < 14000L &&
            col("ship_day") >= lo96 && col("ship_day") < hi96x)
          .select(col("k"), (col("ship_day") + 40).as("ship_day"),
            (col("qty_u") + 1000000L).as("qty_u"))
        val ins = rowsOf(col("l_linenumber") === 3 &&
          col("l_orderkey") >= 1000 && col("l_orderkey") < 1400 &&
          col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01"))
        val moved = upd.filter(
          expr("((ship_day - 40) div 32) != (ship_day div 32)")).count()
        require(moved > 0, "fixture drift: no update crosses a partition")
        val nUpd = upd.count()
        val nIns = ins.count()
        val res = SnapshotTable.mergePartitioned(s, path,
          upd.unionByName(ins), "k")
        require(res.rowsMatched == nUpd && res.rowsInserted == nIns,
          s"merge accounting drifted: $res vs upd=$nUpd ins=$nIns")
        require(res.filesRewritten < res.filesTotal,
          s"partition+bloom pruning rewrote everything: $res")
      }) { (s, d) =>
      val plo = java.time.LocalDate.of(1996, 3, 15).toEpochDay
      val phi = java.time.LocalDate.of(1996, 9, 15).toEpochDay
      val (probe, read, total) =
        SnapshotTable.scanPartitionRange(s, path, 2, plo, phi)
      require(read > 0 && read < total,
        s"pruning died across the merge: read $read of $total files")
      val nProbe = probe.count()
      val (all2, _, rows2) = SnapshotTable.scanAt(s, path, 2)
      val r = all2.agg(count(lit(1)), sum("qty_u").cast("long"))
        .collect().head
      require(r.getLong(0) == rows2, "scan/manifest row drift after merge")
      import s.implicits._
      Seq((r.getLong(0), r.getLong(1), nProbe))
        .toDF("n_total", "qty_total", "n_probe")
    }
  }

  /** q182 — SHALLOW CLONE ([[graft.ops.SnapshotTable.cloneAt]]): fork
    * the table at a point in time for ZERO data bytes — the clone's v1
    * manifest references the source's files (require-asserted: no data
    * directory exists under the clone's root at creation), carries the
    * source version's stats, and then lives independently: the
    * experiment branch COW-deletes a DIFFERENT year than the source
    * did, and both lineages are require-asserted unaffected by each
    * other. The retention hazard is closed structurally — clone-side
    * expire+vacuum run with GC ownership guards, and the source's two
    * versions must still scan intact afterwards. DuckDB recomputes the
    * source's latest state, the clone's forked state, and the shared
    * point-in-time base from raw lineitem — a clone that referenced
    * the wrong version, leaked a mutation across lineages, or lost
    * source files to the clone's GC hash-mismatches.
    */
  val shallowClone: QueryDef = {
    val src = Work.oracleDumpPath("q182_src")
    val dst = Work.oracleDumpPath("q182_clone")
    QueryDef("q182_shallow_clone",
      """SELECT
        |  (SELECT count(*) FROM lineitem WHERE l_linenumber <= 2) AS n_base,
        |  (SELECT count(*) FROM lineitem WHERE l_linenumber <= 2
        |    AND (l_shipdate < TIMESTAMP '1996-01-01'
        |         OR l_shipdate >= TIMESTAMP '1997-01-01')) AS n_src,
        |  (SELECT count(*) FROM lineitem WHERE l_linenumber <= 2
        |    AND (l_shipdate < TIMESTAMP '1997-01-01'
        |         OR l_shipdate >= TIMESTAMP '1998-01-01')) AS n_clone,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    FROM lineitem WHERE l_linenumber <= 2
        |    AND (l_shipdate < TIMESTAMP '1997-01-01'
        |         OR l_shipdate >= TIMESTAMP '1998-01-01'))
        |    AS qty_clone""".stripMargin,
      setup = { (s, d) =>
        def day(y: Int) = java.time.LocalDate.of(y, 1, 1).toEpochDay
        Work.wipe(java.nio.file.Paths.get(src))
        Work.wipe(java.nio.file.Paths.get(dst))
        SnapshotTable.append(
          Tables.lineitem(s, d).filter(col("l_linenumber") <= 2).select(
            expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
              .as("ship_day"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u")),
          src, numPartitions = 8, statsCol = Some("ship_day"))
        SnapshotTable.cloneAt(s, src, dst, 1)
        require(!java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(dst, "files")),
          "shallow clone copied data bytes")
        // the lineages diverge: source drops 1996, clone drops 1997
        SnapshotTable.deleteStatsRange(s, src, day(1996), day(1997) - 1)
        SnapshotTable.deleteStatsRange(s, dst, day(1997), day(1998) - 1)
        // clone-side GC with ownership guards must not touch the source
        SnapshotTable.expire(s, dst, keepFrom = 2)
        SnapshotTable.vacuum(s, dst, olderThanMs = 0)
        val ops = SnapshotTable.history(s, dst).orderBy("version")
          .select("op").collect().map(_.getString(0)).toSeq
        require(ops == Seq("DELETE"), // v1 CLONE expired, v2 remains
          s"clone history drifted: $ops")
      }) { (s, d) =>
      val (srcScan, _, srcRows) =
        SnapshotTable.scanAt(s, src, SnapshotTable.latestVersion(src))
      val (srcBase, _, baseRows) = SnapshotTable.scanAt(s, src, 1)
      val (cScan, _, cRows) =
        SnapshotTable.scanAt(s, dst, SnapshotTable.latestVersion(dst))
      val nBase = srcBase.count()
      val nSrc = srcScan.count()
      val c = cScan.agg(count(lit(1)), sum("qty_u").cast("long"))
        .collect().head
      require(nBase == baseRows && nSrc == srcRows &&
          c.getLong(0) == cRows,
        "scan/manifest drift across the clone lineages")
      import s.implicits._
      Seq((nBase, nSrc, c.getLong(0), c.getLong(1)))
        .toDF("n_base", "n_src", "n_clone", "qty_clone")
    }
  }

  /** q183 — SCHEMA EVOLUTION BY FIELD ID
    * ([[graft.ops.SnapshotTable.renameColumn]] /
    * [[graft.ops.SnapshotTable.dropColumn]]): the full add → rename →
    * drop → post-ALTER-append lifecycle, every step metadata-only
    * (require-asserted: the rename and drop commits reference exactly
    * the prior version's data files). The load-bearing check is the
    * rename: files written BEFORE it carry the old physical name, and
    * the id-resolved scan must serve their bytes under the NEW name
    * with zero nulls — under name-based resolution the column forks
    * into old-null/new-null halves, which the sum and the
    * null-count both catch. The drop must hide the column from v4's
    * scan while v2 still time-travels to it, and the post-ALTER append
    * (new naming) must unify with the pre-ALTER files. The lifecycle
    * then continues across an ADD COLUMN: v6 declares `note STRING`
    * as a METADATA-ONLY commit (require-asserted: same data files),
    * every pre-ADD row reads it as NULL (the null-count catches a
    * type- or value-leak), and the v7 append fills it physically —
    * the mixed old/new files must unify under one schema with the
    * non-null count exactly the new batch's. DuckDB reconstructs each
    * version's aggregate from raw lineitem, so a forked, leaked, or
    * resurrected column hash-mismatches.
    */
  val renameDropEvolution: QueryDef = {
    val path = Work.oracleDumpPath("q183_table")
    QueryDef("q183_rename_drop",
      """SELECT
        |  (SELECT count(*) FROM lineitem WHERE l_linenumber <= 2) AS n_v2,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
        |    AS BIGINT) FROM lineitem WHERE l_linenumber <= 2) AS sum_a_v2,
        |  (SELECT count(*) FROM lineitem WHERE l_linenumber = 2) AS n_b_v2,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
        |    AS BIGINT) FROM lineitem WHERE l_linenumber <= 2) AS sum_qc_v3,
        |  CAST(0 AS BIGINT) AS null_qc_v3,
        |  (SELECT count(*) FROM lineitem WHERE l_linenumber <= 3) AS n_v5,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
        |    AS BIGINT) FROM lineitem WHERE l_linenumber <= 3) AS sum_qc_v5,
        |  (SELECT count(*) FROM lineitem WHERE l_linenumber <= 4) AS n_v7,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
        |    AS BIGINT) FROM lineitem WHERE l_linenumber <= 4) AS sum_qc_v7,
        |  (SELECT count(*) FROM lineitem WHERE l_linenumber = 4)
        |    AS notes_nonnull,
        |  (SELECT count(*) FROM lineitem WHERE l_linenumber <= 6)
        |    AS n_v10,
        |  (SELECT CAST(sum(CASE
        |      WHEN l_linenumber = 5 THEN CAST(floor(l_extendedprice) AS BIGINT)
        |      WHEN l_linenumber = 6 THEN CAST(floor(l_extendedprice) AS BIGINT)
        |        + 3000000000
        |      ELSE 0 END) AS BIGINT) FROM lineitem
        |    WHERE l_linenumber <= 6) AS sum_score_v10,
        |  TRUE AS alters_metadata_only, TRUE AS drop_hidden,
        |  TRUE AS add_metadata_only, TRUE AS widen_metadata_only""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(path))
        val li = Tables.lineitem(s, d)
        def qc = floor(col("l_quantity") * 100).cast("long")
        SnapshotTable.append(
          li.filter(col("l_linenumber") === 1)
            .select(col("l_orderkey").as("k"), qc.as("a")),
          path, numPartitions = 4)
        SnapshotTable.append(
          li.filter(col("l_linenumber") === 2)
            .select(col("l_orderkey").as("k"), qc.as("a"),
              floor(col("l_extendedprice") * 100).cast("long").as("b")),
          path, numPartitions = 4)
        val files2 = SnapshotTable.readVersion(s, path, 2).files.toSet
        SnapshotTable.renameColumn(s, path, "a", "qty_c")
        SnapshotTable.dropColumn(s, path, "b")
        // both ALTERs were metadata-only: same data files throughout
        Seq(3L, 4L).foreach { v =>
          require(SnapshotTable.readVersion(s, path, v).files.toSet
            == files2, s"ALTER at v$v rewrote data files")
        }
        // post-ALTER ingest under the new naming
        SnapshotTable.append(
          li.filter(col("l_linenumber") === 3)
            .select(col("l_orderkey").as("k"), qc.as("qty_c")),
          path, numPartitions = 4)
        // ADD COLUMN: metadata-only, typed, old files read NULL
        val files5 = SnapshotTable.readVersion(s, path, 5).files.toSet
        SnapshotTable.addColumn(s, path, "note",
          org.apache.spark.sql.types.StringType)
        require(SnapshotTable.readVersion(s, path, 6).files.toSet
          == files5, "ADD COLUMN rewrote data files")
        SnapshotTable.append(
          li.filter(col("l_linenumber") === 4)
            .select(col("l_orderkey").as("k"), qc.as("qty_c"),
              col("l_returnflag").as("note")),
          path, numPartitions = 4)
        // r19: ALTER COLUMN TYPE widening joins the lifecycle —
        // `score` enters BY DATA as INT (v8), widens to BIGINT in one
        // metadata-only commit (v9), and the post-widen append writes
        // values past the int range (v10): one column, two physical
        // page types, served as one BIGINT
        SnapshotTable.append(
          li.filter(col("l_linenumber") === 5)
            .select(col("l_orderkey").as("k"), qc.as("qty_c"),
              floor(col("l_extendedprice")).cast("int").as("score")),
          path, numPartitions = 4)
        val files8 = SnapshotTable.readVersion(s, path, 8).files.toSet
        SnapshotTable.widenColumnType(s, path, "score",
          org.apache.spark.sql.types.LongType)
        require(SnapshotTable.readVersion(s, path, 9).files.toSet
          == files8, "widen rewrote data files")
        SnapshotTable.append(
          li.filter(col("l_linenumber") === 6)
            .select(col("l_orderkey").as("k"), qc.as("qty_c"),
              (floor(col("l_extendedprice")).cast("long") +
                3000000000L).as("score")),
          path, numPartitions = 4)
      }) { (s, d) =>
      // the per-version scans and aggregates are INDEPENDENT — and a
      // scanAt CONSTRUCTION is itself a driver job (mergeSchema footer
      // read), so r21 moves the whole per-version unit (scan + schema
      // requires + aggregate) into one Future per version instead of
      // constructing the eight scans serially and only overlapping the
      // aggregates (the r20 shape). Result values and output ordering
      // are unchanged; requires rethrow through Await.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val fR2 = Future {
        val (s2, _, _) = SnapshotTable.scanAt(s, path, 2)
        require(s2.columns.toSeq == Seq("k", "a", "b"),
          s"v2 schema drifted: ${s2.columns.toSeq}")
        s2.agg(count(lit(1)), sum("a").cast("long"),
          count(col("b"))).collect().head
      }
      val fR3 = Future {
        val (s3, _, _) = SnapshotTable.scanAt(s, path, 3)
        require(s3.columns.toSeq == Seq("k", "qty_c", "b"),
          s"v3 schema drifted: ${s3.columns.toSeq}")
        s3.agg(sum("qty_c").cast("long"),
          sum(when(col("qty_c").isNull, 1L).otherwise(0L)).cast("long"))
          .collect().head
      }
      val fS4 = Future {
        val (s4, _, _) = SnapshotTable.scanAt(s, path, 4)
        require(s4.columns.toSeq == Seq("k", "qty_c"),
          "drop did not hide the column")
      }
      val fR5 = Future {
        val (s5, _, _) = SnapshotTable.scanAt(s, path, 5)
        s5.agg(count(lit(1)), sum("qty_c").cast("long")).collect().head
      }
      val fNote = Future {
        val (s6, _, _) = SnapshotTable.scanAt(s, path, 6)
        require(s6.columns.toSeq == Seq("k", "qty_c", "note"),
          s"ADD COLUMN not visible at v6: ${s6.columns.toSeq}")
        require(s6.schema("note").dataType
          == org.apache.spark.sql.types.StringType,
          "added column must read with its DECLARED type")
        s6.agg(count(col("note"))).head.getLong(0)
      }
      val fR7 = Future {
        val (s7, _, _) = SnapshotTable.scanAt(s, path, 7)
        s7.agg(count(lit(1)), sum("qty_c").cast("long"),
          count(col("note"))).collect().head
      }
      // the widened column: INT pages (v8's files) and BIGINT pages
      // (v10's) serve one BIGINT column; values past the int range
      // prove the width is real, not a display cast
      val fS8 = Future {
        val (s8, _, _) = SnapshotTable.scanAt(s, path, 8)
        require(s8.schema("score").dataType
          == org.apache.spark.sql.types.IntegerType,
          "pre-widen time travel must serve the narrow type")
      }
      val fR10 = Future {
        val (s10, _, _) = SnapshotTable.scanAt(s, path, 10)
        require(s10.schema("score").dataType
          == org.apache.spark.sql.types.LongType,
          "widen did not flip the visible type")
        s10.agg(count(lit(1)),
          sum(coalesce(col("score"), lit(0L))).cast("long")).collect().head
      }
      Await.result(fS4, Duration.Inf)
      Await.result(fS8, Duration.Inf)
      require(Await.result(fNote, Duration.Inf) == 0L,
        "pre-ADD rows must read the new column as NULL")
      val r2 = Await.result(fR2, Duration.Inf)
      val r3 = Await.result(fR3, Duration.Inf)
      val r5 = Await.result(fR5, Duration.Inf)
      val r7 = Await.result(fR7, Duration.Inf)
      val r10 = Await.result(fR10, Duration.Inf)
      import s.implicits._
      Seq((r2.getLong(0), r2.getLong(1), r2.getLong(2), r3.getLong(0),
        r3.getLong(1), r5.getLong(0), r5.getLong(1), r7.getLong(0),
        r7.getLong(1), r7.getLong(2), r10.getLong(0), r10.getLong(1),
        true, true, true, true))
        .toDF("n_v2", "sum_a_v2", "n_b_v2", "sum_qc_v3", "null_qc_v3",
          "n_v5", "sum_qc_v5", "n_v7", "sum_qc_v7", "notes_nonnull",
          "n_v10", "sum_score_v10",
          "alters_metadata_only", "drop_hidden", "add_metadata_only",
          "widen_metadata_only")
    }
  }

  /** q168 — BUCKET partitioning point probe: lineitem hashed into 16
    * hidden buckets on the order key (`bucket(16)` =
    * floorMod(xxhash64(k), 16), the executor hash mirrored on the
    * driver at plan time). A 5-key probe opens AT MOST the keys'
    * buckets — require-asserted `read <= 5 < 16` — with the exact `IN`
    * as residual; the keys (1, 7, 34, 39, 70) satisfy TPC-H's
    * (k−1) mod 32 < 8 pattern so they exist at every scale factor.
    * DuckDB recomputes from raw lineitem: a driver/executor hash
    * disagreement would route a key to the wrong bucket and lose its
    * rows — exactly what the hash-compare catches.
    */
  val bucketPartitionProbe: QueryDef = {
    val path = Work.oracleDumpPath("q168_table")
    QueryDef("q168_bucket_partition_probe",
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty_u,
        |  count(DISTINCT l_orderkey) AS k_seen,
        |  TRUE AS files_pruned
        |FROM lineitem
        |WHERE l_orderkey IN (1, 7, 34, 39, 70)""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(path))
        SnapshotTable.appendPartitioned(
          Tables.lineitem(s, d).select(
            col("l_orderkey").as("k"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u")),
          path, PartSpec("k", "bucket", 16))
      }) { (s, d) =>
      val keys = Seq(1L, 7L, 34L, 39L, 70L)
      val (probe, read, total) =
        SnapshotTable.scanPartitionKeys(s, path, 1, keys)
      require(read <= keys.length && read < total,
        s"bucket pruning failed: read $read of $total files")
      probe.agg(count(lit(1)).as("n"),
          sum("qty_u").cast("long").as("qty_u"),
          count_distinct(col("k")).as("k_seen"))
        .withColumn("files_pruned", lit(read < total))
    }
  }

  /** q162 — DATA-QUALITY CONSTRAINT SUITE (the Deequ-style validation
    * gate a training pipeline runs before trusting an ingest): five
    * constraint classes evaluated over the fact table — completeness
    * (nulls), range (quantity bounds), domain (calendar window),
    * uniqueness (key-pair duplicates via count − count distinct), and
    * referential integrity (orderkeys absent from a stale dimension
    * snapshot, the realistic FK failure: the dim lags the facts). The
    * row-local constraints stack into ONE aggregation over ONE scan
    * (conditional sums share the pass — N constraints never cost N
    * scans); the FK check is a broadcast anti-join against the
    * dimension (the only shape that survives a 100 TB fact side).
    * Violation COUNTS are the output, recomputed by DuckDB — a
    * validator that under- or over-counts by one row hash-mismatches.
    */
  val qualitySuite = QueryDef("q162_quality_suite",
    """SELECT
      |  (SELECT count(*) FROM lineitem) AS n_rows,
      |  (SELECT count(*) FROM lineitem
      |    WHERE l_quantity IS NULL
      |       OR l_quantity < 1 OR l_quantity > 30) AS n_qty_violations,
      |  (SELECT count(*) FROM lineitem
      |    WHERE l_shipdate < TIMESTAMP '1995-01-01'
      |       OR l_shipdate >= TIMESTAMP '2002-01-01') AS n_date_violations,
      |  (SELECT count(*) - count(DISTINCT (l_orderkey, l_linenumber))
      |    FROM lineitem) AS n_dup_pairs,
      |  (SELECT count(*) FROM lineitem l
      |    WHERE NOT EXISTS (SELECT 1 FROM orders o
      |      WHERE o.o_orderkey = l.l_orderkey
      |        AND o.o_orderkey <= 10000)) AS n_orphans""".stripMargin) {
    (s, d) =>
    val li = Tables.lineitem(s, d)
    def viol(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    // all row-local constraints in ONE aggregation over ONE scan
    val rowLocal = li.agg(
      count(lit(1)).as("n_rows"),
      viol(col("l_quantity").isNull ||
        col("l_quantity") < 1 || col("l_quantity") > 30)
        .as("n_qty_violations"),
      viol(col("l_shipdate") < lit("1995-01-01").cast("timestamp") ||
        col("l_shipdate") >= lit("2002-01-01").cast("timestamp"))
        .as("n_date_violations"),
      (count(lit(1)) - count_distinct(
        struct(col("l_orderkey"), col("l_linenumber")))).as("n_dup_pairs"))
    // referential check against a stale dimension snapshot: broadcast
    // anti-join — the dim is the small side by construction
    val staleDim = Tables.orders(s, d)
      .filter(col("o_orderkey") <= 10000).select(col("o_orderkey"))
    val orphans = li.select(col("l_orderkey"))
      .join(broadcast(staleDim),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    rowLocal.crossJoin(broadcast(orphans))
      .select(col("n_rows"), col("n_qty_violations"),
        col("n_date_violations"),
        col("n_dup_pairs").cast("long").as("n_dup_pairs"),
        col("n_orphans"))
  }

  /** q128 — ordinary least squares, EXACTLY: the distributed part is
    * five integer sufficient statistics (n, Σx, Σy, Σx², Σxy — plain
    * partial+final aggregates, O(1) shuffle bytes), and the closed-form
    * solve is rational arithmetic over them — slope = (nΣxy − ΣxΣy) /
    * (nΣx² − (Σx)²) — evaluated in BigInt/HUGEINT with FLOOR division
    * on both engines, so the fitted coefficients hash-match to the ppm.
    * This is the pattern every "ML on Spark" fit reduces to: suffstats
    * in one pass, a driver-side O(1) solve.
    */
  val olsFit = QueryDef("q128_ols_fit",
    """WITH q AS (
      |  SELECT CAST(floor(l_quantity * 100) AS BIGINT) AS x,
      |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
      |  FROM lineitem),
      |s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |        sum(x * x) AS sxx, sum(x * y) AS sxy FROM q),
      |r AS (SELECT CAST(n AS HUGEINT) AS n, CAST(sx AS HUGEINT) AS sx,
      |        CAST(sy AS HUGEINT) AS sy, CAST(sxx AS HUGEINT) AS sxx,
      |        CAST(sxy AS HUGEINT) AS sxy FROM s)
      |SELECT CAST(n AS BIGINT) AS n,
      |  CAST(((n * sxy - sx * sy) * 1000000)
      |       // (n * sxx - sx * sx) AS BIGINT) AS slope_ppm,
      |  CAST(((sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx)
      |        * 1000000) // (n * (n * sxx - sx * sx)) AS BIGINT)
      |    AS intercept_ppm
      |FROM r""".stripMargin) { (s, d) =>
    val q = Tables.lineitem(s, d).select(
      floor(col("l_quantity") * 100).cast("long").as("x"),
      floor(col("l_extendedprice") * 100).cast("long").as("y"))
    val st = q.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .head()
    // O(1) driver-side solve over the five stats, exact rationals
    val n = BigInt(st.getLong(0)); val sx = BigInt(st.getLong(1))
    val sy = BigInt(st.getLong(2)); val sxx = BigInt(st.getLong(3))
    val sxy = BigInt(st.getLong(4))
    // BigInt / truncates toward zero, exactly like DuckDB's //
    val den = n * sxx - sx * sx
    val num = n * sxy - sx * sy
    val slope = (num * 1000000) / den
    val intercept = ((sy * den - num * sx) * 1000000) / (n * den)
    import s.implicits._
    Seq((n.toLong, slope.toLong, intercept.toLong))
      .toDF("n", "slope_ppm", "intercept_ppm")
  }

  /** q198 — TYPED multi-column file statistics on REAL column types:
    * the manifest carries per-file min/max for a declared list of
    * columns (here a DATE and a STRING, alongside the BIGINT layout
    * column), and the DSv2 planner prunes files from predicates on
    * them directly — no "cast your dates to epoch-days" contortion.
    * The table is range-laid-out on ship_day so the correlated DATE
    * and month-STRING bounds per file are tight; a half-year DATE
    * window and a one-month STRING equality must each plan a strict
    * subset of files (require-asserted), the month probe's DELIVERED
    * rows must stay below the table's total (the same predicate also
    * reaches parquet row-group statistics inside kept files), and
    * MIN/MAX over the DATE column must serve from the manifest
    * without opening a single file (require-asserted). DuckDB
    * recomputes everything from raw lineitem — a pruning bug that
    * drops a boundary file changes n/qty and hash-mismatches.
    */
  val typedStatsPrune: QueryDef = {
    val path = Work.oracleDumpPath("q198_table")
    QueryDef("q198_typed_stats_prune",
      """SELECT
        |  (SELECT count(*) FROM lineitem
        |    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-03-15'
        |      AND CAST(l_shipdate AS DATE) <= DATE '1996-09-15') AS n_date,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
        |     AS BIGINT) FROM lineitem
        |    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-03-15'
        |      AND CAST(l_shipdate AS DATE) <= DATE '1996-09-15') AS qty_date,
        |  (SELECT count(*) FROM lineitem
        |    WHERE strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m')
        |      = '1996-03') AS n_month,
        |  (SELECT min(CAST(l_shipdate AS DATE)) FROM lineitem) AS d_min,
        |  (SELECT max(CAST(l_shipdate AS DATE)) FROM lineitem) AS d_max,
        |  TRUE AS files_pruned, TRUE AS agg_from_manifest""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(path))
        SnapshotTable.append(
          Tables.lineitem(s, d).select(
            expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
              .as("ship_day"),
            col("l_shipdate").cast("date").as("ship_d"),
            date_format(col("l_shipdate"), "yyyy-MM").as("ship_m"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u")),
          path, numPartitions = 8, statsCol = Some("ship_day"),
          statsCols = Seq("ship_d", "ship_m"))
      }) { (s, d) =>
      val t = s.read.format("graft_table").option("path", path).load()
      val nAll = t.count()
      val (Array(rd), Seq(Files(p1, t1))) = ScanMetrics.collect(
        t.filter(col("ship_d").between(
            to_date(lit("1996-03-15")), to_date(lit("1996-09-15"))))
          .agg(count(lit(1)).as("n"), sum("qty_u").cast("long").as("q")))
      require(p1 > 0 && p1 < t1,
        s"DATE range pruning failed: planned $p1 of $t1 files")
      val (nMonth, s2 @ Files(p2, t2)) =
        ScanMetrics.rowCount(t.filter(col("ship_m") === "1996-03"))
      require(p2 > 0 && p2 < t2,
        s"STRING equality pruning failed: planned $p2 of $t2 files")
      require(s2.rowsDelivered < nAll,
        s"month probe delivered ${s2.rowsDelivered} of " +
          s"$nAll rows — row-group statistics did not bound the read")
      val (Array(ag), Seq(s3)) = ScanMetrics.collect(
        t.agg(min("ship_d").as("d_min"), max("ship_d").as("d_max")))
      require(s3.manifestAgg,
        "MIN/MAX over the DATE stats column must serve from the manifest")
      import s.implicits._
      // java8API session: DATE collects as java.time.LocalDate
      Seq((rd.getLong(0), rd.getLong(1), nMonth,
        ag.getAs[java.time.LocalDate](0), ag.getAs[java.time.LocalDate](1),
        true, true))
        .toDF("n_date", "qty_date", "n_month", "d_min", "d_max",
          "files_pruned", "agg_from_manifest")
    }
  }

  /** q199 — OPTIMISTIC CONCURRENCY with auto-rebase
    * ([[graft.ops.SnapshotTable.merge]] losing the conditional-put
    * race to a provably DISJOINT append): a CDC upsert batch is held
    * mid-plan (a gate UDF inside the update batch's evaluation) while
    * an append of far-outside-range keys wins the next version; the
    * merge's commit then loses the create-exclusive put and — because
    * every file it read is still live and the interleaved file's
    * layout-column range is disjoint from the update batch's — REBASES
    * onto the winner and commits at the next version instead of
    * failing (Delta WriteSerializable semantics). Require-asserted:
    * the merge reports v3 with every update matched and none
    * inserted, so v2 was the interleaved append and the rebase really
    * happened. DuckDB recomputes the final state from raw orders —
    * an upsert applied twice, a lost appended row, or a rebase against
    * the wrong base all change n/tp and hash-mismatch. (The gate is a
    * JVM-static flag — a local-mode harness device; the protocol under
    * test is the manifest's create-exclusive commit, which is
    * process-agnostic.)
    */
  val occRebase: QueryDef = {
    val path = Work.oracleDumpPath("q199_table")
    QueryDef("q199_occ_rebase",
      """SELECT count(*) AS n_after,
        |  CAST(sum(tp) AS BIGINT) AS tp_after,
        |  CAST(sum(CASE WHEN touched THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_touched,
        |  TRUE AS rebased
        |FROM (
        |  SELECT CAST(floor(o_totalprice * 100) AS BIGINT)
        |      + CASE WHEN o_orderkey % 1000 = 7 THEN 5 ELSE 0 END AS tp,
        |    o_orderkey % 1000 = 7 AS touched
        |  FROM orders
        |  UNION ALL
        |  SELECT 55 AS tp, FALSE AS touched FROM orders
        |  WHERE o_orderkey % 997 = 1
        |)""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(path))
        val base = Tables.orders(s, d).select(
          col("o_orderkey").cast("long").as("k"),
          floor(col("o_totalprice") * 100).cast("long").as("tp"))
        SnapshotTable.append(base, path, 8, statsCol = Some("k"))
        OccGate.seen.set(false)
        val gate = udf((x: Long) => {
          if (OccGate.seen.compareAndSet(false, true))
            Thread.sleep(3000)
          x
        })
        val updates = base.filter(col("k") % 1000 === 7)
          .withColumn("tp", col("tp") + 5)
          .withColumn("k", gate(col("k")))
        val err = new java.util.concurrent.atomic
          .AtomicReference[Throwable]()
        val res = new java.util.concurrent.atomic
          .AtomicReference[SnapshotTable.MergeResult]()
        val th = new Thread(() => {
          try res.set(SnapshotTable.merge(s, path, updates, "k"))
          catch { case e: Throwable => err.set(e) }
        })
        th.start()
        val deadline = System.currentTimeMillis() + 60000
        while (!OccGate.seen.get() &&
            System.currentTimeMillis() < deadline) Thread.sleep(5)
        require(OccGate.seen.get(), "merge never started planning")
        // the interleave: keys offset far outside every base file's
        // layout range, so the rebase disjointness proof holds
        SnapshotTable.append(
          Tables.orders(s, d).filter(col("o_orderkey") % 997 === 1)
            .select((col("o_orderkey").cast("long")
              + 1000000000L).as("k"), lit(55L).as("tp")),
          path, 1, statsCol = Some("k"))
        th.join(180000)
        require(err.get() == null,
          s"disjoint interleaved append must rebase, got ${err.get()}")
        require(res.get().version == 3L,
          s"expected v2=append, v3=rebased merge; merge landed at " +
            s"v${res.get().version}")
        require(res.get().rowsInserted == 0L,
          s"every update key exists — ${res.get().rowsInserted} inserts")
      }) { (s, d) =>
      val (scan, _, _) = SnapshotTable.scanAt(s, path,
        SnapshotTable.latestVersion(path))
      val r = scan.agg(count(lit(1)).as("n"),
          sum("tp").cast("long").as("tp"),
          sum(when(col("k") % 1000 === 7 && col("k") < 1000000000L, 1L)
            .otherwise(0L)).cast("long").as("nt"))
        .collect().head
      import s.implicits._
      Seq((r.getLong(0), r.getLong(1), r.getLong(2), true))
        .toDF("n_after", "tp_after", "n_touched", "rebased")
    }
  }

  /** q200 — ATOMIC CTAS/RTAS through the staging catalog
    * ([[graft.source.v2.GraftCatalog]] as a `StagingTableCatalog`):
    * `CREATE TABLE ... PARTITIONED BY (truncate) TBLPROPERTIES
    * (stats_cols) AS SELECT` stages data files and manifest under a
    * hidden sibling directory published by ONE rename — a failed CTAS
    * (a mid-write exploding UDF) leaves NO table and NO staging
    * litter (require-asserted), which is the atomicity a scheduled
    * pipeline needs: re-running after a crash never finds a
    * half-table. The created table carries the declared hidden
    * partitioning AND typed stats from birth (a date-window probe
    * plans a strict file subset, require-asserted), and
    * `REPLACE TABLE ... AS SELECT` swaps a second table's contents
    * and schema atomically. DuckDB recomputes every aggregate from
    * raw lineitem/orders.
    */
  val ctasAtomic: QueryDef = {
    val wh = Work.oracleDumpPath("q200_warehouse")
    QueryDef("q200_ctas",
      """SELECT
        |  (SELECT count(*) FROM lineitem) AS n_ctas,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
        |     AS BIGINT) FROM lineitem) AS qty_ctas,
        |  (SELECT count(*) FROM lineitem
        |    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-03-15'
        |      AND CAST(l_shipdate AS DATE) <= DATE '1996-09-15') AS n_probe,
        |  (SELECT count(*) FROM orders) AS n_rtas,
        |  TRUE AS atomic_abort, TRUE AS files_pruned""".stripMargin,
      setup = { (s, d) =>
        useCatalog(s, "q200", wh)
        Work.wipe(java.nio.file.Paths.get(wh))
        Tables.lineitem(s, d).select(
          expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
            .as("ship_day"),
          col("l_shipdate").cast("date").as("ship_d"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
          .createOrReplaceTempView("q200_src")
        // a CTAS that explodes mid-write must leave nothing behind
        s.udf.register("q200_boom", udf((x: Long) =>
          if (x > 0L) throw new RuntimeException("q200 boom") else x))
        try {
          s.sql("""CREATE TABLE graft_q200.q200.li
            AS SELECT q200_boom(ship_day) AS ship_day FROM q200_src""")
          require(false, "exploding CTAS unexpectedly succeeded")
        } catch { case _: Exception => () }
        require(!s.catalog.tableExists("graft_q200.q200.li"),
          "a failed CTAS must leave no table")
        val db = java.nio.file.Paths.get(wh, "q200")
        if (java.nio.file.Files.isDirectory(db)) {
          val leftovers = java.nio.file.Files.list(db)
          try leftovers.iterator().forEachRemaining { p =>
            require(!p.getFileName.toString.startsWith(".staged-"),
              s"failed CTAS leaked staging dir $p")
          } finally leftovers.close()
        }
        s.sql("""CREATE TABLE graft_q200.q200.li
          PARTITIONED BY (truncate(32, ship_day))
          TBLPROPERTIES ('stats_col'='ship_day', 'stats_cols'='ship_d')
          AS SELECT ship_day, ship_d, qty_u FROM q200_src""")
        // RTAS: contents and schema swap atomically
        s.sql("""CREATE TABLE graft_q200.q200.o
          AS SELECT CAST(1 AS BIGINT) AS placeholder FROM range(1)""")
        Tables.orders(s, d).select(
          col("o_orderkey").cast("long").as("okey"),
          floor(col("o_totalprice") * 100).cast("long").as("tp"))
          .createOrReplaceTempView("q200_orders")
        s.sql("""REPLACE TABLE graft_q200.q200.o
          AS SELECT okey, tp FROM q200_orders""")
        require(s.table("graft_q200.q200.o").columns.toSeq
          == Seq("okey", "tp"), "RTAS must swap the schema")
      }) { (s, d) =>
      useCatalog(s, "q200", wh)
      val base = s.sql("SELECT count(*) AS n, CAST(sum(qty_u) AS BIGINT)" +
        " AS q FROM graft_q200.q200.li").collect().head
      val (nProbe, Files(p1, t1)) = ScanMetrics.rowCount(
        s.sql("""SELECT * FROM graft_q200.q200.li
        WHERE ship_d >= DATE '1996-03-15'
          AND ship_d <= DATE '1996-09-15'"""))
      require(p1 > 0 && p1 < t1,
        s"CTAS-born stats did not prune: planned $p1 of $t1 files")
      val nRtas = s.sql("SELECT count(*) FROM graft_q200.q200.o")
        .head.getLong(0)
      import s.implicits._
      Seq((base.getLong(0), base.getLong(1), nProbe, nRtas, true, true))
        .toDF("n_ctas", "qty_ctas", "n_probe", "n_rtas",
          "atomic_abort", "files_pruned")
    }
  }

  /** q201 — SEGMENTED MANIFESTS ([[graft.ops.SnapshotTable]] O(Δ)
    * commit metadata): above a file-count threshold the manifest
    * becomes a small header referencing immutable file-list segments,
    * and each commit re-references the base's segments for carried
    * files instead of re-listing the table — the Delta-log/Iceberg
    * economics that keep a million-file table's commits from
    * rewriting ~100 MB of metadata each. Require-asserted in-query:
    * the 7th append's header names the previous version's segments
    * and contains NONE of the carried data-file paths (structurally
    * O(Δ)), the COW delete re-references too, and time travel to v1
    * still materializes through the shared segments. DuckDB
    * recomputes the post-delete aggregate and the v1 row count from
    * raw lineitem — a drop-list bug that loses or resurrects a file's
    * rows hash-mismatches.
    */
  val segmentedManifest: QueryDef = {
    val path = Work.oracleDumpPath("q201_table")
    QueryDef("q201_segmented_manifest",
      """SELECT
        |  (SELECT count(*) FROM lineitem
        |    WHERE datediff('day', DATE '1970-01-01',
        |      CAST(l_shipdate AS DATE)) NOT BETWEEN 9131 AND 9495)
        |    AS n_after,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
        |     AS BIGINT) FROM lineitem
        |    WHERE datediff('day', DATE '1970-01-01',
        |      CAST(l_shipdate AS DATE)) NOT BETWEEN 9131 AND 9495)
        |    AS qty_after,
        |  (SELECT count(*) FROM lineitem) AS n_v7,
        |  TRUE AS odelta_commits, TRUE AS segments_shared""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(path))
        s.conf.set("spark.graft.manifest.segmentThreshold", "8")
        try {
          val src = Tables.lineitem(s, d).select(
            expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
              .as("ship_day"),
            col("l_linenumber").cast("long").as("ln"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u"))
          (1 to 7).foreach(ln => SnapshotTable.append(
            src.filter(col("ln") === ln), path, 4,
            statsCol = Some("ship_day")))
          val v6 = SnapshotTable.readVersion(s, path, 6)
          require(v6.segRefs.exists(_.nonEmpty),
            "28-file table above threshold 8 must be segmented")
          val h7 = java.nio.file.Files.readString(
            java.nio.file.Paths.get(path, "log", "v7.json"))
          require(v6.segRefs.get.map(_.name).forall(h7.contains),
            "append header must re-reference the base's segments")
          require(v6.files.forall(f => !h7.contains(f)),
            "carried file paths must not appear in the O(Δ) header")
          // COW delete of 1995 re-references the untouched segments
          SnapshotTable.deleteStatsRange(s, path, 9131, 9495)
          val v7segs = SnapshotTable.readVersion(s, path, 7)
            .segRefs.get.map(_.name).toSet
          val v8 = SnapshotTable.readVersion(s, path, 8)
          require(v8.segRefs.get.map(_.name).exists(v7segs),
            "delete must re-reference untouched segments")
        } finally
          s.conf.unset("spark.graft.manifest.segmentThreshold")
      }) { (s, d) =>
      val (scan, _, _) = SnapshotTable.scanAt(s, path,
        SnapshotTable.latestVersion(path))
      val r = scan.agg(count(lit(1)).as("n"),
        sum("qty_u").cast("long").as("q")).collect().head
      // v7 (pre-delete) still materializes through the shared segments
      val (s7, _, _) = SnapshotTable.scanAt(s, path, 7)
      val n7 = s7.count()
      import s.implicits._
      Seq((r.getLong(0), r.getLong(1), n7, true, true))
        .toDF("n_after", "qty_after", "n_v7", "odelta_commits",
          "segments_shared")
    }
  }

  /** q202 — TYPED, MULTI-COLUMN hidden partitioning
    * ([[graft.ops.SnapshotTable.PartField]], Iceberg's transform
    * catalog): the table is created via SQL `PARTITIONED BY
    * (days(ship_d), bucket(8, flag))` — a real DATE dimension and a
    * hashed STRING dimension, no epoch-day-BIGINT contortion — and
    * every write path honors the spec under layout inheritance:
    * INSERT routes partition-pure tuples, SQL MERGE moves rows whose
    * partition SOURCE changed to their new partition by construction
    * (the clustered rewrite), and a dynamic `overwritePartitions`
    * swaps exactly the touched (day × bucket) tuples with survivors
    * carried by reference. Pruning is require-asserted on BOTH
    * dimensions (a DATE equality through days(), a STRING equality
    * through bucket — each must plan a strict subset of files).
    * DuckDB recomputes the final state from raw lineitem (the merge's
    * key arithmetic and the overwrite's replacement day are pure
    * SQL), so a mis-routed tuple, a wrongly-replaced partition, or a
    * pruning bug that drops a file all change the counts and
    * hash-mismatch.
    */
  val typedPartitions: QueryDef = {
    val wh = Work.oracleDumpPath("q202_warehouse")
    QueryDef("q202_typed_partitions",
      """WITH src AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS k,
        |    CAST(l_shipdate AS DATE) AS d0,
        |    concat('g', CAST(l_orderkey % 5 AS VARCHAR)) AS flag,
        |    CAST(floor(l_quantity * 100) AS BIGINT) AS qty_u
        |  FROM lineitem
        |  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-03-01'
        |    AND CAST(l_shipdate AS DATE) <= DATE '1996-04-30'
        |), merged AS (
        |  SELECT k,
        |    CASE WHEN k % 97 = 3 THEN DATE '1996-04-20' ELSE d0 END AS d,
        |    flag, qty_u
        |  FROM src
        |), finalt AS (
        |  SELECT k, d, flag, qty_u FROM merged
        |  WHERE d <> DATE '1996-03-15'
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(1 AS BIGINT), DATE '1996-03-15', 'g0', CAST(111 AS BIGINT)),
        |    (CAST(2 AS BIGINT), DATE '1996-03-15', 'g1', CAST(222 AS BIGINT)),
        |    (CAST(3 AS BIGINT), DATE '1996-03-15', 'g2', CAST(333 AS BIGINT)),
        |    (CAST(4 AS BIGINT), DATE '1996-03-15', 'g3', CAST(444 AS BIGINT)),
        |    (CAST(5 AS BIGINT), DATE '1996-03-15', 'g4', CAST(555 AS BIGINT)))
        |    AS t(k, d, flag, qty_u)
        |)
        |SELECT
        |  (SELECT count(*) FROM finalt) AS n_all,
        |  (SELECT CAST(sum(qty_u) AS BIGINT) FROM finalt) AS qty_all,
        |  (SELECT count(*) FROM finalt WHERE d = DATE '1996-03-20')
        |    AS n_day,
        |  (SELECT count(*) FROM finalt WHERE flag = 'g1') AS n_flag,
        |  (SELECT count(*) FROM finalt
        |    WHERE d >= DATE '1996-04-01' AND flag = 'g2') AS n_both,
        |  (SELECT count(*) FROM finalt WHERE d = DATE '1996-04-20')
        |    AS n_moved,
        |  TRUE AS pruned_date, TRUE AS pruned_bucket""".stripMargin,
      setup = { (s, d) =>
        useCatalog(s, "q202", wh)
        Work.wipe(java.nio.file.Paths.get(wh))
        Tables.lineitem(s, d).createOrReplaceTempView("q202_lineitem")
        s.sql("""CREATE TABLE graft_q202.q202.li
          (k BIGINT, d DATE, flag STRING, qty_u BIGINT)
          PARTITIONED BY (days(d), bucket(8, flag))""")
        s.sql("""INSERT INTO graft_q202.q202.li
          SELECT l_orderkey * 10 + l_linenumber,
            CAST(l_shipdate AS DATE),
            concat('g', CAST(l_orderkey % 5 AS STRING)),
            CAST(floor(l_quantity * 100) AS BIGINT)
          FROM q202_lineitem
          WHERE CAST(l_shipdate AS DATE) >= DATE '1996-03-01'
            AND CAST(l_shipdate AS DATE) <= DATE '1996-04-30'""")
        // MERGE moves every k % 97 = 3 row to 1996-04-20: the row-
        // level rewrite re-routes them to the new (day, bucket) tuple
        s.sql("""MERGE INTO graft_q202.q202.li t
          USING (SELECT DISTINCT k AS mk FROM graft_q202.q202.li
                 WHERE k % 97 = 3) m
          ON t.k = m.mk
          WHEN MATCHED THEN UPDATE SET d = DATE '1996-04-20'""")
        // dynamic overwrite: the batch's (1996-03-15 × 3 flag
        // buckets) tuples replace that day wholesale, survivors by
        // reference
        import s.implicits._
        Seq((1L, "1996-03-15", "g0", 111L), (2L, "1996-03-15", "g1", 222L),
          (3L, "1996-03-15", "g2", 333L), (4L, "1996-03-15", "g3", 444L),
          (5L, "1996-03-15", "g4", 555L))
          .toDF("k", "ds", "flag", "qty_u")
          .select(col("k"), to_date(col("ds")).as("d"), col("flag"),
            col("qty_u"))
          .writeTo("graft_q202.q202.li").overwritePartitions()
      }) { (s, d) =>
      useCatalog(s, "q202", wh)
      val t = s.table("graft_q202.q202.li")
      val all = t.agg(count(lit(1)).as("n"),
        sum("qty_u").cast("long").as("q")).collect().head
      def probe(where: String) =
        ScanMetrics.rowCount(s.sql(s"SELECT * FROM graft_q202.q202.li WHERE $where"))
      val (nDay, Files(p1, t1)) = probe("d = DATE '1996-03-20'")
      require(p1 < t1,
        s"days() pruning failed: planned $p1 of $t1 files")
      val (nFlag, Files(p2, t2)) = probe("flag = 'g1'")
      require(p2 > 0 && p2 < t2,
        s"bucket(flag) pruning failed: planned $p2 of $t2 files")
      val (nBoth, Files(p3, _)) =
        probe("d >= DATE '1996-04-01' AND flag = 'g2'")
      require(p3 <= p2, s"combined two-dimension pruning kept $p3 files")
      val nMoved = s.sql("""SELECT count(*) FROM graft_q202.q202.li
        WHERE d = DATE '1996-04-20'""").head.getLong(0)
      // SHOW PARTITIONS-style typed rollup: one row per (day × bucket)
      // tuple with per-tuple counts — operators read skew here before
      // choosing bucket counts; it must reconcile with the table
      val parts = s.sql("""SELECT partition_key, n_files, rows
        FROM graft_q202.q202.li.partitions""").collect()
      require(parts.length > 1 && parts.forall(_.getString(0) != null),
        "typed partitions rollup missing tuples")
      require(parts.map(_.getLong(2)).sum == all.getLong(0),
        s"rollup rows ${parts.map(_.getLong(2)).sum} != table " +
          s"${all.getLong(0)}")
      import s.implicits._
      Seq((all.getLong(0), all.getLong(1), nDay, nFlag, nBoth, nMoved,
        true, true))
        .toDF("n_all", "qty_all", "n_day", "n_flag", "n_both", "n_moved",
          "pruned_date", "pruned_bucket")
    }
  }

  /** q203 — MULTI-COLUMN bloom indexes on the snapshot table: the
    * bloom declaration is a column LIST ('okey,luid'), each column
    * getting its own per-file filters maintained by the same write
    * paths ([[graft.ops.SnapshotTable.Version.blooms]]) — the
    * doc_id + url shape of the curation flagship, where BOTH
    * high-cardinality keys arrive in archive order and neither is
    * the layout column. The table is date-laid-out, min/max stats
    * over either key span ~the whole domain (stats prune nothing);
    * the per-column blooms restore equality pruning for each
    * dimension independently (require-asserted: each probe plans a
    * strict subset of files). DuckDB recomputes both probe
    * aggregates from raw lineitem — a bloom false negative (a
    * dropped file) loses rows and hash-mismatches.
    */
  val multiBloom: QueryDef = {
    val path = Work.oracleDumpPath("q203_table")
    QueryDef("q203_multi_bloom",
      """SELECT
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_orderkey IN (1, 2, 3)) AS n_ok,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
        |     AS BIGINT) FROM lineitem
        |    WHERE l_orderkey IN (1, 2, 3)) AS qty_ok,
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_orderkey * 1000 + l_linenumber IN (
        |      (SELECT min(l_orderkey * 1000 + l_linenumber) FROM lineitem),
        |      (SELECT max(l_orderkey * 1000 + l_linenumber) FROM lineitem)))
        |    AS n_luid,
        |  (SELECT CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT))
        |     AS BIGINT) FROM lineitem
        |    WHERE l_orderkey * 1000 + l_linenumber IN (
        |      (SELECT min(l_orderkey * 1000 + l_linenumber) FROM lineitem),
        |      (SELECT max(l_orderkey * 1000 + l_linenumber) FROM lineitem)))
        |    AS qty_luid,
        |  TRUE AS pruned_okey, TRUE AS pruned_luid""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(path))
        SnapshotTable.append(
          Tables.lineitem(s, d).select(
            col("l_orderkey").as("okey"),
            (col("l_orderkey") * 1000 + col("l_linenumber"))
              .cast("long").as("luid"),
            expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
              .as("ship_day"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u")),
          path, numPartitions = 16, statsCol = Some("ship_day"),
          bloomCol = Some("okey,luid"))
      }) { (s, d) =>
      val ver = SnapshotTable.readVersion(s, path,
        SnapshotTable.latestVersion(path))
      require(ver.blooms.map(_.col) == Seq("okey", "luid"),
        s"expected two bloom indexes, manifest has ${ver.blooms}")
      val t = s.read.format("graft_table").option("path", path).load()
      val (Array(ok), Seq(Files(p1, t1))) = ScanMetrics.collect(
        t.filter(col("okey").isin(1L, 2L, 3L))
          .agg(count(lit(1)).as("n"), sum("qty_u").cast("long").as("q")))
      require(p1 > 0 && p1 < t1,
        s"okey bloom did not prune: planned $p1 of $t1 files")
      // probe the domain's extreme luids (data-derived — linenumbers
      // per order are generator-arbitrary, so fixed keys are fragile):
      // two exact keys land in ≤2 files however the dates scatter
      val mm = t.agg(min("luid"), max("luid")).collect().head
      val (Array(lu), Seq(Files(p2, t2))) = ScanMetrics.collect(
        t.filter(col("luid").isin(mm.getLong(0), mm.getLong(1)))
          .agg(count(lit(1)).as("n"), sum("qty_u").cast("long").as("q")))
      require(p2 > 0 && p2 < t2,
        s"luid bloom did not prune: planned $p2 of $t2 files")
      import s.implicits._
      Seq((ok.getLong(0), ok.getLong(1), lu.getLong(0), lu.getLong(1),
        true, true))
        .toDF("n_ok", "qty_ok", "n_luid", "qty_luid",
          "pruned_okey", "pruned_luid")
    }
  }

  /** q204 — TYPED (STRING) bloom keys: the per-file bloom index on a
    * snapshot table accepts a native STRING column — url / uuid /
    * content-hash equality probes, the commonest curation predicates,
    * no 64-bit surrogate column required (the dodge r17 retired for
    * stats and r18 for partitions). Build side hashes the UTF-8
    * string (`putString`), probe side canonicalizes the pushed-down
    * filter value by its runtime kind
    * ([[graft.ops.BloomIndex.canonProbe]]); DATE/TIMESTAMP keys ride
    * the same plane via epoch-days/micros canonical longs
    * (spec-pinned in BloomTypedSpec). The probe urls are data-derived
    * (min/max doc_id — generator keys are arbitrary), land in ≤2
    * files whatever the layout, and the DSv2 scan is
    * require-asserted to plan a strict subset of files. DuckDB
    * recomputes the aggregate from raw documents by the equivalent
    * doc_id probe (url is injective in doc_id) — a bloom false
    * negative loses a row and hash-mismatches.
    */
  val stringBloom: QueryDef = {
    val path = Work.oracleDumpPath("q204_table")
    QueryDef("q204_string_bloom",
      """SELECT
        |  (SELECT count(*) FROM documents
        |    WHERE doc_id IN ((SELECT min(doc_id) FROM documents),
        |                     (SELECT max(doc_id) FROM documents)))
        |    AS n_hit,
        |  (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents
        |    WHERE doc_id IN ((SELECT min(doc_id) FROM documents),
        |                     (SELECT max(doc_id) FROM documents)))
        |    AS sum_chars,
        |  TRUE AS pruned_url""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(path))
        SnapshotTable.append(
          Tables.documents(s, d).select(
            col("doc_id"),
            concat(lit("https://ex.org/"), col("source"), lit("/"),
              col("doc_id").cast("string")).as("url"),
            col("n_chars")),
          path, numPartitions = 8, statsCol = Some("doc_id"),
          bloomCol = Some("url"))
      }) { (s, d) =>
      val t = s.read.format("graft_table").option("path", path).load()
      import s.implicits._
      val mm = t.agg(min("doc_id"), max("doc_id")).collect().head
      val urls = t.filter(col("doc_id").isin(mm.getLong(0), mm.getLong(1)))
        .select("url").as[String].collect().toSeq.sorted
      val (Array(hit), Seq(Files(p, tot))) = ScanMetrics.collect(
        t.filter(col("url").isin(urls: _*))
          .agg(count(lit(1)).as("n"),
            sum("n_chars").cast("long").as("c")))
      require(p > 0 && p < tot,
        s"string bloom did not prune: planned $p of $tot files")
      Seq((hit.getLong(0), hit.getLong(1), true))
        .toDF("n_hit", "sum_chars", "pruned_url")
    }
  }

  /** q205 — METADATA-ONLY typed partition DELETE, oracle-gated (the
    * r18 fast path was spec-only): on a `days(d) × bucket(4, g)`
    * table a SQL `DELETE FROM ... WHERE d IN (...)` hits only
    * INJECTIVE fields (days over DATE), so matching files hold ONLY
    * matching rows and the new version simply omits them — zero
    * bytes read or written, one manifest commit, "drop a bad day" at
    * any table size. Require-asserted: the commit is op=DELETE with
    * no deletion vectors, every surviving file is carried VERBATIM
    * from v1 (no rewrite), and the file count strictly drops. DuckDB
    * recomputes the post-delete aggregates from raw lineitem — an
    * over-deleted partition (a bucket-field probe sneaking into the
    * fast path) or an under-deleted file changes the counts and
    * hash-mismatches.
    */
  val metaDelete: QueryDef = {
    val wh = Work.oracleDumpPath("q205_warehouse")
    QueryDef("q205_meta_delete",
      """WITH src AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS k,
        |    CAST(l_shipdate AS DATE) AS d,
        |    concat('g', CAST(l_orderkey % 4 AS VARCHAR)) AS g,
        |    CAST(floor(l_quantity * 100) AS BIGINT) AS qty_u
        |  FROM lineitem
        |  WHERE CAST(l_shipdate AS DATE) >= DATE '1995-06-01'
        |    AND CAST(l_shipdate AS DATE) <= DATE '1995-06-30'
        |), kept AS (
        |  SELECT * FROM src
        |  WHERE d NOT IN (DATE '1995-06-10', DATE '1995-06-15')
        |)
        |SELECT
        |  (SELECT count(*) FROM kept) AS n_after,
        |  (SELECT CAST(sum(qty_u) AS BIGINT) FROM kept) AS qty_after,
        |  (SELECT count(DISTINCT d) FROM kept) AS n_days,
        |  TRUE AS meta_only""".stripMargin,
      setup = { (s, d) =>
        useCatalog(s, "q205", wh)
        val p = s"$wh/q205/li"
        Work.wipe(java.nio.file.Paths.get(wh))
        Tables.lineitem(s, d).createOrReplaceTempView("q205_lineitem")
        s.sql("""CREATE TABLE graft_q205.q205.li
          (k BIGINT, d DATE, g STRING, qty_u BIGINT)
          PARTITIONED BY (days(d), bucket(4, g))""")
        s.sql("""INSERT INTO graft_q205.q205.li
          SELECT l_orderkey * 10 + l_linenumber,
            CAST(l_shipdate AS DATE),
            concat('g', CAST(l_orderkey % 4 AS STRING)),
            CAST(floor(l_quantity * 100) AS BIGINT)
          FROM q205_lineitem
          WHERE CAST(l_shipdate AS DATE) >= DATE '1995-06-01'
            AND CAST(l_shipdate AS DATE) <= DATE '1995-06-30'""")
        val v1 = SnapshotTable.readVersion(s, p, 1)
        s.sql("""DELETE FROM graft_q205.q205.li
          WHERE d IN (DATE '1995-06-10', DATE '1995-06-15')""")
        val v2 = SnapshotTable.readVersion(s, p, 2)
        require(v2.op == "DELETE" && v2.dvFiles.isEmpty,
          s"expected a pure DELETE commit, got op=${v2.op} with " +
            s"${v2.dvFiles.size} DV files")
        val v1set = v1.files.toSet
        require(v2.files.forall(v1set.contains),
          "metadata-only delete wrote new files — the fast path " +
            "regressed to a rewrite")
        require(v2.files.length < v1.files.length,
          s"delete dropped no files (${v1.files.length} before/after)")
      }) { (s, d) =>
      useCatalog(s, "q205", wh)
      val r = s.sql("""SELECT count(*) AS n,
          CAST(sum(qty_u) AS BIGINT) AS q,
          count(DISTINCT d) AS nd
        FROM graft_q205.q205.li""").collect().head
      import s.implicits._
      Seq((r.getLong(0), r.getLong(1), r.getLong(2), true))
        .toDF("n_after", "qty_after", "n_days", "meta_only")
    }
  }

  /** q206 — TYPED `compactPartitioned`, oracle-gated (spec-only in
    * r18): four small appends leave every `(days(d) × identity(g))`
    * tuple fragmented; one maintenance pass bin-packs WITHIN each
    * typed tuple (bins never cross a partition, so outputs stay
    * partition-pure by construction) and the file count strictly
    * drops while both pruning dimensions keep working — the identity
    * probe is require-asserted to plan a strict subset of files
    * post-compaction. Compaction must be a pure layout change:
    * DuckDB recomputes the aggregates from raw lineitem, so one row
    * lost, duplicated, or moved across a tuple by the rewrite
    * hash-mismatches.
    */
  val typedCompaction: QueryDef = {
    val p = Work.oracleDumpPath("q206_table")
    QueryDef("q206_typed_compaction",
      """WITH src AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS k,
        |    CAST(l_shipdate AS DATE) AS d,
        |    concat('g', CAST(l_orderkey % 3 AS VARCHAR)) AS g,
        |    CAST(floor(l_quantity * 100) AS BIGINT) AS qty_u
        |  FROM lineitem
        |  WHERE CAST(l_shipdate AS DATE) >= DATE '1995-02-01'
        |    AND CAST(l_shipdate AS DATE) <= DATE '1995-02-14'
        |)
        |SELECT
        |  (SELECT count(*) FROM src) AS n_all,
        |  (SELECT CAST(sum(qty_u) AS BIGINT) FROM src) AS qty_all,
        |  (SELECT count(*) FROM src WHERE g = 'g1') AS n_g1,
        |  (SELECT CAST(sum(qty_u) AS BIGINT) FROM src WHERE g = 'g1')
        |    AS qty_g1,
        |  TRUE AS compacted, TRUE AS pruned""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(p))
        val spec = PartSpec(Seq(
          PartField("d", "days", 0L, "date"),
          PartField("g", "identity", 0L, "string")))
        val src = Tables.lineitem(s, d)
          .filter(col("l_shipdate").cast("date")
            .between("1995-02-01", "1995-02-14"))
          .select(
            (col("l_orderkey") * 10 + col("l_linenumber")).as("k"),
            col("l_shipdate").cast("date").as("d"),
            concat(lit("g"), (col("l_orderkey") % 3).cast("string"))
              .as("g"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        // four appends → ≥4 small files per touched tuple (a residue
        // class can be empty at tiny SFs — generator keys are
        // arbitrary — so empty slices are skipped, not appended)
        (0 until 4).foreach { b =>
          val slice = src.filter(pmod(col("k"), lit(4)) === b)
          if (!slice.isEmpty) SnapshotTable.appendPartitioned(slice, p, spec)
        }
        val before = SnapshotTable.readVersion(s, p,
          SnapshotTable.latestVersion(p))
        val r = SnapshotTable.compactPartitioned(s, p,
          targetBytes = 1L << 30)
        require(r.filesAfter < before.files.length,
          s"typed compaction was a no-op (${r.filesAfter} of " +
            s"${before.files.length} files)")
        val after = SnapshotTable.readVersion(s, p, r.version)
        require(after.op == "OPTIMIZE",
          s"expected an OPTIMIZE commit, got ${after.op}")
      }) { (s, d) =>
      val t = s.read.format("graft_table").option("path", p).load()
      val all = t.agg(count(lit(1)).as("n"),
        sum("qty_u").cast("long").as("q")).collect().head
      val (Array(g1), Seq(Files(pl, tot))) = ScanMetrics.collect(
        t.filter(col("g") === "g1")
          .agg(count(lit(1)).as("n"), sum("qty_u").cast("long").as("q")))
      require(pl > 0 && pl < tot,
        s"identity pruning lost through typed compaction: $pl of $tot")
      import s.implicits._
      Seq((all.getLong(0), all.getLong(1), g1.getLong(0), g1.getLong(1),
        true, true))
        .toDF("n_all", "qty_all", "n_g1", "qty_g1", "compacted", "pruned")
    }
  }

  /** q207 — typed-TUPLE storage-partitioned join, oracle-gated
    * (spec-only in r18): both sides are typed TWO-field identity
    * tables (`identity(g) × identity(m)`), the scans report
    * `KeyGroupedPartitioning` over the full tuple, and the join on
    * BOTH partition sources runs with NO hash-partitioning exchange
    * on either side (require-asserted on the executed plan) — the
    * co-located fact↔fact join shape a 100 TB pipeline needs, where
    * shuffling either side would move the whole table. DuckDB
    * recomputes the join aggregate from raw customer/supplier, so a
    * file grouped under the wrong tuple (rows silently missing from
    * the join) hash-mismatches.
    */
  val typedSpj: QueryDef = {
    val p1 = Work.oracleDumpPath("q207_cust")
    val p2 = Work.oracleDumpPath("q207_supp")
    QueryDef("q207_typed_spj",
      """WITH c AS (
        |  SELECT concat('g', CAST(c_nationkey % 5 AS VARCHAR)) AS g,
        |    CAST(c_custkey % 3 AS BIGINT) AS m,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS c_acct
        |  FROM customer
        |), s AS (
        |  SELECT concat('g', CAST(s_nationkey % 5 AS VARCHAR)) AS g,
        |    CAST(s_suppkey % 3 AS BIGINT) AS m,
        |    CAST(floor(s_acctbal * 100) AS BIGINT) AS s_acct
        |  FROM supplier
        |)
        |SELECT count(*) AS n,
        |  CAST(sum(c.c_acct) AS BIGINT) AS c_sum,
        |  CAST(sum(s.s_acct) AS BIGINT) AS s_sum,
        |  TRUE AS no_shuffle
        |FROM c JOIN s ON c.g = s.g AND c.m = s.m""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(p1))
        Work.wipe(java.nio.file.Paths.get(p2))
        val spec = PartSpec(Seq(
          PartField("g", "identity", 0L, "string"),
          PartField("m", "identity", 0L, "long")))
        SnapshotTable.appendPartitioned(
          Tables.customer(s, d).select(
            concat(lit("g"), (col("c_nationkey") % 5).cast("string"))
              .as("g"),
            (col("c_custkey") % 3).cast("long").as("m"),
            floor(col("c_acctbal") * 100).cast("long").as("c_acct")),
          p1, spec)
        SnapshotTable.appendPartitioned(
          Tables.supplier(s, d).select(
            concat(lit("g"), (col("s_nationkey") % 5).cast("string"))
              .as("g"),
            (col("s_suppkey") % 3).cast("long").as("m"),
            floor(col("s_acctbal") * 100).cast("long").as("s_acct")),
          p2, spec)
      }) { (s, d) =>
      val t1 = s.read.format("graft_table").option("path", p1).load()
      val t2 = s.read.format("graft_table").option("path", p2).load()
      val keys = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val prior = keys.map { case (k, _) => k -> s.conf.getOption(k) }
      keys.foreach { case (k, v) => s.conf.set(k, v) }
      val (r, plan) = try {
        val j = t1.join(t2, Seq("g", "m"))
          .agg(count(lit(1)).as("n"), sum("c_acct").as("c_sum"),
            sum("s_acct").as("s_sum"))
        (j.collect().head, j.queryExecution.executedPlan.toString)
      } finally prior.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
      require(!plan.contains("Exchange hashpartitioning"),
        s"typed-tuple SPJ still shuffles:\n${plan.take(1500)}")
      import s.implicits._
      Seq((r.getLong(0), r.getLong(1), r.getLong(2), true))
        .toDF("n", "c_sum", "s_sum", "no_shuffle")
    }
  }

  /** q208 — PARTITION-AWARE OPTIMIZE ZORDER
    * ([[graft.ops.SnapshotTable.reclusterPartitioned]], Iceberg's
    * sort-order-within-spec): on a `days(d) × bucket(2, g)` table the
    * recluster curve-orders rows INSIDE each partition tuple (hidden
    * values re-derived, outputs tuple-pure by construction) and
    * switches the manifest stats to the Morton key, so rectangle
    * pruning COMPOSES with partition pruning — before r19 the only
    * layout tool inside a typed tuple was bin packing. Asserted, not
    * narrated: the day probe, the curve probe, and their conjunction
    * must each plan a strict subset of files (the conjunction no
    * looser than either dimension), and the change feed across the
    * recluster commit must be EMPTY (row-preserving rewrite). DuckDB
    * recomputes every aggregate from raw lineitem — a row dropped,
    * duplicated, or moved across a tuple by the rewrite, or a wrong
    * corner interval, hash-mismatches.
    */
  val partitionedZorder: QueryDef = {
    val path = Work.oracleDumpPath("q208_table")
    QueryDef("q208_partitioned_zorder",
      """WITH pts AS (
        |  SELECT DATE '1996-01-01' + CAST(l_suppkey % 4 AS INT) AS d,
        |    concat('g', CAST(l_orderkey % 2 AS VARCHAR)) AS g,
        |    l_partkey % 256 AS px, l_orderkey % 256 AS py,
        |    CAST(floor(l_quantity * 100) AS BIGINT) AS qty_u
        |  FROM lineitem)
        |SELECT
        |  (SELECT count(*) FROM pts) AS n_all,
        |  (SELECT count(*) FROM pts WHERE d = DATE '1996-01-02') AS n_day,
        |  (SELECT count(*) FROM pts WHERE px <= 63 AND py <= 63)
        |    AS n_rect,
        |  (SELECT CAST(sum(qty_u) AS BIGINT) FROM pts
        |    WHERE px <= 63 AND py <= 63) AS qty_rect,
        |  (SELECT count(*) FROM pts
        |    WHERE d = DATE '1996-01-02' AND px <= 63 AND py <= 63)
        |    AS n_both,
        |  TRUE AS pruned_day, TRUE AS pruned_curve,
        |  TRUE AS feed_empty""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(path))
        val spec = PartSpec(Seq(
          PartField("d", "days", 0L, "date"),
          PartField("g", "bucket", 2L, "string")))
        val base = Tables.lineitem(s, d).select(
          date_add(lit("1996-01-01").cast("date"),
            pmod(col("l_suppkey"), lit(4)).cast("int")).as("d"),
          concat(lit("g"), pmod(col("l_orderkey"), lit(2)).cast("string"))
            .as("g"),
          pmod(col("l_partkey"), lit(256)).cast("long").as("px"),
          pmod(col("l_orderkey"), lit(256)).cast("long").as("py"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"),
          monotonically_increasing_id().as("arr"))
          .withColumn("z", graft.functions.ZOrderExpr.zorder(
            col("px"), col("py"), 8))
        SnapshotTable.appendPartitioned(base, path, spec,
          statsCol = Some("arr"))
        val r = SnapshotTable.reclusterPartitioned(s, path, "z", 32)
        require(r.version == 2,
          s"recluster committed v${r.version}, expected 2")
        require(SnapshotTable.changes(s, path, 1, 2).count() == 0,
          "recluster must be row-preserving (empty change feed)")
      }) { (s, d) =>
      val t = s.read.format("graft_table").option("path", path).load()
      val nAll = t.count()
      val day = java.time.LocalDate.parse("1996-01-02")
      val (nDay, Files(pd, tot)) = ScanMetrics.rowCount(t.filter(col("d") === lit(day)))
      require(pd > 0 && pd < tot,
        s"days() pruning failed post-recluster: planned $pd of $tot")
      val zHi = graft.functions.ZOrderExpr.interleave(63, 63, 8)
      val (Array(rect), Seq(Files(pz, _))) = ScanMetrics.collect(
        t.filter(col("z") <= zHi && col("px") <= 63 && col("py") <= 63)
          .agg(count(lit(1)).as("n"), sum("qty_u").cast("long").as("q")))
      require(pz > 0 && pz < tot,
        s"curve rectangle pruning failed: planned $pz of $tot")
      val (nBoth, Files(pb, _)) = ScanMetrics.rowCount(t.filter(col("d") === lit(day) &&
        col("z") <= zHi && col("px") <= 63 && col("py") <= 63))
      require(pb <= math.min(pd, pz),
        s"composed pruning ($pb) looser than either dimension ($pd, $pz)")
      import s.implicits._
      Seq((nAll, nDay, rect.getLong(0), rect.getLong(1), nBoth,
        true, true, true))
        .toDF("n_all", "n_day", "n_rect", "qty_rect", "n_both",
          "pruned_day", "pruned_curve", "feed_empty")
    }
  }

  /** q209 — WRITE-AUDIT-PUBLISH via branches
    * ([[graft.ops.SnapshotTable.createBranch]]/`fastForward`): the
    * lakehouse governance workflow the log lacked — staged commits
    * advance the HEAD (and a staging branch) while readers follow the
    * published `main` ref; an audit runs against the staging ref's
    * version; publishing is ONE atomic metadata-only ref update (in a
    * linear log every higher version descends from every lower one,
    * so fast-forward is structural). Two staged batches: the first
    * passes its audit (zero quality violations) and is published; the
    * second carries a poisoned row, FAILS the audit, and is NOT
    * published — require-asserted that `main` still pins the previous
    * version and its row count is unchanged, while the head sees the
    * poison. DuckDB recomputes the published aggregates (slices A+B),
    * the head count (A+B+C+1 poison), and the violation count — a
    * ref that moved on the failed audit, or a publish that rewrote
    * data, changes the counts and hash-mismatches.
    */
  val writeAuditPublish: QueryDef = {
    val path = Work.oracleDumpPath("q209_table")
    QueryDef("q209_write_audit_publish",
      """WITH a AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS k,
        |    CAST(floor(l_quantity * 100) AS BIGINT) AS qty_u
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-02-01'
        |), b AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS k,
        |    CAST(floor(l_quantity * 100) AS BIGINT) AS qty_u
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-02-01'
        |    AND l_shipdate < TIMESTAMP '1996-03-01'
        |), c AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS k,
        |    CAST(floor(l_quantity * 100) AS BIGINT) AS qty_u
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-999 AS BIGINT)
        |), pub AS (SELECT * FROM a UNION ALL SELECT * FROM b)
        |SELECT
        |  (SELECT count(*) FROM pub) AS n_pub,
        |  (SELECT CAST(sum(qty_u) AS BIGINT) FROM pub) AS qty_pub,
        |  (SELECT count(*) FROM pub) + (SELECT count(*) FROM c)
        |    AS n_head,
        |  CAST(1 AS BIGINT) AS n_violations,
        |  TRUE AS audit_blocked""".stripMargin,
      setup = { (s, d) =>
        def slice(lo: String, hi: String) = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit(lo).cast("timestamp") &&
            col("l_shipdate") < lit(hi).cast("timestamp"))
          .select((col("l_orderkey") * 10 + col("l_linenumber")).as("k"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        Work.wipe(java.nio.file.Paths.get(path))
        import s.implicits._
        SnapshotTable.append(slice("1996-01-01", "1996-02-01"),
          path, 4, statsCol = Some("k"))
        SnapshotTable.createBranch(path, "main") // published = v1
        // stage B, audit, publish
        SnapshotTable.append(slice("1996-02-01", "1996-03-01"),
          path, 4, statsCol = Some("k"))
        SnapshotTable.createBranch(path, "staging")
        val (sb, _, _) = SnapshotTable.scanRef(s, path, "staging")
        require(sb.filter(col("qty_u") < 0).count() == 0,
          "audit of the good batch found violations — fixture broken")
        SnapshotTable.fastForward(path, "main", "staging")
        // stage C with a poisoned row; audit fails; DO NOT publish
        SnapshotTable.append(
          slice("1996-03-01", "1996-04-01")
            .union(Seq((-1L, -999L)).toDF("k", "qty_u")),
          path, 4, statsCol = Some("k"))
        SnapshotTable.advanceBranch(path, "staging", 3)
      }) { (s, d) =>
      val (staged, _, _) = SnapshotTable.scanRef(s, path, "staging")
      val nViol = staged.filter(col("qty_u") < 0).count()
      require(nViol > 0, "the audit should flag the poisoned batch")
      // the failed audit left main at the PUBLISHED version
      require(SnapshotTable.resolveRef(path, "main").version == 2,
        s"main moved without a publish: " +
          s"v${SnapshotTable.resolveRef(path, "main").version}")
      val t = s.read.format("graft_table").option("path", path)
        .option("ref", "main").load()
      val pub = t.agg(count(lit(1)).as("n"),
        sum("qty_u").cast("long").as("q")).collect().head
      require(t.filter(col("qty_u") < 0).count() == 0,
        "published state leaked the poisoned row")
      val nHead = s.read.format("graft_table").option("path", path)
        .load().count()
      import s.implicits._
      Seq((pub.getLong(0), pub.getLong(1), nHead, nViol, true))
        .toDF("n_pub", "qty_pub", "n_head", "n_violations",
          "audit_blocked")
    }
  }

  /** q210 — NDV statistics drive the optimizer, oracle-gated (the
    * r19 sketch plane was spec-only until here): both sides are
    * snapshot tables whose manifests carry per-file KMV sketches for
    * the declared stats columns ([[graft.ops.NdvSketch]]); the scan
    * serves merged `distinctCount` through
    * `SupportsReportStatistics`, so under CBO the dim side's equality
    * filter prices at rows/NDV and the join plans a BROADCAST where
    * size-only estimation keeps a sort-merge — both plans
    * require-asserted (the control guards against the flip being
    * free). The probe key is data-derived (min o_custkey); the filter
    * column is scattered across every file so static pruning cannot
    * shrink the scan — only the NDV estimate can. DuckDB recomputes
    * the join aggregate from raw lineitem ⋈ orders, so a wrong NDV
    * can only change the PLAN, never the answer — and a broken scan
    * under either plan hash-mismatches.
    */
  val ndvBroadcast: QueryDef = {
    val p1 = Work.oracleDumpPath("q210_fact")
    val p2 = Work.oracleDumpPath("q210_dim")
    QueryDef("q210_ndv_broadcast",
      """WITH probe AS (SELECT min(o_custkey) AS c FROM orders)
        |SELECT count(*) AS n,
        |  CAST(sum(CAST(floor(l.l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty_u,
        |  TRUE AS cbo_broadcast, TRUE AS sizeonly_smj
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_custkey = (SELECT c FROM probe)""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(p1))
        Work.wipe(java.nio.file.Paths.get(p2))
        SnapshotTable.append(
          Tables.lineitem(s, d).select(
            col("l_orderkey").as("k"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u"),
            concat(lit("x" * 48), col("l_orderkey").cast("string"))
              .as("pad1")),
          p1, 4, statsCol = Some("k"))
        SnapshotTable.append(
          Tables.orders(s, d).select(
            col("o_orderkey").as("u"),
            col("o_custkey").cast("long").as("cust"),
            concat(lit("y" * 48), col("o_orderkey").cast("string"))
              .as("pad2")),
          p2, 4, statsCol = Some("u"), statsCols = Seq("cust"))
      }) { (s, d) =>
      val dim0 = s.read.format("graft_table").option("path", p2).load()
      val minCust = dim0.agg(min("cust")).collect().head.getLong(0)
      // SF-independent threshold: a quarter of the dim's REAL bytes —
      // the unfiltered scan always reports 4x the threshold (control
      // stays sort-merge), while the CBO estimate rows/NDV(cust) is
      // ~rows/150 of it (flip fires) at every scale factor
      val dimBytes = SnapshotTable.readVersion(s, p2, 1)
        .fileBytes.get.sum
      def plan(cbo: Boolean): (String, org.apache.spark.sql.Row) = {
        val keys = Seq(
          "spark.sql.cbo.enabled" -> cbo.toString,
          "spark.sql.autoBroadcastJoinThreshold" -> (dimBytes / 4).toString,
          "spark.sql.adaptive.enabled" -> "false")
        val prior = keys.map { case (k, _) => k -> s.conf.getOption(k) }
        keys.foreach { case (k, v) => s.conf.set(k, v) }
        try {
          val fact = s.read.format("graft_table").option("path", p1).load()
          val dim = s.read.format("graft_table").option("path", p2).load()
            .filter(col("cust") === minCust)
          val j = fact.join(dim, col("k") === col("u"))
            .agg(count(lit(1)).as("n"),
              sum("qty_u").cast("long").as("q"),
              max(length(col("pad1"))), max(length(col("pad2"))))
          (j.queryExecution.executedPlan.toString, j.collect().head)
        } finally prior.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      }
      val (withCbo, r) = plan(cbo = true)
      require(withCbo.contains("BroadcastHashJoin"),
        s"NDV stats did not flip the join to broadcast:\n" +
          withCbo.take(1200))
      val (withoutCbo, r2) = plan(cbo = false)
      require(!withoutCbo.contains("BroadcastHashJoin"),
        "control broken: size-only estimation already broadcasts — " +
          "the flip proves nothing\n" + withoutCbo.take(1200))
      require(r.getLong(0) == r2.getLong(0) && r.getLong(1) == r2.getLong(1),
        "the two plans disagree on the answer")
      import s.implicits._
      Seq((r.getLong(0), r.getLong(1), true, true))
        .toDF("n", "qty_u", "cbo_broadcast", "sizeonly_smj")
    }
  }

  /** q211 — publish-as-CHERRY-PICK
    * ([[graft.ops.SnapshotTable.publish]]): write-audit-publish made
    * safe under CONCURRENT staged writers. On a linear log a
    * failed-audit batch stays an ancestor of every later version, so
    * fast-forwarding past any later batch silently publishes the
    * poison too (the r19 gap). [[graft.ops.SnapshotTable.stageBranch]]
    * records each batch's log parent; publish re-commits exactly the
    * audited batch's delta on top of the published pin — one
    * metadata-only commit, zero data movement, the unpublished
    * batch's files, DVs, and txn watermarks all excluded. Flow: A is
    * published; C (poisoned) stages and FAILS its audit; a cleanup E
    * that rewrote C's file in place is REFUSED at publish
    * (ConcurrentModificationException — it touched unpublished data);
    * D stages on top of all of that, passes its audit, and publishes
    * by cherry-pick. DuckDB recomputes the published aggregates
    * (slices A+D — C and its poison absent), the staged lineage count
    * (A+C+poison), and the published violation count (0): a publish
    * that carried C, or one that rewrote data, hash-mismatches.
    */
  val publishCherryPick: QueryDef = {
    val path = Work.oracleDumpPath("q211_table")
    QueryDef("q211_publish_cherry_pick",
      """WITH a AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS k,
        |    CAST(floor(l_quantity * 100) AS BIGINT) AS qty_u
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-02-01'
        |), c AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS k,
        |    CAST(floor(l_quantity * 100) AS BIGINT) AS qty_u
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-02-01'
        |    AND l_shipdate < TIMESTAMP '1997-03-01'
        |  UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-999 AS BIGINT)
        |), d AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS k,
        |    CAST(floor(l_quantity * 100) AS BIGINT) AS qty_u
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-03-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |), pub AS (SELECT * FROM a UNION ALL SELECT * FROM d)
        |SELECT
        |  (SELECT count(*) FROM pub) AS n_pub,
        |  (SELECT CAST(sum(qty_u) AS BIGINT) FROM pub) AS qty_pub,
        |  (SELECT count(*) FROM a) + (SELECT count(*) FROM c)
        |    AS n_stage,
        |  CAST(0 AS BIGINT) AS n_violations,
        |  TRUE AS cherry_picked, TRUE AS conflict_rejected""".stripMargin,
      setup = { (s, d) =>
        def slice(lo: String, hi: String) = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit(lo).cast("timestamp") &&
            col("l_shipdate") < lit(hi).cast("timestamp"))
          .select((col("l_orderkey") * 10 + col("l_linenumber")).as("k"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        Work.wipe(java.nio.file.Paths.get(path))
        import s.implicits._
        SnapshotTable.append(slice("1997-01-01", "1997-02-01"),
          path, 4, statsCol = Some("k"))          // A = v1
        SnapshotTable.createBranch(path, "main")  // published = v1
        // batch C: poisoned; staged with its log parent recorded
        SnapshotTable.append(
          slice("1997-02-01", "1997-03-01")
            .union(Seq((-1L, -999L)).toDF("k", "qty_u")),
          path, 4, statsCol = Some("k"))          // C = v2
        SnapshotTable.createBranch(path, "staging", 2)
        SnapshotTable.stageBranch(path, "staging", 2, 1)
        // batch E: "fix" C in place — COW-delete the poison row,
        // which rewrites C's file (k = -1 is the global minimum, so
        // exactly the poisoned file is hit)
        SnapshotTable.deleteStatsRange(s, path, -1L, -1L) // E = v3
        SnapshotTable.stageBranch(path, "staging", 3, 2)
        // batch D: clean
        SnapshotTable.append(slice("1997-03-01", "1997-04-01"),
          path, 4, statsCol = Some("k"))          // D = v4
      }) { (s, d) =>
      // put the refs back where setup left them (metadata-only ref
      // writes), so every run does the rejection and the cherry-pick
      // publish; each publish commits one more log version
      SnapshotTable.dropRef(path, "main")
      SnapshotTable.createBranch(path, "main", 1)
      SnapshotTable.dropRef(path, "staging")
      SnapshotTable.createBranch(path, "staging", 3)
      SnapshotTable.stageBranch(path, "staging", 3, 2)
      // audit C at its staged version: the poison is there
      val nViol = SnapshotTable.scanAt(s, path, 2)._1
        .filter(col("qty_u") < 0).count()
      require(nViol == 1, s"staged poison count $nViol")
      // E cannot publish: it rewrote an UNPUBLISHED batch's file
      val conflictRejected =
        try { SnapshotTable.publish(s, path, "main", "staging"); false }
        catch { case _: java.util.ConcurrentModificationException =>
          true }
      require(conflictRejected,
        "publish accepted a batch that rewrote unpublished data")
      require(SnapshotTable.resolveRef(path, "main").version == 1 ||
        SnapshotTable.resolveRef(path, "main").kind != "branch" ||
        SnapshotTable.resolveRef(path, "main").version >= 4,
        "rejected publish moved the published ref")
      // D passes its audit and publishes by cherry-pick
      SnapshotTable.stageBranch(path, "staging", 4, 3)
      val pr = SnapshotTable.publish(s, path, "main", "staging")
      require(pr.mode == "cherry-pick",
        s"expected cherry-pick, got ${pr.mode}")
      val t = s.read.format("graft_table").option("path", path)
        .option("ref", "main").load()
      val pubViol = t.filter(col("qty_u") < 0).count()
      require(pubViol == 0,
        "published state leaked the poisoned batch via fast-forward")
      val pub = t.agg(count(lit(1)).as("n"),
        sum("qty_u").cast("long").as("q")).collect().head
      val nStage = SnapshotTable.scanAt(s, path, 2)._3
      import s.implicits._
      Seq((pub.getLong(0), pub.getLong(1), nStage, pubViol, true, true))
        .toDF("n_pub", "qty_pub", "n_stage", "n_violations",
          "cherry_picked", "conflict_rejected")
    }
  }

  /** q212 — DV-AWARE OPTIMIZE ZORDER on a typed-partitioned table
    * ([[graft.ops.SnapshotTable.reclusterPartitioned]] r20): a
    * curated table (MOR deletion vectors from a curation pass) used
    * to demand a separate materializeDeletes before any re-layout —
    * two full rewrites where one suffices. The recluster read now
    * subtracts DV positions (the same anti-join every scan applies)
    * and the rewrite doubles as the materialize: ONE pass, the new
    * version carries no DVs, and curve-order within each days×bucket
    * tuple composes with partition pruning exactly as q208. DuckDB
    * recomputes the post-delete aggregates from raw lineitem minus
    * the deleted predicate — a resurrection (DV dropped instead of
    * applied) or a lost row changes counts/sums and hash-mismatches;
    * day and rectangle pruning are require-asserted on the scan
    * planner's file counts.
    */
  val dvZorder: QueryDef = {
    val path = Work.oracleDumpPath("q212_table")
    QueryDef("q212_dv_zorder",
      """WITH pts AS (
        |  SELECT DATE '1996-01-01' + CAST(l_suppkey % 4 AS INT) AS d,
        |    concat('g', CAST(l_orderkey % 2 AS VARCHAR)) AS g,
        |    l_partkey % 256 AS px, l_orderkey % 256 AS py,
        |    CAST(floor(l_quantity * 100) AS BIGINT) AS qty_u
        |  FROM lineitem),
        |live AS (SELECT * FROM pts WHERE px <> 0)
        |SELECT
        |  (SELECT count(*) FROM live) AS n_live,
        |  (SELECT count(*) FROM pts) - (SELECT count(*) FROM live)
        |    AS n_deleted,
        |  (SELECT count(*) FROM live WHERE d = DATE '1996-01-02')
        |    AS n_day,
        |  (SELECT CAST(sum(qty_u) AS BIGINT) FROM live
        |    WHERE px <= 63 AND py <= 63) AS qty_rect,
        |  CAST(0 AS BIGINT) AS n_resurrected,
        |  TRUE AS dv_folded, TRUE AS pruned_day,
        |  TRUE AS pruned_curve""".stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(path))
        val spec = PartSpec(Seq(
          PartField("d", "days", 0L, "date"),
          PartField("g", "bucket", 2L, "string")))
        val base = Tables.lineitem(s, d).select(
          date_add(lit("1996-01-01").cast("date"),
            pmod(col("l_suppkey"), lit(4)).cast("int")).as("d"),
          concat(lit("g"), pmod(col("l_orderkey"), lit(2)).cast("string"))
            .as("g"),
          pmod(col("l_partkey"), lit(256)).cast("long").as("px"),
          pmod(col("l_orderkey"), lit(256)).cast("long").as("py"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"),
          monotonically_increasing_id().as("arr"))
          .withColumn("z", graft.functions.ZOrderExpr.zorder(
            col("px"), col("py"), 8))
        SnapshotTable.appendPartitioned(base, path, spec,
          statsCol = Some("arr"))
        // curation pass: MOR-delete a scattered slice (px = 0 hits
        // every partition) — deletion vectors, no rewrite
        val (v2, nDel) =
          SnapshotTable.deleteRowsWhere(s, path, "px = 0")
        require(nDel > 0, "fixture: the curation delete hit no rows")
        require(SnapshotTable.readVersion(s, path, v2)
          .dvFiles.nonEmpty, "fixture: delete was not MOR")
        // re-layout DIRECTLY on the DV-carrying table — one pass
        val r = SnapshotTable.reclusterPartitioned(s, path, "z", 32)
        require(SnapshotTable.readVersion(s, path, r.version)
          .dvFiles.isEmpty, "recluster must fold the DVs")
        require(SnapshotTable.changes(s, path, v2, r.version)
          .count() == 0,
          "DV-aware recluster must preserve logical content")
      }) { (s, d) =>
      val t = s.read.format("graft_table").option("path", path).load()
      val nLive = t.count()
      val nDeleted = t.filter(col("px") === 0).count() // must be 0 live
      require(nDeleted == 0, "MOR-deleted rows resurrected")
      val nDel = Tables.lineitem(s, d)
        .filter(pmod(col("l_partkey"), lit(256)) === 0).count()
      val day = java.time.LocalDate.parse("1996-01-02")
      val (nDay, Files(pd, tot)) = ScanMetrics.rowCount(t.filter(col("d") === lit(day)))
      require(pd > 0 && pd < tot,
        s"days() pruning failed post-recluster: planned $pd of $tot")
      val zHi = graft.functions.ZOrderExpr.interleave(63, 63, 8)
      val (Array(qr), Seq(Files(pz, _))) = ScanMetrics.collect(
        t.filter(col("z") <= zHi && col("px") <= 63 && col("py") <= 63)
          .agg(sum("qty_u").cast("long")))
      val qtyRect = qr.getLong(0)
      require(pz > 0 && pz < tot,
        s"curve rectangle pruning failed: planned $pz of $tot")
      import s.implicits._
      Seq((nLive, nDel, nDay, qtyRect, nDeleted, true, true, true))
        .toDF("n_live", "n_deleted", "n_day", "qty_rect",
          "n_resurrected", "dv_folded", "pruned_day", "pruned_curve")
    }
  }

  /** q213 — NDV statistics drive MULTI-JOIN REORDER, oracle-gated
    * (the second thing `distinctCount` buys after q210's broadcast
    * flip): a 3-table star written in the WORST syntactic order —
    * fact ⋈ wide dim first, selective dim last. Under
    * `spark.sql.cbo.joinReorder.enabled` the per-file KMV NDV
    * sketches served through `SupportsReportStatistics` let
    * FilterEstimation price the dim filter at rows/NDV and
    * CostBasedJoinReorder flip the join ORDER (selective dim joins
    * the fact FIRST — at 100 TB the difference between a fact-sized
    * and a filter-sized intermediate). Plan-asserted both ways: with
    * CBO the selective dim's scan sits in the INNER join, the
    * size-only control keeps the written order (guards against the
    * flip being free). DuckDB recomputes the star aggregate from raw
    * lineitem ⋈ orders ⋈ part, so a wrong NDV can only change the
    * PLAN, never the answer.
    */
  val ndvJoinReorder: QueryDef = {
    val pf = Work.oracleDumpPath("q213_fact")
    val pa = Work.oracleDumpPath("q213_dima")
    val pb = Work.oracleDumpPath("q213_dimb")
    QueryDef("q213_ndv_join_reorder",
      """WITH probe AS (SELECT min(o_custkey) AS c FROM orders)
        |SELECT count(*) AS n,
        |  CAST(sum(CAST(floor(l.l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty_u,
        |  TRUE AS cbo_reordered, TRUE AS sizeonly_syntactic
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_custkey = (SELECT c FROM probe)""".stripMargin,
      setup = { (s, d) =>
        Seq(pf, pa, pb).foreach(p =>
          Work.wipe(java.nio.file.Paths.get(p)))
        SnapshotTable.append(
          Tables.lineitem(s, d).select(
            col("l_orderkey").as("ko"),
            col("l_partkey").as("kp"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u")),
          pf, 4, statsCol = Some("ko"), statsCols = Seq("kp"))
        SnapshotTable.append(
          Tables.orders(s, d).select(
            col("o_orderkey").as("u"),
            col("o_custkey").cast("long").as("cust"),
            concat(lit("a" * 48), col("o_orderkey").cast("string"))
              .as("pada")),
          pa, 4, statsCol = Some("u"), statsCols = Seq("cust"))
        SnapshotTable.append(
          Tables.part(s, d).select(
            col("p_partkey").as("w"),
            col("p_size").cast("long").as("psize"),
            concat(lit("b" * 48), col("p_partkey").cast("string"))
              .as("padb")),
          pb, 4, statsCol = Some("w"))
      }) { (s, d) =>
      val minCust = s.read.format("graft_table").option("path", pa)
        .load().agg(min("cust")).collect().head.getLong(0)
      def plan(cbo: Boolean): (String, org.apache.spark.sql.Row) = {
        val keys = Seq(
          "spark.sql.cbo.enabled" -> cbo.toString,
          "spark.sql.cbo.joinReorder.enabled" -> cbo.toString,
          "spark.sql.adaptive.enabled" -> "false")
        val prior = keys.map { case (k, _) => k -> s.conf.getOption(k) }
        keys.foreach { case (k, v) => s.conf.set(k, v) }
        try {
          val fact = s.read.format("graft_table").option("path", pf).load()
          val dimA = s.read.format("graft_table").option("path", pa)
            .load().filter(col("cust") === minCust)
          val dimB = s.read.format("graft_table").option("path", pb).load()
          // WRITTEN order: wide dim first — the trap a size-only
          // planner walks into
          val j = fact.join(dimB, col("kp") === col("w"))
            .join(dimA, col("ko") === col("u"))
            .agg(count(lit(1)).as("n"),
              sum("qty_u").cast("long").as("q"),
              max(length(col("pada"))), max(length(col("padb"))))
          (j.queryExecution.executedPlan.toString, j.collect().head)
        } finally prior.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      }
      // the OUTER join prints first in the tree: syntactic order makes
      // the kp⋈w (wide dim) join the INNER one, the reordered plan
      // makes ko⋈u (selective dim) inner. Match the join nodes' own
      // condition text — scan paths are unreliable markers because the
      // runtime-pruning subquery nests a dim scan inside the fact scan
      def joinOrder(p: String): (Int, Int) =
        (p.indexOf("Join [ko"), p.indexOf("Join [kp"))
      val (withCbo, r) = plan(cbo = true)
      val (ko1, kp1) = joinOrder(withCbo)
      require(ko1 >= 0 && kp1 >= 0 && kp1 < ko1,
        s"NDV stats did not reorder the star (selective dim still " +
          s"joins last: ko@$ko1 kp@$kp1):\n" + withCbo.take(1500))
      val (noCbo, r2) = plan(cbo = false)
      val (ko2, kp2) = joinOrder(noCbo)
      require(ko2 >= 0 && kp2 >= 0 && ko2 < kp2,
        "control broken: the size-only plan already joins the " +
          "selective dim first — the reorder proves nothing\n" +
          noCbo.take(1500))
      require(r.getLong(0) == r2.getLong(0) && r.getLong(1) == r2.getLong(1),
        "the two join orders disagree on the answer")
      import s.implicits._
      Seq((r.getLong(0), r.getLong(1), true, true))
        .toDF("n", "qty_u", "cbo_reordered", "sizeonly_syntactic")
    }
  }

  /** q214 — the DECIMAL plane, oracle-gated: a DECIMAL(18,2) money
    * column served by every typed surface at once — per-file bounds
    * (statsCols), hidden partitioning (`truncate(10000)` = 100-unit
    * bins over the UNSCALED cents), and a native bloom index — all
    * keyed on the unscaled long (p ≤ 18, exact; DuckDB's decimals
    * replicate it bit-for-bit, no float-hash dodge). Three probes,
    * each plane's contribution require-asserted on planner file
    * counts: an equality probe (partition+stats+bloom compose), a
    * range probe (monotone truncate + bounds), and an ABSENT value
    * inside a live bin's [min,max] — only the bloom can prove that
    * file away, so the scan must plan ZERO files. DuckDB recomputes
    * every aggregate in exact decimal arithmetic.
    */
  val decimalMoney: QueryDef = {
    val path = Work.oracleDumpPath("q214_table")
    QueryDef("q214_decimal_money",
      """WITH t AS (
        |  SELECT CAST(CAST(l_partkey AS DECIMAL(15,2)) + 0.25
        |      AS DECIMAL(18,2)) AS money,
        |    CAST(floor(l_quantity * 100) AS BIGINT) AS qty_u
        |  FROM lineitem),
        |probe AS (
        |  SELECT CAST(CAST(min(l_partkey) AS DECIMAL(15,2)) + 0.25
        |      AS DECIMAL(18,2)) AS m FROM lineitem),
        |rngb AS (
        |  SELECT CAST(CAST(CAST(floor(max(l_partkey) / 4.0) AS BIGINT)
        |      AS DECIMAL(15,2)) AS DECIMAL(18,2)) AS lo,
        |    CAST(CAST(CAST(floor(max(l_partkey) / 2.0) AS BIGINT)
        |      AS DECIMAL(15,2)) AS DECIMAL(18,2)) AS hi FROM lineitem)
        |SELECT
        |  (SELECT count(*) FROM t WHERE money = (SELECT m FROM probe))
        |    AS n_eq,
        |  (SELECT CAST(sum(qty_u) AS BIGINT) FROM t
        |    WHERE money = (SELECT m FROM probe)) AS qty_eq,
        |  (SELECT count(*) FROM t
        |    WHERE money >= (SELECT lo FROM rngb)
        |      AND money < (SELECT hi FROM rngb)) AS n_rng,
        |  (SELECT CAST(sum(money) * 100 AS BIGINT) FROM t
        |    WHERE money >= (SELECT lo FROM rngb)
        |      AND money < (SELECT hi FROM rngb)) AS cents_rng,
        |  CAST(0 AS BIGINT) AS n_absent,
        |  TRUE AS pruned_eq, TRUE AS bloom_zero, TRUE AS pruned_rng"""
        .stripMargin,
      setup = { (s, d) =>
        Work.wipe(java.nio.file.Paths.get(path))
        val df = Tables.lineitem(s, d).select(
          col("l_partkey").cast("decimal(15,2)")
            .plus(lit(new java.math.BigDecimal("0.25")))
            .cast("decimal(18,2)").as("money"),
          floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        SnapshotTable.appendPartitioned(df, path,
          PartSpec(Seq(PartField("money", "truncate", 10000L,
            "decimal(18,2)"))),
          statsCols = Seq("money"), bloomCol = Some("money"))
      }) { (s, d) =>
      val pkr = Tables.lineitem(s, d)
        .agg(min("l_partkey"), max("l_partkey")).collect().head
      val (minPk, maxPk) = (pkr.getLong(0), pkr.getLong(1))
      val probe = new java.math.BigDecimal(minPk).setScale(2)
        .add(new java.math.BigDecimal("0.25"))
      // SF-independent range: [maxPk/4, maxPk/2) whole units — always
      // populated and always a strict subset of the bins
      val rngLo = new java.math.BigDecimal(maxPk / 4).setScale(2)
      val rngHi = new java.math.BigDecimal(maxPk / 2).setScale(2)
      val t = s.read.format("graft_table").option("path", path).load()
      val (Array(eq), Seq(Files(rEq, total))) = ScanMetrics.collect(
        t.filter(col("money") === lit(probe))
          .agg(count(lit(1)).as("n"), sum("qty_u").cast("long").as("q")))
      require(rEq > 0 && rEq < total,
        s"decimal equality probe did not prune: $rEq/$total")
      // a value INSIDE the kept bin's bounds that never occurs (.26
      // cents — every real value ends .25): partition and stats keep
      // the bin, only the bloom proves it empty → zero files planned
      val (nAbsent, Files(rAb, _)) = ScanMetrics.rowCount(t.filter(col("money") ===
        lit(probe.add(new java.math.BigDecimal("0.01")))))
      require(nAbsent == 0 && rAb == 0,
        s"bloom did not prove the absent value away: $rAb files planned")
      val (Array(rng), Seq(Files(rRng, _))) = ScanMetrics.collect(
        t.filter(col("money") >= lit(rngLo) && col("money") < lit(rngHi))
          .agg(count(lit(1)).as("n"),
            (sum("money") * 100).cast("long").as("c")))
      require(rRng > 0 && rRng < total,
        s"decimal range probe did not prune: $rRng/$total")
      import s.implicits._
      Seq((eq.getLong(0), eq.getLong(1), rng.getLong(0), rng.getLong(1),
        nAbsent, true, true, true))
        .toDF("n_eq", "qty_eq", "n_rng", "cents_rng", "n_absent",
          "pruned_eq", "bloom_zero", "pruned_rng")
    }
  }

  /** q215 — STREAM INTO A BRANCH, oracle-gated (r20): a streaming
    * backfill composed with write-audit-publish. The sink takes
    * `.option("ref", "staging")` — every micro-batch epoch advances
    * the staging branch (with the stream RUN's base recorded), while
    * `main` readers keep the published pin; after the run the audit
    * runs against the staging ref and [[graft.ops.SnapshotTable
    * .publish]] cherry-picks exactly the run's epochs onto `main` —
    * a poisoned batch that landed on the head BEFORE the run (failed
    * its audit, was abandoned) is excluded by the delta, where a
    * fast-forward would silently publish it. Require-asserted: main
    * unchanged after the run, staging records the base, publish mode
    * is cherry-pick, the published state carries zero violations.
    * DuckDB recomputes the published aggregates (A + the streamed
    * slices) and the staged-lineage count.
    */
  val streamToBranch: QueryDef = {
    val path = Work.oracleDumpPath("q215_table")
    QueryDef("q215_stream_to_branch",
      """WITH a AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS k,
        |    CAST(floor(l_quantity * 100) AS BIGINT) AS qty_u
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |    AND l_shipdate < TIMESTAMP '1995-02-01'
        |), strm AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS k,
        |    CAST(floor(l_quantity * 100) AS BIGINT) AS qty_u
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1995-02-01'
        |    AND l_shipdate < TIMESTAMP '1995-04-01'
        |), pub AS (SELECT * FROM a UNION ALL SELECT * FROM strm)
        |SELECT
        |  (SELECT count(*) FROM pub) AS n_pub,
        |  (SELECT CAST(sum(qty_u) AS BIGINT) FROM pub) AS qty_pub,
        |  (SELECT count(*) FROM a) AS n_main_mid,
        |  CAST(0 AS BIGINT) AS n_violations,
        |  TRUE AS staged_base, TRUE AS cherry_picked""".stripMargin,
      setup = { (s, d) =>
        def slice(lo: String, hi: String) = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit(lo).cast("timestamp") &&
            col("l_shipdate") < lit(hi).cast("timestamp"))
          .select((col("l_orderkey") * 10 + col("l_linenumber")).as("k"),
            floor(col("l_quantity") * 100).cast("long").as("qty_u"))
        Work.wipe(java.nio.file.Paths.get(path))
        import s.implicits._
        SnapshotTable.append(slice("1995-01-01", "1995-02-01"),
          path, 4, statsCol = Some("k"))          // A = v1
        SnapshotTable.createBranch(path, "main")  // published = v1
        // a poisoned batch lands on the HEAD and fails its audit
        SnapshotTable.append(Seq((-1L, -999L)).toDF("k", "qty_u"),
          path, 1, statsCol = Some("k"))          // C = v2, abandoned
        SnapshotTable.createBranch(path, "staging")
        // the streamed backfill: Feb+Mar as a file-per-trigger stream
        val srcDir = Work.stableDir(
          s"q215-src-${math.abs(d.hashCode)}").toString
        Work.wipe(java.nio.file.Paths.get(srcDir))
        slice("1995-02-01", "1995-04-01").repartition(3)
          .write.mode("overwrite").parquet(srcDir)
        val ckpt = Work.stableDir(s"q215-ckpt-${math.abs(d.hashCode)}")
        Work.wipe(ckpt)
        val q = s.readStream
          .schema(s.read.parquet(srcDir).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir)
          .writeStream.format("graft_table")
          .option("path", path)
          .option("ref", "staging")
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val st = SnapshotTable.resolveRef(path, "staging")
        require(st.base == 2L,
          s"staging must record the run's base v2, got v${st.base}")
        require(st.version >= 4L,
          s"expected ≥2 streamed epochs, staging at v${st.version}")
        // MID-RUN isolation: main still pins the published version
        require(SnapshotTable.resolveRef(path, "main").version == 1L,
          "main moved while the stream was staging")
        // audit the run's slice on the staging ref, then publish
        val (staged, _, _) = SnapshotTable.scanRef(s, path, "staging")
        require(staged.filter(col("k") >= 0L)
          .filter(col("qty_u") < 0).count() == 0,
          "the streamed slice audits dirty — fixture broken")
        val pr = SnapshotTable.publish(s, path, "main", "staging")
        require(pr.mode == "cherry-pick",
          s"expected cherry-pick past the poisoned ancestor: $pr")
      }) { (s, d) =>
      val nMainMid = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-02-01").cast("timestamp")).count()
      val t = s.read.format("graft_table").option("path", path)
        .option("ref", "main").load()
      val nViol = t.filter(col("qty_u") < 0).count()
      require(nViol == 0, "published state leaked the poisoned batch")
      val pub = t.agg(count(lit(1)).as("n"),
        sum("qty_u").cast("long").as("q")).collect().head
      import s.implicits._
      Seq((pub.getLong(0), pub.getLong(1), nMainMid, nViol, true, true))
        .toDF("n_pub", "qty_pub", "n_main_mid", "n_violations",
          "staged_base", "cherry_picked")
    }
  }

  val all: Seq[QueryDef] = Seq(
    bandStats, bbox, temporalExtent, extentMerge, distinctCount, sizeSum,
    validCount, hemisphere, unitNorm, antiJoin, semiJoin, getOrCreateMerge,
    upsert, dedupFirstWins, exceptAllDiff, rowNumber, firstElection, topK,
    rollup, runningSum, zorderKey, clusterSkip, curveCoverSkip, curveCover3Skip,
    curveCover3HilbertSkip, bloomSkip, compactionPlan, timeTravel,
    statsSkip, cowDelete, schemaEvolution, optimizeCompact,
    versionedBloom, mergeUpsert, expireSnapshots, changeDataFeed,
    versionedCurveSkip, qualitySuite, optimizeZorder, incrementalView,
    vacuumSweep, sqlTimeTravel, hiddenPartitionPrune, bucketPartitionProbe,
    sqlChangeFeed, exactlyOnceTail, partitionCompact, timestampTravel,
    restoreVersion, tableHistory, constraintGate, deletionVectors,
    partitionMerge, shallowClone, renameDropEvolution, olsFit,
    runtimePrune, dsv2Write, manifestAgg, spjJoin, sqlCatalog, sqlDelete,
    bucketSpj, sqlMerge, replaceWhere, partitionedSqlMerge, streamSink,
    sqlMaintenance, typedStatsPrune, occRebase, ctasAtomic,
    segmentedManifest, typedPartitions, multiBloom, stringBloom,
    metaDelete, typedCompaction, typedSpj, partitionedZorder,
    writeAuditPublish, ndvBroadcast, publishCherryPick, dvZorder,
    ndvJoinReorder, decimalMoney, streamToBranch)
}

/** JVM-static gate for q199's deterministic commit race (local-mode
  * harness device — see the query doc).
  */
private object OccGate {
  val seen = new java.util.concurrent.atomic.AtomicBoolean(false)
}
