package graft

import graft.queries.{Functions, TrainingPrep}

/** Plan-shape regression guards for this round's optimizations: the
  * assertions pin the PHYSICAL shape, so a future refactor that quietly
  * reintroduces the slow form fails here rather than in a bench diff.
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** The body's DataFrame after its setup wrote the fixtures it reads. */
  private def afterSetup(q: QueryDef) = {
    q.setup(spark, sf)
    q.fn(spark, sf)
  }

  test("q73: survivor election is a digest agg+join — no Window, no Sort " +
    "feeding it") {
    val plan = TrainingPrep.corpusAssembly.fn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "q73 must not window over md5(text); use the digest-agg shape")
  }

  test("q30: props parse once via from_json, not per-path get_json_object") {
    val analyzed = Functions.jsonAttrs.fn(spark, sf)
      .queryExecution.analyzed.toString
    assert(analyzed.contains("from_json"), "q30 should parse via from_json")
    assert(!analyzed.contains("get_json_object"),
      "q30 must not re-parse JSON per extraction")
  }

  test("oracleDump keeps upstream partitioning: an 8-partition relation " +
    "dumps as 8 tasks, not one") {
    // round 7's coalesce(1) propagated below the write through
    // broadcast-join plans and serialized the whole upstream stage
    // (q42 2.07× vs r6); the file count is the task count
    import spark.implicits._
    Work.oracleDump(spark, "planspec_parts",
      spark.range(0, 1000, 1, 8).toDF("v"))
    val parts = new java.io.File(Work.oracleDumpPath("planspec_parts"))
      .listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(parts >= 8,
      s"dump collapsed to $parts file(s) — upstream stage was serialized")
  }

  test("ingest skip anti-join consumes a relation (plan has the anti-join)") {
    // the RelationOnlyClient behavior test lives in IngestSpec; here we
    // pin that the join stays an ANTI join (no inner/except rewrite)
    import spark.implicits._
    val items = Seq(("c1", "i1"), ("c1", "i2")).toDF("collection", "id")
    val keys = Seq(("c1", "i1")).toDF("collection", "id")
    val plan = items.join(keys, Seq("collection", "id"), "left_anti")
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("anti"))
  }

  test("q97: the enum vocabulary join is a BROADCAST hash join — the " +
    "exploded cell stream must not shuffle") {
    val plan = afterSetup(graft.queries.NetCdfQueries.enumMaskCounts)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "q97 label join must broadcast the vocabulary")
    assert(!plan.contains("SortMergeJoin"),
      "q97 must not sort-merge the exploded cells against a tiny label set")
  }

  test("q98: compound-record aggregation is a partial+final hash agg " +
    "over the per-file scan (no sort, no window)") {
    val plan = afterSetup(graft.queries.NetCdfQueries.compoundBounds)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), "q98 should hash-aggregate")
    assert(!plan.contains("Window"), "q98 must not window")
  }

  test("q101: the gap-fill groupBy reuses the window's user_id " +
    "partitioning — exactly ONE exchange in the whole plan") {
    val plan = graft.queries.TemporalJoins.gapFill.fn(spark, sf)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange (hash|range)partitioning".r
      .findAllIn(plan).size
    assert(exchanges === 1,
      s"q101 should shuffle once on user_id, found $exchanges:\n" +
        plan.take(2000))
  }

  test("q104: bilinear gather never shuffles the cell relation — " +
    "broadcast joins only, no sort-merge") {
    val plan = afterSetup(graft.queries.NetCdfQueries.regridBilinear)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "q104 must broadcast the point set")
    assert(!plan.contains("SortMergeJoin"),
      "q104 must not sort-merge scanline rows against 25 points")
  }

  test("q109: the zone assignment is a BROADCAST nested-loop over the " +
    "four-row zone table — the cell relation must not shuffle into " +
    "the join") {
    val plan = afterSetup(graft.queries.NetCdfQueries.zonalStats)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "q109 must broadcast the zone table into a nested-loop join")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"),
      "q109 must not shuffle cells against four zones")
  }

  test("q110: the climatology re-join shuffles BOTH sides on the cell " +
    "key (sort-merge, co-partitioned) — no broadcast of the big side") {
    val plan = afterSetup(graft.queries.NetCdfQueries.climatologyAnomaly)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      "q110 must co-partition cells with their climatology, not " +
        "broadcast a relation that scales with the grid:\n" +
        plan.take(1500))
  }

  test("q111: bigram pairs come from shifted-array zips, not a " +
    "per-doc Window sort; the vocabulary size broadcasts") {
    val plan = graft.queries.TextPipeline.bigramLm.fn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "q111 must build pairs with zip_with, not lead() over a window")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      "q111 must broadcast the one-row vocabulary count")
  }

  test("q103: block-mean regrid is partial+final hash agg — the " +
    "exploded cells collapse map-side before the exchange") {
    val df = afterSetup(graft.queries.NetCdfQueries.regridBlockMean)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), "q103 should hash-aggregate")
    // partial agg appears below the exchange: two HashAggregate levels
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      "q103 needs map-side partials so the shuffle carries target cells")
  }

  test("q118: conservative regrid is join-free (arithmetic fan-out, " +
    "no weight-matrix join) and CONSERVES mass per scanline") {
    val df = afterSetup(graft.queries.NetCdfQueries.regridConservative)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      "q118 must fan out targets arithmetically, not join a weight matrix")
    // conservation: Σ_j ov·v over a scanline = cellwidth · Σ_i v — the
    // property that makes this method "conservative"
    import org.apache.spark.sql.functions._
    val out = df.groupBy("file", "variable", "leadtime_idx", "y_idx")
      .agg(sum("wv_u").as("lhs")).collect()
      .map(r => (r.getString(0), r.getString(1), r.get(2), r.get(3)) ->
        r.getLong(4)).toMap
    val cells = spark.read.format("netcdf")
      .load(graft.queries.NetCdfQueries.fixtureGlob())
      .select(col("path"), col("variable"), col("leadtime_idx"),
        col("y_idx"), explode(col("values")).as("v"))
      .filter(!isnan(col("v")))
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
        col("variable"), col("leadtime_idx"), col("y_idx"),
        floor(col("v") * 1e6).cast("long").as("v_u"))
      .groupBy("file", "variable", "leadtime_idx", "y_idx")
      .agg(sum(col("v_u") * 3).as("rhs")).collect()
      .map(r => (r.getString(0), r.getString(1), r.get(2), r.get(3)) ->
        r.getLong(4)).toMap
    assert(out.nonEmpty && out.keySet === cells.keySet)
    out.foreach { case (k, lhs) => assert(lhs === cells(k), k) }
  }

  test("q113: the Z-order key is computed shuffle-free — one " +
    "aggregation exchange, no join in the plan") {
    val plan = graft.queries.Relational.zorderKey.fn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "q113 must not join")
    // one hash exchange into the tile aggregation; the 16-row terminal
    // ORDER BY's range exchange is driver-trivial and not counted
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1,
      s"q113 should shuffle once into the tile aggregation:\n" +
        plan.take(1500))
  }

  test("q116: sketch combination never sort-merges — two bounded " +
    "single-row aggregates meet in a broadcast join") {
    val plan = graft.queries.Sketches.kmvJaccard.fn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      "q116 must not shuffle-join two 256-long sketches")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("CartesianProduct"),
      "q116 should combine the one-row sketches via broadcast")
  }

  test("q117: the island aggregation reuses the window's key " +
    "partitioning — exactly one exchange end to end") {
    val plan = graft.queries.EventOps.intervalCoverage.fn(spark, sf)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange (hash|range)partitioning".r
      .findAllIn(plan).size
    assert(exchanges === 1,
      s"q117 should shuffle once on the interval key:\n" +
        plan.take(1500))
  }

  test("q127: the Gram pass is ONE aggregation over the vector scan — " +
    "no join, no explode-shuffle of (row × i × j)") {
    val plan = graft.queries.Similarity.gramMatrix.fn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "q127 must not join")
    assert(plan.contains("graft_gram"), "q127 should use the Gram aggregate")
    // explode appears only AFTER the aggregate (2080 result cells),
    // never below it on the n-row side: the scan feeds ObjectHashAgg
    assert(plan.contains("ObjectHashAggregate") ||
      plan.contains("SortAggregate"), plan.take(1200))
  }

  test("q129: every k-means assignment broadcasts the centers — the " +
    "vector relation is never shuffle-joined") {
    val plan = graft.queries.Similarity.kmeans.fn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      "q129 must broadcast k centers, not shuffle the corpus")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(1200))
  }

  test("q171: the weighted sample compiles to TakeOrderedAndProject — " +
    "a k-row heap per partition, never a global sort of the corpus") {
    val plan = TrainingPrep.weightedSample.fn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"A-ES top-k lost its TakeOrdered shape:\n$plan")
  }

  test("q133: the fact table is scanned once — every downstream branch " +
    "reads the cached edge set, never parquet") {
    // capture every action's executed plan; the only execution allowed
    // to touch parquet WITHOUT going through the cache is the one that
    // materializes it (raw.count). A re-planned double scan — the
    // regression the r13 bench drift suggested — shows up as a second
    // cache-less parquet execution and fails here, not in a bench diff.
    val captured = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        captured.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.queries.GraphRank.triangles.fn(spark, sf).collect()
      // the listener bus is async: the query runs two actions (cache
      // materialization + the wing-join head), so wait for both
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (captured.size < 2 && System.nanoTime() < deadline)
        Thread.sleep(50)
      import scala.jdk.CollectionConverters._
      val plans = captured.asScala.toSeq
      assert(plans.size >= 2, s"captured only ${plans.size} executions")
      // the parquet scan lives only inside the cache BUILDER (which the
      // executed tree does not print); every printed execution must
      // read through InMemoryTableScan. A dropped/unused cache — the
      // double-scan regression — prints a bare parquet scan and fails.
      val parquetNoCache = plans.filter(p =>
        p.contains("Scan parquet") && !p.contains("InMemoryTableScan"))
      assert(parquetNoCache.isEmpty,
        s"q133 re-scanned the fact table outside the edge cache in " +
          s"${parquetNoCache.size} execution(s):\n" +
          parquetNoCache.headOption.map(_.take(800)).getOrElse(""))
      // the triangle-closing execution itself reads the cache
      val wingPlan = plans.find(_.contains("LeftSemi"))
      assert(wingPlan.exists(_.contains("InMemoryTableScan")),
        "the wing/closing-edge join must read the cached edges")
    } finally spark.listenerManager.unregister(listener)
  }
}
