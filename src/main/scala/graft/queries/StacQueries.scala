package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.Scalars._
import graft.model.{StacCatalog, StacCollection, StacItem}
import graft.ops.StacOps
import graft.sink.StacJsonSink

/** STAC entity-layer queries: asset-row construction (E1/E2) as an
  * oracle-checked projection, and the full model → sink → source
  * round-trip (K4 + S4 + J2) — DuckDB has no analogue of the catalog
  * tree layout, so the round-trip oracle compares the rescan against
  * the dumped pre-write survivor set instead.
  */
object StacQueries {

  /** E1 — netCDF asset-row construction (ref generator.py:736-751): per
    * item, the data asset's href/media/title/roles plus the forecast:*
    * property block, composed from the same scalar functions the sinks
    * use.
    */
  val netcdfAssets = QueryDef("q43_asset_rows",
    """SELECT
      |  'forecast_init_' || strftime(o_orderdate, '%Y-%m-%dT%H-%M-%SZ') AS item_id,
      |  'model_' || (o_custkey % 3) AS collection,
      |  './netcdf/model_' || (o_custkey % 3) || '/' || strftime(o_orderdate, '%Y-%m-%d')
      |    || '/' || strftime(o_orderdate, '%Y-%m-%dT%H-%M-%SZ') || '.nc' AS href,
      |  'application/x-netcdf' AS media_type,
      |  'Forecast initialisation: ' || strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS title,
      |  'data' AS role,
      |  strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS forecast_reference_time,
      |  CAST(o_orderkey % 5 + 1 AS BIGINT) AS forecast_leadtime_length
      |FROM orders WHERE o_orderkey % 20 = 0 ORDER BY item_id, collection""".stripMargin) { (s, d) =>
    val base = Tables.orders(s, d).filter(col("o_orderkey") % 20 === 0)
      .select(col("o_orderkey"), col("o_orderdate"),
        concat(lit("model_"), (col("o_custkey") % 3).cast("string")).as("collection"))
    base.select(
      itemId(col("o_orderdate")).as("item_id"),
      col("collection"),
      concat(lit("./"), netcdfPath(col("collection"), col("o_orderdate"))).as("href"),
      lit("application/x-netcdf").as("media_type"),
      concat(lit("Forecast initialisation: "), datetimeToStr(col("o_orderdate")))
        .as("title"),
      lit("data").as("role"),
      datetimeToStr(col("o_orderdate")).as("forecast_reference_time"),
      (col("o_orderkey") % 5 + 1).as("forecast_leadtime_length"))
  }

  /** K4+S4+J2 round-trip: derive items from orders, anti-join against a
    * pre-existing subset (get-or-create), write the surviving catalog
    * tree, scan it back, and return per-collection item counts. The
    * oracle aggregates the PRE-WRITE survivor keys (dumped to parquet)
    * while the Spark result aggregates the POST-round-trip rescan of the
    * JSON tree — hash equality proves write→scan loses and invents
    * nothing; byte-level determinism of the tree is pinned by StacSpec.
    */
  val roundTrip: QueryDef = {
    def created(s: SparkSession, d: String) = {
      import s.implicits._
      val items = Tables.orders(s, d).filter(col("o_orderkey") % 100 === 0)
        .select(
          itemId(col("o_orderdate")).as("id"),
          concat(lit("model_"), (col("o_custkey") % 2).cast("string")).as("collection"),
          lit("""{"type": "Polygon", "coordinates": [[[30, 40], [30, 60], [10, 60], [10, 40], [30, 40]]]}""").as("geometry"),
          typedLit(Seq(10.0, 40.0, 30.0, 60.0)).as("bbox"),
          datetimeToStr(col("o_orderdate")).as("datetime"),
          map(lit("forecast:leadtime_length"), lit("93")).as("properties"),
          array(struct(
            lit("data").as("key"),
            concat(lit("./"), netcdfPath(
              concat(lit("model_"), (col("o_custkey") % 2).cast("string")),
              col("o_orderdate"))).as("href"),
            lit("application/x-netcdf").as("media_type"),
            lit("Forecast data").as("title"),
            typedLit(Seq("data")).as("roles"),
            lit(null).cast("string").as("checksum"),
            lit(-1L).as("size"),
            map().cast("map<string,string>").as("extra"))).as("assets"))
        .dropDuplicates("collection", "id")
        .as[StacItem]
      // "existing catalog": every other item already present → must be skipped
      val existing = items.filter(abs(hash(col("id"))) % 2 === 0)
      StacOps.getOrCreateItems(existing, items)
    }
    QueryDef("q44_stac_roundtrip",
      """SELECT collection, count(*) AS n_items,
        |  count(DISTINCT id) AS n_distinct_ids
        |FROM read_parquet('/tmp/graft-oracle/q44_created/*.parquet')
        |GROUP BY collection ORDER BY collection""".stripMargin,
      setup = { (s, d) =>
        graft.Work.oracleDump(s, "q44_created",
          created(s, d).select(col("collection"), col("id")))
      }) { (s, d) =>
      // sf-keyed stable dir: repeat invocations overwrite the same item
      // files in place instead of allocating a fresh ~1500-inode tree per
      // call (fresh trees accumulated by the hundred across bench/verify
      // passes and made this query I/O-bound on loaded filesystems); the
      // sf key keeps sf0.01 verify and sf0.1 bench trees separate, since a
      // stale larger item set under the same root would pollute the rescan
      val root = graft.Work.stableDir(
        "q44-sf" + math.abs(d.hashCode).toString).toString
      StacJsonSink.write(root,
        StacCatalog("cat", "roundtrip", Seq("model_0", "model_1")),
        Seq(
          StacCollection("model_0", "model_0", "Model 0 collection", "CC-BY-4.0",
            Seq(10.0, 40.0, 30.0, 60.0), "2025-01-01T00:00:00Z",
            "2025-12-31T00:00:00Z", Map.empty),
          StacCollection("model_1", "model_1", "Model 1 collection", "CC-BY-4.0",
            Seq(10.0, 40.0, 30.0, 60.0), "2025-01-01T00:00:00Z",
            "2025-12-31T00:00:00Z", Map.empty)),
        created(s, d))
      StacJsonSink.readItems(s, root)
        .groupBy(col("collection"))
        .agg(count(lit(1)).as("n_items"),
          countDistinct(col("id")).as("n_distinct_ids"))
    }
  }

  val all: Seq[QueryDef] = Seq(netcdfAssets, roundTrip)
}
