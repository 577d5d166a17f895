package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.Scalars._

/** Oracle-checked queries exercising the §2.8 scalar-function library
  * (graft.functions.Scalars). Inputs are deterministic derivations of the
  * testdata tables so DuckDB can reproduce every value; each query keeps
  * its output narrow (the point is the scalar semantics, not scan volume).
  */
object Functions {

  private val FreqSqlPattern =
    """^\s*([0-9]*\.?[0-9]+)\s*(hours?|days?|weeks?|months?|years?)\s*$"""

  /** F1 — frequency parse over a six-way case mix including whitespace,
    * mixed case, a fractional value, and an invalid string (null result —
    * the reference raises; the relational analogue is a null the caller
    * asserts on).
    */
  val freqParse = QueryDef("q21_freq_parse",
    s"""WITH raw AS (
       |  SELECT CASE p_partkey % 6
       |    WHEN 0 THEN '2hours' WHEN 1 THEN ' 3 days ' WHEN 2 THEN '2Weeks'
       |    WHEN 3 THEN '1months' WHEN 4 THEN '0.5years' ELSE 'bogus' END AS freq_raw
       |  FROM part)
       |SELECT freq_raw,
       |  CAST(nullif(regexp_extract(lower(freq_raw), '$FreqSqlPattern', 1), '') AS DOUBLE) AS step,
       |  nullif(regexp_extract(lower(freq_raw), '$FreqSqlPattern', 2), '') AS unit,
       |  count(*) AS n
       |FROM raw GROUP BY 1, 2, 3 ORDER BY freq_raw""".stripMargin) { (s, d) =>
    val raw = when(col("p_partkey") % 6 === 0, "2hours")
      .when(col("p_partkey") % 6 === 1, " 3 days ")
      .when(col("p_partkey") % 6 === 2, "2Weeks")
      .when(col("p_partkey") % 6 === 3, "1months")
      .when(col("p_partkey") % 6 === 4, "0.5years")
      .otherwise("bogus")
    Tables.part(s, d).select(raw.as("freq_raw"))
      .groupBy(col("freq_raw"), freqStep(col("freq_raw")).as("step"),
        freqUnit(col("freq_raw")).as("unit"))
      .agg(count(lit(1)).as("n"))
  }

  /** F2 — calendar valid-time derivation across all four units, including
    * month-end clamping (the orders date range crosses month boundaries).
    * DuckDB's to_months/to_seconds interval arithmetic clamps exactly like
    * Spark's month intervals and dateutil's relativedelta.
    */
  val validTime = QueryDef("q22_valid_time",
    """SELECT o_orderkey, unit, i,
      |  CASE unit
      |    WHEN 'hours'  THEN o_orderdate + to_seconds(CAST(step * i * 3600 AS BIGINT))
      |    WHEN 'days'   THEN o_orderdate + to_seconds(CAST(step * i * 86400 AS BIGINT))
      |    WHEN 'weeks'  THEN o_orderdate + to_seconds(CAST(step * i * 604800 AS BIGINT))
      |    WHEN 'months' THEN o_orderdate + to_months(CAST(step * i AS INT)) END AS valid_time,
      |  CASE unit
      |    WHEN 'hours'  THEN o_orderdate + to_seconds(CAST(step * 9 * 3600 AS BIGINT))
      |    WHEN 'days'   THEN o_orderdate + to_seconds(CAST(step * 9 * 86400 AS BIGINT))
      |    WHEN 'weeks'  THEN o_orderdate + to_seconds(CAST(step * 9 * 604800 AS BIGINT))
      |    WHEN 'months' THEN o_orderdate + to_months(CAST(step * 9 AS INT)) END AS end_time
      |FROM (
      |  SELECT o_orderkey, o_orderdate,
      |    CASE o_custkey % 4 WHEN 0 THEN 'hours' WHEN 1 THEN 'days'
      |                       WHEN 2 THEN 'weeks' ELSE 'months' END AS unit,
      |    o_orderkey % 3 + 1 AS step, o_orderkey % 5 AS i
      |  FROM orders WHERE o_orderkey % 20 = 0)
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val base = Tables.orders(s, d).filter(col("o_orderkey") % 20 === 0)
      .select(col("o_orderkey"), col("o_orderdate"),
        when(col("o_custkey") % 4 === 0, "hours")
          .when(col("o_custkey") % 4 === 1, "days")
          .when(col("o_custkey") % 4 === 2, "weeks")
          .otherwise("months").as("unit"),
        (col("o_orderkey") % 3 + 1).as("step"),
        (col("o_orderkey") % 5).as("i"))
    base.select(col("o_orderkey"), col("unit"), col("i"),
      calendarAdd(col("o_orderdate"), col("unit"), col("step") * col("i"))
        .as("valid_time"),
      calendarAdd(col("o_orderdate"), col("unit"), col("step") * 9)
        .as("end_time"))
  }

  /** F4/F5 — the full time-string format family over the distinct order
    * dates (filename-safe ISO, RFC3339, underscore/space/compact forms,
    * bare date).
    */
  val timeFormats = QueryDef("q23_time_formats",
    """SELECT DISTINCT o_orderdate AS ts,
      |  strftime(o_orderdate, '%Y-%m-%dT%H-%M-%SZ') AS fmt_path,
      |  strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS fmt_rfc,
      |  strftime(o_orderdate, '%Y-%m-%d_%H:%M') AS fmt_us,
      |  strftime(o_orderdate, '%Y-%m-%d %H:%M') AS fmt_space,
      |  strftime(o_orderdate, '%Y-%m-%d_%H%M') AS fmt_compact,
      |  strftime(o_orderdate, '%Y-%m-%d') AS fmt_date
      |FROM orders ORDER BY ts""".stripMargin) { (s, d) =>
    Tables.orders(s, d).select(
      col("o_orderdate").as("ts"),
      formatTime(col("o_orderdate")).as("fmt_path"),
      datetimeToStr(col("o_orderdate")).as("fmt_rfc"),
      fmtUnderscoreColon(col("o_orderdate")).as("fmt_us"),
      fmtSpace(col("o_orderdate")).as("fmt_space"),
      fmtUnderscoreCompact(col("o_orderdate")).as("fmt_compact"),
      fmtDate(col("o_orderdate")).as("fmt_date")
    ).distinct()
  }

  /** F6 — id/path construction: item ids, per-leadtime COG ids, and the
    * cogs/… + netcdf/… sink layouts, composed from the same building
    * blocks the reference uses.
    */
  val itemIds = QueryDef("q24_item_ids",
    """SELECT o_orderkey,
      |  'forecast_init_' || strftime(o_orderdate, '%Y-%m-%dT%H-%M-%SZ') AS item_id,
      |  'forecast_init_' || strftime(o_orderdate, '%Y-%m-%dT%H-%M-%SZ')
      |    || '_lead_' || strftime(o_orderdate + to_days(CAST(o_orderkey % 7 AS INT)), '%Y-%m-%d_%H%M') AS item_id_cog,
      |  'cogs/model_' || (o_custkey % 3) || '/' || strftime(o_orderdate, '%Y-%m-%d') || '/'
      |    || 'forecast_init_' || strftime(o_orderdate, '%Y-%m-%dT%H-%M-%SZ')
      |    || '_lead_' || strftime(o_orderdate + to_days(CAST(o_orderkey % 7 AS INT)), '%Y-%m-%d_%H%M')
      |    || '.tif' AS cog_path,
      |  'netcdf/model_' || (o_custkey % 3) || '/' || strftime(o_orderdate, '%Y-%m-%d') || '/'
      |    || strftime(o_orderdate, '%Y-%m-%dT%H-%M-%SZ') || '.nc' AS nc_path
      |FROM orders WHERE o_orderkey % 20 = 0 ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val base = Tables.orders(s, d).filter(col("o_orderkey") % 20 === 0)
      .select(col("o_orderkey"),
        concat(lit("model_"), (col("o_custkey") % 3).cast("string")).as("collection"),
        col("o_orderdate"),
        calendarAdd(col("o_orderdate"), lit("days"), col("o_orderkey") % 7)
          .as("valid_time"))
    base.select(col("o_orderkey"),
      itemId(col("o_orderdate")).as("item_id"),
      cogItemId(itemId(col("o_orderdate")), col("valid_time")).as("item_id_cog"),
      cogPath(col("collection"), col("o_orderdate"),
        cogItemId(itemId(col("o_orderdate")), col("valid_time"))).as("cog_path"),
      netcdfPath(col("collection"), col("o_orderdate")).as("nc_path"))
  }

  /** F7 — collection-description cleanup: Python capitalize() (rest
    * LOWERED — not initcap) + `_`/`-` → space, over composed part names.
    */
  val titleCase = QueryDef("q25_title_clean",
    """SELECT DISTINCT lower(p_type || '_' || p_brand) AS raw_name,
      |  translate(upper(substr(lower(p_type || '_' || p_brand), 1, 1))
      |    || lower(substr(lower(p_type || '_' || p_brand), 2)), '_-', '  ')
      |    || ' collection' AS description
      |FROM part ORDER BY raw_name""".stripMargin) { (s, d) =>
    Tables.part(s, d)
      .select(lower(concat(col("p_type"), lit("_"), col("p_brand"))).as("raw_name"))
      .select(col("raw_name"),
        concat(titleClean(col("raw_name")), lit(" collection")).as("description"))
      .distinct()
  }

  /** F8 — href rewrite: "./"-relative hrefs get the file-server URL (with
    * the trailing "/" appended when the configured URL lacks one);
    * non-"./" relatives and absolute URLs pass through untouched.
    */
  val hrefs = QueryDef("q26_href_rewrite",
    """SELECT doc_id, href,
      |  CASE WHEN href LIKE './%'
      |    THEN 'https://files.example.org/' || regexp_replace(href, '^[./]+', '')
      |    ELSE href END AS href_out
      |FROM (
      |  SELECT doc_id, CASE doc_id % 3
      |    WHEN 0 THEN './cogs/asset_' || doc_id || '.tif'
      |    WHEN 1 THEN 'cogs/asset_' || doc_id || '.tif'
      |    ELSE 'https://example.com/asset_' || doc_id || '.tif' END AS href
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val href = when(col("doc_id") % 3 === 0,
        concat(lit("./cogs/asset_"), col("doc_id").cast("string"), lit(".tif")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("cogs/asset_"), col("doc_id").cast("string"), lit(".tif")))
      .otherwise(concat(lit("https://example.com/asset_"), col("doc_id").cast("string"), lit(".tif")))
    Tables.documents(s, d).select(col("doc_id"), href.as("href"))
      .select(col("doc_id"), col("href"),
        hrefRewrite(col("href"), "https://files.example.org").as("href_out"))
  }

  /** F13 — whole-content multihash MD5 (0xd5 0x10 framing) over document
    * text. (The blockwise digest-of-digest variant F14 is pinned by
    * ScalaTest constants — DuckDB's md5 can't hash raw bytes.)
    */
  val multihash = QueryDef("q27_multihash",
    """SELECT doc_id, 'd510' || md5(text) AS checksum, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(col("doc_id"),
      multihashMd5(col("text")).as("checksum"), col("n_chars"))
  }

  /** F14 — the digest-of-digest blockwise checksum the reference uses
    * for asset file-info (stac/utils.py:37-56). The outer digest hashes
    * the RAW 16 bytes of the inner digest, and DuckDB 1.0.0's `md5`
    * accepts VARCHAR only (no BLOB overload — re-probed this round), so
    * the full chain cannot run there. The oracle instead independently
    * re-derives the INNER digest from `documents.text` and joins it
    * against the dumped chain row — any text/digest corruption breaks
    * the hash compare — while the outer raw-bytes link stays pinned by
    * ScalarsSpec known-answer constants.
    */
  val blockMultihash = QueryDef("q28_block_multihash",
    """SELECT d.doc_id, md5(d.text) AS inner_hex, o.checksum_block
      |FROM documents d
      |JOIN read_parquet('/tmp/graft-oracle/q28_chain/*.parquet') o
      |  ON d.doc_id = o.doc_id
      |ORDER BY d.doc_id""".stripMargin,
    setup = { (s, d) =>
      graft.Work.oracleDump(s, "q28_chain", Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("inner_hex"),
          blockMultihashMd5(col("text")).as("checksum_block")))
    }) { (s, _) => s.read.parquet(graft.Work.oracleDumpPath("q28_chain")) }

  /** F15/F16 — mime-type guess + static bit-depth/byte-order by extension
    * over a six-way extension mix (tif/tiff/jpg/png/nc/json).
    */
  val mimeTypes = QueryDef("q29_mime_type",
    """SELECT fname,
      |  CASE WHEN ext IN ('tif','tiff') THEN 'image/tiff'
      |       WHEN ext IN ('jpg','jpeg') THEN 'image/jpeg'
      |       WHEN ext = 'png' THEN 'image/png'
      |       WHEN ext = 'nc' THEN 'application/x-netcdf'
      |       WHEN ext = 'json' THEN 'application/json' END AS mime,
      |  CASE WHEN ext IN ('jpg','jpeg','png') THEN 8 END AS bit_depth,
      |  CASE WHEN ext IN ('jpg','jpeg','png','nc','nc4','zarr')
      |       THEN 'little-endian' END AS byte_order
      |FROM (
      |  SELECT 'asset_' || doc_id || CASE doc_id % 6
      |      WHEN 0 THEN '.tif' WHEN 1 THEN '.tiff' WHEN 2 THEN '.jpg'
      |      WHEN 3 THEN '.png' WHEN 4 THEN '.nc' ELSE '.json' END AS fname,
      |    CASE doc_id % 6
      |      WHEN 0 THEN 'tif' WHEN 1 THEN 'tiff' WHEN 2 THEN 'jpg'
      |      WHEN 3 THEN 'png' WHEN 4 THEN 'nc' ELSE 'json' END AS ext
      |  FROM documents)
      |ORDER BY fname""".stripMargin) { (s, d) =>
    val ext = when(col("doc_id") % 6 === 0, ".tif")
      .when(col("doc_id") % 6 === 1, ".tiff")
      .when(col("doc_id") % 6 === 2, ".jpg")
      .when(col("doc_id") % 6 === 3, ".png")
      .when(col("doc_id") % 6 === 4, ".nc")
      .otherwise(".json")
    Tables.documents(s, d)
      .select(concat(lit("asset_"), col("doc_id").cast("string"), ext).as("fname"))
      .select(col("fname"), mimeType(col("fname")).cast("string").as("mime"),
        staticBitDepth(col("fname")).cast("int").as("bit_depth"),
        staticByteOrder(col("fname")).cast("string").as("byte_order"))
  }

  /** F17/P7 — JSON attribute extraction over the events `props` column
    * (typed extraction + aggregation; non-extractable keys become null,
    * the relational analogue of the reference's is_jsonable filter).
    */
  val jsonAttrs = QueryDef("q30_json_attrs",
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
      |    / count(json_extract_string(props, '$.k')) AS avg_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    // from_json with a pinned schema parses the document ONCE into a
    // struct Catalyst can prune, instead of get_json_object's per-call
    // re-parse; props carries JSON numbers (a quoted "k" would null out
    // here, which the events corpus never does)
    val k = from_json(col("props"),
      org.apache.spark.sql.types.StructType.fromDDL("k LONG")).getField("k")
    Tables.events(s, d).select(col("event_type"), k.as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        // exact-int sum then ONE double division — bit-identical in both
        // engines, unlike avg() whose double partial sums are
        // order-sensitive (and DuckDB's sum(BIGINT) is HUGEINT, which
        // pandas renders as float — CAST pins the oracle dtype to int64)
        (sum(col("k")).cast("double") / count(col("k"))).as("avg_k"))
  }

  /** F12 — GeoJSON Polygon construction from a grouped bbox aggregate
    * (integer coords keep the string formatting system-independent);
    * shapely's (e,s)→(e,n)→(w,n)→(w,s)→(e,s) ring order.
    */
  val geometry = QueryDef("q31_geometry",
    """SELECT p_brand,
      |  '[' || min(p_size) || ', ' || (min(p_size) - 5) || ', '
      |      || max(p_size) || ', ' || (max(p_size) + 5) || ']' AS bbox,
      |  printf('{"type": "Polygon", "coordinates": [[[%d, %d], [%d, %d], [%d, %d], [%d, %d], [%d, %d]]]}',
      |    max(p_size), min(p_size) - 5, max(p_size), max(p_size) + 5,
      |    min(p_size), max(p_size) + 5, min(p_size), min(p_size) - 5,
      |    max(p_size), min(p_size) - 5) AS geometry
      |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, d) =>
    Tables.part(s, d).groupBy(col("p_brand"))
      .agg(min(col("p_size")).as("w_"), max(col("p_size")).as("e_"))
      .select(col("p_brand"),
        concat(lit("["), col("w_").cast("string"), lit(", "),
          (col("w_") - 5).cast("string"), lit(", "),
          col("e_").cast("string"), lit(", "),
          (col("e_") + 5).cast("string"), lit("]")).as("bbox"),
        geometryFromBbox(col("w_"), col("w_") - 5, col("e_"), col("e_") + 5)
          .as("geometry"))
  }

  /** F11 extension — CF rotated-pole unrotation ([[graft.functions.Geo
    * .RotatedPole]], the CORDEX EUR-11 mapping) over a deterministic
    * rotated grid derived from `part`. The oracle spells the same
    * spherical trig in SQL, so the Scala closed form is gated against
    * an independent transcription; outputs are floor-microdegree
    * integers, absorbing libm-vs-JVM last-ulp trig differences while
    * still hashing every cell through the per-band sums. Offsets are
    * chosen so no cell lands on an axis or an exact degree boundary.
    */
  val rotatedPole = QueryDef("q100_rotated_pole",
    """WITH raw AS (
      |  -- e0 suffixes force DOUBLE literals (DuckDB parses bare
      |  -- decimals as exact DECIMAL, which drifts a ulp from Spark)
      |  SELECT (p_partkey % 57) * 0.73e0 - 20.303e0 AS rlon,
      |         ((p_partkey // 57) % 49) * 0.81e0 - 19.459e0 AS rlat
      |  FROM part),
      |geo AS (
      |  SELECT rlat,
      |    degrees(asin(greatest(-1.0, least(1.0,
      |      sin(radians(rlat)) * sin(radians(39.25)) +
      |      cos(radians(rlat)) * cos(radians(39.25)) * cos(radians(rlon))
      |      )))) AS lat,
      |    degrees(radians(-162.0) + atan2(
      |      -cos(radians(rlat)) * sin(radians(rlon)),
      |      sin(radians(rlat)) * cos(radians(39.25)) -
      |      cos(radians(rlat)) * sin(radians(39.25)) * cos(radians(rlon))
      |      )) AS lon0
      |  FROM raw),
      |wrapped AS (
      |  SELECT rlat, lat,
      |    CASE WHEN lon0 < -180 THEN lon0 + 360
      |         WHEN lon0 > 180 THEN lon0 - 360 ELSE lon0 END AS lon
      |  FROM geo)
      |SELECT CAST(floor(rlat) AS BIGINT) AS band, count(*) AS n,
      |  CAST(sum(CAST(floor(lon * 1e6) AS BIGINT)) AS BIGINT) AS sum_lon_u,
      |  CAST(sum(CAST(floor(lat * 1e6) AS BIGINT)) AS BIGINT) AS sum_lat_u,
      |  CAST(min(floor(lat * 1e6)) AS BIGINT) AS min_lat_u,
      |  CAST(max(floor(lat * 1e6)) AS BIGINT) AS max_lat_u
      |FROM wrapped GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val rp = graft.functions.Geo.rotatedToGeoUdf(
      col("rlon"), col("rlat"), lit(39.25), lit(-162.0))
    Tables.part(s, d)
      .select(((col("p_partkey") % 57) * 0.73 - 20.303).as("rlon"),
        ((expr("p_partkey div 57") % 49) * 0.81 - 19.459).as("rlat"))
      .select(col("rlat"), rp.getItem(0).as("lon"), rp.getItem(1).as("lat"))
      .groupBy(floor(col("rlat")).cast("long").as("band"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("lon") * 1e6).cast("long")).as("sum_lon_u"),
        sum(floor(col("lat") * 1e6).cast("long")).as("sum_lat_u"),
        min(floor(col("lat") * 1e6)).cast("long").as("min_lat_u"),
        max(floor(col("lat") * 1e6)).cast("long").as("max_lat_u"))
  }

  val all: Seq[QueryDef] = Seq(freqParse, validTime, timeFormats, itemIds,
    titleCase, hrefs, multihash, blockMultihash, mimeTypes, jsonAttrs,
    geometry, rotatedPole)
}
