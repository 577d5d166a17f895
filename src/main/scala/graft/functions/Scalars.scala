package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Scalar-function library: every §2.8 scalar the reference implements,
  * re-expressed as pure `Column` combinators (Catalyst-optimizable,
  * codegen-friendly — no UDFs). Reference citations point into
  * /root/reference/src/environmental_stac_generator/.
  */
object Scalars {

  /** F1 — forecast-frequency parse (ref utils.py:122-158).
    *
    * The reference lowercases the input and matches
    * `^\s*(number)\s*(hours?|days?|weeks?|months?|years?)\s*$`, returning
    * (float value, lowercased unit) and raising on mismatch. Here the two
    * captures are exposed as columns; a non-match yields null (the
    * relational analogue of the raise — callers filter or assert).
    */
  private val FreqPattern =
    "^\\s*([0-9]*\\.?[0-9]+)\\s*(hours?|days?|weeks?|months?|years?)\\s*$"

  def freqStep(raw: Column): Column =
    nullif(regexp_extract(lower(raw), FreqPattern, 1), lit("")).cast("double")

  def freqUnit(raw: Column): Column =
    nullif(regexp_extract(lower(raw), FreqPattern, 2), lit(""))

  /** F2 — calendar valid-time derivation (ref generator.py:855-857,
    * 680-682): `ref_time + relativedelta(**{unit: n})`.
    *
    * Fixed-length units (hours/days/weeks, fractional allowed — matching
    * relativedelta's normalization of fractional fixed units) become exact
    * second intervals; months/years use Spark's month-interval arithmetic,
    * whose end-of-month clamping (Jan 31 + 1 month = Feb 29) matches
    * relativedelta. Fractional months/years raise in relativedelta
    * ("ambiguous"); here they yield null.
    */
  def calendarAdd(ts: Column, unit: Column, n: Column): Column = {
    val zero = lit(0)
    def bySeconds(perUnit: Long): Column =
      ts + make_interval(zero, zero, zero, zero, zero, zero,
        (n * perUnit).cast("decimal(18,6)"))
    val byMonths = ts + make_interval(zero, n.cast("int"))
    val byYears  = ts + make_interval(zero, (n * 12).cast("int"))
    val integral = n === floor(n)
    // a literal unit picks its branch here: `lit(u) === u` would build
    // (and warn about) a trivially true predicate
    Bridge.stringLiteral(unit) match {
      case Some("hours") => bySeconds(3600L)
      case Some("days") => bySeconds(86400L)
      case Some("weeks") => bySeconds(604800L)
      case Some("months") => when(integral, byMonths)
      case Some("years") => when(integral, byYears)
      case _ =>
        when(unit === "hours", bySeconds(3600L))
          .when(unit === "days", bySeconds(86400L))
          .when(unit === "weeks", bySeconds(604800L))
          .when(unit === "months" && integral, byMonths)
          .when(unit === "years" && integral, byYears)
    }
  }

  /** F4 — filename-safe ISO format (ref utils.py:190-210):
    * hyphens for colons, optional seconds, trailing Z.
    */
  def formatTime(ts: Column, utc: Boolean = true,
                 withSeconds: Boolean = true): Column = {
    val fmt = "yyyy-MM-dd'T'HH-mm" + (if (withSeconds) "-ss" else "")
    val base = date_format(ts, fmt)
    if (utc) concat(base, lit("Z")) else base
  }

  /** F5 — the reference's multi-format time-string family
    * (generator.py:669-686, 865-868). `datetimeToStr` is pystac's RFC3339
    * (sub-second parts are zero in every reference input, so the
    * seconds-precision form is exact).
    */
  def datetimeToStr(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")
  def fmtUnderscoreColon(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd_HH:mm")   // generator.py:671-673
  def fmtSpace(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd HH:mm")   // generator.py:674-676
  def fmtUnderscoreCompact(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd_HHmm")    // generator.py:866
  def fmtDate(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd")         // generator.py:670 (.date())

  /** F6 — id/path construction (ref generator.py:688-701, 871-875):
    * `forecast_init_{format_time}` item ids, `{item}_lead_{valid_1}` COG
    * ids, `cogs/{collection}/{date}/` and `netcdf/{collection}/{date}/`
    * sink layouts.
    */
  def itemId(refTime: Column): Column =
    concat(lit("forecast_init_"), formatTime(refTime))
  def cogItemId(itemIdCol: Column, validTime: Column): Column =
    concat(itemIdCol, lit("_lead_"), fmtUnderscoreCompact(validTime))
  def cogPath(collection: Column, refTime: Column, cogId: Column): Column =
    concat(lit("cogs/"), collection, lit("/"), fmtDate(refTime), lit("/"),
      cogId, lit(".tif"))
  def netcdfPath(collection: Column, refTime: Column): Column =
    concat(lit("netcdf/"), collection, lit("/"), fmtDate(refTime), lit("/"),
      formatTime(refTime), lit(".nc"))

  /** F7 — collection-description cleanup (ref generator.py:654):
    * Python `str.capitalize()` (first char upper, REST LOWER — not
    * initcap) then `_`/`-` → space.
    */
  def titleClean(name: Column): Column =
    translate(
      concat(upper(substring(name, 1, 1)), lower(name.substr(lit(2), length(name)))),
      "_-", "  ")

  /** F8 — href rewrite (ref generator.py:1047-1056): hrefs starting "./"
    * get the file-server URL prefixed (URL gains a trailing "/" when
    * missing). Python's `lstrip("./")` strips the character SET {., /} —
    * mirrored exactly with `^[./]+`.
    */
  def hrefRewrite(href: Column, fileServerUrl: String): Column = {
    val base = if (fileServerUrl.endsWith("/")) fileServerUrl else fileServerUrl + "/"
    when(href.startsWith("./"),
      concat(lit(base), regexp_replace(href, "^[./]+", "")))
      .otherwise(href)
  }

  /** F9/P3 — coordinate unit normalization (ref generator.py:533-553,
    * tested at reference test_generator.py:135-160): coords whose units
    * attr is "km" or "1000 meter" are scaled ×1000 to meters; everything
    * else passes through.
    */
  def normalizeCoord(coord: Column, units: Column): Column =
    when(units.isin("km", "1000 meter"), coord * 1000).otherwise(coord)

  /** F10 — floor to 2dp (ref utils.py:250): `math.floor(x*100)/100`. */
  def floor2dp(x: Column): Column = floor(x * 100) / 100

  /** F12 — GeoJSON Polygon from a bbox (ref generator.py:584,
    * `mapping(box(w,s,e,n))`): shapely's ring order starts at (e,s) and
    * runs counter-clockwise, closing back at (e,s).
    */
  def geometryFromBbox(w: Column, s: Column, e: Column, n: Column): Column =
    format_string(
      """{"type": "Polygon", "coordinates": [[[%s, %s], [%s, %s], [%s, %s], [%s, %s], [%s, %s]]]}""",
      e, s, e, n, w, n, w, s, e, s)

  /** F13 — multihash-encoded MD5 of whole content (ref stac/utils.py:17-34).
    * Multihash MD5 framing = 0xd5 (md5 code) 0x10 (16-byte length) ++ digest.
    */
  def multihashMd5(content: Column): Column =
    concat(lit("d510"), md5(content))

  /** F14 — the blockwise variant the reference actually uses
    * (stac/utils.py:37-56): incremental MD5 over the content, then the
    * 16-byte DIGEST is fed back through `multihash.digest(..., "md5")`,
    * which hashes it AGAIN — a digest-of-digest quirk replicated, not
    * fixed. Blockwise vs whole-content MD5 of the same bytes is identical,
    * so content-level md5 composes exactly.
    */
  def blockMultihashMd5(content: Column): Column =
    concat(lit("d510"), md5(unhex(md5(content))))

  /** [[blockMultihashMd5]] of bytes in hand (the sinks hash what they
    * just wrote or read back).
    */
  def blockMultihashMd5(content: Array[Byte]): String = {
    def md5(b: Array[Byte]) = java.security.MessageDigest.getInstance("MD5").digest(b)
    "d510" + md5(md5(content)).map(b => f"${b & 0xff}%02x").mkString
  }

  /** F15 — mime-type guess by extension (ref stac/utils.py:91-93, Python
    * `mimetypes.guess_type` table for the extensions the reference emits).
    */
  def mimeType(path: Column): Column = {
    val ext = lower(regexp_extract(path, "\\.([A-Za-z0-9]+)$", 1))
    when(ext.isin("tif", "tiff"), "image/tiff")
      .when(ext.isin("jpg", "jpeg"), "image/jpeg")
      .when(ext === "png", "image/png")
      .when(ext === "nc", "application/x-netcdf")
      .when(ext === "json", "application/json")
  }

  /** F16 (static part) — bit-depth/byte-order by file kind (ref
    * stac/utils.py:96-136): jpg/png are fixed uint8/8; netCDF/zarr depths
    * come from the variable dtype at decode time (source-manifest concern);
    * GeoTIFF dtype needs the raster header (E3 manifest).
    */
  def staticBitDepth(path: Column): Column = {
    val ext = lower(regexp_extract(path, "\\.([A-Za-z0-9]+)$", 1))
    when(ext.isin("jpg", "jpeg", "png"), 8)
  }
  def staticByteOrder(path: Column): Column = {
    val ext = lower(regexp_extract(path, "\\.([A-Za-z0-9]+)$", 1))
    when(ext.isin("jpg", "jpeg", "png", "nc", "nc4", "zarr"), "little-endian")
  }

  /** P9/F18 — hemisphere classification (ref utils.py:47-82): missing
    * latitude → empty string, [0,90] → north, [-90,0) → south, out of
    * range → error.
    */
  def hemisphere(latMin: Column): Column =
    when(latMin.isNull, "")
      .when(latMin.between(0, 90), "north")
      .when(latMin.between(-90, 0), "south")
      .otherwise(raise_error(format_string(
        "Unexpected minimum latitude value: %s", latMin)))
}
