package graft.pipeline

import java.nio.file.{Files, Paths}
import org.apache.spark.Partitioner
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Geo, Scalars, VecStatsExpr}
import graft.model.{StacCatalog, StacCollection, StacItem}
import graft.ops.StacOps
import graft.sink.{CogWriter, StacJsonSink}
import graft.source.{NetCdf, NetCdfSource}

/** Entry point 1 — `envstacgen preprocess` re-expressed as one Spark
  * dataflow (ref cli.py:13-52 → preprocess.py:15-88 →
  * generator.py:587-808, SURVEY §3.1).
  *
  * The reference opens each file three times and fans out leadtimes over
  * a process pool; here one cached tidy scan feeds every stage and Spark
  * task parallelism replaces the pool (X1/X2). Stage map:
  *
  *   config validate (S5/J5)            → ConfigRegistry
  *   hemisphere + CRS + bands (P1/P2/P9)→ NetCdfSource.manifest
  *
  * The reference's per-slice loops become set-oriented grouping here:
  * time-slice / leadtime-slice / band selection (P4/P5/P6) are the output
  * groups below (one per init, one per init × leadtime), the leadtime-0
  * thumbnail and the first-band election — SURVEY §2.2's "no loop at
  * all" mapping. Item↔catalog attachment (J7) is the
  * `collection`/`item_id` fk columns; the tree shape only materializes
  * in the JSON sink.
  *   bbox + geometry (A1/F11/F12)       → coord agg + Geo.projToGeo
  *   per-init item construction (F5/F6) → Scalars id/time functions
  *   output manifest + skip (P8)        → collected targets, driver-side
  *                                        existence check, catalog ids
  *   netCDF slices (K1), COGs (K2),     → ONE shuffle of the tidy scan to
  *   leadtime-0 thumbnails (K3/W3)        one task per slice / per COG
  *                                        (the leadtime-0 COG task also
  *                                        writes the thumbnail)
  *   band statistics (A2)               → folded in y order inside the
  *                                        COG task (VecStatsExpr.BandFold)
  *   asset rows + file info (E1/E2/E3/J6) → size + multihash of the bytes
  *                                        each task wrote or read back,
  *                                        joined by href
  *   get-or-create vs existing (J1/J2)  → new ids only / extent merge
  *   catalog tree (K4, F8)              → StacJsonSink
  */
object Preprocess {

  final case class Options(
      name: String,                       // collection id (ref process(name=...))
      dataPath: String,
      catalogName: String = "catalog",
      forecastFrequency: String = "1days",
      license: String = "CC-BY-4.0",
      fileServerUrl: Option[String] = None,
      stacOnly: Boolean = false,
      overwrite: Boolean = false,
      compress: Boolean = true,   // DEFLATE default on (ref generator.py:620)
      // K1 slice format: "netcdf4" = HDF5 + shuffle + deflate-9, the
      // reference's output envelope (generator.py:969-977, zlib=True
      // complevel=9); "classic" = uncompressed CDF-1
      ncFormat: String = "netcdf4",
      // K2: warp COGs to EPSG:4326 before writing (ref reproject flag,
      // generator.py:826,1006-1007 — default OFF there too)
      reproject: Boolean = false)

  final case class Result(catalogRoot: String, nItems: Long, nSlices: Long)

  private val FreqRe =
    "^\\s*([0-9]*\\.?[0-9]+)\\s*(hours?|days?|weeks?|months?|years?)\\s*$".r

  /** F1, driver-side (the reference parses once per run). */
  def parseFrequency(s: String): (Double, String) = s.toLowerCase match {
    case FreqRe(v, u) => (v.toDouble, u)
    case _ => throw new IllegalArgumentException(s"Invalid leadtime format: $s")
  }

  /** CF-convention time decode: "<unit> since <base>" → milliseconds
    * scale + base epoch (xarray's decode_coords analogue for the classic
    * calendar).
    */
  private val SinceRe = "^(seconds?|minutes?|hours?|days?) since (.+)$".r
  def parseTimeUnits(units: String): (Long, java.time.Instant) = units match {
    case SinceRe(u, base) =>
      val scale = u.stripSuffix("s") match {
        case "second" => 1000L
        case "minute" => 60000L
        case "hour" => 3600000L
        case "day" => 86400000L
      }
      val b = base.trim.replace(" ", "T")
      val inst = java.time.Instant.parse(
        if (b.length == 10) b + "T00:00:00Z"
        else if (b.endsWith("Z")) b else b + "Z")
      (scale, inst)
    case other => throw new IllegalArgumentException(s"time units: $other")
  }

  /** The pipeline is input-format agnostic: a path holding a `.zgroup`
    * is a Zarr v2 store (one store = one logical multiband file), any
    * other glob is netCDF files. Both sources produce the SAME manifest
    * and tidy schemas, so every downstream stage is shared.
    */
  private def isZarrStore(input: String): Boolean =
    !input.contains("*") && (Files.exists(Paths.get(input, ".zgroup")) ||
      Files.exists(Paths.get(input, "zarr.json"))) // v2 / v3 markers

  private def sourceManifest(spark: SparkSession, input: String) =
    if (isZarrStore(input)) graft.source.ZarrSource.forecastManifest(spark, input)
    else NetCdfSource.manifest(spark, input)

  private def sourceTidy(spark: SparkSession, input: String) =
    if (isZarrStore(input)) graft.source.ZarrSource.tidy(spark, input)
    else NetCdfSource.tidy(spark, input)

  def run(spark: SparkSession, inputGlob: String, opts: Options): Result = {
    import spark.implicits._

    // ---- S5/J5: config pinning before any work (ref generator.py:627)
    new ConfigRegistry(s"${opts.dataPath}/config.json")
      .storeOrValidate(opts.name,
        Map("forecast_frequency" -> opts.forecastFrequency))
    val (step, unit) = parseFrequency(opts.forecastFrequency)

    // ---- metadata pass: P1/P2/P9 + CRS + time units (header-only decode)
    val man = sourceManifest(spark, inputGlob).persist()
    val fileMeta = man.filter(col("is_band"))
      .select(col("path"), col("crs"), col("lat_min")).distinct()
    val timeUnits = man
      .filter(col("variable").isin(NetCdfSource.TimeCandidates: _*))
      .select(col("units")).distinct().as[String].collect()
    require(timeUnits.length == 1, s"mixed time units: ${timeUnits.toSeq}")
    val (tScale, tBase) = parseTimeUnits(timeUnits.head)
    // one driver action for both scalars instead of two tiny jobs
    val metaRows = fileMeta
      .select(col("crs"), Scalars.hemisphere(col("lat_min")).as("h"))
      .distinct().as[(String, String)].collect()
    val hemisphere = metaRows.map(_._2).distinct.headOption.getOrElse("")
    val crs = metaRows.map(_._1).distinct.head

    // ---- one cached tidy scan replaces the reference's three opens
    val tidy = sourceTidy(spark, inputGlob).persist()

    // ---- A1/F11/F12: bbox in projected meters → geographic via LAEA
    val bboxRow = tidy.agg(
      min(array_min(col("xs"))), max(array_max(col("xs"))),
      min(col("y")), max(col("y"))).head()
    val projBbox = Seq(bboxRow.getDouble(0), bboxRow.getDouble(2),
      bboxRow.getDouble(1), bboxRow.getDouble(3))
    val geoBbox = Geo.projToGeo(projBbox, crs)
    val geometry =
      s"""{"type": "Polygon", "coordinates": [[[${geoBbox(2)}, ${geoBbox(1)}], [${geoBbox(2)}, ${geoBbox(3)}], [${geoBbox(0)}, ${geoBbox(3)}], [${geoBbox(0)}, ${geoBbox(1)}], [${geoBbox(2)}, ${geoBbox(1)}]]]}"""

    // ---- per-(file, init, leadtime) frame, and per (file, init): the
    // reference time, id and leadtime count
    val refTime = timestamp_millis(
      (col("time") * tScale).cast("long") + lit(tBase.toEpochMilli))
    val leads = tidy
      .groupBy(col("path"), col("time_idx"), col("time"), col("leadtime_idx"))
      .agg(first(col("xs")).as("xs"), collect_set(col("variable")).as("vars"))
    val inits = leads
      .groupBy(col("path"), col("time_idx"), col("time"))
      .agg(count(lit(1)).as("nleadtime"))
      .withColumn("ref_time", refTime)
      .withColumn("item_id", Scalars.itemId(col("ref_time")))
      .withColumn("end_time", Scalars.calendarAdd(col("ref_time"), lit(unit),
        (col("nleadtime") - 1) * step))
      .withColumn("date_str", Scalars.fmtDate(col("ref_time")))
      .withColumn("ts_str", Scalars.formatTime(col("ref_time")))
      .withColumn("nc", relPath("netcdf", opts.name, col("ts_str"), ".nc"))
      .withColumn("jpg", relPath("cogs", opts.name, col("item_id"), ".jpg"))
      .persist()

    // ---- the output manifest, collected: one row per (file, init,
    // leadtime)
    val targets = leads.drop("time").join(inits, Seq("path", "time_idx"))
      .select(col("path"), col("time_idx"), col("time"), col("leadtime_idx"),
        col("item_id"), col("xs"), col("vars"), col("nc"), col("jpg"),
        relPath("cogs", opts.name, cogId(step, unit), ".tif").as("tif"))
      .as[Target].collect().toSeq

    // ---- J2 at the ID level: only inits whose item is not catalogued
    // yet need their assets' statistics and file info
    val catalogRoot = s"${opts.dataPath}/stac/${opts.catalogName}"
    val catalogExists = Files.exists(Paths.get(catalogRoot, "catalog.json"))
    val existing =
      if (catalogExists) StacJsonSink.readItems(spark, catalogRoot)
      else spark.emptyDataset[StacItem]
    val known =
      if (!catalogExists) Set.empty[String]
      else existing.filter(col("collection") === lit(opts.name))
        .select(col("id")).as[String].collect().toSet
    val newIds = targets.map(_.item_id).toSet -- known

    // ---- K1/K2/K3 + A2 + E3: one pass over the output groups
    // K3: the thumbnail shows the first band (name order) of all inputs
    val firstBand = targets.flatMap(_.vars).minOption.getOrElse("")
    val groups = planGroups(targets, newIds, firstBand, opts)
    val reports = if (groups.isEmpty) Array.empty[GroupResult]
      else writeGroups(spark, tidy, groups, firstBand, crs, opts)
    val nSlices = reports.count(r => r.lead < 0 && r.wrote).toLong

    // ---- item assembly + J2 get-or-create vs the existing catalog
    val toWrite =
      if (newIds.isEmpty) existing
      else {
        val newInits = inits.filter(col("item_id").isin(newIds.toSeq: _*))
        val stats = reports.toSeq.flatMap(r => r.bands.map(b =>
          (r.path, r.timeIdx, r.lead, b.variable, b.min, b.max, b.mean,
            b.stddev, b.validPercent)))
          .toDF("path", "time_idx", "leadtime_idx", "variable", "stat_min",
            "stat_max", "stat_mean", "stat_stddev", "valid_percent")
        val files = reports.toSeq.flatMap(_.files)
          .toDF("href", "fsize", "fchecksum")
        // ---- E1/E2: asset rows (netcdf + per-leadtime cog + thumbnail)
        val assets = assetRows(newInits, stats, step, unit, opts)
        // ---- E3/J6: size + blockwise multihash of the files on disk
        val enriched = enrichFileInfo(assets, files)
        val items = buildItems(spark, newInits, enriched, geoBbox,
          geometry, hemisphere, opts)
        // unionByName, never positional union: the two sides originate
        // from different plans (join output vs JSON scan) whose column
        // orders are not guaranteed to agree.
        // persisted: THREE actions consume this relation (the thumbnail
        // promotion's ordered head, the item count, and the catalog
        // write) and each would otherwise replay the item assembly.
        // Unpersisted with the other caches.
        StacOps.getOrCreateItems(existing, items)
          .unionByName(existing)
          .persist()
      }

    // ---- J1/A4: collection merge, then K4 catalog write
    val extent = inits.agg(
      min(Scalars.datetimeToStr(col("ref_time"))),
      max(Scalars.datetimeToStr(col("end_time")))).head()
    // W3 completion — promote the FIRST item's thumbnail to the
    // collection (ref generator.py:798-803, 944-957): one-row limit
    // collected, ordered by (datetime, id) so the election is
    // deterministic; mergeCollections keeps an already-stored
    // collection thumbnail over this incoming one
    val promotedThumb = toWrite
      .select(col("datetime"), col("id"), explode(col("assets")).as("a"))
      .filter(col("a.key") === "thumbnail")
      .orderBy(col("datetime"), col("id"))
      .limit(1)
      .select(col("a.*")).as[graft.model.StacAsset]
      .collect().headOption
    val incomingColl = StacCollection(
      id = opts.name, title = opts.name,
      description = // ref generator.py:654
        s"${opts.name.capitalize.replace("_", " ").replace("-", " ")} collection",
      license = opts.license, bbox = geoBbox,
      temporal_start = extent.getString(0), temporal_end = extent.getString(1),
      assets = promotedThumb.toSeq,
      extra = if (hemisphere.nonEmpty) Map("custom:hemisphere" -> hemisphere)
              else Map.empty)
    val collections =
      if (catalogExists)
        StacOps.mergeCollections(
          StacJsonSink.readCollections(spark, catalogRoot),
          Seq(incomingColl).toDS()).collect().toSeq
      else Seq(incomingColl)

    val nItems = toWrite.count()
    StacJsonSink.write(catalogRoot,
      StacCatalog(opts.catalogName, s"${opts.catalogName} STAC catalog",
        collections.map(_.id)),
      collections, toWrite)
    man.unpersist(); tidy.unpersist(); inits.unpersist()
    toWrite.unpersist() // no-op on the fast path (toWrite eq existing)
    Result(catalogRoot, nItems, nSlices)
  }

  /** Output file path relative to the data dir, under
    * `<kind>/<collection>/<date>/`; the asset href is `./` + this path.
    */
  private def relPath(kind: String, collection: String, file: Column,
                      ext: String) =
    concat(lit(s"$kind/$collection/"), col("date_str"), lit("/"), file, lit(ext))

  private def validTime(step: Double, unit: String) =
    Scalars.calendarAdd(col("ref_time"), lit(unit), col("leadtime_idx") * step)

  private def cogId(step: Double, unit: String) =
    Scalars.cogItemId(col("item_id"), validTime(step, unit))

  /** One (file, init, leadtime) row of the output manifest. */
  private[pipeline] final case class Target(
      path: String, time_idx: Int, time: Double, leadtime_idx: Int,
      item_id: String, xs: Seq[Double], vars: Seq[String], nc: String,
      jpg: String, tif: String)

  /** One output group = one write task: an init's netCDF slice
    * (`lead` -1) or one (init, leadtime) COG, whose leadtime-0 group
    * also writes the thumbnail. `withData`: the group's scanlines are
    * shuffled to it; a group without them only reads its file back.
    */
  private[pipeline] final case class OutGroup(
      path: String, timeIdx: Int, lead: Int, time: Double, xs: Array[Double],
      file: String, thumb: Option[String], withData: Boolean)

  /** One tidy row as shipped to its output groups. */
  private[pipeline] final case class Scanline(
      variable: String, lead: Int, leadtime: Double, yIdx: Int, y: Double,
      values: Array[Double])

  private[pipeline] final case class FileInfo(
      href: String, size: Long, checksum: String)
  private[pipeline] final case class BandStat(
      variable: String, min: Option[Double], max: Option[Double],
      mean: Option[Double], stddev: Option[Double], validPercent: Option[Double])
  /** What a write task reports: whether it wrote its main output, the
    * size and multihash of every output on disk, and (COG groups) the
    * band statistics in variable order.
    */
  private[pipeline] final case class GroupResult(
      path: String, timeIdx: Int, lead: Int, wrote: Boolean,
      files: Seq[FileInfo], bands: Seq[BandStat])

  /** Driver side of the pass: which output groups need a task. A group
    * runs when its item is new (its statistics and file info are needed)
    * or one of its outputs is missing (every group under overwrite). The
    * existence checks run here, once, on the driver; a slice group that
    * has nothing to write gets no scanlines.
    */
  private def planGroups(targets: Seq[Target], newIds: Set[String],
                         firstBand: String, opts: Options): IndexedSeq[OutGroup] = {
    def toWrite(rel: String) = !opts.stacOnly &&
      (opts.overwrite || !Files.exists(Paths.get(s"${opts.dataPath}/$rel")))
    targets.groupBy(t => (t.path, t.time_idx)).toSeq.sortBy(_._1).flatMap {
      case ((path, timeIdx), rows) =>
        val ls = rows.sortBy(_.leadtime_idx)
        val isNew = newIds(ls.head.item_id)
        val xs = ls.head.xs.toArray
        val sliceData = toWrite(ls.head.nc)
        val slice = OutGroup(path, timeIdx, -1, ls.head.time, xs, ls.head.nc,
          None, sliceData)
        val cogs = ls.map(t => OutGroup(path, timeIdx, t.leadtime_idx, t.time,
          xs, t.tif, Option.when(t.leadtime_idx == 0 &&
            t.vars.contains(firstBand))(t.jpg), withData = true))
        Option.when(isNew || sliceData)(slice) ++
          cogs.filter(g => isNew || (g.file +: g.thumb.toSeq).exists(toWrite))
    }.toIndexedSeq
  }

  /** Name of the RDD whose stage runs one task per output group. */
  private[graft] val WriteStage = "preprocess outputs"

  /** Output group i → partition i: one task per output file group, which
    * neither a hash collision nor AQE partition coalescing can merge
    * (AQE leaves RDD shuffles alone).
    */
  private final class GroupPartitioner(n: Int) extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** The pass: ONE shuffle of the cached tidy relation sends each
    * scanline to its init's slice group and its (init, leadtime) COG
    * group; each task then writes its files and reports them.
    */
  private def writeGroups(spark: SparkSession, tidy: DataFrame,
                          groups: IndexedSeq[OutGroup], thumbBand: String,
                          crs: String, opts: Options): Array[GroupResult] = {
    val route = groups.zipWithIndex.collect {
      case (g, i) if g.withData => (g.path, g.timeIdx, g.lead) -> i
    }.toMap
    val bc = spark.sparkContext.broadcast(groups)
    val epsg = "\\d+".r.findFirstIn(crs).map(_.toInt).getOrElse(0)
    val results = tidy
      .select(col("path"), col("time_idx"), col("leadtime_idx"),
        col("variable"), col("leadtime"), col("y_idx"), col("y"),
        col("values"))
      .rdd.flatMap { r =>
        val (path, t, l) = (r.getString(0), r.getInt(1), r.getInt(2))
        val dests = route.get((path, t, -1)) ++ route.get((path, t, l))
        if (dests.isEmpty) Nil
        else {
          val line = Scanline(r.getString(3), l, r.getDouble(4), r.getInt(5),
            r.getDouble(6), r.getSeq[Double](7).toArray)
          dests.map(_ -> line)
        }
      }
      .partitionBy(new GroupPartitioner(groups.size))
      .mapPartitionsWithIndex { (i, part) =>
        Iterator(writeGroup(bc.value(i), part.map(_._2).toSeq, thumbBand,
          epsg, opts))
      }
      .setName(WriteStage)
      .collect()
    bc.destroy()
    results
  }

  /** Writes `rel` under the data dir unless it exists (rewrites under
    * overwrite; never writes under stacOnly or without data), then sizes
    * and hashes the bytes written or read back (E3/F14).
    */
  private def emit(rel: String, withData: Boolean, opts: Options)(
      render: => Array[Byte]): (Boolean, Option[FileInfo]) = {
    val p = Paths.get(s"${opts.dataPath}/$rel")
    val write = withData && !opts.stacOnly && (opts.overwrite || !Files.exists(p))
    val bytes =
      if (write) {
        Files.createDirectories(p.getParent)
        val b = render
        Files.write(p, b)
        Some(b)
      } else if (Files.exists(p)) Some(Files.readAllBytes(p))
      else None
    (write, bytes.map(b =>
      FileInfo(s"./$rel", b.length.toLong, Scalars.blockMultihashMd5(b))))
  }

  private def writeGroup(g: OutGroup, lines: Seq[Scanline], thumbBand: String,
                         epsg: Int, opts: Options): GroupResult =
    if (g.lead < 0) {
      val (wrote, info) = emit(g.file, g.withData, opts)(
        sliceBytes(g, lines, opts.ncFormat))
      GroupResult(g.path, g.timeIdx, g.lead, wrote, info.toSeq, Nil)
    } else {
      // A2: each band's scanlines in y order through the vec_stats fold
      val bands = lines.groupBy(_.variable).toSeq.sortBy(_._1).map {
        case (v, ls) => v -> ls.sortBy(_.yIdx)
      }
      val stats = bands.map { case (v, ls) =>
        val f = new VecStatsExpr.BandFold
        ls.foreach(l => f.add(l.values))
        bandStat(v, f)
      }
      val (wrote, tif) = emit(g.file, g.withData, opts)(
        cogBytes(g, bands, stats, epsg, opts))
      // K3/W3: leadtime-0 thumbnail of the first band
      val jpg = g.thumb.flatMap { rel =>
        emit(rel, g.withData, opts)(Thumbnail.jpeg(
          bands.collectFirst { case (v, ls) if v == thumbBand =>
            ls.map(_.values).toArray }.get))._2
      }
      GroupResult(g.path, g.timeIdx, g.lead, wrote, (tif ++ jpg).toSeq, stats)
    }

  /** A2 finish: min/max/mean over valid cells, numpy's ddof=0 stddev from
    * (Σv, Σv², n) with a 0-clamp, and the valid share floored to 2
    * decimals (ref utils.py:213-259). A fully masked band has null
    * min/max/mean/stddev — the reference's nanstd yields NaN there, and
    * None is what survives its JSON encoding (utils.py:247); its
    * valid_percent stays 0.0 (utils.py:248).
    */
  private def bandStat(v: String, f: VecStatsExpr.BandFold): BandStat = {
    val valid = f.nValid > 0
    val mean = f.sum / f.nValid
    val variance = f.sumSq / f.nValid - mean * mean
    BandStat(v, Option.when(valid)(f.min), Option.when(valid)(f.max),
      Option.when(valid)(mean),
      // greatest(variance, 0.0): NaN and -0.0 pass through unchanged
      Option.when(valid)(math.sqrt(
        if (variance.isNaN || variance >= 0.0) variance else 0.0)),
      Option.when(f.nTotal > 0)(
        math.floor(f.nValid * 100.0 / f.nTotal * 100).toLong / 100.0))
  }

  /** K1: one .nc per (file, init) holding every band's slice (P8 skip in
    * [[emit]]; ref generator.py:906-909 analogue for netCDF).
    */
  private def sliceBytes(g: OutGroup, lines: Seq[Scanline],
                         ncFormat: String): Array[Byte] = {
    val xs = g.xs
    val ys = lines.map(l => l.yIdx -> l.y).distinct.sortBy(_._1).map(_._2).toArray
    val ls = lines.map(l => l.lead -> l.leadtime).distinct.sortBy(_._1)
      .map(_._2).toArray
    val vars = lines.groupBy(_.variable).toSeq.sortBy(_._1).map {
      case (vname, vlines) =>
        val grid = new Array[Double](ys.length * xs.length * ls.length)
        vlines.foreach { r =>
          var x = 0
          while (x < xs.length) {
            grid((r.yIdx * xs.length + x) * ls.length + r.lead) = r.values(x)
            x += 1
          }
        }
        NetCdf.VarSpec(vname, Seq("time", "yc", "xc", "leadtime"), Seq(), grid)
    }
    val coordVars = Seq(
      NetCdf.VarSpec("time", Seq("time"), Seq(), Array(g.time)),
      NetCdf.VarSpec("yc", Seq("yc"), Seq("units" -> "m"), ys),
      NetCdf.VarSpec("xc", Seq("xc"), Seq("units" -> "m"), xs),
      NetCdf.VarSpec("leadtime", Seq("leadtime"), Seq(), ls))
    val dims = Seq("time" -> 1, "yc" -> ys.length, "xc" -> xs.length,
      "leadtime" -> ls.length)
    // K1 parity: the reference writes netCDF-4 with zlib level 9
    // (generator.py:969-977); classic CDF-1 stays available for
    // consumers without HDF5 readers
    if (ncFormat == "netcdf4")
      graft.source.Hdf5Write.write(dims, Seq(), coordVars ++ vars)
    else NetCdf.write(dims, Seq(), coordVars ++ vars)
  }

  /** K2: one multiband COG per (file, init, leadtime), all bands with
    * their A2 statistics embedded as GDAL_METADATA STATISTICS_* items,
    * DEFLATE tiles + overview pyramid (CogWriter). Writes the external
    * `.ovr` sidecar first, so an existing `.tif` implies its sidecar. A
    * slice (bands × y × x) must fit in task memory — the same contract
    * the reference's per-leadtime worker has (generator.py:811-959).
    */
  private def cogBytes(g: OutGroup, lines: Seq[(String, Seq[Scanline])],
                       stats: Seq[BandStat], epsg: Int,
                       opts: Options): Array[Byte] = {
    val xs = g.xs
    val ys = lines.flatMap(_._2).map(l => l.yIdx -> l.y).distinct
      .sortBy(_._1).map(_._2)
    val pixel = if (xs.length > 1) math.abs(xs(1) - xs(0)) else 1.0
    val bands = lines.zip(stats).map { case ((vname, vlines), s) =>
      val grid = Array.ofDim[Double](ys.length, xs.length)
      vlines.foreach(l => Array.copy(l.values, 0, grid(l.yIdx), 0, xs.length))
      def stat(o: Option[Double]) = o.getOrElse(Double.NaN)
      CogWriter.Band(vname, Map(
        "STATISTICS_MINIMUM" -> stat(s.min),
        "STATISTICS_MAXIMUM" -> stat(s.max),
        "STATISTICS_MEAN" -> stat(s.mean),
        "STATISTICS_STDDEV" -> stat(s.stddev),
        "STATISTICS_VALID_PERCENT" -> stat(s.validPercent))) -> grid
    }
    // optional EPSG:4326 warp before the write (ref
    // generator.py:1006-1007; default off)
    val (outBands, cogOpts) =
      if (!opts.reproject)
        (bands, CogWriter.Options(
          compress = opts.compress, epsg = epsg,
          pixelScale = (pixel, pixel), origin = (xs.min, ys.max)))
      else {
        val warped = graft.functions.Reproject.toGeographic(
          bands.map { case (b, g) => b.name -> g },
          xs, ys.toArray, s"EPSG:$epsg")
        val byName = bands.map { case (b, g) => b.name -> b }.toMap
        val dLon = warped.lons(1) - warped.lons(0)
        val dLat = warped.lats(0) - warped.lats(1)
        (warped.bands.map { case (n, g) => byName(n) -> g },
          CogWriter.Options(
            compress = opts.compress, epsg = 4326,
            pixelScale = (dLon, dLat),
            origin = (warped.lons.head - dLon / 2,
              warped.lats.head + dLat / 2)))
      }
    // gdaladdo-parity external overview sidecar alongside the COG (ref
    // cog.py:91-104: `<name>.tif.ovr` moved next to it)
    if (cogOpts.externalOverviews &&
        cogOpts.overviewFactors.exists(f =>
          xs.length / f > 0 && ys.length / f > 0))
      Files.write(Paths.get(s"${opts.dataPath}/${g.file}.ovr"),
        CogWriter.writeOvr(outBands, cogOpts))
    CogWriter.write(outBands, cogOpts)
  }

  /** E1/E2: per-item asset rows as a DataFrame of (item_id, asset struct). */
  private def assetRows(inits: DataFrame, stats: DataFrame, step: Double,
                        unit: String, opts: Options): DataFrame = {
    val emptyExtra = map().cast("map<string,string>")
    val ncAsset = inits.select(col("item_id"), struct(
      lit("netcdf").as("key"),
      concat(lit("./"), col("nc")).as("href"),
      lit("application/x-netcdf").as("media_type"),
      concat(lit("Full forecast netCDF from "),
        Scalars.fmtSpace(col("ref_time"))).as("title"),
      typedLit(Seq("data")).as("roles"),
      lit(null).cast("string").as("checksum"), lit(-1L).as("size"),
      map(
        lit("forecast:reference_time"), Scalars.datetimeToStr(col("ref_time")),
        lit("forecast:end_time"), Scalars.datetimeToStr(col("end_time")),
        lit("forecast:leadtime_length"), col("nleadtime").cast("string"))
        .as("extra")).as("asset"))
    val thumbAsset = inits.select(col("item_id"), struct(
      lit("thumbnail").as("key"),
      concat(lit("./"), col("jpg")).as("href"),
      lit("image/jpeg").as("media_type"),
      lit("Thumbnail").as("title"),
      typedLit(Seq("thumbnail")).as("roles"),
      lit(null).cast("string").as("checksum"), lit(-1L).as("size"),
      emptyExtra.as("extra")).as("asset"))
    // E2: per-leadtime COG asset with embedded band statistics
    val perLead = stats
      .groupBy(col("path"), col("time_idx"), col("leadtime_idx"))
      .agg(sort_array(collect_list(struct(
        col("variable"), col("stat_min"), col("stat_max"), col("stat_mean"),
        col("stat_stddev"), col("valid_percent")))).as("bands"))
      .join(inits, Seq("path", "time_idx"))
      .withColumn("valid_time", validTime(step, unit))
    val cogAsset = perLead.select(col("item_id"), struct(
      concat(lit("cog_lead_"), col("leadtime_idx").cast("string")).as("key"),
      concat(lit("./"), relPath("cogs", opts.name, cogId(step, unit), ".tif"))
        .as("href"),
      lit("image/tiff; application=geotiff; profile=cloud-optimized")
        .as("media_type"),
      concat(lit("Forecast for "), Scalars.fmtSpace(col("valid_time")))
        .as("title"),
      typedLit(Seq("data")).as("roles"),
      lit(null).cast("string").as("checksum"), lit(-1L).as("size"),
      map(
        lit("custom:leadtime"), col("leadtime_idx").cast("string"),
        lit("custom:valid_time"), Scalars.datetimeToStr(col("valid_time")),
        lit("forecast:bands"), to_json(col("bands"))).as("extra")).as("asset"))
    ncAsset.unionByName(thumbAsset).unionByName(cogAsset)
  }

  /** E3/J6: fills each asset's size and blockwise digest-of-digest
    * multihash (F14) from the file info the write tasks reported, by
    * href. Assets whose file does not exist (stacOnly) keep null
    * checksum / -1 size.
    */
  private def enrichFileInfo(assets: DataFrame, files: DataFrame): DataFrame =
    assets
      .select(col("item_id"), col("asset.*"))
      .join(files, Seq("href"), "left")
      .select(col("item_id"), struct(
        col("key"), col("href"), col("media_type"), col("title"), col("roles"),
        coalesce(col("fchecksum"), col("checksum")).as("checksum"),
        coalesce(col("fsize"), col("size")).as("size"),
        col("extra")).as("asset"))

  private def buildItems(spark: SparkSession, inits: DataFrame,
                         assets: DataFrame, geoBbox: Seq[Double],
                         geometry: String, hemisphere: String,
                         opts: Options) = {
    import spark.implicits._
    val base = map(
      lit("forecast:reference_time"), Scalars.datetimeToStr(col("ref_time")),
      lit("forecast:end_time"), Scalars.datetimeToStr(col("end_time")),
      lit("forecast:leadtime_length"), col("nleadtime").cast("string"))
    val props =
      if (hemisphere.isEmpty) base
      else map_concat(base, map(lit("custom:hemisphere"), lit(hemisphere)))
    // comparator array_sort: structs holding a MAP have no natural
    // ordering, but the asset key alone is a deterministic sort
    val byKey = (l: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column) =>
      when(l.getField("key") < r.getField("key"), -1)
        .when(l.getField("key") > r.getField("key"), 1).otherwise(0)
    inits
      .join(assets.groupBy(col("item_id"))
        .agg(array_sort(collect_list(col("asset")), byKey).as("assets")),
        Seq("item_id"))
      .select(
        col("item_id").as("id"),
        lit(opts.name).as("collection"),
        lit(geometry).as("geometry"),
        typedLit(geoBbox).as("bbox"),
        Scalars.datetimeToStr(col("ref_time")).as("datetime"),
        props.as("properties"),
        col("assets"))
      .as[StacItem]
  }
}

/** K3 — JPEG thumbnail encoder: values → blue-white-red diverging LUT →
  * ImageIO JPEG bytes (ref generator.py:1011-1033; pixel-exact parity
  * with matplotlib is out of contract — it's a lossy viz artifact).
  */
object Thumbnail {
  def jpeg(grid: Array[Array[Double]]): Array[Byte] = {
    val h = grid.length; val w = if (h == 0) 0 else grid(0).length
    val img = new java.awt.image.BufferedImage(
      math.max(w, 1), math.max(h, 1), java.awt.image.BufferedImage.TYPE_INT_RGB)
    val flat = grid.flatten.filterNot(_.isNaN)
    val (mn, mx) =
      if (flat.isEmpty) (0.0, 1.0)
      else (flat.min, if (flat.max == flat.min) flat.min + 1 else flat.max)
    for (y <- 0 until h; x <- 0 until w) {
      val v = grid(y)(x)
      val t = if (v.isNaN) 0.5 else (v - mn) / (mx - mn)
      // RdBu_r analogue: 0 → blue, 0.5 → white, 1 → red
      val (r, g, b) =
        if (t < 0.5) {
          val u = t * 2
          ((u * 255).toInt, (u * 255).toInt, 255)
        } else {
          val u = (t - 0.5) * 2
          (255, ((1 - u) * 255).toInt, ((1 - u) * 255).toInt)
        }
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }
}
