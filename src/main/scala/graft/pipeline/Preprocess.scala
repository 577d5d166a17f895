package graft.pipeline

import java.nio.file.{Files, Paths}
import org.apache.spark.Partitioner
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Geo, Scalars, VecStatsExpr}
import graft.model.{StacAsset, StacCatalog, StacCollection, StacItem}
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
  *   bbox + geometry (A1/F11/F12)       → coord min/max in the output
  *                                        manifest + Geo.projToGeo
  *   per-init item construction (F5/F6) → Scalars id/time functions,
  *                                        evaluated in the output manifest
  *   output manifest + skip (P8)        → ONE collected aggregate of the
  *                                        tidy scan, driver-side existence
  *                                        check, catalog ids
  *   netCDF slices (K1), COGs (K2),     → ONE shuffle of the tidy scan to
  *   leadtime-0 thumbnails (K3/W3)        one task per slice / per COG
  *                                        (the leadtime-0 COG task also
  *                                        writes the thumbnail)
  *   band statistics (A2)               → folded in y order inside the
  *                                        COG task (VecStatsExpr.BandFold)
  *   asset rows + file info (E1/E2/E3/J6) → size + multihash of the bytes
  *                                        each task wrote or read back,
  *                                        assembled on the driver from
  *                                        the task reports
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

  def run(spark: SparkSession, inputGlob: String, opts: Options): Result =
    restoringJobDescription(spark) {
      import spark.implicits._
      val sc = spark.sparkContext

      // ---- S5/J5: config pinning before any work (ref generator.py:627)
      new ConfigRegistry(s"${opts.dataPath}/config.json")
        .storeOrValidate(opts.name,
          Map("forecast_frequency" -> opts.forecastFrequency))
      val (step, unit) = parseFrequency(opts.forecastFrequency)

      // ---- metadata pass: P1/P2/P9 + CRS + time units, one collect of the
      // header-only manifest
      sc.setJobDescription("preprocess: manifest")
      val isTime = col("variable").isin(NetCdfSource.TimeCandidates: _*)
      val meta = sourceManifest(spark, inputGlob)
        .filter(col("is_band") || isTime)
        .select(col("is_band"), isTime, col("units"), col("crs"),
          when(col("is_band"), Scalars.hemisphere(col("lat_min"))))
        .as[(Boolean, Boolean, String, String, String)].collect()
      val timeUnits = meta.collect { case (_, true, u, _, _) => u }.distinct
      require(timeUnits.length == 1, s"mixed time units: ${timeUnits.toSeq}")
      val (tScale, tBase) = parseTimeUnits(timeUnits.head)
      val (crs, hemisphere) =
        meta.collectFirst { case (true, _, _, c, h) => (c, h) }.get

      // ---- one cached tidy scan replaces the reference's three opens
      val tidy = sourceTidy(spark, inputGlob).persist()

      // ---- the output manifest, collected: one row per (file, init,
      // leadtime)
      sc.setJobDescription("preprocess: output manifest")
      val targets = outputManifest(tidy, tScale, tBase, step, unit, opts)
        .as[Target].collect().toSeq

      // ---- A1/F11/F12: bbox in projected meters → geographic via LAEA
      val projBbox = Seq(targets.map(_.x_min).min, targets.map(_.y_min).min,
        targets.map(_.x_max).max, targets.map(_.y_max).max)
      val geoBbox = Geo.projToGeo(projBbox, crs)
      val geometry =
        s"""{"type": "Polygon", "coordinates": [[[${geoBbox(2)}, ${geoBbox(1)}], [${geoBbox(2)}, ${geoBbox(3)}], [${geoBbox(0)}, ${geoBbox(3)}], [${geoBbox(0)}, ${geoBbox(1)}], [${geoBbox(2)}, ${geoBbox(1)}]]]}"""

      // ---- J2 at the ID level: only inits whose item is not catalogued
      // yet need their assets' statistics and file info
      val catalogRoot = s"${opts.dataPath}/stac/${opts.catalogName}"
      val catalogExists = Files.exists(Paths.get(catalogRoot, "catalog.json"))
      sc.setJobDescription("preprocess: catalog read")
      val existing =
        if (catalogExists) StacJsonSink.readItems(spark, catalogRoot)
        else spark.emptyDataset[StacItem]
      val (nStored, storedIds, storedThumb) =
        if (catalogExists) storedItems(existing, opts.name)
        else (0L, Nil, None)
      val newIds = targets.map(_.item_id).toSet -- storedIds

      // ---- K1/K2/K3 + A2 + E3: one pass over the output groups
      // K3: the thumbnail shows the first band (name order) of all inputs
      sc.setJobDescription("preprocess: write pass")
      val firstBand = targets.flatMap(_.vars).minOption.getOrElse("")
      val groups = planGroups(targets, newIds, firstBand, opts)
      val reports = if (groups.isEmpty) Array.empty[GroupResult]
        else writeGroups(spark, tidy, groups, firstBand, crs, opts)
      val nSlices = reports.count(r => r.lead < 0 && r.wrote).toLong

      // ---- E1/E2/E3/J6: the new items, assembled on the driver
      val newItems = assembleItems(spark,
        targets.filter(t => newIds(t.item_id)), reports.toSeq, geoBbox,
        geometry, hemisphere, opts)

      // ---- J1/A4: collection merge, then K4 catalog write
      // W3 completion — promote the FIRST item's thumbnail to the
      // collection (ref generator.py:798-803, 944-957), elected among the
      // run's collection by (datetime, id) so the election is
      // deterministic; mergeCollections keeps an already-stored
      // collection thumbnail over this incoming one
      val promotedThumb = (storedThumb ++ newItems.flatMap(it =>
          it.assets.find(_.key == "thumbnail").map(Thumb(it.datetime, it.id, _))))
        .minByOption(t => (t.datetime, t.id)).map(_.asset)
      val incomingColl = StacCollection(
        id = opts.name, title = opts.name,
        description = // ref generator.py:654
          s"${opts.name.capitalize.replace("_", " ").replace("-", " ")} collection",
        license = opts.license, bbox = geoBbox,
        temporal_start = targets.flatMap(t => Option(t.datetime)).minOption.orNull,
        temporal_end = targets.flatMap(t => Option(t.end_time)).maxOption.orNull,
        assets = promotedThumb.toSeq,
        extra = if (hemisphere.nonEmpty) Map("custom:hemisphere" -> hemisphere)
                else Map.empty)
      sc.setJobDescription("preprocess: catalog read")
      val collections =
        if (catalogExists)
          StacOps.mergeCollections(
            StacJsonSink.readCollections(spark, catalogRoot),
            Seq(incomingColl).toDS()).collect().toSeq
        else Seq(incomingColl)

      // J2 get-or-create: the new ids already exclude the collection's
      // stored ones, so only the new items are written — stored item
      // files stay as they are, and a run with no new item submits no
      // item-write job
      sc.setJobDescription("preprocess: catalog write")
      val catalog = StacCatalog(opts.catalogName,
        s"${opts.catalogName} STAC catalog", collections.map(_.id))
      if (newItems.isEmpty)
        StacJsonSink.writeSkeleton(catalogRoot, catalog, collections)
      else StacJsonSink.write(catalogRoot, catalog, collections, newItems.toDS())
      tidy.unpersist()
      Result(catalogRoot, nStored + newItems.size, nSlices)
    }

  /** Runs `body`, then restores the caller's job description, also when
    * `body` throws: the pipelines label their jobs by section.
    */
  private[pipeline] def restoringJobDescription[A](spark: SparkSession)(
      body: => A): A = {
    val caller = spark.sparkContext.getLocalProperty("spark.job.description")
    try body finally spark.sparkContext.setJobDescription(caller)
  }

  /** Output file path relative to the data dir, under
    * `<kind>/<collection>/<date>/`; the asset href is `./` + this path
    * ([[assetHref]]).
    */
  private def relPath(kind: String, collection: String, file: Column,
                      ext: String) =
    concat(lit(s"$kind/$collection/"), col("date_str"), lit("/"), file, lit(ext))

  /** F8: the published href of an output at data-dir path `rel` — `./`
    * + `rel`, rewritten onto the file server when one is configured.
    */
  private def assetHref(rel: Column, opts: Options): Column = {
    val local = concat(lit("./"), rel)
    opts.fileServerUrl.fold(local)(Scalars.hrefRewrite(local, _))
  }

  /** The output manifest: ONE aggregate of the tidy scan per (file,
    * init), exploded to one row per leadtime. A row carries its init's
    * projected bbox and every id, path, href, time string and title its
    * item needs (F5/F6/F8), all from [[Scalars]], evaluated in this one
    * action.
    */
  private def outputManifest(tidy: DataFrame, tScale: Long,
                             tBase: java.time.Instant, step: Double,
                             unit: String, opts: Options): DataFrame = {
    val refTime = col("ref_time")
    val validTime = col("valid_time")
    tidy
      .groupBy(col("path"), col("time_idx"), col("time"))
      .agg(first(col("xs")).as("xs"),
        collect_set(struct(col("leadtime_idx"), col("variable"))).as("lv"),
        min(array_min(col("xs"))).as("x_min"),
        max(array_max(col("xs"))).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
      .withColumn("leads", array_sort(array_distinct(
        transform(col("lv"), _.getField("leadtime_idx")))))
      .withColumn("leadtime_idx", explode(col("leads")))
      // the variables present at this leadtime
      .withColumn("vars", transform(
        filter(col("lv"), _.getField("leadtime_idx") === col("leadtime_idx")),
        _.getField("variable")))
      .withColumn("ref_time", timestamp_millis(
        (col("time") * tScale).cast("long") + lit(tBase.toEpochMilli)))
      .withColumn("item_id", Scalars.itemId(refTime))
      .withColumn("end_time", Scalars.calendarAdd(refTime, lit(unit),
        (size(col("leads")) - 1) * step))
      .withColumn("valid_time", Scalars.calendarAdd(refTime, lit(unit),
        col("leadtime_idx") * step))
      .withColumn("date_str", Scalars.fmtDate(refTime))
      .withColumn("nc",
        relPath("netcdf", opts.name, Scalars.formatTime(refTime), ".nc"))
      .withColumn("jpg", relPath("cogs", opts.name, col("item_id"), ".jpg"))
      .withColumn("tif", relPath("cogs", opts.name,
        Scalars.cogItemId(col("item_id"), validTime), ".tif"))
      .select(col("path"), col("time_idx"), col("time"), col("leadtime_idx"),
        col("item_id"), col("xs"), col("vars"), col("nc"), col("jpg"),
        col("tif"), assetHref(col("nc"), opts).as("nc_href"),
        assetHref(col("jpg"), opts).as("jpg_href"),
        assetHref(col("tif"), opts).as("tif_href"),
        Scalars.datetimeToStr(refTime).as("datetime"),
        Scalars.datetimeToStr(col("end_time")).as("end_time"),
        size(col("leads")).cast("string").as("nleadtime"),
        concat(lit("Full forecast netCDF from "), Scalars.fmtSpace(refTime))
          .as("nc_title"),
        Scalars.datetimeToStr(validTime).as("valid_time"),
        concat(lit("Forecast for "), Scalars.fmtSpace(validTime))
          .as("cog_title"),
        col("x_min"), col("x_max"), col("y_min"), col("y_max"))
  }

  /** One (file, init, leadtime) row of the output manifest. */
  private[pipeline] final case class Target(
      path: String, time_idx: Int, time: Double, leadtime_idx: Int,
      item_id: String, xs: Seq[Double], vars: Seq[String], nc: String,
      jpg: String, tif: String, nc_href: String, jpg_href: String,
      tif_href: String, datetime: String, end_time: String,
      nleadtime: String, nc_title: String, valid_time: String,
      cog_title: String, x_min: Double, x_max: Double, y_min: Double,
      y_max: Double)

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
  /** One band's statistics, named as in `forecast:bands`. */
  private[pipeline] final case class BandStat(
      variable: String, stat_min: Option[Double], stat_max: Option[Double],
      stat_mean: Option[Double], stat_stddev: Option[Double],
      valid_percent: Option[Double])
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
        sliceBytes(g, lines))
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
  private def sliceBytes(g: OutGroup, lines: Seq[Scanline]): Array[Byte] = {
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
    // (generator.py:969-977)
    graft.source.Hdf5Write.write(dims, Seq(), coordVars ++ vars)
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
        "STATISTICS_MINIMUM" -> stat(s.stat_min),
        "STATISTICS_MAXIMUM" -> stat(s.stat_max),
        "STATISTICS_MEAN" -> stat(s.stat_mean),
        "STATISTICS_STDDEV" -> stat(s.stat_stddev),
        "STATISTICS_VALID_PERCENT" -> stat(s.valid_percent))) -> grid
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

  private[pipeline] final case class Thumb(datetime: String, id: String,
                                           asset: StacAsset)

  /** What the run needs of the stored items, in one action, which keeps
    * them a Dataset: their number (every collection), the ids of the
    * run's collection, and its first thumbnail by (datetime, id) (W3).
    */
  private def storedItems(existing: Dataset[StacItem], name: String)
      : (Long, Seq[String], Option[Thumb]) = {
    import existing.sparkSession.implicits._
    val mine = col("collection") === lit(name)
    val thumb = get(filter(col("assets"), _.getField("key") === "thumbnail"),
      lit(0))
    existing.agg(
        count(lit(1)),
        collect_list(when(mine, col("id"))),
        min_by(struct(col("datetime"), col("id"), thumb.as("asset")),
          when(mine && thumb.isNotNull, struct(col("datetime"), col("id")))))
      .as[(Long, Seq[String], Option[Thumb])].head()
  }

  /** E1/E2/E3/J6 on the driver: one item per new init, from its output
    * manifest rows and the write tasks' reports. Each asset carries the
    * size and multihash its task reported for its file, or null / -1
    * when the file does not exist (stacOnly), and its published href
    * (F8); a COG asset carries its band statistics.
    */
  private def assembleItems(spark: SparkSession, targets: Seq[Target],
                            reports: Seq[GroupResult], geoBbox: Seq[Double],
                            geometry: String, hemisphere: String,
                            opts: Options): Seq[StacItem] = {
    import spark.implicits._
    val files = reports.flatMap(_.files).map(f => f.href -> f).toMap
    def asset(key: String, rel: String, href: String, mediaType: String,
              title: String, role: String, extra: Map[String, String]) = {
      val f = files.get(s"./$rel")
      StacAsset(key, href, mediaType, title, Seq(role),
        f.map(_.checksum).orNull, f.fold(-1L)(_.size), extra)
    }
    // E2: `forecast:bands` is Spark's own to_json of a COG's statistics,
    // a projection of local rows the optimizer folds on the driver (no job)
    val cogs = reports.filter(_.bands.nonEmpty)
    val bands = cogs.map(r => (r.path, r.timeIdx, r.lead)).zip(cogs.map(_.bands)
      .toDF("bands").select(to_json(col("bands"))).as[String].collect()).toMap
    targets.groupBy(t => (t.path, t.time_idx)).toSeq.sortBy(_._1).map {
      case (init, rows) =>
        val ls = rows.sortBy(_.leadtime_idx)
        val t = ls.head
        val forecast = Map(
          "forecast:reference_time" -> t.datetime,
          "forecast:end_time" -> t.end_time,
          "forecast:leadtime_length" -> t.nleadtime)
        // E2: per-leadtime COG asset with embedded band statistics
        val cogAssets = ls.flatMap(l =>
          bands.get((init._1, init._2, l.leadtime_idx)).map(json =>
            asset(s"cog_lead_${l.leadtime_idx}", l.tif, l.tif_href,
              "image/tiff; application=geotiff; profile=cloud-optimized",
              l.cog_title, "data", Map(
                "custom:leadtime" -> l.leadtime_idx.toString,
                "custom:valid_time" -> l.valid_time,
                "forecast:bands" -> json))))
        StacItem(t.item_id, opts.name, geometry, geoBbox, t.datetime,
          if (hemisphere.isEmpty) forecast
          else forecast + ("custom:hemisphere" -> hemisphere),
          asset("netcdf", t.nc, t.nc_href, "application/x-netcdf",
            t.nc_title, "data", forecast) +:
          asset("thumbnail", t.jpg, t.jpg_href, "image/jpeg", "Thumbnail",
            "thumbnail", Map.empty) +: cogAssets)
    }
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
