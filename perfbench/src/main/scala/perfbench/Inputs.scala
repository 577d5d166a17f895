package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.model.{StacAsset, StacCollection, StacItem}
import graft.source.{Hdf5Write, NetCdf}

/** Seeded inputs. The program only ever sees the files written here; the
  * in-memory copies are what the output checks compare against.
  */
object Grids {

  val Vars: Seq[String] = Seq("sic_mean", "sic_stddev")

  /** `nFiles` daily forecast files starting at day `firstDay`, each one
    * init time on an ny×nx grid with `nLead` leadtimes.
    */
  final case class Spec(nFiles: Int, ny: Int, nx: Int, nLead: Int,
                        firstDay: Int = 0) {
    def cellsPerFile: Long = Vars.length.toLong * ny * nx * nLead
  }

  /** One generated file: per-variable payload in the file's
    * (time=1, yc, xc, leadtime) row-major order.
    */
  final case class GridFile(path: Path, day: Int, spec: Spec,
                            data: Map[String, Array[Double]]) {
    def at(v: String, y: Int, x: Int, l: Int): Double =
      data(v)((y * spec.nx + x) * spec.nLead + l)
  }

  /** Smooth waves over the grid: fixed wavenumbers and the given phases,
    * so every seed gives fields with the same statistics.
    */
  private def waves(phases: Array[Double], ny: Int, nx: Int): Array[Double] = {
    val k = Seq((1.0, 2.0), (2.5, 1.5), (3.0, 3.5))
    Array.tabulate(ny * nx) { i =>
      val (y, x) = (i / nx, i % nx)
      k.indices.map { j =>
        math.sin(2 * math.Pi * (k(j)._1 * y / ny + k(j)._2 * x / nx) + phases(j))
      }.sum
    }
  }

  private def phases(r: SplittableRandom) = Array.fill(3)(r.nextDouble() * 2 * math.Pi)

  /** The value below which a share `q` of `xs` lies. */
  private def quantile(xs: Array[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, (q * s.length).toInt))
  }

  /** Land cells (NaN in every band): 30 % of the grid, fixed across files
    * like a real land mask.
    */
  def landMask(seed: Long, ny: Int, nx: Int): Array[Boolean] = {
    val m = waves(phases(new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)), ny, nx)
    val cut = quantile(m, 0.3)
    m.map(_ < cut)
  }

  /** A sea-ice-like pair of fields per leadtime: concentration is 0 on a
    * fifth of the ocean, 1 on another fifth, and a noisy ramp between;
    * its spread is 0 where the concentration is certain. Values are
    * rounded to float precision, as model output stored in float32 is.
    */
  private def fields(seed: Long, day: Int, spec: Spec,
                     mask: Array[Boolean]): Map[String, Array[Double]] = {
    val r = new SplittableRandom(seed * 1000003L + day * 7919L)
    val (ny, nx, nl) = (spec.ny, spec.nx, spec.nLead)
    val mean = new Array[Double](ny * nx * nl)
    val std = new Array[Double](ny * nx * nl)
    val ph = phases(r)
    for (l <- 0 until nl) {
      // the pattern drifts with leadtime
      val s = waves(ph.map(_ + 0.2 * l), ny, nx)
      val ocean = s.indices.filterNot(mask).map(s).toArray
      val (lo, hi) = (quantile(ocean, 0.2), quantile(ocean, 0.8))
      for (i <- s.indices) {
        val o = i * nl + l
        if (mask(i)) { mean(o) = Double.NaN; std(o) = Double.NaN }
        else {
          val v = (s(i) - lo) / (hi - lo)
          if (v <= 0 || v >= 1) { mean(o) = if (v <= 0) 0.0 else 1.0; std(o) = 0.0 }
          else {
            val n = math.min(1.0, math.max(0.0, v + 0.01 * r.nextGaussian()))
            mean(o) = n.toFloat.toDouble
            std(o) = (0.2 * n * (1 - n) + 0.005 * r.nextDouble()).toFloat.toDouble
          }
        }
      }
    }
    Map(Vars(0) -> mean, Vars(1) -> std)
  }

  /** Writes the spec's files as netCDF-4 through the program's own HDF5
    * encoder, with shuffle + deflate level 4: netCDF4-python's default for
    * `zlib=True`, as forecast producers ship them.
    */
  def write(dir: Path, spec: Spec, seed: Long): Seq[GridFile] = {
    Files.createDirectories(dir)
    val mask = landMask(seed, spec.ny, spec.nx)
    (spec.firstDay until spec.firstDay + spec.nFiles).map { day =>
      val f = GridFile(dir.resolve(f"forecast_$day%04d.nc"), day, spec,
        fields(seed, day, spec, mask))
      Files.write(f.path, encode(f, deflateLevel = 4))
      f
    }
  }

  /** One forecast init as netCDF-4: the layout of the producer's files and,
    * at the encoder's default deflate level, of the slices `preprocess`
    * writes back out.
    */
  def encode(f: GridFile, deflateLevel: Int = 9): Array[Byte] = {
    val spec = f.spec
    val dims = Seq("time" -> 1, "yc" -> spec.ny, "xc" -> spec.nx,
      "leadtime" -> spec.nLead)
    // EASE-Grid 2.0 spacing (25 km), centred on the pole
    def axis(n: Int) = Array.tabulate(n)(i => (i - (n - 1) / 2.0) * 25.0)
    val vars = Seq(
      NetCdf.VarSpec("time", Seq("time"),
        Seq("units" -> "days since 2025-01-01"), Array(f.day.toDouble)),
      NetCdf.VarSpec("yc", Seq("yc"), Seq("units" -> "km"), axis(spec.ny)),
      NetCdf.VarSpec("xc", Seq("xc"), Seq("units" -> "km"), axis(spec.nx)),
      NetCdf.VarSpec("leadtime", Seq("leadtime"), Seq("units" -> "days"),
        Array.tabulate(spec.nLead)(i => (i + 1).toDouble))) ++
      Vars.map(v => NetCdf.VarSpec(v, Seq("time", "yc", "xc", "leadtime"),
        Seq("units" -> "1"), f.data(v)))
    val gatts = Seq(
      "geospatial_bounds_crs" -> "EPSG:6931",
      "geospatial_lat_min" -> "16.6",
      "source" -> "perfbench seeded forecast")
    Hdf5Write.write(dims, gatts, vars, deflateLevel = deflateLevel)
  }

  /** Leadtime `l` of variable `v` as a row-major y×x grid. */
  def slice(f: GridFile, v: String, l: Int): Array[Array[Double]] =
    Array.tabulate(f.spec.ny, f.spec.nx)((y, x) => f.at(v, y, x, l))

  /** Band statistics as the pipeline defines them (NaN-skipping; ddof=0
    * stddev from the running sums; valid percent floored to 2 dp), in
    * the summation order of its scanline kernel.
    */
  final case class BandStats(min: Double, max: Double, mean: Double,
                             stddev: Double, validPercent: Double)

  def bandStats(f: GridFile, v: String, l: Int): BandStats = {
    var n = 0L; var mn = Double.NaN; var mx = Double.NaN
    var sv = 0.0; var sv2 = 0.0
    for (y <- 0 until f.spec.ny) {
      var s = 0.0; var s2 = 0.0
      for (x <- 0 until f.spec.nx) {
        val a = f.at(v, y, x, l)
        if (!a.isNaN) {
          if (n == 0 || a < mn) mn = a
          if (n == 0 || a > mx) mx = a
          s += a; s2 += a * a; n += 1
        }
      }
      sv += s; sv2 += s2
    }
    val mean = sv / n
    BandStats(mn, mx, mean, math.sqrt(math.max(sv2 / n - mean * mean, 0.0)),
      math.floor(n * 100.0 / (f.spec.ny * f.spec.nx) * 100) / 100)
  }
}

/** A STAC catalog's worth of items with band-statistics extras, the shape
  * `preprocess` emits.
  */
object Items {

  def collections(nColl: Int): Seq[StacCollection] =
    (0 until nColl).map(c => StacCollection(
      id = f"model_$c%02d", title = f"Model $c%02d",
      description = f"Model $c%02d forecasts", license = "CC-BY-4.0",
      bbox = Seq(-180.0, 16.6, 180.0, 90.0),
      temporal_start = "2025-01-01T00:00:00Z",
      temporal_end = "2026-12-31T00:00:00Z",
      extra = Map("custom:hemisphere" -> "north")))

  def items(seed: Long, nColl: Int, perColl: Int, nAssets: Int): Seq[StacItem] = {
    val r = new SplittableRandom(seed)
    for (c <- 0 until nColl; i <- 0 until perColl) yield {
      val coll = f"model_$c%02d"
      val day = java.time.LocalDate.of(2025, 1, 1).plusDays(i.toLong)
      val id = s"forecast_init_${day}T00-00-00Z"
      val dt = s"${day}T00:00:00Z"
      val assets = (0 until nAssets).map { a =>
        val bands = Grids.Vars.map { v =>
          val lo = r.nextDouble() * 0.2
          s"""{"variable":"$v","stat_min":$lo,"stat_max":${lo + 0.7},""" +
            s""""stat_mean":${lo + r.nextDouble() * 0.5},""" +
            s""""stat_stddev":${r.nextDouble() * 0.2},""" +
            s""""valid_percent":${60 + r.nextInt(4000) / 100.0}}"""
        }.mkString("[", ",", "]")
        StacAsset(
          key = f"cog_lead_$a%02d",
          href = s"./cogs/$coll/$day/${id}_lead_$a.tif",
          media_type = "image/tiff; application=geotiff; profile=cloud-optimized",
          title = s"Forecast for $day + $a days",
          roles = Seq("data"),
          checksum = "1220" + java.lang.Long.toHexString(r.nextLong()) +
            java.lang.Long.toHexString(r.nextLong()),
          size = 100000L + r.nextInt(50000),
          extra = Map("custom:leadtime" -> a.toString,
            "custom:valid_time" -> dt, "forecast:bands" -> bands))
      }
      StacItem(id, coll,
        """{"type": "Polygon", "coordinates": [[[180.0, 16.6], [180.0, 90.0], [-180.0, 90.0], [-180.0, 16.6], [180.0, 16.6]]]}""",
        Seq(-180.0, 16.6, 180.0, 90.0), dt,
        Map("forecast:reference_time" -> dt,
          "forecast:leadtime_length" -> nAssets.toString,
          "custom:hemisphere" -> "north"),
        assets)
    }
  }
}

/** The parquet tables the query mix reads, generated from the seed in the
  * testdata layout (`<dir>/<name>.parquet`): `nLine` lineitem rows and one
  * document per 50 of them.
  */
object QueryTables {

  private val Words = Seq("spark", "stream", "batch", "scan", "join", "sort",
    "hash", "group", "filter", "window", "table", "column", "row", "key",
    "value", "query", "data", "fast", "slow", "big", "small", "merge",
    "agg", "vector", "order", "part", "line", "customer", "the", "a")

  def write(spark: SparkSession, dir: Path, seed: Long, nLine: Int): Unit = {
    val s = seed
    def u(c: String, salt: Int) = // uniform [0,1) from the row id
      (abs(xxhash64(col(c), lit(s), lit(salt))) % 1000003) / 1000003.0
    val nOrders = nLine / 4
    spark.range(nLine).select(
      (u("id", 1) * nOrders).cast("long").as("l_orderkey"),
      (u("id", 2) * (nLine / 30 + 10)).cast("long").as("l_partkey"),
      (u("id", 3) * (nLine / 600 + 10)).cast("long").as("l_suppkey"),
      ((col("id") % 7) + 1).cast("int").as("l_linenumber"),
      floor(u("id", 4) * 50 + 1).as("l_quantity"),
      round(u("id", 5) * 100000, 2).as("l_extendedprice"),
      round(u("id", 6) * 0.1, 2).as("l_discount"),
      round(u("id", 7) * 0.08, 2).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (u("id", 8) * 3).cast("int") + 1).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")),
        (u("id", 9) * 2).cast("int") + 1).as("l_linestatus"),
      timestamp_seconds(lit(852076800L) + (u("id", 10) * 1.3e8).cast("long"))
        .cast("timestamp_ntz").as("l_shipdate"))
      .write.parquet(dir.resolve("lineitem.parquet").toString)

    // documents: random word runs, a fifth of them near-copies of an
    // earlier document so the dedup queries find clusters
    val nDoc = math.max(200, nLine / 50)
    val words = typedLit(Words)
    def text(idCol: org.apache.spark.sql.Column) =
      array_join(transform(sequence(lit(0),
        (abs(xxhash64(idCol, lit(s), lit(12))) % 50 + 10).cast("int")), i =>
        element_at(words,
          (abs(xxhash64(idCol, i, lit(s), lit(13))) % Words.length).cast("int") + 1)),
        " ")
    val src = col("id") - (col("id") % 5) // the document a near-copy repeats
    spark.range(nDoc)
      .withColumn("base", text(when(col("id") % 5 === 4, src).otherwise(col("id"))))
      .select(
        col("id").as("doc_id"),
        when(col("id") % 5 === 4, concat(col("base"), lit(" merge")))
          .otherwise(col("base")).as("text"),
        element_at(array(Seq("en", "de", "fr", "es", "zh").map(lit): _*),
          (col("id") % 5).cast("int") + 1).as("lang"),
        concat(lit("src"), (col("id") % 5).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(dir.resolve("documents.parquet").toString)
  }
}
