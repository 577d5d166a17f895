package graft.source

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S1/P1/P2 — NetCDF scan as a Spark source: `binaryFile` file-source →
  * per-task classic-format decode → tidy rows. The decode happens inside
  * the executors (flatMap over file rows), so a directory of forecast
  * files parallelizes per file exactly like the reference's per-file
  * loop (X2) — but distributed, and with Catalyst able to prune/filter
  * the tidy output downstream.
  *
  * Schema notes (SURVEY §1.4): one row per (variable, time_idx,
  * leadtime_idx, y) scanline with an `xs` array payload — the shape that
  * keeps row counts bounded (y × leadtime × vars) while leaving x fully
  * vectorized; `explode(xs)` yields the fully-relational form when
  * needed.
  */
object NetCdfSource {

  /** P1 — coordinate-name resolution (ref utils.py:17-31,
    * generator.py:487-496): first candidate present wins.
    */
  val XCandidates = Seq("xc", "x", "lon", "longitude")
  val YCandidates = Seq("yc", "y", "lat", "latitude")
  val TimeCandidates = Seq("time", "forecast_time")
  val LeadCandidates = Seq("leadtime", "lead_time")

  def findCoord(names: Seq[String], candidates: Seq[String]): Option[String] =
    candidates.find(names.contains)

  /** Resolve path patterns to concrete file paths (driver-side, Hadoop
    * FileSystem — works on local disk, HDFS, object stores), for both
    * netCDF readers: this object's glob scans and
    * `spark.read.format("netcdf")`. A pattern matching nothing FAILS (a
    * typo'd path must not read as an empty dataset); a matched
    * directory expands to its visible files (the listing binaryFile
    * used to do).
    */
  private[graft] def resolvePaths(spark: SparkSession,
                                  patterns: Seq[String]): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    patterns.flatMap { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      val matches = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
      require(matches.nonEmpty, s"netcdf scan: path does not exist: $p")
      matches.flatMap { st =>
        if (st.isFile) Seq(st.getPath.toString)
        else fs.listStatus(st.getPath).toSeq.filter(_.isFile)
          .map(_.getPath.toString)
          .filterNot(n => { val b = n.substring(n.lastIndexOf('/') + 1)
            b.startsWith(".") || b.startsWith("_") })
      }
    }.sorted.distinct
  }

  /** One task-side positioned-read source per path; paths fan out one
    * per task. Replaces the binaryFile scan that shipped WHOLE file
    * contents into each task — fatal for the metadata-only pass over a
    * 100 TB archive, where the header is a few KB of a multi-GB file.
    */
  private def perFile[T: org.apache.spark.sql.Encoder](
      spark: SparkSession, glob: String)(
      f: (String, GridFile) => IterableOnce[T]) = {
    import spark.implicits._
    val paths = resolvePaths(spark, glob.split(",").toSeq)
    val par = math.max(1, math.min(paths.size, spark.sparkContext.defaultParallelism))
    // session Hadoop conf rides to the tasks (spark.hadoop.* —
    // object-store credentials etc.); a bare executor-side
    // Configuration() would see only classpath defaults
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    // parallelize (not repartition) keeps the file→partition assignment
    // deterministic and shuffle-free: one slice per file up to the core
    // count, in sorted path order
    spark.createDataset(spark.sparkContext.parallelize(paths, par)).flatMap { path =>
      val hp = new org.apache.hadoop.fs.Path(path)
      val src = new FsByteSource(
        hp.getFileSystem(confBc.value.value), hp)
      // the row stream is lazy and a limit can stop consuming it early;
      // tie the close to task completion, not iterator exhaustion
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => src.close()))
      f(path, GridFile.open(src)).iterator
    }
  }

  /** Per-file, per-variable manifest: the metadata-only first pass (ref
    * get_forecast_info, generator.py:461-531) — header decode only, no
    * payload read. Columns: path, variable, ndim, dims, dtype, n_values,
    * units, crs, x_coord, y_coord, is_band (P2: exactly-4-D filter).
    */
  def manifest(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    perFile(spark, glob) { (path, g) =>
        val names = g.varNames
        val xc = findCoord(names, XCandidates).orNull
        val yc = findCoord(names, YCandidates).orNull
        val crs = g.gattText("geospatial_bounds_crs").orNull
        // lat_min may be stored as a char or numeric attr (ref
        // utils.py:70 reads it unconditionally from attrs)
        val latMin: java.lang.Double = g.gattText("geospatial_lat_min")
          .flatMap(_.toDoubleOption)
          .orElse(g.gattNums("geospatial_lat_min").headOption)
          .map(Double.box).orNull
        names.map { v =>
          (path, v, g.rank(v), g.dimNames(v).mkString(","),
            g.dtypeName(v), g.shape(v).product.toLong,
            g.varAttrText(v, "units").orNull, crs, xc, yc,
            g.isPayload(v, 4), latMin)
        }
      }
      .toDF("path", "variable", "ndim", "dims", "dtype", "n_values",
        "units", "crs", "x_coord", "y_coord", "is_band", "lat_min")
  }

  /** Category vocabulary of ENUM-typed variables (netCDF-4 user types,
    * the CF flag-variable shape): one row per (path, variable, code,
    * label), from the decoded enum name↔value map — a metadata-only
    * pass (header reads, no payload bytes), so it broadcast-joins
    * against the tidy scan at any archive size.
    */
  def enumLabels(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    perFile(spark, glob) { (path, g) =>
      g.varNames.filter(v => g.dtypeName(v).startsWith("enum"))
        .flatMap { v =>
          val names = g.varAttrText(v, "enum_names")
            .map(_.split(" ").toSeq).getOrElse(Nil)
          val values = g.varAttrNums(v, "enum_values").map(_.toLong)
          values.zip(names).map { case (code, label) =>
            (path, v, code, label)
          }
        }
    }.toDF("path", "variable", "code", "label")
  }

  /** Per-record member decode of a COMPOUND variable (coordinate
    * bounds, user-defined record types): one row per record, member
    * values in the requested order — per-file parallel like every
    * other scan, positioned reads underneath.
    */
  def compoundRecords(spark: SparkSession, glob: String, dataset: String,
                      members: Seq[String]): DataFrame = {
    import spark.implicits._
    perFile(spark, glob) { (path, g) =>
      val cols = members.map(m => g.readMemberDoubles(dataset, m))
      val nRec = cols.headOption.map(_.length).getOrElse(0)
      require(cols.forall(_.length == nRec),
        s"ragged member lengths for $dataset in $path " +
          s"(${members.zip(cols.map(_.length)).mkString(", ")})")
      (0 until nRec).map(i => (path, i.toLong, members.indices.map(cols(_)(i))))
    }.toDF("path", "rec_idx", "member_values")
  }

  /** Ragged VLEN (class 9) rows: one row per cell with its
    * variable-length values array — the distributed scan for netCDF-4
    * VLEN variables.
    */
  def vlenRows(spark: SparkSession, glob: String, dataset: String)
      : DataFrame = {
    import spark.implicits._
    perFile(spark, glob) { (path, g) =>
      g.readVlenRows(dataset).zipWithIndex.map { case (v, i) =>
        (path, i.toLong, v) }
    }.toDF("path", "cell_idx", "vals")
  }

  /** Tidy decode of the 4-D band variables: one row per (variable,
    * time_idx, leadtime_idx, y scanline). Coordinate VALUES are resolved
    * through P1 and unit-normalized through P3 (km / "1000 meter" → m ×
    * 1000, ref generator.py:533-553) at decode time.
    */
  def tidy(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    perFile(spark, glob) { (path, g) =>
      decodeTidy(path, g, None, None, None)
    }.toDF("path", "variable", "time_idx", "time", "leadtime_idx",
        "leadtime", "y_idx", "y", "xs", "values")
  }

  /** Format-neutral tidy decode over an already-opened [[GridFile]] —
    * the seam the DSv2 reader uses so >2 GiB HDF5 inputs stream through
    * positioned reads instead of a whole-file buffer.
    */
  private[source] def decodeTidy(path: String, g: GridFile,
      varFilter: Option[Set[String]],
      tFilter: Option[Int],
      lFilter: Option[Int])
      : Iterator[(String, String, Int, Double, Int, Double, Int, Double,
                  Array[Double], Array[Double])] = {
    val names = g.varNames
    def coordData(cands: Seq[String]): (String, Array[Double]) = {
      val n = findCoord(names, cands).getOrElse(
        throw new IllegalArgumentException(s"no coord among $cands in $path"))
      n -> g.readDoubles(n)
    }
    val (xName, xRaw) = coordData(XCandidates)
    val (yName, yRaw) = coordData(YCandidates)
    val (tName, tVals) = coordData(TimeCandidates)
    val (lName, lVals) = coordData(LeadCandidates)
    def norm(coord: String, raw: Array[Double]): Array[Double] = {
      val units = g.varAttrText(coord, "units").getOrElse("")
      if (units == "km" || units == "1000 meter") raw.map(_ * 1000) else raw
    }
    val xs = norm(xName, xRaw); val ys = norm(yName, yRaw)
    // P2 + pushed-down predicates: an excluded band's payload is NEVER
    // read (the whole-variable byte range is skipped), which is the
    // dominant saving when a query wants one band of many
    val bands = names.filter(g.isPayload(_, 4))
      .filter(v => varFilter.forall(_.contains(v)))
    bands.iterator.flatMap { v =>
      val dimNames = g.dimNames(v)
      require(dimNames == Seq(tName, yName, xName, lName),
        s"unexpected band layout $dimNames in $path " +
          s"(expected ${Seq(tName, yName, xName, lName)})")
      // pushed time/leadtime predicates reach CHUNK granularity on
      // HDF5 (slices outside the filter are never inflated); the cells
      // the emit loop below reads are exactly the kept slice
      val fixed = (tFilter.map(tName -> _) ++ lFilter.map(lName -> _)).toMap
      val data = cfDecode(g, v, g.readDoublesSliced(v, fixed))
      val (nt, ny, nx, nl) = (tVals.length, ys.length, xs.length, lVals.length)
      for {
        t <- (0 until nt).iterator if tFilter.forall(_ == t)
        l <- (0 until nl).iterator if lFilter.forall(_ == l)
        y <- (0 until ny).iterator
      } yield {
        val row = new Array[Double](nx)
        var x = 0
        while (x < nx) {
          row(x) = data(((t * ny + y) * nx + x) * nl + l)
          x += 1
        }
        (path, v, t, tVals(t), l, lVals(l), y, ys(y), xs, row)
      }
    }
  }

  /** CF mask-and-scale, matching the reference's xarray decode
    * (`xr.open_dataset` defaults, ref generator.py:485): cells equal to
    * `_FillValue` or `missing_value` become NaN, then packed payloads
    * unpack as `v * scale_factor + add_offset`. No-op (zero copies) for
    * variables without the CF attributes.
    */
  private[source] def cfDecode(g: GridFile, v: String,
                               data: Array[Double]): Array[Double] = {
    val fill = g.varAttrNum(v, "_FillValue")
    val miss = g.varAttrNum(v, "missing_value")
    val scale = g.varAttrNum(v, "scale_factor")
    val offset = g.varAttrNum(v, "add_offset")
    if (fill.isEmpty && miss.isEmpty && scale.isEmpty && offset.isEmpty) data
    else {
      val sc = scale.getOrElse(1.0)
      val off = offset.getOrElse(0.0)
      val out = new Array[Double](data.length)
      var i = 0
      while (i < data.length) {
        val x = data(i)
        out(i) =
          if (fill.exists(_ == x) || miss.exists(_ == x)) Double.NaN
          else x * sc + off
        i += 1
      }
      out
    }
  }
}

/** Deterministic synthetic forecast fixture, shaped like the reference's
  * test dataset (reference test_generator.py:23-46: vars sic_mean /
  * sic_stddev over (time, yc, xc, leadtime), CRS EPSG:6931, coords in
  * km) but with a closed-form payload so tests can assert exact
  * statistics: value = sin-free rational in (t, y, x, l), with NaNs
  * planted on a known stride to exercise valid_percent.
  */
object NetCdfFixture {

  /** The fixture's (dims, gatts, vars) triple — shared by the classic
    * and netCDF-4/HDF5 renderings so both formats carry byte-identical
    * payloads and the scans can be compared 1:1.
    */
  def spec(nt: Int = 1, ny: Int = 8, nx: Int = 8, nl: Int = 3,
           tStart: Double = 0.0)
      : (Seq[(String, Int)], Seq[(String, String)], Seq[NetCdf.VarSpec]) = {
    def grid(f: (Int, Int, Int, Int) => Double): Array[Double] = {
      val a = new Array[Double](nt * ny * nx * nl)
      var i = 0
      for (t <- 0 until nt; y <- 0 until ny; x <- 0 until nx; l <- 0 until nl) {
        a(i) = f(t, y, x, l); i += 1
      }
      a
    }
    val mean = grid((t, y, x, l) =>
      if ((y * nx + x + l) % 17 == 0) Double.NaN
      else (t + 1) * 0.1 + y * 0.01 + x * 0.001 + l * 0.0001)
    val std = grid((t, y, x, l) => (y + x + l + t) * 0.005)
    (Seq("time" -> nt, "yc" -> ny, "xc" -> nx, "leadtime" -> nl),
      Seq(
        "geospatial_bounds_crs" -> "EPSG:6931",
        "geospatial_lat_min" -> "45.0",
        "source" -> "graft synthetic fixture"),
      Seq(
        NetCdf.VarSpec("time", Seq("time"), Seq("units" -> "days since 2025-01-01"),
          (0 until nt).map(tStart + _).toArray),
        NetCdf.VarSpec("yc", Seq("yc"), Seq("units" -> "km"),
          (0 until ny).map(i => 100.0 + i).toArray),
        NetCdf.VarSpec("xc", Seq("xc"), Seq("units" -> "km"),
          (0 until nx).map(i => 200.0 + i).toArray),
        NetCdf.VarSpec("leadtime", Seq("leadtime"), Seq(),
          (0 until nl).map(_.toDouble).toArray),
        NetCdf.VarSpec("sic_mean", Seq("time", "yc", "xc", "leadtime"),
          Seq("units" -> "1", "long_name" -> "sea ice concentration mean"), mean),
        NetCdf.VarSpec("sic_stddev", Seq("time", "yc", "xc", "leadtime"),
          Seq("units" -> "1"), std)))
  }

  def bytes(nt: Int = 1, ny: Int = 8, nx: Int = 8, nl: Int = 3,
            tStart: Double = 0.0): Array[Byte] = {
    val (dims, gatts, vars) = spec(nt, ny, nx, nl, tStart)
    NetCdf.write(dims, gatts, vars)
  }

  /** Same content as [[bytes]] but rendered as netCDF-4/HDF5 with
    * shuffle + deflate-9 chunks — the reference's own output format
    * (generator.py:969-977).
    */
  def bytesHdf5(nt: Int = 1, ny: Int = 8, nx: Int = 8, nl: Int = 3,
                tStart: Double = 0.0): Array[Byte] = {
    val (dims, gatts, vars) = spec(nt, ny, nx, nl, tStart)
    Hdf5Write.write(dims, gatts, vars)
  }

  /** Write the fixture as .nc files under a directory; returns the glob.
    * `hdf5 = true` renders netCDF-4/HDF5 files instead of classic.
    */
  def writeFiles(dir: java.nio.file.Path, n: Int = 2,
                 hdf5: Boolean = false, ny: Int = 8, nx: Int = 8): String = {
    java.nio.file.Files.createDirectories(dir)
    (0 until n).foreach { i =>
      // distinct init date per file, like a daily forecast drop
      val b = if (hdf5) bytesHdf5(nt = 1, ny = ny, nx = nx, tStart = i.toDouble)
              else bytes(nt = 1, ny = ny, nx = nx, tStart = i.toDouble)
      java.nio.file.Files.write(dir.resolve(f"forecast_$i%02d.nc"), b)
    }
    s"$dir/*.nc"
  }

  /** The appendable-archive rendering: netCDF-4 with UNLIMITED time and
    * the v4 Extensible Array chunk index — what h5py `maxshape=(None,…)`
    * + `libver='latest'` emits as a forecast archive grows. Multiple
    * time steps per file, one chunk per step, so the EA's tiers are
    * exercised on the scan path.
    */
  /** The hdf5plugin rendering: netCDF-4 whose payload chunks run
    * through a REGISTERED filter — "lz4" (32004), "bitshuffle-lz4"
    * (32008, the common compressed-archive combo) or "zstd" (32015) —
    * instead of shuffle+deflate. What `hdf5plugin.Bitshuffle()` etc.
    * produce from h5py.
    */
  def writeFilesFiltered(dir: java.nio.file.Path, regFilter: String,
                         n: Int = 2): String = {
    java.nio.file.Files.createDirectories(dir)
    (0 until n).foreach { i =>
      val (dims, gatts, vars) = spec(nt = 1, tStart = i.toDouble)
      // szip (filter 4) codes ≤ 32-bit samples: payloads go binary16,
      // the half-float regime szip'd archives actually sit in
      val halves =
        if (regFilter == "szip")
          vars.map(_.name).toSet -- dims.map(_._1).toSet
        else Set.empty[String]
      val b = Hdf5Write.write(dims, gatts, vars,
        regFilter = Some(regFilter), halfVars = halves)
      val tag = regFilter.replace("-", "_")
      java.nio.file.Files.write(dir.resolve(f"${tag}_$i%02d.nc"), b)
    }
    s"$dir/*.nc"
  }

  /** Archives whose datasets reference a COMMITTED (shared) float64
    * datatype instead of inline messages — half in the default
    * "earliest" rendering, half as appendable Extensible-Array files
    * whose first data blocks PAGE straight from the index block
    * (4-element pages), so one glob covers both r10 reader edges.
    */
  def writeFilesShared(dir: java.nio.file.Path, n: Int = 2): String = {
    java.nio.file.Files.createDirectories(dir)
    (0 until n).foreach { i =>
      val (dims, gatts, vars) = spec(nt = 1, tStart = i.toDouble)
      val b = Hdf5Write.write(dims, gatts, vars, sharedDatatype = true)
      java.nio.file.Files.write(dir.resolve(f"shared_$i%02d.nc"), b)
    }
    (0 until n).foreach { i =>
      val (dims, gatts, vars) = spec(nt = 12, tStart = (n + i) * 12.0)
      val b = Hdf5Write.write(dims, gatts, vars, maxChunkElems = 8 * 8 * 3,
        v4Layout = true, v4Index = 4, eaPageBits = 2,
        unlimitedDims = Set("time"), sharedDatatype = true)
      java.nio.file.Files.write(dir.resolve(f"shared_ea_$i%02d.nc"), b)
    }
    s"$dir/*.nc"
  }

  /** Archives carrying a CF flag variable as a netCDF-4 ENUM type
    * (h5py `enum_dtype({...}, basetype='i1')`) beside the float
    * payloads — the user-defined-datatype shape libhdf5 reads
    * transparently for the reference (generator.py:485). The mask is
    * 4-D over the same grid with deterministic category codes drawn
    * from [[Hdf5Write.EnumMembers]].
    */
  def writeFilesEnum(dir: java.nio.file.Path, n: Int = 2): String = {
    java.nio.file.Files.createDirectories(dir)
    (0 until n).foreach { i =>
      val (dims, gatts, vars) = spec(nt = 1, tStart = i.toDouble)
      val Seq(nt, ny, nx, nl) = dims.map(_._2)
      val nCats = Hdf5Write.EnumMembers.size
      val mask = new Array[Double](nt * ny * nx * nl)
      var j = 0
      for (t <- 0 until nt; y <- 0 until ny; x <- 0 until nx; l <- 0 until nl) {
        mask(j) = (t + y * 3 + x * 5 + l * 7 + i) % nCats; j += 1
      }
      val maskVar = NetCdf.VarSpec("surface_mask",
        Seq("time", "yc", "xc", "leadtime"),
        Seq("long_name" -> "surface type mask"), mask)
      val b = Hdf5Write.write(dims, gatts, vars :+ maskVar,
        enumVars = Set("surface_mask"))
      java.nio.file.Files.write(dir.resolve(f"enum_$i%02d.nc"), b)
    }
    s"$dir/*.nc"
  }

  /** Minimal netCDF-4/HDF5 files whose payload is a COMPOUND dataset —
    * the user-defined record shape (h5py compound dtypes, coordinate
    * bounds) libhdf5 reads transparently for the reference
    * (generator.py:485). One `time_bnds` dataset of {lo, hi} float64
    * records per file, v1 compound datatype message, contiguous layout.
    */
  def writeFilesCompound(dir: java.nio.file.Path, n: Int = 2,
                         nRec: Int = 24): String = {
    java.nio.file.Files.createDirectories(dir)
    (0 until n).foreach { i =>
      val b = compoundBytes(nRec, tStart = i * 86400.0)
      java.nio.file.Files.write(dir.resolve(f"bounds_$i%02d.nc"), b)
    }
    s"$dir/*.nc"
  }

  /** Minimal netCDF-4/HDF5 files whose payload is a VARIABLE-LENGTH
    * (class 9) dataset — the ragged shape h5py `vlen_dtype(float64)`
    * produces: per-cell (count, global-heap address, index)
    * descriptors, payloads in one GCOL collection.
    */
  def writeFilesVlen(dir: java.nio.file.Path, n: Int = 2,
                     nCells: Int = 12): String = {
    java.nio.file.Files.createDirectories(dir)
    (0 until n).foreach { i =>
      java.nio.file.Files.write(dir.resolve(f"ragged_$i%02d.nc"),
        vlenBytes(nCells, seed = i * 10.0))
    }
    s"$dir/*.nc"
  }

  private[source] def vlenBytes(nCells: Int, seed: Double): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val name = "obs_depths"
    // ragged rows: cell i carries i % 4 elements (empties included)
    val rows = (0 until nCells).map(i =>
      (0 until i % 4).map(k => seed + i * 0.5 + k * 0.25))
    val payloads = rows.filter(_.nonEmpty)
    val objSizes = payloads.map(p => 16 + p.length * 8) // f64: 8-aligned
    val gcolLen = 16 + objSizes.sum
    val dataAddr = 48
    val descLen = nCells * 16
    val gcolAddr = dataAddr + descLen
    val dsAddr = gcolAddr + gcolLen
    val dtBody = 8 + 20 // v1 vlen header + float64 base
    val chunk0 = (4 + 12) + (4 + dtBody) + (4 + 18)
    val dsSize = 4 + 2 + 1 + chunk0 + 4
    val rootAddr = dsAddr + dsSize
    val linkBody = 3 + name.length + 8
    val total = rootAddr + 4 + 2 + 1 + (4 + linkBody) + 4
    val buf = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    def at(pos: Int): ByteBuffer = { buf.position(pos); buf }

    at(0)
    buf.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1A, '\n'))
    buf.put(2.toByte); buf.put(8.toByte); buf.put(8.toByte); buf.put(0.toByte)
    buf.putLong(0L); buf.putLong(-1L)
    buf.putLong(total.toLong); buf.putLong(rootAddr.toLong)
    buf.putInt(0)

    at(dataAddr)
    var gIdx = 0
    rows.foreach { r =>
      if (r.isEmpty) { buf.putInt(0); buf.putLong(0L); buf.putInt(0) }
      else {
        gIdx += 1
        buf.putInt(r.length); buf.putLong(gcolAddr.toLong); buf.putInt(gIdx)
      }
    }
    // GCOL collection: header + 1-based objects, exact size
    buf.put("GCOL".getBytes)
    buf.put(1.toByte); buf.put(0.toByte); buf.put(0.toByte); buf.put(0.toByte)
    buf.putLong(gcolLen.toLong)
    payloads.zipWithIndex.foreach { case (p, oi) =>
      buf.putShort((oi + 1).toShort); buf.putShort(1); buf.putInt(0)
      buf.putLong(p.length * 8L)
      p.foreach(buf.putDouble)
    }

    at(dsAddr)
    buf.put("OHDR".getBytes)
    buf.put(2.toByte); buf.put(0.toByte)
    buf.put(chunk0.toByte)
    buf.put(1.toByte); buf.putShort(12); buf.put(0.toByte)
    buf.put(2.toByte); buf.put(1.toByte); buf.put(0.toByte); buf.put(1.toByte)
    buf.putLong(nCells.toLong)
    // datatype: v1 vlen SEQUENCE of IEEE float64 LE
    buf.put(3.toByte); buf.putShort(dtBody.toShort); buf.put(0.toByte)
    buf.put(0x19.toByte)
    buf.put(0.toByte); buf.put(0.toByte); buf.put(0.toByte)
    buf.putInt(16)
    buf.put(0x11.toByte)
    buf.put(0x20.toByte); buf.put(0x3F.toByte); buf.put(0.toByte)
    buf.putInt(8)
    buf.putShort(0); buf.putShort(64)
    buf.put(52.toByte); buf.put(11.toByte); buf.put(0.toByte); buf.put(52.toByte)
    buf.putInt(1023)
    // layout v3 contiguous (descriptor region only; GCOL trails it)
    buf.put(8.toByte); buf.putShort(18); buf.put(0.toByte)
    buf.put(3.toByte); buf.put(1.toByte)
    buf.putLong(dataAddr.toLong); buf.putLong(descLen.toLong)
    buf.putInt(0)

    at(rootAddr)
    buf.put("OHDR".getBytes)
    buf.put(2.toByte); buf.put(0.toByte)
    buf.put((4 + linkBody).toByte)
    buf.put(6.toByte); buf.putShort(linkBody.toShort); buf.put(0.toByte)
    buf.put(1.toByte); buf.put(0.toByte)
    buf.put(name.length.toByte)
    buf.put(name.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    buf.putLong(dsAddr.toLong)
    buf.putInt(0)
    buf.array()
  }

  private[source] def compoundBytes(nRec: Int, tStart: Double): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val name = "time_bnds"
    val dataAddr = 48
    val dataLen = nRec * 16
    val dsAddr = dataAddr + dataLen
    val dtBody = 8 + 2 * 60 // v1 compound, two float64 members
    val chunk0 = (4 + 12) + (4 + dtBody) + (4 + 18)
    val dsSize = 4 + 2 + 1 + chunk0 + 4
    val rootAddr = dsAddr + dsSize
    val linkBody = 3 + name.length + 8
    val total = rootAddr + 4 + 2 + 1 + (4 + linkBody) + 4
    val buf = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    def at(pos: Int): ByteBuffer = { buf.position(pos); buf }

    at(0)
    buf.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1A, '\n'))
    buf.put(2.toByte); buf.put(8.toByte); buf.put(8.toByte); buf.put(0.toByte)
    buf.putLong(0L); buf.putLong(-1L)
    buf.putLong(total.toLong); buf.putLong(rootAddr.toLong)
    buf.putInt(0)

    at(dataAddr)
    (0 until nRec).foreach { r =>
      val lo = tStart + r * 3600.0
      buf.putDouble(lo); buf.putDouble(lo + 3600.0)
    }

    at(dsAddr)
    buf.put("OHDR".getBytes)
    buf.put(2.toByte); buf.put(0.toByte)
    buf.put(chunk0.toByte)
    // dataspace v2: rank 1, dims [nRec]
    buf.put(1.toByte); buf.putShort(12); buf.put(0.toByte)
    buf.put(2.toByte); buf.put(1.toByte); buf.put(0.toByte); buf.put(1.toByte)
    buf.putLong(nRec.toLong)
    // datatype: v1 compound {lo: f64 @0, hi: f64 @8}
    buf.put(3.toByte); buf.putShort(dtBody.toShort); buf.put(0.toByte)
    buf.put(0x16.toByte)
    buf.put(2.toByte); buf.put(0.toByte); buf.put(0.toByte)
    buf.putInt(16)
    def member(mname: String, off: Int): Unit = {
      val raw = mname.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      buf.put(raw); (raw.length until 8).foreach(_ => buf.put(0.toByte))
      buf.putInt(off)
      buf.put(0.toByte); buf.put(0.toByte); buf.put(0.toByte); buf.put(0.toByte)
      buf.putInt(0); buf.putInt(0)
      buf.putInt(0); buf.putInt(0); buf.putInt(0); buf.putInt(0)
      // IEEE float64 LE
      buf.put(0x11.toByte)
      buf.put(0x20.toByte); buf.put(0x3F.toByte); buf.put(0.toByte)
      buf.putInt(8)
      buf.putShort(0); buf.putShort(64)
      buf.put(52.toByte); buf.put(11.toByte); buf.put(0.toByte); buf.put(52.toByte)
      buf.putInt(1023)
    }
    member("lo", 0); member("hi", 8)
    // layout v3 contiguous
    buf.put(8.toByte); buf.putShort(18); buf.put(0.toByte)
    buf.put(3.toByte); buf.put(1.toByte)
    buf.putLong(dataAddr.toLong); buf.putLong(dataLen.toLong)
    buf.putInt(0)

    at(rootAddr)
    buf.put("OHDR".getBytes)
    buf.put(2.toByte); buf.put(0.toByte)
    buf.put((4 + linkBody).toByte)
    buf.put(6.toByte); buf.putShort(linkBody.toShort); buf.put(0.toByte)
    buf.put(1.toByte); buf.put(0.toByte)
    buf.put(name.length.toByte)
    buf.put(name.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    buf.putLong(dsAddr.toLong)
    buf.putInt(0)
    buf.array()
  }

  def writeFilesUnlimited(dir: java.nio.file.Path, n: Int = 2,
                          nt: Int = 34): String = {
    java.nio.file.Files.createDirectories(dir)
    (0 until n).foreach { i =>
      val (dims, gatts, vars) = spec(nt = nt, tStart = i * nt.toDouble)
      val b = Hdf5Write.write(dims, gatts, vars,
        maxChunkElems = 8 * 8 * 3, v4Layout = true, v4Index = 4,
        unlimitedDims = Set("time"))
      java.nio.file.Files.write(dir.resolve(f"archive_$i%02d.nc"), b)
    }
    s"$dir/*.nc"
  }
}
