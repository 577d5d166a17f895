package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import graft.pipeline.{ConfigMismatchException, Preprocess}
import graft.sink.StacJsonSink
import graft.source.{NetCdf, NetCdfFixture}

/** End-to-end pipeline test: fixture .nc files → Preprocess.run → catalog
  * tree + slices + thumbnails + enriched assets; idempotent re-run; config
  * drift abort. (The reference has no end-to-end test — SURVEY §5 calls
  * this layer out as the superset addition.)
  */
class PreprocessSpec extends SparkSpec {

  private def freshRun(stacOnly: Boolean = false, prefix: String = "graft-pre") = {
    val work = Files.createTempDirectory(prefix)
    val glob = NetCdfFixture.writeFiles(work.resolve("input"), n = 2)
    val opts = Preprocess.Options(
      name = "sic_north", dataPath = work.resolve("data").toString,
      stacOnly = stacOnly)
    (work, glob, opts)
  }

  test("full run: catalog tree, config, slices, thumbnails, enriched assets") {
    val (work, glob, opts) = freshRun()
    val res = Preprocess.run(spark, glob, opts)
    // 2 files × 1 init each
    assert(res.nItems === 2 && res.nSlices === 2)
    assert(Files.exists(Paths.get(opts.dataPath, "config.json")))
    assert(Files.exists(Paths.get(res.catalogRoot, "catalog.json")))
    assert(Files.exists(Paths.get(res.catalogRoot, "sic_north", "collection.json")))

    val items = StacJsonSink.readItems(spark, res.catalogRoot).collect()
    assert(items.length === 2)
    val it = items.head
    assert(it.collection === "sic_north")
    assert(it.properties("forecast:leadtime_length") === "3")
    assert(it.properties("custom:hemisphere") === "north")
    assert(it.id.startsWith("forecast_init_2025-01-01T00-00-00Z"))
    // assets: 1 netcdf + 1 thumbnail + 3 per-leadtime cogs
    assert(it.assets.length === 5)
    val nc = it.assets.find(_.key == "netcdf").get
    // E3 enrichment: the written slice was checksummed and sized
    assert(nc.size > 0 && nc.checksum != null && nc.checksum.startsWith("d510"))
    val cog = it.assets.find(_.key == "cog_lead_0").get
    assert(cog.extra("forecast:bands").contains("sic_mean"))
    assert(cog.extra("custom:valid_time") === "2025-01-01T00:00:00Z")
    val thumb = it.assets.find(_.key == "thumbnail").get
    assert(thumb.size > 0, "thumbnail written and enriched")
    // K2: gdaladdo-parity external overview sidecar alongside the COG
    assert(Files.exists(
      Paths.get(opts.dataPath, cog.href.stripPrefix("./") + ".ovr")))

    // W3 completion: the FIRST item's thumbnail was promoted to the
    // collection (ref generator.py:798-803, 944-957)
    val coll = StacJsonSink.readCollections(spark, res.catalogRoot)
      .collect().find(_.id == "sic_north").get
    val cThumb = coll.assets.find(_.key == "thumbnail")
    assert(cThumb.isDefined, "collection adopted a thumbnail asset")
    val firstItem = items.sortBy(it => (it.datetime, it.id)).head
    assert(cThumb.get.href ===
      firstItem.assets.find(_.key == "thumbnail").get.href)
    // K2: the per-leadtime COGs were written, enriched, and parse back
    assert(cog.size > 0 && cog.checksum != null)
    val cogBytes = Files.readAllBytes(
      Paths.get(opts.dataPath, cog.href.stripPrefix("./")))
    val tiff = graft.source.CogReader.read(cogBytes)
    assert(tiff.dtype === "float64")
    assert(tiff.pages.head.nBands === 2)
    assert(tiff.pages.head.epsg === Some(6931))
    assert(tiff.pages.head.gdalMetadata.get.contains("STATISTICS_MEAN"))

    // the written slice is a netCDF-4/HDF5 file (K1 zlib parity with
    // generator.py:969-977) our own codec reads back through the facade
    val sliceHref = nc.href.stripPrefix("./")
    val sliceBytes = Files.readAllBytes(Paths.get(opts.dataPath, sliceHref))
    val g = graft.source.GridFile.open(sliceBytes)
    assert(g.format === "hdf5")
    assert(g.varNames.contains("sic_mean"))
    assert(g.shape("leadtime") === Seq(3))
    // geographic bbox from the LAEA transform, not raw projected meters
    assert(it.bbox(1) > -90 && it.bbox(3) <= 90 && it.bbox(0) >= -180)
  }

  test("netCDF-4/HDF5 inputs: the full pipeline produces the same catalog " +
    "as classic inputs (S1 end-to-end)") {
    // identical fixture content, two renderings, two full runs
    val workC = Files.createTempDirectory("graft-pre-c")
    val workH = Files.createTempDirectory("graft-pre-h")
    val globC = NetCdfFixture.writeFiles(workC.resolve("input"), n = 2)
    val globH = NetCdfFixture.writeFiles(workH.resolve("input"), n = 2,
      hdf5 = true)
    val resC = Preprocess.run(spark, globC, Preprocess.Options(
      name = "sic_north", dataPath = workC.resolve("data").toString))
    val resH = Preprocess.run(spark, globH, Preprocess.Options(
      name = "sic_north", dataPath = workH.resolve("data").toString))
    assert(resH.nItems === resC.nItems && resH.nSlices === resC.nSlices)
    val itemsC = StacJsonSink.readItems(spark, resC.catalogRoot).collect()
      .sortBy(_.id)
    val itemsH = StacJsonSink.readItems(spark, resH.catalogRoot).collect()
      .sortBy(_.id)
    assert(itemsH.map(_.id).toSeq === itemsC.map(_.id).toSeq)
    assert(itemsH.map(_.properties).toSeq === itemsC.map(_.properties).toSeq)
    assert(itemsH.map(_.bbox).toSeq === itemsC.map(_.bbox).toSeq)
    // per-asset band statistics agree (the COG stats come from the
    // decoded payload, so this pins HDF5 chunk decode through the
    // WHOLE pipeline, not just the scan)
    def cogStats(items: Seq[graft.model.StacItem]) = items.map(it =>
      it.assets.filter(_.key.startsWith("cog_lead_")).sortBy(_.key)
        .map(_.extra.get("forecast:bands")))
    assert(cogStats(itemsH.toSeq) === cogStats(itemsC.toSeq))
  }

  test("reproject option: COGs come out georeferenced EPSG:4326 " +
    "(ref generator.py:1006-1007)") {
    val (_, glob, opts0) = freshRun()
    val opts = opts0.copy(reproject = true)
    val res = Preprocess.run(spark, glob, opts)
    val it = StacJsonSink.readItems(spark, res.catalogRoot).collect().head
    val cog = it.assets.find(_.key == "cog_lead_0").get
    val bytes = Files.readAllBytes(
      Paths.get(opts.dataPath, cog.href.stripPrefix("./")))
    val tiff = graft.source.CogReader.read(bytes)
    assert(tiff.pages.head.epsg === Some(4326))
    // warped pixels come from the source value set (nearest neighbor)
    val band = tiff.readBand(0, 0)
    assert(band.flatten.exists(!_.isNaN))
  }

  test("idempotent re-run: get-or-create adds nothing, slices skipped (P8)") {
    val (_, glob, opts) = freshRun()
    val first = Preprocess.run(spark, glob, opts)
    val firstItems = StacJsonSink.readItems(spark, first.catalogRoot)
      .collect().map(it => (it.collection, it.id)).sorted
    val second = Preprocess.run(spark, glob, opts)
    assert(second.nItems === first.nItems)   // existing wins (J2)
    assert(second.nSlices === 0)             // skip-if-exists (P8)
    // regression: a positional union once swapped id<->collection for
    // re-read items — the catalog must be BYTE-identical in keys
    val secondItems = StacJsonSink.readItems(spark, second.catalogRoot)
      .collect().map(it => (it.collection, it.id)).sorted
    assert(secondItems === firstItems)
  }

  test("config drift aborts the run before any work (J5)") {
    val (_, glob, opts) = freshRun()
    Preprocess.run(spark, glob, opts)
    intercept[ConfigMismatchException] {
      Preprocess.run(spark, glob, opts.copy(forecastFrequency = "6hours"))
    }
  }

  test("stacOnly: catalog written, no netcdf/cog bytes, assets unenriched") {
    val (_, glob, opts) = freshRun(stacOnly = true)
    val res = Preprocess.run(spark, glob, opts)
    assert(res.nSlices === 0)
    assert(!Files.exists(Paths.get(opts.dataPath, "netcdf")))
    val items = StacJsonSink.readItems(spark, res.catalogRoot).collect()
    val nc = items.head.assets.find(_.key == "netcdf").get
    assert(nc.size === -1 && nc.checksum == null)
  }

  private def dataFiles(opts: Preprocess.Options): Seq[java.nio.file.Path] =
    Seq("netcdf", "cogs").map(Paths.get(opts.dataPath, _)).filter(Files.exists(_))
      .flatMap(d => Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_)))
      .sorted

  /** Back-dates every data file, so a rewrite shows as a changed mtime. */
  private def backdate(files: Seq[java.nio.file.Path]): Unit =
    files.foreach(Files.setLastModifiedTime(_, FileTime.fromMillis(0)))

  private def multihash(b: Array[Byte]): String = {
    def md5(x: Array[Byte]) = MessageDigest.getInstance("MD5").digest(x)
    "d510" + md5(md5(b)).map("%02x".format(_)).mkString
  }

  /** Every asset of every item names a file whose size and multihash it
    * carries.
    */
  private def assertAssetsMatchFiles(catalogRoot: String,
                                     opts: Preprocess.Options): Unit = {
    val assets = StacJsonSink.readItems(spark, catalogRoot).collect()
      .flatMap(_.assets)
    assert(assets.length === 2 * 5)
    assets.foreach { a =>
      val bytes = Files.readAllBytes(Paths.get(opts.dataPath, a.href.stripPrefix("./")))
      assert(a.size === bytes.length.toLong, a.href)
      assert(a.checksum === multihash(bytes), a.href)
    }
  }

  test("E3: assets are sized and checksummed under a data path holding " +
    "regex characters") {
    val (_, glob, opts) = freshRun(prefix = "graft+pre(1)")
    assert(opts.dataPath.contains("+"))
    val res = Preprocess.run(spark, glob, opts)
    assertAssetsMatchFiles(res.catalogRoot, opts)
  }

  test("repair: a deleted COG of a catalogued item comes back alone, " +
    "byte-identical, and the item is untouched") {
    val (_, glob, opts) = freshRun()
    val first = Preprocess.run(spark, glob, opts)
    val itemBytes = Files.walk(Paths.get(first.catalogRoot)).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("forecast_init_"))
      .map(p => p -> Files.readAllBytes(p)).toMap
    assert(itemBytes.size === 2)
    val tif = dataFiles(opts).filter(_.toString.endsWith(".tif"))(1)
    val ovr = Paths.get(s"$tif.ovr")
    val (tifBytes, ovrBytes) = (Files.readAllBytes(tif), Files.readAllBytes(ovr))
    Files.delete(tif); Files.delete(ovr)
    val others = dataFiles(opts)
    backdate(others)
    val second = Preprocess.run(spark, glob, opts)
    assert(second.nSlices === 0 && second.nItems === first.nItems)
    assert(Files.readAllBytes(tif) sameElements tifBytes)
    assert(Files.readAllBytes(ovr) sameElements ovrBytes)
    others.foreach(p =>
      assert(Files.getLastModifiedTime(p).toMillis === 0L, s"$p rewritten"))
    itemBytes.foreach { case (p, b) => assert(Files.readAllBytes(p) sameElements b, p) }
  }

  test("re-catalogue: a deleted stac/ tree is rebuilt over the existing " +
    "files without rewriting them") {
    val (_, glob, opts) = freshRun()
    val first = Preprocess.run(spark, glob, opts)
    val stac = Paths.get(opts.dataPath, "stac")
    Files.walk(stac).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    val files = dataFiles(opts)
    backdate(files)
    val second = Preprocess.run(spark, glob, opts)
    assert(second.nItems === first.nItems && second.nSlices === 0)
    files.foreach(p =>
      assert(Files.getLastModifiedTime(p).toMillis === 0L, s"$p rewritten"))
    assertAssetsMatchFiles(second.catalogRoot, opts)
  }

  test("A2: a fully masked band gets null statistics and valid_percent 0") {
    val work = Files.createTempDirectory("graft-pre-masked")
    val (dims, gatts, vars) = NetCdfFixture.spec()
    val masked = vars.map(v =>
      if (v.name == "sic_stddev") v.copy(data = v.data.map(_ => Double.NaN)) else v)
    Files.createDirectories(work.resolve("input"))
    Files.write(work.resolve("input/m.nc"), NetCdf.write(dims, gatts, masked))
    val opts = Preprocess.Options(
      name = "sic_north", dataPath = work.resolve("data").toString)
    val res = Preprocess.run(spark, s"${work.resolve("input")}/*.nc", opts)
    val cog = StacJsonSink.readItems(spark, res.catalogRoot).collect().head
      .assets.find(_.key == "cog_lead_0").get
    assert(cog.extra("forecast:bands").contains(
      """{"variable":"sic_stddev","valid_percent":0.0}"""))
  }
}
