package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.internal.SQLConf
import graft.model.{StacAsset, StacCatalog, StacCollection, StacItem}
import graft.ops.StacOps
import graft.sink.StacJsonSink

/** K4/S4/J1/J2 — STAC model round-trip and get-or-create semantics. */
class StacSpec extends SparkSpec {
  import spark.implicits._

  private def item(id: String, coll: String, day: Int): StacItem = StacItem(
    id = id, collection = coll,
    geometry = """{"type": "Polygon", "coordinates": [[[30, 40], [30, 60], [10, 60], [10, 40], [30, 40]]]}""",
    bbox = Seq(10.0, 40.0, 30.0, 60.0),
    datetime = f"2025-01-$day%02dT00:00:00Z",
    properties = Map("forecast:leadtime_length" -> "93", "custom:hemisphere" -> "north"),
    assets = Seq(StacAsset("data", s"./netcdf/$coll/$id.nc",
      "application/x-netcdf", "Forecast data", Seq("data"), null, -1L,
      Map("forecast:leadtime_length" -> "93"))))

  private def collection(id: String): StacCollection = StacCollection(
    id = id, title = id, description = s"$id collection", license = "CC-BY-4.0",
    bbox = Seq(10.0, 40.0, 30.0, 60.0),
    temporal_start = "2025-01-01T00:00:00Z", temporal_end = "2025-01-31T00:00:00Z",
    extra = Map("custom:hemisphere" -> "north"))

  test("K4/S4 save -> rescan -> identical item set") {
    val root = Files.createTempDirectory("graft-stac").toString
    val items = Seq(item("i1", "sic_north", 1), item("i2", "sic_north", 2),
      item("i3", "other_coll", 3))
    StacJsonSink.write(root, StacCatalog("cat", "test catalog",
      Seq("sic_north", "other_coll")),
      Seq(collection("sic_north"), collection("other_coll")),
      items.toDS())
    val back = StacJsonSink.readItems(spark, root).collect().sortBy(_.id)
    assert(back.length === 3)
    assert(back.toSeq === items.sortBy(_.id))
  }

  test("K4 writer output is deterministic byte-for-byte") {
    val r1 = Files.createTempDirectory("graft-det1").toString
    val r2 = Files.createTempDirectory("graft-det2").toString
    val items = Seq(item("i1", "c", 1), item("i2", "c", 2))
    for (r <- Seq(r1, r2))
      StacJsonSink.write(r, StacCatalog("cat", "d", Seq("c")),
        Seq(collection("c")), items.toDS())
    for (rel <- Seq("catalog.json", "c/collection.json", "c/i1/i1.json"))
      assert(Files.readString(java.nio.file.Paths.get(r1, rel))
        === Files.readString(java.nio.file.Paths.get(r2, rel)))
  }

  test("W3 collection thumbnail: round-trips through write/rescan, merge " +
    "prefers the stored one") {
    val thumb = StacAsset("thumbnail", "./cogs/c/t.jpg", "image/jpeg",
      "Thumbnail", Seq("thumbnail"), null, -1L, Map.empty)
    val root = Files.createTempDirectory("graft-cthumb").toString
    StacJsonSink.write(root, StacCatalog("cat", "d", Seq("c")),
      Seq(collection("c").copy(assets = Seq(thumb))),
      Seq(item("i1", "c", 1)).toDS())
    // the collection document carries the promoted asset…
    assert(Files.readString(java.nio.file.Paths.get(root, "c/collection.json"))
      .contains("\"thumbnail\""))
    // …and scans back intact
    val back = StacJsonSink.readCollections(spark, root).collect()
    assert(back.head.assets === Seq(thumb))
    // merge precedence (ref generator.py:798-803): stored thumbnail wins;
    // a stored collection WITHOUT one adopts the incoming thumbnail
    val other = thumb.copy(href = "./cogs/c/other.jpg")
    val kept = StacOps.mergeCollections(
      Seq(collection("c").copy(assets = Seq(thumb))).toDS(),
      Seq(collection("c").copy(assets = Seq(other))).toDS()).collect().head
    assert(kept.assets === Seq(thumb))
    val adopted = StacOps.mergeCollections(
      Seq(collection("c")).toDS(),
      Seq(collection("c").copy(assets = Seq(other))).toDS()).collect().head
    assert(adopted.assets === Seq(other))
  }

  test("J2 get-or-create items: existing wins, only new ids inserted") {
    val existing = Seq(item("i1", "c", 1)).toDS()
    val candidate1 = item("i1", "c", 9) // same id, different payload — must be DROPPED
    val candidates = Seq(candidate1, item("i2", "c", 2)).toDS()
    val created = StacOps.getOrCreateItems(existing, candidates).collect()
    assert(created.map(_.id).toSeq === Seq("i2"))
  }

  test("J1/A4 collection merge: stored metadata wins, extents merge") {
    val stored = Seq(collection("c").copy(
      temporal_start = "2025-01-05T00:00:00Z", temporal_end = "2025-01-20T00:00:00Z",
      bbox = Seq(12.0, 42.0, 28.0, 58.0), title = "stored-title")).toDS()
    val incoming = Seq(collection("c").copy(
      temporal_start = "2025-01-01T00:00:00Z", temporal_end = "2025-01-10T00:00:00Z",
      bbox = Seq(10.0, 45.0, 30.0, 55.0), title = "new-title")).toDS()
    val merged = StacOps.mergeCollections(stored, incoming).collect()
    assert(merged.length === 1)
    val m = merged.head
    assert(m.title === "stored-title")                      // create-if-absent, never overwrite
    assert(m.temporal_start === "2025-01-01T00:00:00Z")     // min of both
    assert(m.temporal_end === "2025-01-20T00:00:00Z")       // max of both
    assert(m.bbox === Seq(10.0, 42.0, 30.0, 58.0))          // envelope
  }

  test("catalog reads log no sink-metadata probe failure and add no job") {
    val root = Files.createTempDirectory("graft-stac-log").toString
    // 40 item files: past the 32-path parallel-listing threshold
    StacJsonSink.write(root, StacCatalog("cat", "d", Seq("c")),
      Seq(collection("c")), (1 to 40).map(d => item(s"i$d", "c", d % 28 + 1)).toDS())
    val events = new ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("catalog-read-capture", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = events.add(
        s"${e.getLevel} ${e.getLoggerName}: ${e.getMessage.getFormattedMessage}" +
          Option(e.getThrown).fold("")(t => s" [${t.getClass.getName}]"))
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val rootLogger = ctx.getConfiguration.getRootLogger
    rootLogger.addAppender(capture, Level.WARN, null)
    ctx.updateLoggers()
    val jobs = try jobsOf("catalog read") {
      assert(StacJsonSink.readItems(spark, root).collect().length === 40)
      assert(StacJsonSink.readCollections(spark, root).collect().length === 1)
    } finally {
      rootLogger.removeAppender(capture.getName)
      ctx.updateLoggers()
      capture.stop()
    }
    assert(events.isEmpty, events.asScala.mkString("\n"))
    // the glob's own listing job (40 paths), then one job per collect
    assert(jobs.size === 3, jobs)
    assert(jobs.head.startsWith("Listing leaf files"), jobs)
    // the probe switch is scoped to the read
    assert(spark.conf.getOption(SQLConf.FILESTREAM_SINK_METADATA_IGNORED.key)
      .forall(_ == "false"))
  }

  test("J1 merge keeps brand-new collections from the incoming side") {
    val stored = Seq(collection("c_old")).toDS()
    val incoming = Seq(collection("c_new")).toDS()
    val merged = StacOps.mergeCollections(stored, incoming).collect()
    assert(merged.map(_.id).sorted.toSeq === Seq("c_new", "c_old"))
  }
}
