package graft.sink

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.Json
import graft.model.{StacCatalog, StacCollection, StacItem, StacAsset}

/** K4/S4 — deterministic STAC JSON catalog writer + scanner.
  *
  * Layout mirrors pystac's SELF_CONTAINED normalize_hrefs tree (ref
  * generator.py:1035-1058):
  *
  *   root/catalog.json
  *   root/{collection}/collection.json
  *   root/{collection}/{item_id}/{item_id}.json
  *
  * Scale split: the catalog/collection SKELETON is tiny and written on
  * the driver, but ITEM documents are written from the executors via
  * `foreachPartition` — stored items never collect; a run's new items
  * are built on the driver from the output manifest it already
  * collects. JSON is
  * deterministic (fixed field order, sorted map keys) so golden-file
  * comparison and save→rescan→identical round-trips are exact.
  * (Local-fs writes here; the foreachPartition writer is where an HDFS/
  * object-store client would slot in on a real cluster.)
  */
object StacJsonSink {

  private val Version = "1.0.0"

  def write(root: String, catalog: StacCatalog,
            collections: Seq[StacCollection], items: Dataset[StacItem]): Unit = {
    writeSkeleton(root, catalog, collections)
    // A named serializable class, not a lambda: Spark's ClosureCleaner
    // resolves indylambda capturing-class bytes via classloader resource
    // lookup, which intermittently fails under repeated invocation on a
    // plain-classpath JVM ("capturingClassReader is null"); a top-level
    // Function1 class sidesteps that path entirely.
    items.foreachPartition(new ItemPartitionWriter(root))
  }

  /** The part of [[write]] that needs no Spark job: catalog.json and
    * each collection.json, no item. For a run with no new item, which
    * would otherwise submit a job over an empty Dataset.
    */
  def writeSkeleton(root: String, catalog: StacCatalog,
                    collections: Seq[StacCollection]): Unit = {
    Files.createDirectories(Paths.get(root))
    Files.writeString(Paths.get(root, "catalog.json"), catalogJson(catalog))
    collections.foreach { c =>
      val dir = Paths.get(root, c.id)
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("collection.json"), collectionJson(c))
    }
  }

  private final class ItemPartitionWriter(root: String)
      extends (Iterator[StacItem] => Unit) with Serializable {
    def apply(part: Iterator[StacItem]): Unit =
      part.foreach { it =>
        val dir = Paths.get(root, it.collection, it.id)
        Files.createDirectories(dir)
        Files.writeString(dir.resolve(s"${it.id}.json"), itemJson(it))
      }
  }

  /** Scan a written catalog tree back into a Dataset[StacItem] (S4). The
    * item documents form one multiLine JSON file-source scan — schema
    * pinned, not inferred, so properties/assets come back as typed
    * map/array columns.
    */
  private val assetSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    new StructType()
      .add("key", StringType).add("href", StringType)
      .add("media_type", StringType).add("title", StringType)
      .add("roles", ArrayType(StringType)).add("checksum", StringType)
      .add("size", LongType)
      .add("extra", MapType(StringType, StringType))
  }

  def readItems(spark: SparkSession, root: String): Dataset[StacItem] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val schema = new StructType()
      .add("id", StringType).add("collection", StringType)
      .add("geometry", StringType).add("bbox", ArrayType(DoubleType))
      .add("datetime", StringType)
      .add("properties", MapType(StringType, StringType))
      .add("assets", ArrayType(assetSchema))
    spark.read.schema(schema).option("multiLine", true)
      .json(s"$root/*/*/*.json")
      .withColumn("assets", coalesce(col("assets"),
        array().cast(ArrayType(assetSchema))))
      .withColumn("assets", transform(col("assets"), a =>
        a.withField("extra",
          coalesce(a.getField("extra"),
            map().cast(MapType(StringType, StringType))))))
      .withColumn("properties", coalesce(col("properties"),
        map().cast(MapType(StringType, StringType))))
      .as[StacItem]
  }

  /** Scan the collection.json documents back into StacCollection rows —
    * used by the incremental pipeline to merge extents (J1/A4) against a
    * previously written catalog.
    */
  def readCollections(spark: SparkSession, root: String): Dataset[StacCollection] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val schema = new StructType()
      .add("id", StringType).add("title", StringType)
      .add("description", StringType).add("license", StringType)
      .add("extent", new StructType()
        .add("spatial", new StructType()
          .add("bbox", ArrayType(ArrayType(DoubleType))))
        .add("temporal", new StructType()
          .add("interval", ArrayType(ArrayType(StringType)))))
      .add("custom:hemisphere", StringType)
      .add("assets", ArrayType(assetSchema))
    spark.read.schema(schema).option("multiLine", true)
      .json(s"$root/*/collection.json")
      .select(col("id"), col("title"), col("description"), col("license"),
        element_at(col("extent.spatial.bbox"), 1).as("bbox"),
        element_at(element_at(col("extent.temporal.interval"), 1), 1)
          .as("temporal_start"),
        element_at(element_at(col("extent.temporal.interval"), 1), 2)
          .as("temporal_end"),
        when(col("`custom:hemisphere`").isNotNull,
          map(lit("custom:hemisphere"), col("`custom:hemisphere`")))
          .otherwise(map().cast(MapType(StringType, StringType))).as("extra"),
        transform(coalesce(col("assets"), array().cast(ArrayType(assetSchema))),
          a => a.withField("extra", coalesce(a.getField("extra"),
            map().cast(MapType(StringType, StringType))))).as("assets"))
      .as[StacCollection]
  }

  private[sink] def catalogJson(c: StacCatalog): String = Json.obj(Seq(
    "type" -> Json.quote("Catalog"),
    "id" -> Json.quote(c.id),
    "stac_version" -> Json.quote(Version),
    "description" -> Json.quote(c.description),
    "links" -> c.collections.sorted.map(id =>
      Json.obj(Seq(
        "rel" -> Json.quote("child"),
        "href" -> Json.quote(s"./$id/collection.json")))).mkString("[", ",", "]")
  ))

  private[sink] def collectionJson(c: StacCollection): String = Json.obj(Seq(
    "type" -> Json.quote("Collection"),
    "id" -> Json.quote(c.id),
    "stac_version" -> Json.quote(Version),
    "title" -> Json.quote(c.title),
    "description" -> Json.quote(c.description),
    "license" -> Json.quote(c.license),
    "extent" -> Json.obj(Seq(
      "spatial" -> Json.obj(Seq(
        "bbox" -> s"[${c.bbox.map(Json.dbl).mkString("[", ",", "]")}]")),
      "temporal" -> Json.obj(Seq(
        "interval" -> s"[[${Json.quote(c.temporal_start)},${Json.quote(c.temporal_end)}]]"))
    ))) ++
    // collection-level assets (promoted thumbnail, W3) — omitted when
    // empty, matching the reference's absent-assets collections
    (if (c.assets.isEmpty) Seq.empty
     else Seq("assets" ->
       c.assets.sortBy(_.key).map(assetJson).mkString("[", ",", "]"))) ++
    c.extra.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.quote(v) })

  private[sink] def itemJson(it: StacItem): String = Json.obj(Seq(
    "type" -> Json.quote("Feature"),
    "id" -> Json.quote(it.id),
    "stac_version" -> Json.quote(Version),
    "collection" -> Json.quote(it.collection),
    "geometry" -> it.geometry, // already a GeoJSON document (F12)
    "bbox" -> it.bbox.map(Json.dbl).mkString("[", ",", "]"),
    "datetime" -> Json.quote(it.datetime),
    "properties" -> Json.obj(
      it.properties.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.quote(v) }),
    "assets" -> it.assets.sortBy(_.key).map(assetJson).mkString("[", ",", "]")
  ))

  private def assetJson(a: StacAsset): String = Json.obj(Seq(
    "key" -> Json.quote(a.key),
    "href" -> Json.quote(a.href),
    "media_type" -> Json.quote(a.media_type),
    "title" -> Json.quote(a.title),
    "roles" -> a.roles.map(Json.quote).mkString("[", ",", "]"),
    "checksum" -> (if (a.checksum == null) "null" else Json.quote(a.checksum)),
    "size" -> a.size.toString,
    "extra" -> Json.obj(
      Option(a.extra).getOrElse(Map.empty).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.quote(v) })
  ))
}
