package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.model.StacCatalog
import graft.ops.StacOps
import graft.pipeline.{Ingest, Preprocess, Thumbnail}
import graft.sink.{CogWriter, StacJsonSink}
import graft.source.{CogReader, NetCdfSource}

/** One workload: seeded inputs, one timed operation, and checks on what
  * that operation wrote. `setup` may run several times in one process,
  * each time into a fresh directory; the last one is what the timed runs
  * use.
  */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  def name: String
  /** Work one run does, in `workUnit`s: the throughput numerator. */
  def work: Double
  def workUnit: String
  /** Human-readable sizes, printed with the result. */
  def sizes: String
  def setup(dir: Path): Unit
  /** Untimed: puts the output dir in its pre-run state. */
  def prepare(): Unit = ()
  /** The timed operation, with a span around each call into a layer. */
  def run(t: Tracer): Unit
  /** Problems found in the last run's outputs; empty when correct. */
  def check(iteration: Int): Seq[String]
  /** Bytes the last run wrote (the `out_bytes` metric). */
  def outBytes: Long
  /** Per-layer counters from the last run. */
  def runCounts: Map[String, Double] = Map.empty
  /** Traced calls into the layers this workload exercises, on its own
    * inputs; returns the counts they produced.
    */
  def probe(t: Tracer): Map[String, Double] = Map.empty
}

object Workload {
  val Names: Seq[String] =
    Seq("preprocess_cold", "preprocess_incremental", "ingest", "query_mix")

  def apply(name: String, spark: SparkSession, seed: Long): Workload =
    name match {
      case "preprocess_cold" => new PreprocessCold(spark, seed)
      case "preprocess_incremental" => new PreprocessIncremental(spark, seed)
      case "ingest" => new IngestLoad(spark, seed)
      case "query_mix" => new QueryMix(spark, seed)
    }

  private val json = new ObjectMapper()
  def readJson(p: Path): JsonNode = json.readTree(p.toFile)
  def parseJson(s: String): JsonNode = json.readTree(s)

  /** Traced calls into the STAC sink and ops over the catalog at `root`:
    * scan, get-or-create against itself, collection merge and a rewrite
    * into a scratch tree. Returns the number of items read.
    */
  def catalogProbes(spark: SparkSession, t: Tracer, root: Path): Long = {
    import spark.implicits._
    val (nRead, colls) = t.span("sink.stac_read") {
      (StacJsonSink.readItems(spark, root.toString).count(),
        StacJsonSink.readCollections(spark, root.toString).collect().toSeq)
    }
    val stored = StacJsonSink.readItems(spark, root.toString).persist()
    stored.count()
    t.span("ops.get_or_create") {
      StacOps.getOrCreateItems(stored, stored).count()
    }
    t.span("ops.merge_collections") {
      StacOps.mergeCollections(colls.toDS(), colls.toDS()).collect()
    }
    val scratch = root.resolveSibling("probe-stac")
    t.span("sink.stac_write") {
      StacJsonSink.write(scratch.toString,
        StacCatalog("catalog", "probe", colls.map(_.id)), colls, stored)
    }
    stored.unpersist()
    Dirs.wipe(scratch)
    nRead
  }

  /** A seeded half of `keys`: the items a pre-seeded pgSTAC already has. */
  def seededHalf(keys: Seq[(String, String)], seed: Long): Set[(String, String)] =
    keys.sortBy(k => (k.hashCode ^ seed.hashCode, k)).take(keys.size / 2).toSet

  /** A traced `ingest` of the catalog at `root` through the dry-run client,
    * pre-seeded with a seeded half of its items.
    */
  def ingestProbe(spark: SparkSession, t: Tracer, root: Path,
                  seed: Long): Map[String, Double] = {
    import spark.implicits._
    val keys = StacJsonSink.readItems(spark, root.toString)
      .select("collection", "id").as[(String, String)].collect().toSeq
    Ingest.DryRunClient.reset()
    val r = t.span("pipeline.ingest") {
      Ingest.run(spark, root.toString,
        new Ingest.DryRunClient(Set.empty, seededHalf(keys, seed)))
    }
    Map("pipeline.ingest_statements" -> Ingest.DryRunClient.statements.get.toDouble,
      "pipeline.items_loaded" -> r.itemsLoaded.toDouble,
      "pipeline.items_skipped" -> r.itemsSkipped.toDouble)
  }
}

/** Shared by both preprocess workloads: inputs are seeded netCDF-4 grids,
  * outputs a data dir of slices, COGs, thumbnails and a STAC catalog.
  */
abstract class PreprocessWorkload(spark: SparkSession, seed: Long)
    extends Workload(spark, seed) {
  val Collection = "sic_north"
  protected var inputDir: Path = _
  protected var dataDir: Path = _
  protected var files: Seq[Grids.GridFile] = Nil
  private var before: Dirs.Snapshot = Map.empty
  private var lastWritten: Dirs.Snapshot = Map.empty

  def workUnit = "cells"
  def work: Double = files.map(_.spec.cellsPerFile).sum.toDouble
  protected def opts(dataPath: Path) =
    Preprocess.Options(name = Collection, dataPath = dataPath.toString)
  protected def catalogRoot: Path = dataDir.resolve("stac").resolve("catalog")
  protected def glob: String = s"$inputDir/*.nc"

  /** Puts `dataDir` in its pre-run state. */
  protected def restore(): Unit
  /** Inputs whose outputs a run writes; the others it skips. */
  protected def fresh: Seq[Grids.GridFile]

  override def prepare(): Unit = {
    restore()
    before = Dirs.snapshot(dataDir)
  }

  def run(t: Tracer): Unit = {
    t.span("pipeline.preprocess") {
      Preprocess.run(spark, glob, opts(dataDir))
    }
    lastWritten = Dirs.written(before, dataDir)
  }

  def outBytes: Long = lastWritten.values.map(_._1).sum

  /** New data files (slices, COGs, overview sidecars, thumbnails). */
  protected def newDataFiles: Seq[String] = lastWritten.keys
    .filter(k => !before.contains(k) &&
      (k.startsWith("netcdf/") || k.startsWith("cogs/"))).toSeq

  override def runCounts: Map[String, Double] = Map(
    "pipeline.files_written" -> newDataFiles.size.toDouble,
    "sink.stac_items_rewritten" -> lastWritten.keys
      .count(k => k.startsWith("stac/") && k.count(_ == '/') == 4).toDouble)

  protected def items(): Seq[JsonNode] =
    Dirs.files(catalogRoot.resolve(Collection))
      .filter(p => p.getParent.getParent == catalogRoot.resolve(Collection))
      .map(Workload.readJson)

  /** The input an item was made from, by its reference time. */
  private def inputOf(item: JsonNode): Option[Grids.GridFile] = {
    val ref = item.get("properties").get("forecast:reference_time").asText
    val day = java.time.Duration.between(
      java.time.Instant.parse("2025-01-01T00:00:00Z"),
      java.time.Instant.parse(ref)).toDays.toInt
    files.find(_.day == day)
  }

  /** Band statistics of every COG asset of `item` against the generated
    * arrays of the file it came from, within 1e-9.
    */
  protected def checkStats(item: JsonNode): Seq[String] =
    inputOf(item) match {
      case None => Seq(s"item ${item.get("id").asText} matches no input")
      case Some(f) =>
        val day = f.day
        val cogs = item.get("assets").asScala.toSeq
          .filter(_.get("key").asText.startsWith("cog_lead_"))
        val countErr =
          if (cogs.size == f.spec.nLead) Nil
          else Seq(s"day $day: ${cogs.size} COG assets, want ${f.spec.nLead}")
        countErr ++ cogs.flatMap { a =>
          val l = a.get("extra").get("custom:leadtime").asText.toInt
          val bands = Workload.parseJson(
            a.get("extra").get("forecast:bands").asText).asScala.toSeq
          Grids.Vars.flatMap { v =>
            val want = Grids.bandStats(f, v, l)
            bands.find(_.get("variable").asText == v) match {
              case None => Seq(s"day $day lead $l: no stats for $v")
              case Some(b) =>
                Seq("stat_min" -> want.min, "stat_max" -> want.max,
                  "stat_mean" -> want.mean, "stat_stddev" -> want.stddev,
                  "valid_percent" -> want.validPercent).flatMap { case (k, w) =>
                  val got = b.path(k).asDouble(Double.NaN)
                  if (math.abs(got - w) <= 1e-9 * math.max(1.0, math.abs(w))) Nil
                  else Seq(s"day $day lead $l $v $k: $got, want $w")
                }
            }
          }
        }
    }

  /** One COG of `item`, chosen from the iteration, decoded through
    * CogReader and compared pixel for pixel with the generated grid.
    */
  protected def checkCog(item: JsonNode, iteration: Int): Seq[String] = {
    val f = inputOf(item).getOrElse(return Seq("COG item matches no input"))
    val day = f.day
    val l = Math.floorMod(seed.toInt + iteration, f.spec.nLead)
    val asset = item.get("assets").asScala
      .find(_.get("key").asText == s"cog_lead_$l")
    asset match {
      case None => Seq(s"day $day: no cog_lead_$l asset")
      case Some(a) =>
        val tiff = CogReader.read(
          Files.readAllBytes(dataDir.resolve(a.get("href").asText.stripPrefix("./"))))
        Grids.Vars.zipWithIndex.flatMap { case (v, b) =>
          val got = tiff.readBand(0, b)
          val bad = (for {
            y <- 0 until f.spec.ny; x <- 0 until f.spec.nx
            w = f.at(v, y, x, l); g = got(y)(x)
            if !(w == g || (w.isNaN && g.isNaN))
          } yield (y, x)).size
          if (bad == 0) Nil else Seq(s"COG day $day lead $l $v: $bad pixels differ")
        }
    }
  }

  /** Direct calls into each layer the pipeline composes, on this
    * workload's inputs and on the catalog its last run wrote.
    */
  override def probe(t: Tracer): Map[String, Double] = {
    t.span("source.manifest") { NetCdfSource.manifest(spark, glob).count() }
    val tidy = NetCdfSource.tidy(spark, glob).persist()
    val tidyRows = t.span("source.tidy_decode") {
      tidy.count()
    }
    val st = graft.functions.VecStatsExpr.vecStats(col("values"))
    val groups = t.span("functions.band_stats") {
      tidy.select(col("path"), col("time_idx"), col("variable"),
          col("leadtime_idx"), st.as("st"))
        .groupBy(col("path"), col("time_idx"), col("variable"), col("leadtime_idx"))
        .agg(min(col("st.vmin")), max(col("st.vmax")), sum(col("st.vsum")),
          sum(col("st.vsumsq")), sum(col("st.n_valid")))
        .collect().length
    }
    tidy.unpersist()
    t.span("source.slice_encode") { fresh.foreach(f => Grids.encode(f)) }
    val cogBytes = t.span("sink.cog_write") {
      (for (f <- fresh; l <- 0 until f.spec.nLead) yield {
        val bands = Grids.Vars.map(v =>
          CogWriter.Band(v, Map.empty) -> Grids.slice(f, v, l))
        val o = CogWriter.Options(pixelScale = (25000.0, 25000.0))
        CogWriter.write(bands, o).length.toLong +
          CogWriter.writeOvr(bands, o).length
      }).sum
    }
    t.span("pipeline.thumbnail") {
      fresh.foreach(f => Thumbnail.jpeg(Grids.slice(f, Grids.Vars.head, 0)))
    }
    val nRead = Workload.catalogProbes(spark, t, catalogRoot)
    Workload.ingestProbe(spark, t, catalogRoot, seed) ++ Map(
      "source.tidy_rows" -> tidyRows.toDouble,
      "source.input_bytes" -> files.map(f => Files.size(f.path)).sum.toDouble,
      "functions.band_stats_groups" -> groups.toDouble,
      "sink.cog_count" -> fresh.map(_.spec.nLead).sum.toDouble,
      "sink.cog_bytes" -> cogBytes.toDouble,
      "sink.stac_items_read" -> nRead.toDouble)
  }
}

/** Write-heavy: every run preprocesses the grids into an empty data dir. */
final class PreprocessCold(spark: SparkSession, seed: Long)
    extends PreprocessWorkload(spark, seed) {
  def name = "preprocess_cold"
  val spec = Grids.Spec(nFiles = 4, ny = 216, nx = 216, nLead = 2)
  def sizes = s"${spec.nFiles} files x ${spec.ny}x${spec.nx} x " +
    s"${Grids.Vars.size} vars x ${spec.nLead} leadtimes"

  def setup(dir: Path): Unit = {
    inputDir = dir.resolve("input")
    dataDir = dir.resolve("data")
    files = Grids.write(inputDir, spec, seed)
  }

  protected def restore(): Unit = Dirs.wipe(dataDir)
  protected def fresh: Seq[Grids.GridFile] = files

  def check(iteration: Int): Seq[String] = {
    val its = items()
    val want = Map(".nc" -> spec.nFiles, ".tif" -> spec.nFiles * spec.nLead,
      ".ovr" -> spec.nFiles * spec.nLead, ".jpg" -> spec.nFiles)
    val got = newDataFiles.groupBy(k => k.substring(k.lastIndexOf('.')))
      .map { case (e, ks) => e -> ks.size }
    (if (its.size == spec.nFiles) Nil
     else Seq(s"${its.size} items, want ${spec.nFiles}")) ++
      (if (got == want) Nil else Seq(s"data files $got, want $want")) ++
      its.flatMap(checkStats) ++
      its.lift(Math.floorMod(seed.toInt + iteration, its.size max 1))
        .toSeq.flatMap(checkCog(_, iteration))
  }
}

/** Read/skip-heavy: the daily run against a catalog of prior days. Only
  * the last input file is new; every run starts from the same template.
  */
final class PreprocessIncremental(spark: SparkSession, seed: Long)
    extends PreprocessWorkload(spark, seed) {
  def name = "preprocess_incremental"
  val prior = Grids.Spec(nFiles = 10, ny = 64, nx = 64, nLead = 6)
  private var template: Path = _
  def sizes = s"${prior.nFiles} prior days + 1 new, ${prior.ny}x${prior.nx} x " +
    s"${Grids.Vars.size} vars x ${prior.nLead} leadtimes"

  def setup(dir: Path): Unit = {
    inputDir = dir.resolve("input")
    dataDir = dir.resolve("data")
    template = dir.resolve("template")
    val old = Grids.write(inputDir, prior, seed)
    Preprocess.run(spark, glob, opts(template))
    files = old ++ Grids.write(inputDir,
      prior.copy(nFiles = 1, firstDay = prior.nFiles), seed)
  }

  protected def restore(): Unit = {
    Dirs.wipe(dataDir)
    Dirs.copyTree(template, dataDir)
  }
  protected def fresh: Seq[Grids.GridFile] = files.takeRight(1)

  def check(iteration: Int): Seq[String] = {
    val its = items()
    val want = 2 + 2 * prior.nLead
    val newest = its.filter(_.get("properties").get("forecast:reference_time")
      .asText.startsWith(
        java.time.LocalDate.of(2025, 1, 1).plusDays(prior.nFiles.toLong).toString))
    (if (its.size == files.size) Nil
     else Seq(s"${its.size} items, want ${files.size}")) ++
      (if (newDataFiles.size == want) Nil
       else Seq(s"${newDataFiles.size} new data files, want $want")) ++
      (if (newest.size == 1) newest.flatMap(checkStats)
       else Seq(s"${newest.size} items for the new day, want 1"))
  }
}

/** Catalog → pgSTAC through the dry-run client: JSON scan, skip join and
  * SQL rendering, no grid work.
  */
final class IngestLoad(spark: SparkSession, seed: Long)
    extends Workload(spark, seed) {
  def name = "ingest"
  val nColl = 4
  val perColl = 100
  val nAssets = 30
  def workUnit = "items"
  def work: Double = (nColl * perColl).toDouble
  def sizes = s"$nColl collections x $perColl items x $nAssets assets"
  private var root: Path = _
  private var existingColls = Set.empty[String]
  private var existingItems = Set.empty[(String, String)]
  private var result: Ingest.Result = _
  private var statements = 0L

  def setup(dir: Path): Unit = {
    import spark.implicits._
    root = dir.resolve("stac")
    val colls = Items.collections(nColl)
    val its = Items.items(seed, nColl, perColl, nAssets)
    StacJsonSink.write(root.toString,
      StacCatalog("catalog", "ingest input", colls.map(_.id)),
      colls, its.toDS().repartition(spark.sparkContext.defaultParallelism))
    val r = new java.util.SplittableRandom(seed)
    existingColls = Set(colls(r.nextInt(nColl)).id)
    existingItems = Workload.seededHalf(its.map(i => (i.collection, i.id)), seed)
  }

  def run(t: Tracer): Unit = {
    Ingest.DryRunClient.reset()
    SqlBytes.reset()
    result = t.span("pipeline.ingest") {
      Ingest.run(spark, root.toString,
        new SqlBytes(new Ingest.DryRunClient(existingColls, existingItems)))
    }
    statements = Ingest.DryRunClient.statements.get()
  }

  def check(iteration: Int): Seq[String] = {
    val n = nColl * perColl
    val want = Ingest.Result(nColl - 1, n / 2, 1, n / 2)
    val wantStmts = nColl - 1 + n / 2
    (if (result == want) Nil else Seq(s"result $result, want $want")) ++
      (if (statements == wantStmts) Nil
       else Seq(s"$statements statements, want $wantStmts"))
  }

  /** SQL text handed to the database. */
  def outBytes: Long = SqlBytes.bytes.get()

  override def runCounts: Map[String, Double] = Map(
    "pipeline.ingest_statements" -> statements.toDouble,
    "pipeline.items_loaded" -> result.itemsLoaded.toDouble,
    "pipeline.items_skipped" -> result.itemsSkipped.toDouble)

  override def probe(t: Tracer): Map[String, Double] = {
    val nRead = Workload.catalogProbes(spark, t, root)
    Map("sink.stac_items_read" -> nRead.toDouble,
      "sink.stac_items_rewritten" -> nRead.toDouble)
  }
}

/** Wraps the dry-run client to count the SQL bytes it is handed. */
final class SqlBytes(inner: Ingest.DryRunClient) extends Ingest.PgStacClient {
  def existingCollectionIds(): Set[String] = inner.existingCollectionIds()
  def existingItemKeys(): Set[(String, String)] = inner.existingItemKeys()
  def execBatch(statements: Seq[String]): Unit = {
    inner.execBatch(statements)
    SqlBytes.bytes.addAndGet(statements.iterator.map(_.length.toLong).sum)
  }
}

object SqlBytes {
  // executors share this JVM (local mode), like DryRunClient's own
  // statement counter
  val bytes = new java.util.concurrent.atomic.AtomicLong()
  def reset(): Unit = bytes.set(0)
}

/** The `queries`/`ops` targets named on the roadmap, over seeded tables.
  * Each query's full result is consumed by a row count plus an
  * order-insensitive hash, which the checks compare with the first pass.
  */
final class QueryMix(spark: SparkSession, seed: Long)
    extends Workload(spark, seed) {
  def name = "query_mix"
  val Queries: Seq[String] = Main.MixQueries
  val nLine = 20000
  def workUnit = "queries"
  def work: Double = Queries.size.toDouble
  def sizes = s"${Queries.size} queries, $nLine lineitem rows"
  private var tables: Path = _
  private var reference = Map.empty[String, Digest]
  private var last = Map.empty[String, Digest]

  def setup(dir: Path): Unit = {
    tables = dir.resolve("tables")
    QueryTables.write(spark, tables, seed, nLine)
  }

  /** Row count, order-insensitive hash and JSON size of a result. */
  private def digest(df: DataFrame): Digest = {
    val cols = df.columns.map(df.col).toSeq
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"),
        length(to_json(struct(cols: _*))).as("n"))
      .agg(count(lit(1)), sum(col("h")), sum(col("n"))).head()
    Digest(r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(0),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def run(t: Tracer): Unit = {
    val all = graft.SparkEntry.queries
    last = Queries.map { q =>
      val d = t.span(s"queries.$q") { digest(all(q)(spark, tables.toString)) }
      GraftSession.sweepCaches(spark)
      q -> d
    }.toMap
  }

  def check(iteration: Int): Seq[String] = {
    if (reference.isEmpty) reference = last
    Queries.flatMap { q =>
      if (last.get(q) == reference.get(q)) Nil
      else Seq(s"$q: ${last.get(q)}, first pass ${reference.get(q)}")
    }
  }

  /** Size of the results, as JSON text. */
  def outBytes: Long = last.values.map(_.jsonBytes).sum
}

final case class Digest(rows: Long, hash: BigDecimal, jsonBytes: Long)
