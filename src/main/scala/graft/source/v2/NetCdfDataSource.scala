package graft.source.v2

import java.util
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.source.NetCdfSource

/** DataSource V2 NetCDF source: `spark.read.format("netcdf").load(glob)`
  * (S1 as a first-class format, SURVEY §4.1's upgrade path from the
  * mapPartitions decode).
  *
  * Planning: one input partition per file up to `split_bytes` (default
  * 256 MiB); a LARGER file fans out into one partition per band
  * variable, and per (variable, leadtime index) when a single variable
  * still exceeds the threshold — so a multi-year archive decodes across
  * the whole cluster instead of one task (the Zarr reader's chunk
  * parallelism applied to netCDF; the HDF5 chunk index makes each
  * sub-file partition read only its own byte ranges). Pushed
  * variable/leadtime predicates prune sub-file partitions at PLANNING
  * time, so a one-band query over a split archive schedules only that
  * band's tasks.
  * Pushdown: SupportsPushDownRequiredColumns — when neither payload
  * column (`values`, `xs`) is required, the reader decodes the HEADER
  * ONLY and never touches the grid bytes, so metadata-shaped queries
  * (variable lists, coord resolution, counts) cost O(header) per file
  * exactly like the reference's metadata-only first pass
  * (get_forecast_info). Files are read through the Hadoop FileSystem
  * API, so the same source works on HDFS/object stores.
  */
final class NetCdfDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "netcdf"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NetCdfDataSource.TidySchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new NetCdfTable(properties.asScala.toMap)
  override def supportsExternalMetadata(): Boolean = false
}

object NetCdfDataSource {
  /** Files past this size fan out into sub-file partitions (reader
    * option `split_bytes` overrides): ~256 MiB of decoded doubles per
    * task keeps partitions executor-memory-safe at any file size.
    */
  val DefaultSplitBytes: Long = 256L << 20

  /** The tidy scanline schema (SURVEY §1.4). */
  val TidySchema: StructType = new StructType()
    .add("path", StringType).add("variable", StringType)
    .add("time_idx", IntegerType).add("time", DoubleType)
    .add("leadtime_idx", IntegerType).add("leadtime", DoubleType)
    .add("y_idx", IntegerType).add("y", DoubleType)
    .add("xs", ArrayType(DoubleType)).add("values", ArrayType(DoubleType))

  /** The reader's `path`/`paths` options, resolved to files by the one
    * netCDF path resolver ([[graft.source.NetCdfSource.resolvePaths]]).
    */
  def resolvePaths(props: Map[String, String]): Seq[String] = {
    val raw = props.get("paths")
      .map(p => p.stripPrefix("[").stripSuffix("]").split(",").toSeq
        .map(_.trim.stripPrefix("\"").stripSuffix("\"")))
      .orElse(props.get("path").map(Seq(_)))
      .getOrElse(throw new IllegalArgumentException("netcdf: no path given"))
    graft.source.NetCdfSource.resolvePaths(
      org.apache.spark.sql.SparkSession.active, raw)
  }
}

private[v2] final class NetCdfTable(props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = s"netcdf(${props.getOrElse("path", "…")})"
  override def schema(): StructType = NetCdfDataSource.TidySchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new NetCdfScanBuilder(props)
}

/** Pushable predicates, extracted driver-side into plain serializable
  * values: variable equality/IN skips whole-band payload reads;
  * time_idx / leadtime_idx equality skips slice materialization.
  */
private[v2] final case class NetCdfFilters(
    variables: Option[Set[String]], timeIdx: Option[Int],
    leadtimeIdx: Option[Int]) {
  def describe: String = Seq(
    variables.map(v => s"variable IN (${v.toSeq.sorted.mkString(",")})"),
    timeIdx.map(t => s"time_idx=$t"),
    leadtimeIdx.map(l => s"leadtime_idx=$l")).flatten.mkString(", ")
}

private[v2] final class NetCdfScanBuilder(props: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  import org.apache.spark.sql.sources._
  private var required: StructType = NetCdfDataSource.TidySchema
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case EqualTo("variable", _: String) => true
      case In("variable", _) => true
      case EqualTo("time_idx" | "leadtime_idx", _: Int) => true
      case _ => false
    }
    // every filter stays residual: the pushed set only SKIPS work
    // (band/slice decode); Spark re-applies the predicates on the rows
    // that do come back, so pushdown can never change semantics
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = {
    val vars = pushed.collectFirst {
      case EqualTo("variable", v: String) => Set(v)
      case In("variable", vs) => vs.collect { case s: String => s }.toSet
    }
    val t = pushed.collectFirst { case EqualTo("time_idx", v: Int) => v }
    val l = pushed.collectFirst { case EqualTo("leadtime_idx", v: Int) => v }
    new NetCdfScan(props, required, NetCdfFilters(vars, t, l))
  }
}

private[v2] final class NetCdfScan(props: Map[String, String],
                                   required: StructType,
                                   filters: NetCdfFilters)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"netcdf scan, columns=[${required.fieldNames.mkString(",")}]" +
      (if (filters.describe.nonEmpty) s", pushed=[${filters.describe}]" else "")
  private def needPayload =
    required.fieldNames.contains("values") || required.fieldNames.contains("xs")

  override def planInputPartitions(): Array[InputPartition] = {
    val paths = NetCdfDataSource.resolvePaths(props)
    val splitBytes = props.get("split_bytes").map(_.toLong)
      .getOrElse(NetCdfDataSource.DefaultSplitBytes)
    val conf = org.apache.spark.sql.SparkSession.active
      .sessionState.newHadoopConf()
    paths.flatMap { p =>
      val hp = new HPath(p)
      val fs = hp.getFileSystem(conf)
      // header-only scans never split: the payload is never read, so
      // the per-file header walk IS the whole cost
      if (!needPayload || fs.getFileStatus(hp).getLen <= splitBytes)
        Seq(NetCdfInputPartition(p))
      else splitFile(p, fs, hp, splitBytes)
    }.toArray
  }

  /** Sub-file planning for one oversized file: the header walk (cheap
    * positioned reads, driver-side) enumerates band variables; pushed
    * variable/leadtime predicates drop sub-partitions before they are
    * ever scheduled.
    */
  private def splitFile(p: String, fs: FileSystem, hp: HPath,
                        splitBytes: Long): Seq[NetCdfInputPartition] = {
    val src = new graft.source.FsByteSource(fs, hp)
    try {
      val g = graft.source.GridFile.open(src)
      val bands = g.varNames.filter(g.isPayload(_, 4))
        .filter(v => filters.variables.forall(_.contains(v)))
      bands.flatMap { v =>
        val shape = g.shape(v)
        // decoded size drives task cost (doubles), not on-disk size
        val varBytes = shape.map(_.toLong).product * 8
        val nl = shape.last // (t, y, x, leadtime) layout per decodeTidy
        if (varBytes <= splitBytes || nl <= 1)
          Seq(NetCdfInputPartition(p, Some(v), filters.leadtimeIdx))
        else
          (0 until nl).filter(l => filters.leadtimeIdx.forall(_ == l))
            .map(l => NetCdfInputPartition(p, Some(v), Some(l)))
      } match {
        case Seq() => Seq(NetCdfInputPartition(p)) // filters match nothing
        case parts => parts
      }
    } finally src.close()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new NetCdfReaderFactory(required.fieldNames, filters,
      GraftWriteUtil.broadcastSessionConf(
        org.apache.spark.sql.SparkSession.active))
}

/** One scan task: a whole file, or — for split oversized files — one
  * band variable (optionally pinned to one leadtime index) of it.
  */
private[v2] final case class NetCdfInputPartition(
    path: String, variable: Option[String] = None,
    leadtimeIdx: Option[Int] = None) extends InputPartition

/** Carries the SESSION's Hadoop configuration as a broadcast, so
  * `spark.hadoop.*` settings (FileSystem impls, object-store
  * credentials) reach the executor-side opens as they reach planning.
  */
private[v2] final class NetCdfReaderFactory(
    requiredCols: Array[String], filters: NetCdfFilters,
    bconf: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[NetCdfInputPartition]
    // a split partition narrows the pushed filters to its own band/slice
    val eff = NetCdfFilters(
      p.variable.map(Set(_)).orElse(filters.variables),
      filters.timeIdx,
      p.leadtimeIdx.orElse(filters.leadtimeIdx))
    new NetCdfPartitionReader(p.path, requiredCols, eff, bconf.value.value)
  }
}

private[v2] final class NetCdfPartitionReader(
    path: String, requiredCols: Array[String], filters: NetCdfFilters,
    conf: org.apache.hadoop.conf.Configuration)
    extends PartitionReader[InternalRow] {

  private val needPayload =
    requiredCols.contains("values") || requiredCols.contains("xs")

  // held open for the lazy row iterator; released in close()
  private var source: graft.source.FsByteSource = _

  private val rows: Iterator[InternalRow] = {
    val hp = new HPath(path)
    val fs = hp.getFileSystem(conf)
    // positioned-read source: HDF5 inputs of ANY size stream header
    // ranges + chunk byte-ranges (no whole-file buffer, no 2 GiB
    // ceiling); classic CDF buffers inside GridFile.open with its own
    // explicit size contract
    source = new graft.source.FsByteSource(fs, hp)
    val g = graft.source.GridFile.open(source)
    if (needPayload) {
      NetCdfSource.decodeTidy(path, g, filters.variables,
        filters.timeIdx, filters.leadtimeIdx).map(project)
    } else {
      // header-only fast path: the grid payload is never decoded
      headerRows(g).map(project)
    }
  }

  /** Header-only row stream: same row grain as the full decode, but all
    * values come from coords/shape — no payload read.
    */
  private def headerRows(g: graft.source.GridFile) = {
    val names = g.varNames
    def coord(cands: Seq[String]): Array[Double] = {
      val n = NetCdfSource.findCoord(names, cands).getOrElse(
        throw new IllegalArgumentException(s"no coord among $cands in $path"))
      g.readDoubles(n)
    }
    val yName = NetCdfSource.findCoord(names, NetCdfSource.YCandidates).get
    val yUnits = g.varAttrText(yName, "units").getOrElse("")
    val yScale = if (yUnits == "km" || yUnits == "1000 meter") 1000.0 else 1.0
    val (ts, ls, ys) =
      (coord(NetCdfSource.TimeCandidates), coord(NetCdfSource.LeadCandidates),
        coord(NetCdfSource.YCandidates).map(_ * yScale))
    for {
      v <- names.filter(g.isPayload(_, 4)).iterator
        if filters.variables.forall(_.contains(v))
      t <- ts.indices.iterator if filters.timeIdx.forall(_ == t)
      l <- ls.indices.iterator if filters.leadtimeIdx.forall(_ == l)
      y <- ys.indices.iterator
    } yield (path, v, t, ts(t), l, ls(l), y, ys(y), null, null)
  }

  private def project(t: (String, String, Int, Double, Int, Double, Int,
                          Double, Array[Double], Array[Double])): InternalRow = {
    val full: Map[String, Any] = Map(
      "path" -> UTF8String.fromString(t._1),
      "variable" -> UTF8String.fromString(t._2),
      "time_idx" -> t._3, "time" -> t._4,
      "leadtime_idx" -> t._5, "leadtime" -> t._6,
      "y_idx" -> t._7, "y" -> t._8,
      "xs" -> Option(t._9)
        .map(a => org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a))
        .orNull,
      "values" -> Option(t._10)
        .map(a => org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a))
        .orNull)
    InternalRow.fromSeq(requiredCols.toSeq.map(full))
  }

  override def next(): Boolean = rows.hasNext
  override def get(): InternalRow = rows.next()
  override def close(): Unit = if (source != null) source.close()
}
