package graft.source.v2

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.ops.SnapshotTable

/** GROUP-BASED (copy-on-write) row-level operations — what turns SQL
  * `MERGE INTO` and `UPDATE` loose on the snapshot table:
  *
  *   1. Spark asks [[GraftRowLevelOperation.newScanBuilder]] for a
  *      scan of the target; our ordinary [[GraftScanBuilder]] serves
  *      it, so static predicates AND the runtime group filter Spark
  *      injects (`RowLevelOperationRuntimeGroupFiltering` — the
  *      matched source keys come back as an `In` filter) prune the
  *      rewrite to the files that can actually hold affected rows.
  *      The built scan records the exact file set it planned: those
  *      files ARE the groups being replaced.
  *   2. Spark rewrites the plan to `ReplaceData`: the merged/updated
  *      rows of the affected groups arrive at this operation's
  *      [[GraftBatchWrite]], whose executors write parquet with
  *      Spark's own row codec ([[org.apache.spark.sql.execution
  *      .datasources.parquet.ParquetWriteSupport]]) while tracking
  *      per-file stats.
  *   3. commit() swaps the manifests: files = (base − scanned) + new,
  *      stats carried for survivors and recomputed for the batch,
  *      blooms rebuilt for new files, schema meta carried under the
  *      current epoch. The create-exclusive put targets base+1, so a
  *      concurrent commit fails THIS operation loudly — the
  *      plan-against-base mutation policy, same as compact/merge.
  *
  * HIDDEN-PARTITIONED tables rewrite partition-pure: the write
  * declares `RequiresDistributionAndOrdering` — clustered on the
  * partition transform (resolved through the catalog's
  * FunctionCatalog, the same arithmetic that routed the rows at
  * append time) and sorted by (transform, stats column) — so each
  * task receives whole partition values in order, rolls to a new
  * file whenever the derived value changes, and the commit records
  * the NEW value per file. A MERGE that updates the partition SOURCE
  * column therefore moves the row to its new partition by
  * construction — the cross-partition-move hazard
  * [[SnapshotTable.mergePartitioned]] guards against cannot arise
  * here, because Spark's runtime group filter is computed from a
  * full scan of the target (complete by construction, no bloom
  * completeness precondition).
  *
  * Boundaries, stated loudly: DV-carrying or schema-ALTERed tables
  * reject at scan RESOLUTION (lazily — never in the constructor, so
  * a translatable DELETE still optimizes back to the cheaper
  * `SupportsDelete` DV + fold path before any scan is built).
  * CHECK constraints validate the rewritten batch before commit, and
  * the history op records the actual command.
  */
final class GraftRowLevelOperation(
    path: String,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  // resolution is deliberately LAZY: Spark builds the row-level
  // operation at ANALYSIS for every DELETE on a
  // SupportsRowLevelOperations table, BEFORE
  // OptimizeMetadataOnlyDeleteFromTable can route translatable
  // predicates to SupportsDelete.deleteWhere — an eager resolve here
  // would fail DELETEs (on DV-carrying, empty, or marker-only tables)
  // that never needed a group rewrite at all
  private lazy val res = GraftTableSource.resolveForScan(Map("path" -> path))

  /** The scan serving the operation — kept so commit() knows exactly
    * which files were read (= replaced). Captured AT MOST ONCE: a
    * second full-schema build through this operation would silently
    * replace the group set and drop unrewritten files from the
    * manifest, so it fails loudly instead.
    */
  @volatile private var scan: GraftScan = _

  /** A possible SECOND exact-schema scan (the runtime group-filter
    * subquery on a narrow table whose condition references every
    * column) — kept only to cross-check the first-capture ordering
    * assumption at commit time, never used as the group set.
    *
    * Scope note: every capture already flows through THIS operation's
    * `newScanBuilder` override (an ordinary read of the same table —
    * e.g. a self-referencing MERGE source — resolves its own
    * [[GraftTable]] and never reaches it), so tagging builders adds
    * no discrimination, and the DSv2 API offers no positive marker
    * for "the ReplaceData rewrite scan". Should an exotic plan ever
    * route a third exact-schema scan here between the two expected
    * builds, the sentinel can only ABORT (fail-safe) — committing on
    * a guessed group set could drop or duplicate unrewritten rows.
    */
  @volatile private var secondScan: GraftScan = _

  override def command(): RowLevelOperation.Command = cmd

  /** Requiring `_file` routes the write through Spark's
    * metadata-aware task, which strips the merge bookkeeping column
    * and projects rows back to the table schema — and gives the
    * runtime group filter a column that names EXACTLY the files
    * holding matched rows.
    */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column("_file"))

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new GraftScanBuilder(res) {
    override def build(): org.apache.spark.sql.connector.read.Scan = {
      val s = super.build()
      s match {
        // the REWRITE scan reproduces whole rows: its read schema is
        // EXACTLY the table schema plus the trailing _file metadata
        // column, in table order (GraftReaderFactory.partition already
        // requires _file trailing). The runtime group-filter SUBQUERY
        // scan is column-pruned to the condition columns + _file and
        // so (except on a table whose every column the condition
        // references) never matches. Spark builds the rewrite scan
        // FIRST (V2ScanRelationPushDown), the group-filter subquery
        // later (the PartitionPruning optimizer batch) — so the first
        // exact-schema build IS the rewrite scan, and a later
        // exact-schema build (a narrow table whose condition touches
        // every column) is the subquery: keep the first capture
        // rather than failing a valid MERGE/UPDATE.
        case g: GraftScan if g.readSchema().fieldNames.toSeq ==
            res.schema.fieldNames.toSeq :+ "_file" =>
          if (scan == null) scan = g
          else if (secondScan == null) secondScan = g
        case _ => ()
      }
      s
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = rowLevelWrite(info)
    }

  private def rowLevelWrite(info: LogicalWriteInfo): Write = {
    new Write with RequiresDistributionAndOrdering {
      override def description(): String =
        s"graft_table $path $cmd (group-based rewrite)"

      /** Partitioned rewrites cluster on the partition transform —
        * the same catalog function SPJ reads resolve — so a task
        * holds whole partition values and files stay partition-pure.
        * Unpartitioned rewrites run under any distribution.
        */
      override def requiredDistribution(): Distribution =
        res.ver.part match {
          case Some(p) => Distributions.clustered(
            GraftWriteUtil.transformExprs(p).toArray)
          case None => Distributions.unspecified()
        }

      /** Sort by (transform, stats column): a task then sees each
        * partition value once (one output file per value) and within
        * a file the stats column stays tight for manifest pruning.
        */
      override def requiredOrdering(): Array[SortOrder] = {
        val onPart = res.ver.part.toSeq
          .flatMap(GraftWriteUtil.transformExprs)
          .map(Expressions.sort(_, SortDirection.ASCENDING))
        val onStats = res.ver.stats.toSeq.map(st =>
          Expressions.sort(Expressions.column(st.col),
            SortDirection.ASCENDING))
        (onPart ++ onStats).toArray
      }

      override def toBatch: BatchWrite =
        new GraftBatchWrite(path, res, info.schema(), cmd.toString,
          () => {
            require(scan != null && scan.plannedFileNames != null,
              "row-level write committed before its scan planned — " +
                "no group set to replace")
            // ordering sentinel: first-capture assumes Spark builds
            // the rewrite scan before the group-filter subquery
            // (V2ScanRelationPushDown before PartitionPruning). The
            // subquery is strictly MORE pruned, so its planned files
            // are a subset of the group set; if a Spark change ever
            // flips the build order, the second scan here is the real
            // rewrite scan, plans files OUTSIDE the captured set, and
            // this fails loudly instead of committing a partial group
            // replacement that drops unrewritten rows.
            if (secondScan != null && secondScan.plannedFileNames != null) {
              val captured = scan.plannedFileNames.toSet
              require(secondScan.plannedFileNames.forall(captured),
                "row-level scan capture inverted: the second " +
                  "exact-schema scan planned files outside the " +
                  "captured group set — optimizer build order " +
                  "changed; refusing a partial group replacement")
            }
            scan.plannedFileNames
          },
          () => if (scan == null) Array.empty else scan.staticPredicates)
    }
  }

}

/** Shared plumbing of the three executor-writing paths (row-level
  * rewrite, dynamic overwrite, streaming sink) — one definition of
  * the parquet SQL-conf snapshot, the session-conf broadcast, the
  * partition-transform V2 expression, and staged-file cleanup.
  */
private[v2] object GraftWriteUtil {

  /** ParquetWriteSupport.init reads these SQL confs from the hadoop
    * Configuration (FileFormatWriter copies them in the ordinary
    * write path); resolve them ON THE DRIVER through their typed
    * entries — defaults only resolve against a live SQLConf — and
    * ship the rendered values.
    */
  def parquetSqlConfs(): Map[String, String] = {
    import org.apache.spark.sql.internal.SQLConf
    val sc = SQLConf.get
    Map(
      SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key ->
        sc.getConf(SQLConf.PARQUET_WRITE_LEGACY_FORMAT).toString,
      SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key ->
        sc.getConf(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE).toString,
      SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key ->
        sc.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString,
      SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key ->
        sc.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key ->
        sc.getConf(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED).toString,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key ->
        sc.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
  }

  /** The SESSION's Hadoop configuration, broadcast: spark.hadoop.*
    * settings (object-store credentials, endpoints) must reach the
    * executors' parquet writers — a fresh Configuration() loses them.
    */
  def broadcastSessionConf(spark: SparkSession)
      : Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(new SerializableConfiguration(
      spark.sessionState.newHadoopConf()))

  /** The partition transforms as V2 expressions, one per field —
    * identity resolves catalog-free; bucket/truncate/days/months/
    * years/hours resolve through the relation's FunctionCatalog
    * (GraftCatalog), the same arithmetic that routed rows at append
    * time.
    */
  def transformExprs(p: SnapshotTable.PartSpec)
      : Seq[org.apache.spark.sql.connector.expressions.Expression] =
    p.fields.map { f =>
      f.transform match {
        case "identity" => Expressions.column(f.source)
        case "bucket" => Expressions.bucket(f.param.toInt, f.source)
        case "truncate" => Expressions.apply("truncate",
          Expressions.literal(f.param), Expressions.column(f.source))
        case t => // days | months | years | hours
          Expressions.apply(t, Expressions.column(f.source))
      }
    }

  /** Resolve each partition source's schema index and check its type
    * matches the spec's declaration — shared by the three
    * executor-writing paths.
    */
  def partIndices(schema: StructType, p: SnapshotTable.PartSpec)
      : (Seq[Int], SnapshotTable.PartSpec) = {
    val idxs = p.fields.map { f =>
      val i = schema.fieldNames.indexOf(f.source)
      require(i >= 0,
        s"partition source ${f.source} is not a column of the " +
          s"write (${schema.fieldNames.mkString(", ")}) — the " +
          "table's partition layout changed under the writer " +
          "(a mid-stream rename?)")
      val have = graft.ops.TypedBounds.dtypeOf(schema.fields(i).dataType)
        .getOrElse(schema.fields(i).dataType.simpleString)
      require(have == f.dtype,
        s"partition source ${f.source} is $have, spec declares " +
          s"${f.dtype} — the driver-side probe mirror and the " +
          "executor transform must agree on the input type")
      i
    }
    (idxs, p)
  }

  /** Resolve each declared typed-stats column to (name, schema index
    * or -1, dtype) for writer-task bound tracking, failing loudly on
    * a dtype drift (the append contract freezes stats column types).
    */
  def csIndices(schema: StructType, specs: Seq[(String, String)])
      : Seq[(String, Int, String)] =
    specs.map { case (c, t) =>
      val i = schema.fieldNames.indexOf(c)
      if (i >= 0) {
        val have = graft.ops.TypedBounds.dtypeOf(schema.fields(i).dataType)
        require(have.contains(t),
          s"stats column $c has type ${schema.fields(i).dataType} but " +
            s"the manifest declares $t — types never change per the " +
            "append contract")
      }
      (c, i, t)
    }

  /** Assemble the commit-side [[SnapshotTable.ColStats]] from the
    * writer-tracked per-file bounds — the zero-read replacement for
    * the post-write batch re-read.
    */
  def colStatsFromFacts(specs: Seq[(String, String)],
                        written: Seq[GraftFileFact])
      : Seq[SnapshotTable.ColStats] =
    specs.zipWithIndex.map { case ((c, t), k) =>
      val bs = written.map { f =>
        if (k < f.cs.length) f.cs(k) else ("", "", false, false)
      }
      SnapshotTable.ColStats(c, t, bs.map(_._1), bs.map(_._2),
        bs.map(_._3), bs.map(_._4),
        nulls = written.map(f =>
          if (k < f.csNulls.length) f.csNulls(k) else 0L),
        kmv =
          if (!graft.ops.NdvSketch.sketchable(t)) Seq.empty
          else written.map(f =>
            if (k < f.csKmv.length) f.csKmv(k) else ""))
    }

  /** The per-file partition tuples of a written batch. */
  def batchParts(p: SnapshotTable.PartSpec, written: Seq[GraftFileFact])
      : SnapshotTable.PartKeys = {
    written.foreach(f => require(f.partKey.length == p.fields.length,
      s"file ${f.file} carries ${f.partKey.length} partition keys " +
        s"for ${p.fields.length} fields"))
    SnapshotTable.PartKeys(p.fields.map(_.valueDtype).toIndexedSeq,
      written.iterator.flatMap(_.partKey).toIndexedSeq)
  }

  /** Best-effort cleanup of staged (never-referenced) files. */
  def deleteStaged(conf: org.apache.hadoop.conf.Configuration,
                   files: Seq[String]): Unit =
    files.foreach { f =>
      val p = new HPath(f)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, false)
    }
}

/** One rewritten group batch: executors write parquet files under a
  * fresh batch directory; the driver swaps them for the scanned files
  * in one conditional-put commit.
  */
private[v2] final class GraftBatchWrite(
    path: String,
    res: GraftTableSource.Resolved,
    rowSchema: StructType,
    op: String,
    scannedFiles: () => Seq[String],
    staticFilters: () => Array[org.apache.spark.sql.sources.Filter])
    extends BatchWrite {

  private val batchDir =
    s"$path/files/batch-${java.util.UUID.randomUUID().toString.take(12)}"

  /** (index, isInt) of the stats column. Only INT/BIGINT stats are
    * committable: the manifest stores longs, `record.getLong` on a
    * float/double column would commit raw IEEE bits as min/max, and
    * those bounds feed aggregate pushdown and file pruning — silent
    * wrong answers. The append path enforces the same surface.
    */
  private val statsIdx: Option[(Int, Boolean)] =
    res.ver.stats.map(_.col).map { c =>
      val i = rowSchema.fieldIndex(c)
      rowSchema.fields(i).dataType match {
        case IntegerType => (i, true)
        case LongType => (i, false)
        case other => throw new IllegalArgumentException(
          s"stats column $c has type $other — per-file min/max are " +
            "manifest LONGs; only INT/BIGINT stats columns are " +
            "supported (the same surface the append path indexes)")
      }
    }

  /** (source indices, spec) of the hidden partition transform — the
    * writer derives each row's partition value(s) and rolls files so
    * every data file holds exactly one tuple (what makes manifest
    * pruning on the recorded value EXACT).
    */
  private val partIdx: Option[(Seq[Int], SnapshotTable.PartSpec)] =
    res.ver.part.map(GraftWriteUtil.partIndices(rowSchema, _))

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    new GraftRowWriterFactory(batchDir, rowSchema, statsIdx, partIdx,
      GraftWriteUtil.parquetSqlConfs(),
      GraftWriteUtil.broadcastSessionConf(SparkSession.active),
      csIdx = GraftWriteUtil.csIndices(rowSchema,
        SnapshotTable.colSpecsOf(res.ver)))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val written = messages.toSeq.collect {
      case m: GraftRowWriteMessage => m.files
    }.flatten.filter(_.rows > 0).sortBy(_.file)
    // a non-empty file whose stats column was entirely NULL has no
    // committable [min, max]; recording a fabricated range would
    // corrupt pruning and aggregate pushdown — abort like the append
    // path does
    written.find(f => statsIdx.isDefined && !f.statSeen).foreach { f =>
      throw new IllegalStateException(
        s"rewritten file ${f.file} holds only NULLs in stats column " +
          s"${res.ver.stats.get.col} — no committable min/max")
    }
    // MERGE/UPDATE ingest rows: CHECK constraints validate the
    // rewritten batch exactly like every other data-ingesting commit
    SnapshotTable.enforceConstraintsOn(spark, path, written.map(_.file))
    val removed = scannedFiles().map(SnapshotTable.canonFile).toSet
    val base = res.ver
    // sizes: one driver-side stat per new file, O(batch), through the
    // session conf (the table may live on an object store)
    val conf = spark.sparkContext.hadoopConfiguration
    def sizeOf(f: String): Long = {
      val p = new HPath(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }
    // typed multi-column stats: tracked INSIDE the write tasks and
    // carried back in the commit messages — zero re-read of the batch
    // (carry happens inside the commit, per whatever base the rebase
    // lands on; rebaseTarget rejects a changed stats layout)
    val freshCs = GraftWriteUtil.colStatsFromFacts(
      SnapshotTable.colSpecsOf(base), written)
    if (written.nonEmpty)
      base.blooms.foreach(
        SnapshotTable.writeBloomRows(spark, path, written.map(_.file), _))
    // OCC-rebase proof for interleaved files: the scan's STATIC
    // predicates through the same manifest pruning a scan would use —
    // a file the stats/partition/bloom metadata proves unmatched is
    // one the serial-order rewrite would have carried untouched. A
    // rewrite with no static predicates (bare MERGE ON key) offers no
    // proof and stays fail-loudly.
    def interleavedOk(nb: SnapshotTable.Version,
                      idxs: Seq[Int]): Boolean = {
      val filters = staticFilters()
      filters.nonEmpty && {
        val kept = GraftTableSource.pruneFiles(
          res.copy(version = nb.version, ver = nb), filters).toSet
        idxs.forall(i => !kept(i))
      }
    }
    SnapshotTable.commitReplaceGroups(spark, path, base, removed,
      written.map(_.file), written.map(_.rows),
      written.map(m => sizeOf(m.file)),
      base.stats.map(_ =>
        (written.map(_.statMin), written.map(_.statMax))),
      base.part.map(GraftWriteUtil.batchParts(_, written)),
      freshCs, op = op, interleavedOk = interleavedOk)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftWriteUtil.deleteStaged(
      SparkSession.active.sparkContext.hadoopConfiguration,
      messages.toSeq.collect {
        case m: GraftRowWriteMessage => m.files.map(_.file)
      }.flatten)
}

/** Per-file facts a rewrite task commits: row count, stats [min, max]
  * (valid only when `statSeen`), the file's hidden partition tuple
  * `partKey` (encoded, empty when unpartitioned) — and `cs`,
  * the TYPED multi-column bounds (encoded min, encoded max, has,
  * exact) per declared stats column, tracked INSIDE the write task so
  * the commit never re-reads the batch it just wrote.
  */
private[v2] final case class GraftFileFact(
    file: String, rows: Long, statMin: Long, statMax: Long,
    statSeen: Boolean, partKey: Seq[String] = Seq.empty,
    cs: Seq[(String, String, Boolean, Boolean)] = Seq.empty,
    csNulls: Seq[Long] = Seq.empty,
    csKmv: Seq[String] = Seq.empty)

private[v2] final case class GraftRowWriteMessage(files: Seq[GraftFileFact])
    extends WriterCommitMessage

private[v2] final class GraftRowWriterFactory(
    batchDir: String, schema: StructType,
    statsIdx: Option[(Int, Boolean)],
    partIdx: Option[(Seq[Int], SnapshotTable.PartSpec)],
    sqlConfs: Map[String, String],
    bconf: Broadcast[SerializableConfiguration],
    // TYPED stats tracking: (column, schema index or -1 when the
    // write's schema lacks it, dtype) per declared stats column —
    // bounds accumulate per open file and ride back in the commit
    // message, so typed-stats commits never re-read their batch
    csIdx: Seq[(String, Int, String)] = Seq.empty,
    // NDV sketch capacity, resolved ON THE DRIVER at factory
    // construction (executors have no session conf)
    ndvK: Int = graft.ops.NdvSketch.kOf(
      org.apache.spark.sql.SparkSession.active))
    extends DataWriterFactory {

  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport

      /** Open writer + running facts for one partition value. `key`
        * is the slot's pool key: the List of per-field keys, 0L when
        * unpartitioned.
        */
      final class Slot(val key: Any) {
        val file: String = {
          val seq = fileSeq; fileSeq += 1
          s"$batchDir/part-$partitionId-$taskId-$seq.parquet"
        }
        var n = 0L
        var mn = Long.MaxValue
        var mx = Long.MinValue
        var lastUse = 0L
        // typed bounds per declared stats column: PHYSICAL values
        // (Long / Double / Boolean / UTF8String copies), null = none
        // seen in this file yet; csNu = NULL rows per column
        val csMn = new Array[Any](csIdx.length)
        val csMx = new Array[Any](csIdx.length)
        val csNu = new Array[Long](csIdx.length)
        // per-column NDV sketch states (null = unsketchable dtype)
        val csKv: Array[graft.functions.KmvState] =
          csIdx.map { case (_, _, dt) =>
            if (graft.ops.NdvSketch.sketchable(dt))
              new graft.functions.KmvState(ndvK)
            else null
          }.toArray
        val writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = {
          val conf = new org.apache.hadoop.conf.Configuration(
            bconf.value.value)
          sqlConfs.foreach { case (k, v) => if (v != null) conf.set(k, v) }
          ParquetWriteSupport.setSchema(schema, conf)
          val support = new ParquetWriteSupport
          new org.apache.parquet.hadoop.ParquetWriter[InternalRow](
            new HPath(file), support,
            org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY,
            org.apache.parquet.hadoop.ParquetWriter.DEFAULT_BLOCK_SIZE,
            org.apache.parquet.hadoop.ParquetWriter.DEFAULT_PAGE_SIZE,
            org.apache.parquet.hadoop.ParquetWriter.DEFAULT_PAGE_SIZE,
            true, false,
            org.apache.parquet.hadoop.ParquetWriter.DEFAULT_WRITER_VERSION,
            conf)
        }
        def fact: GraftFileFact = GraftFileFact(file, n,
          if (mn == Long.MaxValue) 0L else mn,
          if (mx == Long.MinValue) 0L else mx,
          statSeen = mn != Long.MaxValue,
          partKey = key match {
            case ks: List[_] =>
              val fs = partIdx.get._2.fields
              fs.indices.map(k => fs(k).encodeKey(ks(k)))
            case _ => Seq.empty
          },
          cs = csIdx.indices.map { k =>
            graft.ops.TypedBounds.encodePhysical(csIdx(k)._3,
              csMn(k), csMx(k))
          },
          csNulls = csIdx.indices.map(csNu),
          csKmv = csIdx.indices.map { k =>
            if (csKv(k) == null) ""
            else graft.ops.NdvSketch.encodeState(csKv(k))
          })
      }

      private var fileSeq = 0
      // POOLED by partition value: one open writer (and so one output
      // file) per value this task currently holds — correct for ANY
      // input order, so the streaming sink needs no plan-level
      // shuffle. The pool is CAPPED: each open ParquetWriter holds
      // page buffers, so a task that sees many distinct values (an
      // identity transform over a wide key range, a shuffle-free
      // stream) must not hold them all open. Past the cap the
      // least-recently-written slot is closed and its fact banked —
      // a value seen again later simply starts a NEW file (manifests
      // list files individually, several files per partition value
      // are fine). Clustered+sorted rewrites see each value once, so
      // eviction there just closes the file the sort already finished.
      private val maxOpen = GraftRowWriterFactory.maxOpenWriters
      private var useTick = 0L
      private val slots =
        scala.collection.mutable.LinkedHashMap.empty[Any, Slot]
      private val banked =
        scala.collection.mutable.ArrayBuffer.empty[GraftFileFact]

      // carried-over rows arrive with their metadata row; the
      // rewrite only needs the data projection
      override def write(metadata: InternalRow,
                         record: InternalRow): Unit = write(record)

      override def write(record: InternalRow): Unit = {
        val p: Any = partIdx match {
          case Some((idxs, spec)) =>
            // per-field physical read + transform
            val fs = spec.fields
            val keys = new Array[Any](fs.length)
            var k = 0
            while (k < fs.length) {
              val i = idxs(k)
              val f = fs(k)
              if (record.isNullAt(i))
                throw new IllegalArgumentException(
                  s"partition source ${f.source} is NULL — hidden " +
                    "partitioning routes by value and cannot place a " +
                    "NULL row")
              val raw: Any = f.dtype match {
                case "int" | "date" => record.getInt(i)
                // consumed synchronously by applyPhysical (hashed or
                // copied to String) — no buffer retention
                case "string" => record.getUTF8String(i)
                case d if graft.ops.TypedBounds.isDecimal(d) =>
                  val (pp, ss) = graft.ops.TypedBounds.decimalOf(d).get
                  record.getDecimal(i, pp, ss)
                case _ => record.getLong(i)
              }
              keys(k) = f.applyPhysical(raw)
              k += 1
            }
            keys.toList
          case None => 0L
        }
        val slot = slots.getOrElse(p, {
          if (slots.size >= maxOpen) {
            val lru = slots.values.minBy(_.lastUse)
            lru.writer.close()
            banked += lru.fact
            slots.remove(lru.key)
          }
          val s = new Slot(p); slots(p) = s; s
        })
        useTick += 1
        slot.lastUse = useTick
        statsIdx.foreach { case (i, isInt) =>
          if (!record.isNullAt(i)) {
            val v = if (isInt) record.getInt(i).toLong else record.getLong(i)
            if (v < slot.mn) slot.mn = v
            if (v > slot.mx) slot.mx = v
          }
        }
        var k = 0
        while (k < csIdx.length) {
          val (_, i, dt) = csIdx(k)
          // a schema-absent column reads as NULL for every row
          if (i < 0 || record.isNullAt(i)) slot.csNu(k) += 1
          if (i >= 0 && !record.isNullAt(i)) {
            dt match {
              case "string" =>
                // compare against the live buffer, COPY only when the
                // value becomes a retained bound (unsafe-row buffers
                // are reused across rows)
                val v = record.getUTF8String(i)
                // hash consumed synchronously — safe on the reused
                // unsafe-row buffer, no copy needed for the sketch
                if (slot.csKv(k) != null)
                  slot.csKv(k).add(graft.functions.KmvState.hash60(v))
                val mnS = slot.csMn(k)
                  .asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
                if (mnS == null || v.compareTo(mnS) < 0)
                  slot.csMn(k) = v.copy()
                val mxS = slot.csMx(k)
                  .asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
                if (mxS == null || v.compareTo(mxS) > 0)
                  slot.csMx(k) = v.copy()
              case "double" | "float" =>
                val v = if (dt == "float") record.getFloat(i).toDouble
                  else record.getDouble(i)
                // java.lang.Double.compare: the NaN-largest total
                // order Spark's own min/max aggregates use
                if (slot.csMn(k) == null || java.lang.Double.compare(
                    v, slot.csMn(k).asInstanceOf[Double]) < 0)
                  slot.csMn(k) = v
                if (slot.csMx(k) == null || java.lang.Double.compare(
                    v, slot.csMx(k).asInstanceOf[Double]) > 0)
                  slot.csMx(k) = v
              case "boolean" =>
                val v = record.getBoolean(i)
                if (slot.csMn(k) == null ||
                    (!v && slot.csMn(k).asInstanceOf[Boolean]))
                  slot.csMn(k) = v
                if (slot.csMx(k) == null ||
                    (v && !slot.csMx(k).asInstanceOf[Boolean]))
                  slot.csMx(k) = v
              case _ => // int | long | date | timestamp | decimal
                // decimal (p ≤ 18) tracks its UNSCALED long — the
                // same comparable/encoded/sketch-hashed shape the
                // batch paths derive, so the producer mirror holds
                val v =
                  if (dt == "int" || dt == "date") record.getInt(i).toLong
                  else graft.ops.TypedBounds.decimalOf(dt) match {
                    case Some((pp, ss)) =>
                      record.getDecimal(i, pp, ss).toUnscaledLong
                    case None => record.getLong(i)
                  }
                if (slot.csKv(k) != null)
                  slot.csKv(k).add(graft.ops.NdvSketch.hashPhysical(v))
                if (slot.csMn(k) == null ||
                    v < slot.csMn(k).asInstanceOf[Long])
                  slot.csMn(k) = v
                if (slot.csMx(k) == null ||
                    v > slot.csMx(k).asInstanceOf[Long])
                  slot.csMx(k) = v
            }
          }
          k += 1
        }
        slot.n += 1
        slot.writer.write(record)
      }

      override def commit(): WriterCommitMessage = {
        val facts = banked.toSeq ++ slots.values.toSeq.map { s =>
          s.writer.close(); s.fact
        }
        slots.clear(); banked.clear()
        GraftRowWriteMessage(facts.filter(_.rows > 0))
      }

      override def abort(): Unit = {
        try {
          val conf = bconf.value.value
          slots.values.foreach(s =>
            try s.writer.close() catch { case _: Throwable => () })
          (slots.values.map(_.file) ++ banked.map(_.file)).foreach { f =>
            val hp = new HPath(f)
            val fs = hp.getFileSystem(conf)
            if (fs.exists(hp)) fs.delete(hp, false)
          }
          slots.clear(); banked.clear()
        } catch { case _: Throwable => () }
      }

      override def close(): Unit = ()
    }
}

private[v2] object GraftRowWriterFactory {
  /** Open-writer cap per task (see the pool comment above): small
    * enough that page buffers cannot stack into an executor OOM,
    * large enough that a clustered rewrite or a modest micro-batch
    * never evicts. Overridable for specs via system property.
    */
  def maxOpenWriters: Int =
    Integer.getInteger("graft.writer.maxOpen", 16)
}
