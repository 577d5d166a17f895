package graft.source.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.{BloomIndex, SnapshotTable}

/** DataSource V2 provider for the snapshot table:
  * `spark.read.format("graft_table").option("path", root)` — the
  * Catalyst-native front door that unifies the bespoke pruned entry
  * points (`scanStatsRange`, `scanKeys`, partition probes) under
  * ordinary SQL: ANY predicate a query pushes on the stats, partition
  * source, or bloom column prunes FILES at planning time, against the
  * MANIFEST — never a directory listing, never a data read.
  *
  * Options: `path` (table root), `version` (time travel; default
  * latest), `timestamp_ms` (AS OF wall clock, resolved via the
  * manifests' recorded commit times).
  *
  * Planning (all driver-side, O(manifest)):
  *  - stats column:   =, <, <=, >, >=, IN prune by per-file [min, max]
  *  - partition src:  same predicates through the hidden transform —
  *    range forms prune only monotone transforms; equality/IN prunes
  *    bucket transforms too (the hash is mirrored driver-side)
  *  - bloom column:   =, IN probe the per-file bloom index (membership
  *    evaluated in executors, hit NAMES only to the driver)
  * Every pushed filter stays RESIDUAL — pruning only skips files whose
  * stats prove they cannot match, and Spark re-applies the predicates
  * on surviving rows, so pushdown can never change semantics.
  *
  * Reading: one input partition per surviving file (the snapshot
  * table's files are already compaction-sized; sub-file splits belong
  * to OPTIMIZE, not the reader), parquet-hadoop record reader with a
  * PROJECTED schema (column pruning reaches the file), columns
  * resolved BY FIELD ID per file epoch — renamed tables scan under
  * their current names with zero rewrites, exactly like
  * [[SnapshotTable.scanAt]]. Versions carrying deletion vectors
  * reject loudly (the DV anti-join is a plan-level operation this
  * row-level reader cannot express — materializeDeletes first).
  *
  * Metrics: each scan reports `filesPlanned`, `filesTotal` and
  * `rowsDelivered` on its own `BatchScanExec` ([[ScanMetrics]]);
  * pruning checks read them per execution via [[ScanMetrics.collect]].
  *
  * Supported column types: BOOLEAN, INT, BIGINT, FLOAT, DOUBLE,
  * STRING, BINARY — the snapshot-table surface. Nested/temporal
  * columns reject at schema inference.
  */
final class GraftTableSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft_table"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val props = options.asScala.toMap
    val path = props.getOrElse("path",
      throw new IllegalArgumentException("graft_table: no path option"))
    // a table that does not exist yet has no schema — an EMPTY struct
    // lets `df.write.format("graft_table")` CREATE it (the write path
    // takes the incoming data's schema); reads of a missing table
    // still fail loudly at scan planning
    if (SnapshotTable.latestVersion(path) == 0L) new StructType()
    else GraftTableSource.resolve(props).schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftTable(properties.asScala.toMap)

  override def supportsExternalMetadata(): Boolean = false
}

object GraftTableSource {

  /** Everything planning needs, resolved once on the driver: the
    * pinned version's manifest plus the visible schema with, per
    * file, the physical name of every visible column (field-id
    * resolution applied).
    */
  final case class Resolved(path: String, version: Long,
                            ver: SnapshotTable.Version,
                            schema: StructType,
                            filePhysical: Seq[Map[String, String]])

  // committed manifests are immutable, so a resolved (path, version)
  // is cacheable — load() resolves twice (inferSchema + getTable) and
  // bench iterations re-plan; without the memo every plan pays the
  // manifest + footer schema reads again. Bounded, cleared wholesale.
  // Keyed (path, canonical dir, version): [[invalidate]] matches the
  // canonical dir, so it needs no filesystem call per cached key.
  private val resolved = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Long), Resolved]()

  // canonical form with a trailing separator (the
  // [[SnapshotTable.invalidateSegments]] rule): `file:/x` and `/x`
  // match, and a prefix test on `/wh/t1/` spares `/wh/t10`
  private def canonDir(p: String): String =
    graft.ops.TableIo.forPath(p).canon(p).stripSuffix("/") + "/"

  /** CREATE TABLE intent for a table with no committed versions yet:
    * the declared schema (types included — nothing else can know them
    * before the first data file exists), the partition spec, and the
    * stats/bloom layout the first append must honor. Written once,
    * create-exclusive, at `log/table.json`; superseded by manifests as
    * soon as version 1 commits (schema/layout then live in the log).
    */
  final case class Marker(schema: StructType,
                          part: Option[SnapshotTable.PartSpec],
                          statsCol: Option[String],
                          bloomCol: Option[String],
                          statsCols: Seq[String] = Seq.empty)

  private def markerPath(path: String): String = s"$path/log/table.json"

  private def renderMarker(m: Marker): String = {
    val fields = scala.collection.mutable.ArrayBuffer(
      "schema_ddl" -> graft.Json.quote(m.schema.toDDL))
    m.part.foreach(fields ++= SnapshotTable.specFields(_))
    m.statsCol.foreach(c => fields += "stats_col" -> graft.Json.quote(c))
    m.bloomCol.foreach(c => fields += "bloom_col" -> graft.Json.quote(c))
    if (m.statsCols.nonEmpty)
      fields += "stats_cols" -> m.statsCols.map(graft.Json.quote)
        .mkString("[", ",", "]")
    graft.Json.obj(fields.toSeq)
  }

  def writeMarker(path: String, m: Marker): Unit = {
    val io = graft.ops.TableIo.forPath(path)
    io.mkdirs(s"$path/log")
    io.createExclusive(markerPath(path), renderMarker(m))
  }

  def readMarker(path: String): Option[Marker] = {
    val p = markerPath(path)
    if (!graft.ops.TableIo.forPath(path).exists(p)) return None
    val df = SparkSession.active.read.json(p)
    val r = df.collect().head
    // the removed single-BIGINT encoding is never read as
    // "unpartitioned": the first append would silently drop the layout
    if (df.columns.contains("part_source"))
      throw new IllegalStateException(
        s"snapshot table $path: log/table.json records its partition " +
          "spec in the removed single-BIGINT form (part_source) — " +
          "re-create the table")
    val part =
      if (df.columns.contains("part_sources")) {
        val srcs = r.getAs[scala.collection.Seq[String]]("part_sources")
        val trs = r.getAs[scala.collection.Seq[String]]("part_transforms")
        val ps = r.getAs[scala.collection.Seq[Long]]("part_params")
        val dts = r.getAs[scala.collection.Seq[String]]("part_dtypes")
        Some(SnapshotTable.PartSpec(srcs.indices.map(k =>
          SnapshotTable.PartField(srcs(k), trs(k), ps(k), dts(k))).toSeq))
      } else None
    def opt(c: String): Option[String] =
      if (df.columns.contains(c)) Option(r.getAs[String](c)) else None
    val statsCols =
      if (df.columns.contains("stats_cols"))
        r.getAs[scala.collection.Seq[String]]("stats_cols").toSeq
      else Seq.empty
    Some(Marker(StructType.fromDDL(r.getAs[String]("schema_ddl")), part,
      opt("stats_col"), opt("bloom_col"), statsCols))
  }

  /** Replace the marker (pre-first-commit ALTER on an empty table). */
  def rewriteMarker(path: String, m: Marker): Unit =
    graft.ops.TableIo.forPath(path)
      .writeAtomic(markerPath(path), renderMarker(m))

  /** Forget every cached resolution for a table at or under `path` —
    * REQUIRED after DROP TABLE or a wipe: a re-created table reuses
    * version numbers, so the (path, version) key would serve the
    * dropped table's metadata.
    */
  def invalidate(path: String): Unit = {
    val prefix = canonDir(path)
    resolved.keySet.removeIf(_._2.startsWith(prefix))
  }

  def resolve(props: Map[String, String]): Resolved = {
    val spark = SparkSession.active
    val path = props.getOrElse("path",
      throw new IllegalArgumentException("graft_table: no path option"))
    val version = props.get("version").map(v =>
        // SQL `VERSION AS OF` takes a number or a REF NAME (the
        // Iceberg idiom: SELECT ... VERSION AS OF 'main')
        v.toLongOption.getOrElse(
          SnapshotTable.resolveRef(path, v).version))
      .orElse(props.get("timestamp_ms").map(ts =>
        SnapshotTable.versionAsOf(spark, path, ts.toLong)))
      // time travel by NAME: scans pin to a branch/tag's version —
      // write-audit-publish readers follow `main`, not the log head
      .orElse(props.get("ref").map(r =>
        SnapshotTable.resolveRef(path, r).version))
      .getOrElse(SnapshotTable.latestVersion(path))
    require(version > 0, s"graft_table: snapshot table $path does not exist")
    if (resolved.size > 256) resolved.clear()
    resolved.computeIfAbsent((path, canonDir(path), version),
      _ => resolveUncached(spark, path, version))
  }

  /** [[resolve]] plus the read-path precondition: versions carrying
    * deletion vectors reject (the DV anti-join is a plan-level
    * operation the row-level reader cannot express). The write path
    * resolves WITHOUT this check — appending to a DV-carrying table
    * is legal.
    */
  def resolveForScan(props: Map[String, String]): Resolved = {
    val res = resolve(props)
    require(res.ver.dvFiles.isEmpty,
      s"graft_table: version ${res.version} of ${res.path} carries " +
        "deletion vectors — the row-level reader cannot apply the DV " +
        "anti-join; materializeDeletes(...) first or scan via scanAt")
    res
  }

  private def resolveUncached(spark: SparkSession, path: String,
                              version: Long): Resolved = {
    val ver = SnapshotTable.readVersion(spark, path, version)
    // visible (id, name) pairs; pre-upgrade tables fall back to the
    // head file's own names with positional ids
    val (ids, names) = (ver.schemaIds, ver.schemaNames) match {
      case (Some(i), Some(n)) => (i, n)
      case _ =>
        val cols = spark.read.parquet(ver.files.head).schema.fieldNames
        ((1L to cols.length.toLong).toSeq, cols.toSeq)
    }
    val epochs = ver.fileEpochs.getOrElse(Seq.fill(ver.files.length)(0L))
    // id→physical-name per DISTINCT epoch (epoch count = ALTERs since
    // uniform, small), then per file
    val namings: Map[Long, Map[Long, String]] =
      if (ver.schemaIds.isEmpty)
        Map(0L -> ids.zip(names).toMap)
      else epochs.distinct.map(e =>
        e -> epochNamingPublic(spark, path, e)).toMap
    val filePhys = epochs.map { e =>
      val naming = namings(e)
      ids.zip(names).flatMap { case (id, cur) =>
        naming.get(id).map(cur -> _)
      }.toMap
    }
    // visible schema TYPES: per epoch group, read the group's merged
    // parquet schema and type each visible column through its physical
    // name; first group naming a column wins (types never change per
    // the append contract)
    val typed = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    epochs.distinct.foreach { e =>
      val gFiles = ver.files.indices.filter(i => epochs(i) == e)
        .map(ver.files)
      val phys = spark.read.option("mergeSchema", "true")
        .parquet(gFiles: _*).schema
      val naming = namings(e)
      ids.zip(names).foreach { case (id, cur) =>
        naming.get(id).foreach { ph =>
          phys.fields.find(_.name == ph).foreach { f =>
            if (!typed.contains(cur)) typed(cur) = f.dataType
          }
        }
      }
    }
    // a ZERO-file version (TRUNCATE) has no footers to type from: walk
    // back to the newest prior version that had files and carry its
    // types BY FIELD ID (types never change per the append contract)
    if (ver.files.isEmpty && ver.schemaIds.isDefined) {
      val io = graft.ops.TableIo.forPath(path)
      val priorV = (version - 1 to 1L by -1).find { v =>
        // expired versions leave gaps in the log — skip them
        io.exists(s"$path/log/v$v.json") &&
          SnapshotTable.readVersion(spark, path, v).files.nonEmpty
      }
      priorV.foreach { pv =>
        val prior = resolveUncached(spark, path, pv)
        val priorIdType: Map[Long, DataType] =
          prior.ver.schemaIds.get.zip(prior.ver.schemaNames.get)
            .flatMap { case (id, n) =>
              prior.schema.fields.find(_.name == n).map(id -> _.dataType)
            }.toMap
        ids.zip(names).foreach { case (id, cur) =>
          priorIdType.get(id).foreach { t =>
            if (!typed.contains(cur)) typed(cur) = t
          }
        }
      }
    }
    // ADD COLUMN columns with no type-bearing file: the manifest's
    // declared type is the only type source (footers win when a later
    // append carries the column physically)
    if (ver.addedTypes.nonEmpty) {
      val idType = ver.addedTypes.toMap
      ids.zip(names).foreach { case (id, cur) =>
        if (!typed.contains(cur)) idType.get(id).foreach { ddl =>
          typed(cur) =
            org.apache.spark.sql.types.DataType.fromDDL(ddl)
        }
      }
    }
    // ALTER COLUMN TYPE widening: the DECLARED widened type OVERRIDES
    // the footer-derived one (old files still carry the narrow
    // physical type; the per-file requested schema then drives
    // parquet's widening decode — INT32 pages serve a BIGINT column)
    if (ver.widenedTypes.nonEmpty) {
      val wm = ver.widenedTypes.toMap
      ids.zip(names).foreach { case (id, cur) =>
        wm.get(id).foreach { ddl =>
          typed(cur) = org.apache.spark.sql.types.DataType.fromDDL(ddl)
        }
      }
    }
    val schema = StructType(names.map { n =>
      val dt = typed.getOrElse(n, StringType)
      dt match {
        case BooleanType | IntegerType | LongType | FloatType |
             DoubleType | StringType | BinaryType | DateType |
             TimestampType => ()
        case d: DecimalType if d.precision <= 38 => ()
        case other => throw new IllegalArgumentException(
          s"graft_table: column $n has unsupported type $other — the " +
            "graft_table reader serves scalar snapshot tables")
      }
      StructField(n, dt)
    })
    Resolved(path, version, ver, schema, filePhys)
  }

  /** Package-door into the table's epoch files (they live in its log
    * directory beside the manifests).
    */
  private def epochNamingPublic(spark: SparkSession, path: String,
                                e: Long): Map[Long, String] = {
    val p = s"$path/log/schema-e$e.json"
    val r = spark.read.json(p).collect().head
    r.getAs[scala.collection.Seq[Long]]("ids")
      .zip(r.getAs[scala.collection.Seq[String]]("names")).toMap
  }

  /** Manifest-driven file pruning from pushed filters. Returns the
    * SURVIVING file indices; every decision is conservative (a file is
    * dropped only when its stats prove no row can match).
    */
  def pruneFiles(res: Resolved,
                 filters: Array[org.apache.spark.sql.sources.Filter])
      : Seq[Int] = {
    import org.apache.spark.sql.sources._
    val ver = res.ver
    // ASCENDING index vector, not a hash set: every pass filters in
    // file order, which keeps manifest access sequential (the CatSeq
    // part-hint path) and the final result needs no sort
    var keep: IndexedSeq[Int] = ver.files.indices

    def longOf(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }

    // interval arithmetic over per-file [min, max] vectors
    def pruneRange(mins: Seq[Long], maxs: Seq[Long], lo: Option[Long],
                   hi: Option[Long]): Unit = {
      keep = keep.filter(i =>
        lo.forall(l => maxs(i) >= l) && hi.forall(h => mins(i) <= h))
    }

    def pruneIn(mins: Seq[Long], maxs: Seq[Long], vs: Seq[Long]): Unit =
      keep = keep.filter(i => vs.exists(v => mins(i) <= v && maxs(i) >= v))

    val statCol = ver.stats.map(_.col)
    // canonicalized comparison (TableIo.canon via canonFile): `file:`
    // vs `file://` vs plain forms of the same path must all match
    def fileNameSet(vs: Seq[Any]): Set[String] =
      vs.collect { case s: String => s }
        .map(SnapshotTable.canonFile).toSet
    filters.foreach {
      // the _file METADATA column: runtime group filters for
      // row-level operations arrive here, naming exactly the files
      // that hold matched rows
      case EqualTo("_file", v) =>
        val want = fileNameSet(Seq(v))
        keep = keep.filter(i =>
          want(SnapshotTable.canonFile(ver.files(i))))
      case In("_file", vs) =>
        val want = fileNameSet(vs.toSeq)
        keep = keep.filter(i =>
          want(SnapshotTable.canonFile(ver.files(i))))
      case EqualTo(c, v) if statCol.contains(c) =>
        longOf(v).foreach(l =>
          pruneRange(ver.stats.get.mins, ver.stats.get.maxs,
            Some(l), Some(l)))
      case GreaterThan(c, v) if statCol.contains(c) =>
        longOf(v).foreach(l =>
          pruneRange(ver.stats.get.mins, ver.stats.get.maxs,
            Some(l + 1), None))
      case GreaterThanOrEqual(c, v) if statCol.contains(c) =>
        longOf(v).foreach(l =>
          pruneRange(ver.stats.get.mins, ver.stats.get.maxs,
            Some(l), None))
      case LessThan(c, v) if statCol.contains(c) =>
        longOf(v).foreach(l =>
          pruneRange(ver.stats.get.mins, ver.stats.get.maxs,
            None, Some(l - 1)))
      case LessThanOrEqual(c, v) if statCol.contains(c) =>
        longOf(v).foreach(l =>
          pruneRange(ver.stats.get.mins, ver.stats.get.maxs,
            None, Some(l)))
      case In(c, vs) if statCol.contains(c) =>
        val ls = vs.toSeq.flatMap(longOf)
        if (ls.length == vs.length)
          pruneIn(ver.stats.get.mins, ver.stats.get.maxs, ls)

      case _ => ()
    }

    // TYPED multi-column stats ([[SnapshotTable.ColStats]]): a second
    // pass over the filters — any range/equality/IN on any declared
    // stats column prunes by the per-file typed bounds, whatever the
    // column's type (DATE/TIMESTAMP/DOUBLE/STRING/...). Files with no
    // usable bounds (`has = false`: all-NULL, or an unboundable
    // string max) are never pruned; truncated string bounds prune
    // conservatively by construction.
    val typedCols: Map[String, SnapshotTable.ColStats] =
      ver.colStats.map(cs => cs.col -> cs).toMap
    if (typedCols.nonEmpty) {
      import graft.ops.TypedBounds
      def surviveRange(cs: SnapshotTable.ColStats, i: Int,
                       lo: Option[Any], loStrict: Boolean,
                       hi: Option[Any], hiStrict: Boolean): Boolean =
        !cs.has(i) || {
          val mn = cs.minKeys(i)
          val mx = cs.maxKeys(i)
          // null key = undecodable bound (corrupt manifest): treat as
          // no-bounds — keep the file, never mis-prune
          mn == null || mx == null || {
            lo.forall { l =>
              val c = TypedBounds.compare(cs.dtype, mx, l)
              if (loStrict) c > 0 else c >= 0
            } && hi.forall { h =>
              val c = TypedBounds.compare(cs.dtype, mn, h)
              if (hiStrict) c < 0 else c <= 0
            }
          }
        }
      def pruneWith(c: String)(
          pred: (SnapshotTable.ColStats, Int) => Boolean): Unit =
        typedCols.get(c).foreach(cs => keep = keep.filter(pred(cs, _)))
      filters.foreach {
        case EqualTo(c, v) if typedCols.contains(c) =>
          TypedBounds.keyOfValue(typedCols(c).dtype, v).foreach(k =>
            pruneWith(c)(surviveRange(_, _, Some(k), false, Some(k), false)))
        case GreaterThan(c, v) if typedCols.contains(c) =>
          TypedBounds.keyOfValue(typedCols(c).dtype, v).foreach(k =>
            pruneWith(c)(surviveRange(_, _, Some(k), true, None, false)))
        case GreaterThanOrEqual(c, v) if typedCols.contains(c) =>
          TypedBounds.keyOfValue(typedCols(c).dtype, v).foreach(k =>
            pruneWith(c)(surviveRange(_, _, Some(k), false, None, false)))
        case LessThan(c, v) if typedCols.contains(c) =>
          TypedBounds.keyOfValue(typedCols(c).dtype, v).foreach(k =>
            pruneWith(c)(surviveRange(_, _, None, false, Some(k), true)))
        case LessThanOrEqual(c, v) if typedCols.contains(c) =>
          TypedBounds.keyOfValue(typedCols(c).dtype, v).foreach(k =>
            pruneWith(c)(surviveRange(_, _, None, false, Some(k), false)))
        case In(c, vs) if typedCols.contains(c) =>
          val dt = typedCols(c).dtype
          val ks = vs.toSeq.flatMap(v => TypedBounds.keyOfValue(dt, v))
          // only a COMPLETE translation may prune (a dropped value
          // could be the one a file holds)
          if (ks.length == vs.length && ks.nonEmpty)
            pruneWith(c)((cs, i) => ks.exists(k =>
              surviveRange(cs, i, Some(k), false, Some(k), false)))
        // per-file NULL counts (Iceberg null_value_counts): IS NULL
        // keeps only files holding a NULL; IS NOT NULL drops files
        // that are ALL NULL. Unknown counts (empty vector) keep.
        case IsNull(c) if typedCols.contains(c) =>
          pruneWith(c)((cs, i) => cs.nulls.isEmpty || cs.nulls(i) > 0L)
        case IsNotNull(c) if typedCols.contains(c) =>
          ver.fileRows.foreach { fr =>
            pruneWith(c)((cs, i) =>
              cs.nulls.isEmpty || cs.nulls(i) < fr(i))
          }
        case _ => ()
      }
    }

    // hidden partitioning ([[SnapshotTable.PartField]]): a predicate
    // on any SOURCE column pushes through that field's transform and
    // compares against the per-file recorded tuple. Partition values
    // are EXACT (partition-pure files), so equality and IN prune
    // exactly; ranges prune on monotone transforms; and IS NULL
    // prunes EVERYTHING — every partitioned write path rejects NULL
    // sources, so no file can hold one.
    ver.part.foreach { sp =>
      import graft.ops.TypedBounds
      val pk = ver.partKeys.getOrElse(throw new IllegalStateException(
        s"hidden-partitioned version lacks partition keys"))
      val fieldOf: Map[String, (SnapshotTable.PartField, Int)] =
        sp.fields.zipWithIndex
          .map { case (f, j) => f.source -> (f, j) }.toMap
      def cmpAt(f: SnapshotTable.PartField, j: Int, i: Int,
                probe: Any): Int =
        TypedBounds.compare(f.valueDtype, pk.key(i, j), probe)
      // a strict bound over an INTEGRAL source first steps to the next
      // source value (x > v ⇔ x ≥ v + 1); an overflowing step keeps
      // the inclusive bound, which is merely conservative
      def rangePrune(c: String, v: Any, isLo: Boolean,
                     strict: Boolean): Unit =
        fieldOf.get(c).filter(_._1.monotone).foreach { case (f, j) =>
          TypedBounds.keyOfValue(f.dtype, v).foreach { k0 =>
            val k = k0 match {
              case l: Long if strict &&
                  Seq("int", "long", "date").contains(f.dtype) =>
                if (isLo) { if (l < Long.MaxValue) l + 1 else l }
                else if (l > Long.MinValue) l - 1 else l
              case _ => k0
            }
            val p = f.applyKey(k)
            keep = keep.filter(i =>
              if (isLo) cmpAt(f, j, i, p) >= 0 else cmpAt(f, j, i, p) <= 0)
          }
        }
      filters.foreach {
        case EqualTo(c, v) if fieldOf.contains(c) =>
          val (f, j) = fieldOf(c)
          TypedBounds.keyOfValue(f.dtype, v).foreach { k =>
            val p = f.applyKey(k)
            keep = keep.filter(i => cmpAt(f, j, i, p) == 0)
          }
        case In(c, vs) if fieldOf.contains(c) =>
          val (f, j) = fieldOf(c)
          val ks = vs.toSeq.flatMap(v => TypedBounds.keyOfValue(f.dtype, v))
          // only a COMPLETE translation may prune
          if (ks.length == vs.length && ks.nonEmpty) {
            val want = ks.map(f.applyKey).toSet
            keep = keep.filter(i => want.contains(pk.key(i, j)))
          }
        // bounds prune through the transform: the file's partition
        // value must be ≥/≤ the PROBE's partition value (several
        // source values share one), the exact predicate rides along
        // as the residual
        case GreaterThan(c, v) => rangePrune(c, v, isLo = true, strict = true)
        case GreaterThanOrEqual(c, v) =>
          rangePrune(c, v, isLo = true, strict = false)
        case LessThan(c, v) => rangePrune(c, v, isLo = false, strict = true)
        case LessThanOrEqual(c, v) =>
          rangePrune(c, v, isLo = false, strict = false)
        case IsNull(c) if fieldOf.contains(c) =>
          keep = IndexedSeq.empty
        case _ => ()
      }
    }

    // bloom probe: equality/IN on ANY indexed column refines whatever
    // stats/partitions kept (membership tested in executors; only the
    // complete-index case is trusted per column, mirroring scanKeysAt)
    ver.blooms.foreach { bc =>
      // typed: probe values keep their source kind (string/date/
      // timestamp/integral), canonicalized per BloomIndex.canonProbe
      // to the encoding the build side put. Only a COMPLETE
      // translation of a conjunct may prune (same rule as every
      // other pruning pass): probing with a PARTIAL In-list would
      // drop files holding only the untranslatable value
      val bloomKeys: Seq[Either[Long, String]] = filters.collect {
        case EqualTo(c, v) if c == bc.col =>
          Seq(BloomIndex.canonProbe(v))
        case In(c, vs) if c == bc.col =>
          vs.toSeq.map(BloomIndex.canonProbe)
      }.toSeq.filter(ks => ks.nonEmpty && ks.forall(_.isDefined))
        .flatten.flatten
      if (bloomKeys.nonEmpty && keep.nonEmpty) {
        val spark = SparkSession.active
        import spark.implicits._
        import org.apache.spark.sql.functions.broadcast
        val visible = ver.files.toDF("file")
        val idx = spark.read.schema(BloomIndex.indexSchema)
          .option("recursiveFileLookup", "true")
          .json(s"${res.path}/bloomidx")
          .filter(org.apache.spark.sql.functions.col("col") === bc.col)
          .join(broadcast(visible), "file")
        val (hit, total) =
          BloomIndex.probeFilesTyped(idx, bloomKeys.distinct)
        if (total == ver.files.length) {
          val hs = hit.toSet
          keep = keep.filter(i => hs(ver.files(i)))
        }
      }
    }
    keep
  }
}

private[v2] class GraftTable(props: Map[String, String])
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.TruncatableTable
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** `_file` — the data file a row lives in, the metadata column that
    * (a) makes row-level rewrites project correctly (Spark's
    * metadata-aware writing task strips the merge bookkeeping columns
    * only when the operation requires metadata) and (b) lets the
    * runtime GROUP filter name exactly the files holding matched
    * rows.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "data file serving this row"
    })

  /** SQL MERGE INTO / UPDATE (and DELETEs whose predicates the direct
    * DV path cannot translate): group-based copy-on-write — see
    * [[GraftRowLevelOperation]].
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new GraftRowLevelOperation(path, info.command())
  private val path = props.getOrElse("path",
    throw new IllegalArgumentException("graft_table: no path option"))

  /** SQL `DELETE FROM t WHERE ...`: the predicate becomes a
    * merge-on-read deletion-vector commit ([[SnapshotTable
    * .deleteRowsWhere]] — zero data files rewritten at commit time)
    * immediately FOLDED by [[SnapshotTable.materializeDeletes]]
    * (rewrite ∝ hit files only) so the row-level DSv2 reader keeps
    * serving the table — net COW-delete economics with the DV
    * machinery doing row addressing. On a schema-ALTERed table the
    * fold step needs physical uniformity and is skipped: the DVs
    * stay, and the reader's DV reject names materializeDeletes as
    * the fix. Only filters with an exact SQL rendering are accepted
    * ([[GraftTable.filterSql]]); Spark falls back to an analysis
    * error for the rest rather than a wrong delete.
    */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => GraftTable.filterSql(f).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val spark = SparkSession.active
    if (SnapshotTable.latestVersion(path) == 0L) return // created, empty
    // METADATA-ONLY fast path: equality predicates on injective
    // partition sources drop whole files from the manifest — "delete
    // a day" costs one conditional put at any table size. Falls
    // through to the MOR path when the shape does not apply.
    if (filters.nonEmpty &&
        SnapshotTable.deletePartitionsByFilters(spark, path,
          filters.toSeq).isDefined) return
    val pred =
      if (filters.isEmpty) "true"
      else filters.map(f => GraftTable.filterSql(f).getOrElse(
        throw new IllegalArgumentException(
          s"graft_table: untranslatable DELETE predicate $f")))
        .mkString(" AND ")
    val (_, nDel) = SnapshotTable.deleteRowsWhere(spark, path, pred)
    val ver = SnapshotTable.readVersion(spark, path,
      SnapshotTable.latestVersion(path))
    if (ver.rows == 0L && ver.files.nonEmpty)
      // the predicate killed EVERY row: materialize would refuse a
      // full rewrite-to-nothing; the zero-file commit is the answer
      SnapshotTable.truncate(spark, path)
    else if (nDel > 0 && ver.dvFiles.nonEmpty && !ver.needsResolve)
      SnapshotTable.materializeDeletes(spark, path)
  }

  /** SQL `TRUNCATE TABLE t`: a zero-file manifest commit — pure
    * metadata at any size, prior versions still travel.
    */
  override def truncateTable(): Boolean = {
    // a created-but-never-written table is already empty
    if (SnapshotTable.latestVersion(path) > 0L)
      SnapshotTable.truncate(SparkSession.active, path)
    true
  }

  override def name(): String = s"graft_table($path)"
  override def schema(): StructType =
    if (SnapshotTable.latestVersion(path) == 0L)
      GraftTableSource.readMarker(path).map(_.schema)
        .getOrElse(new StructType())
    else GraftTableSource.resolve(props).schema
  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.STREAMING_WRITE)
    // a known schema (committed versions or a CREATE TABLE marker)
    // gets Spark's ordinary write-side validation; only a
    // create-on-first-write path-based target accepts any schema
    if (schema().isEmpty) caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (SnapshotTable.latestVersion(path) == 0L &&
        props.get("version").isEmpty && props.get("timestamp_ms").isEmpty)
      GraftTableSource.readMarker(path) match {
        // a created-but-never-written table scans as zero rows
        case Some(m) => new GraftEmptyScanBuilder(m.schema)
        case None => new GraftScanBuilder(GraftTableSource.resolveForScan(props))
      }
    else new GraftScanBuilder(GraftTableSource.resolveForScan(props))
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWriteBuilder(path, props, info)
}

private[v2] object GraftTable {
  import org.apache.spark.sql.sources._

  /** Exact SQL rendering of a pushed Filter, or None when the value
    * type has no safe literal form (binary, temporal) — a DELETE
    * must never run against an approximation.
    */
  def filterSql(f: Filter): Option[String] = {
    def lit(v: Any): Option[String] = v match {
      case s: String =>
        Some("'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'")
      case b: Boolean => Some(b.toString)
      case n @ (_: Byte | _: Short | _: Int | _: Long) => Some(s"${n}L")
      case d: Double if java.lang.Double.isFinite(d) =>
        Some(s"CAST($d AS DOUBLE)")
      case fl: Float if java.lang.Float.isFinite(fl) =>
        Some(s"CAST($fl AS FLOAT)")
      case _ => None // binary/temporal/non-finite: no safe literal
    }
    f match {
      case EqualTo(c, v) => lit(v).map(l => s"(`$c` = $l)")
      case EqualNullSafe(c, v) => lit(v).map(l => s"(`$c` <=> $l)")
      case GreaterThan(c, v) => lit(v).map(l => s"(`$c` > $l)")
      case GreaterThanOrEqual(c, v) => lit(v).map(l => s"(`$c` >= $l)")
      case LessThan(c, v) => lit(v).map(l => s"(`$c` < $l)")
      case LessThanOrEqual(c, v) => lit(v).map(l => s"(`$c` <= $l)")
      case In(c, vs) =>
        val ls = vs.toSeq.map(lit)
        if (ls.nonEmpty && ls.forall(_.isDefined))
          Some(s"(`$c` IN (${ls.flatten.mkString(", ")}))")
        else None
      case IsNull(c) => Some(s"(`$c` IS NULL)")
      case IsNotNull(c) => Some(s"(`$c` IS NOT NULL)")
      case And(l, r) =>
        for (a <- filterSql(l); b <- filterSql(r)) yield s"($a AND $b)"
      case Or(l, r) =>
        for (a <- filterSql(l); b <- filterSql(r)) yield s"($a OR $b)"
      case Not(x) => filterSql(x).map(s => s"(NOT $s)")
      // LIKE renderings only for values free of pattern metachars —
      // escaping % and _ through two quoting layers invites an
      // off-by-one wildcard, and a DELETE must never guess
      case StringStartsWith(c, v) if !v.exists("%_\\".contains(_)) =>
        lit(v + "%").map(l => s"(`$c` LIKE $l)")
      case StringEndsWith(c, v) if !v.exists("%_\\".contains(_)) =>
        lit("%" + v).map(l => s"(`$c` LIKE $l)")
      case StringContains(c, v) if !v.exists("%_\\".contains(_)) =>
        lit("%" + v + "%").map(l => s"(`$c` LIKE $l)")
      case _: AlwaysTrue => Some("true")
      case _: AlwaysFalse => Some("false")
      case _ => None
    }
  }
}

/** `df.write.format("graft_table").mode("append"|"overwrite")` — the
  * ingest front door, routed through [[SnapshotTable]]'s hardened
  * commit protocol (create-exclusive manifest put with retry, CHECK
  * constraints, per-file stats/blooms, field-id schema evolution,
  * txn-keyed idempotence) rather than a parallel implementation:
  * the plan is declared through Spark's `V1Write` fallback, whose
  * [[InsertableRelation]] hands this builder the full DataFrame.
  *
  * Layout is INHERITED: a hidden-partitioned table routes through
  * `appendPartitioned` under its recorded spec, and an existing
  * stats/bloom config indexes the new files too, so a plain
  * `.write.format(...)` keeps every pruning structure current.
  * Options: `write_partitions` (target files per unpartitioned batch,
  * default 8), `stats_col`, `bloom_col`, `txn_writer`+`txn_batch`
  * (exactly-once replay key). `mode("overwrite")` = atomic TRUNCATE +
  * INSERT ([[SnapshotTable.overwrite]]); a first write CREATES the
  * table.
  */
private[v2] final class GraftWriteBuilder(
    path: String, props: Map[String, String],
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
  import org.apache.spark.sql.connector.write.{V1Write, WriteBuilder}
  import org.apache.spark.sql.sources.Filter

  private var truncating = false
  override def truncate(): WriteBuilder = { truncating = true; this }

  /** DYNAMIC partition overwrite (`writeTo(...).overwritePartitions()`
    * or INSERT OVERWRITE under partitionOverwriteMode=dynamic):
    * replace exactly the partitions the incoming batch touches, in one
    * commit — implemented as a REAL DSv2 BatchWrite (Spark has no V1
    * fallback for this plan) with the same clustered+sorted
    * distribution the row-level writer uses.
    */
  private var dynamic = false
  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamic = true; this
  }

  /** REPLACE WHERE: an aligned range predicate on the partition
    * source becomes a metadata-only partition swap + append in ONE
    * commit ([[SnapshotTable.overwriteWhere]]); everything else
    * declines here so Spark raises the analysis error instead of a
    * wrong overwrite.
    */
  private var replaceFilters: Option[Array[Filter]] = None

  /** ANALYSIS-time validation, so an unusable predicate fails as
    * "table does not support overwrite by filter" instead of a
    * mid-write error: the range must predicate the partition SOURCE
    * of a monotone transform and align to its boundaries.
    */
  override def canOverwrite(filters: Array[Filter]): Boolean =
    filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]) ||
      (GraftWriteBuilder.rangeOf(filters) match {
        case Some((c, lo, hi)) =>
          val latest = SnapshotTable.latestVersion(path)
          val spec =
            if (latest > 0)
              SnapshotTable.readVersion(SparkSession.active, path, latest).part
            else GraftTableSource.readMarker(path).flatMap(_.part)
          // one monotone LONG field whose source the range predicates
          spec.exists(sp => sp.singleLong && sp.source == c && sp.monotone &&
            (sp.transform != "truncate" ||
              (Math.floorMod(lo, sp.param) == 0 &&
                Math.floorMod(hi + 1, sp.param) == 0)))
        case None => false
      })

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.forall(
        _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
      truncating = true
    else replaceFilters = Some(filters)
    this
  }

  override def build(): org.apache.spark.sql.connector.write.Write = {
    if (dynamic) return new GraftDynamicOverwrite(path, info)
    new V1Write {
      override def toInsertableRelation
          : org.apache.spark.sql.sources.InsertableRelation =
        (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
          val spark = data.sparkSession
          val latest = SnapshotTable.latestVersion(path)
          val base =
            if (latest > 0) Some(SnapshotTable.readVersion(spark, path, latest))
            else None
          // a version-less table may still carry CREATE TABLE intent:
          // the first insert honors the marker's layout
          val marker =
            if (base.isEmpty) GraftTableSource.readMarker(path) else None
          val numParts = props.get("write_partitions").map(_.toInt)
            .getOrElse(8)
          val statsCol = props.get("stats_col")
            .orElse(base.flatMap(_.stats.map(_.col)))
            .orElse(marker.flatMap(_.statsCol))
            .filter(data.columns.contains)
          val bloomCol = props.get("bloom_col")
            .orElse(base.map(_.blooms.map(_.col))
              .filter(_.nonEmpty).map(_.mkString(",")))
            .orElse(marker.flatMap(_.bloomCol))
            .filter(_.split(',').map(_.trim)
              .forall(data.columns.contains))
          // typed multi-column stats declaration ("a,b,c"); inherited
          // declarations live in the manifest and need no option
          val statsCols = props.get("stats_cols")
            .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
            .orElse(marker.map(_.statsCols).filter(_.nonEmpty))
            .getOrElse(Seq.empty)
          val txn = for {
            w <- props.get("txn_writer"); b <- props.get("txn_batch")
          } yield (w, b.toLong)
          val part = base.flatMap(_.part).orElse(marker.flatMap(_.part))
          if (replaceFilters.isDefined) {
            val filters = replaceFilters.get
            val spec = part.getOrElse(throw new IllegalArgumentException(
              "REPLACE WHERE needs a hidden-partitioned table — an " +
                "unpartitioned overwrite is all-or-nothing"))
            val (c, lo, hi) = GraftWriteBuilder.rangeOf(filters)
              .getOrElse(throw new IllegalArgumentException(
                s"REPLACE WHERE predicate ${filters.toSeq} has no " +
                  "closed integral range form — replace swaps whole " +
                  "partitions of the source column"))
            require(c == spec.source,
              s"REPLACE WHERE must predicate the partition source " +
                s"${spec.source}, got $c")
            SnapshotTable.overwriteWhere(data, path, lo, hi, txn = txn)
          } else if (truncating) {
            part match {
              // whole-table overwrite keeps the recorded layout: the
              // fresh batch is partitioned under the same spec, ONE
              // commit (a created-but-empty partitioned table routes
              // through appendPartitioned below instead)
              case Some(_) if latest > 0 =>
                SnapshotTable.overwritePartitioned(data, path, txn = txn)
              case Some(spec) =>
                SnapshotTable.appendPartitioned(data, path, spec,
                  statsCol = statsCol, txn = txn, bloomCol = bloomCol,
                  statsCols = statsCols)
              case None =>
                SnapshotTable.overwrite(data, path, numParts,
                  statsCol = statsCol, bloomCol = bloomCol, txn = txn,
                  statsCols = statsCols)
            }
          } else part match {
            case Some(spec) =>
              SnapshotTable.appendPartitioned(data, path, spec,
                statsCol = statsCol, txn = txn, bloomCol = bloomCol,
                statsCols = statsCols)
            case None =>
              SnapshotTable.append(data, path, numParts,
                statsCol = statsCol, bloomCol = bloomCol, txn = txn,
                statsCols = statsCols)
          }
          ()
        }

      /** `writeStream.format("graft_table")` / `.toTable(...)` — the
        * native exactly-once sink: each epoch's tasks write parquet
        * through the table's row codec, and commit(epochId) is one
        * [[SnapshotTable.commitAppendFiles]] conditional put keyed
        * `txn = (queryId, epochId)` — a replayed epoch (restart,
        * retried commit) hits the recorded watermark and commits
        * NOTHING, the same idempotence contract the foreachBatch
        * idiom used, now with zero user code.
        */
      override def toStreaming: org.apache.spark.sql.connector.write
          .streaming.StreamingWrite = {
        require(!truncating && replaceFilters.isEmpty,
          "graft_table streams append-only; complete/update output " +
            "modes have no table form")
        new GraftStreamingWrite(path, props, info)
      }
    }
  }
}

private[v2] object GraftWriteBuilder {
  import org.apache.spark.sql.sources._

  /** The conjunction's closed integral range on ONE column:
    * `(col, lo, hi)` — what an aligned REPLACE WHERE predicate must
    * reduce to. Conservative: anything unrecognized yields None.
    */
  def rangeOf(filters: Array[Filter]): Option[(String, Long, Long)] = {
    def longOf(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case _ => None
    }
    val bounds = scala.collection.mutable.ArrayBuffer
      .empty[(String, Option[Long], Option[Long])]
    // strict bounds rewrite with CHECKED arithmetic: GreaterThan(c,
    // Long.MaxValue) is vacuously false, and a wrapped rewrite would
    // resolve it to a widest-possible range — dropping partitions the
    // predicate never matched. Overflow declines the whole predicate
    // (canOverwrite then raises the analysis error).
    def walk(f: Filter): Boolean = f match {
      case And(l, r) => walk(l) && walk(r)
      case EqualTo(c, v) =>
        longOf(v).exists { l => bounds += ((c, Some(l), Some(l))); true }
      case GreaterThan(c, v) =>
        longOf(v).exists { l =>
          try { bounds += ((c, Some(Math.addExact(l, 1L)), None)); true }
          catch { case _: ArithmeticException => false }
        }
      case GreaterThanOrEqual(c, v) =>
        longOf(v).exists { l => bounds += ((c, Some(l), None)); true }
      case LessThan(c, v) =>
        longOf(v).exists { l =>
          try { bounds += ((c, None, Some(Math.subtractExact(l, 1L)))); true }
          catch { case _: ArithmeticException => false }
        }
      case LessThanOrEqual(c, v) =>
        longOf(v).exists { l => bounds += ((c, None, Some(l))); true }
      case _ => false
    }
    if (!filters.forall(walk) || bounds.isEmpty) return None
    val cols = bounds.map(_._1).distinct
    if (cols.length != 1) return None
    val lo = bounds.flatMap(_._2).maxOption
    val hi = bounds.flatMap(_._3).minOption
    for (l <- lo; h <- hi if l <= h) yield (cols.head, l, h)
  }
}

/** The native streaming sink (see [[GraftWriteBuilder]]'s
  * `toStreaming`): layout resolved ONCE at stream start (manifest or
  * CREATE marker — stats/bloom columns keep indexing streamed files,
  * hidden-partitioned tables stream partition-pure through the
  * POOLED writer, which needs no plan-level shuffle: each task keeps
  * one open file per partition value it sees).
  */
private[v2] final class GraftStreamingWrite(
    path: String, props: Map[String, String],
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write._

  private val schema = info.schema()
  private val latest = SnapshotTable.latestVersion(path)
  private val base =
    if (latest > 0)
      Some(SnapshotTable.readVersion(SparkSession.active, path, latest))
    else None
  private val marker =
    if (base.isEmpty) GraftTableSource.readMarker(path) else None
  private val partSpec: Option[SnapshotTable.PartSpec] =
    base.flatMap(_.part).orElse(marker.flatMap(_.part))
  private val partIdx: Option[(Seq[Int], SnapshotTable.PartSpec)] =
    partSpec.map(GraftWriteUtil.partIndices(schema, _))
  private val statsCol = props.get("stats_col")
    .orElse(base.flatMap(_.stats.map(_.col)))
    .orElse(marker.flatMap(_.statsCol))
    .filter(schema.fieldNames.contains)
  private val bloomCol = props.get("bloom_col")
    .orElse(base.map(_.blooms.map(_.col))
      .filter(_.nonEmpty).map(_.mkString(",")))
    .orElse(marker.flatMap(_.bloomCol))
    .filter(_.split(',').map(_.trim)
      .forall(schema.fieldNames.contains))
  // typed multi-column stats: a first declaration via option/marker;
  // an existing declaration is inherited by commitAppendFiles from
  // the manifest and needs nothing here
  private val statsCols: Seq[String] = props.get("stats_cols")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    .orElse(marker.map(_.statsCols).filter(_.nonEmpty))
    .getOrElse(Seq.empty)

  /** The typed specs the writer tasks track bounds for — the table's
    * declaration, or (first epoch of a declared-but-empty table) the
    * declaration with dtypes from the stream schema. Tracking here is
    * what keeps a typed-stats EPOCH commit from launching a Spark
    * re-read job per trigger.
    */
  private val csSpecs: Seq[(String, String)] =
    base.map(SnapshotTable.colSpecsOf).filter(_.nonEmpty).getOrElse {
      statsCols.map { c =>
        val i = schema.fieldIndex(c)
        val t = graft.ops.TypedBounds.dtypeOf(schema.fields(i).dataType)
          .getOrElse(throw new IllegalArgumentException(
            s"stats_cols column $c has type " +
              s"${schema.fields(i).dataType} — typed stats cover " +
              "INT/BIGINT/DATE/TIMESTAMP/FLOAT/DOUBLE/STRING/BOOLEAN"))
        (c, t)
      }
    }

  private val statsIdx: Option[(Int, Boolean)] = statsCol.map { c =>
    val i = schema.fieldIndex(c)
    schema.fields(i).dataType match {
      case IntegerType => (i, true)
      case LongType => (i, false)
      case other => throw new IllegalArgumentException(
        s"stats column $c has type $other — only INT/BIGINT stats " +
          "columns are indexable")
    }
  }

  /** STREAM INTO A BRANCH (r20): `.option("ref", "staging")` — every
    * epoch commit advances the named branch with the stream RUN's
    * base recorded, so readers following another branch (`main`) see
    * NOTHING until an explicit [[SnapshotTable.publish]] cherry-picks
    * the run's epochs onto it. Create the branch BEFORE starting the
    * stream (`createBranch` — the WAP "begin staging" step; ref
    * resolution is loud everywhere, including the sink's schema
    * pin); a missing branch is still created at the first epoch when
    * the sink resolves through a CREATE marker.
    * A streaming backfill thus composes with write-audit-publish: a
    * failed-audit batch committed before the run started is excluded
    * by the delta. One publish per run: after publishing, restart the
    * stream (a fresh run re-bases on the published head).
    */
  private val stageRef = props.get("ref")
  private val streamBase = latest

  private val batchDir =
    s"$path/files/batch-${java.util.UUID.randomUUID().toString.take(12)}"

  // ONE factory (and one conf broadcast) per STREAM RUN, not per
  // epoch — a long-running sink must not leak a broadcast per trigger
  private lazy val rowFactory = new GraftRowWriterFactory(
    batchDir, schema, statsIdx, partIdx,
    GraftWriteUtil.parquetSqlConfs(),
    GraftWriteUtil.broadcastSessionConf(SparkSession.active),
    csIdx = GraftWriteUtil.csIndices(schema, csSpecs))

  override def createStreamingWriterFactory(pinfo: PhysicalWriteInfo)
      : streaming.StreamingDataWriterFactory = {
    val rows = rowFactory
    (partitionId: Int, taskId: Long, _: Long) =>
      rows.createWriter(partitionId, taskId)
  }

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val written = messages.toSeq.collect {
      case m: GraftRowWriteMessage => m.files
    }.flatten.filter(_.rows > 0).sortBy(_.file)
    if (written.isEmpty) return // empty epoch: nothing to commit
    written.find(f => statsIdx.isDefined && !f.statSeen).foreach { f =>
      throw new IllegalStateException(
        s"streamed file ${f.file} holds only NULLs in stats column " +
          s"${statsCol.get} — no committable min/max")
    }
    val conf = spark.sparkContext.hadoopConfiguration
    def sizeOf(f: String): Long = {
      val p = new HPath(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }
    val v = SnapshotTable.commitAppendFiles(spark, path,
      written.map(_.file), written.map(_.rows),
      written.map(m => sizeOf(m.file)),
      batchCols = schema.fieldNames.toSeq,
      statsCol = statsCol,
      statMinMax = statsCol.map(_ =>
        (written.map(_.statMin), written.map(_.statMax))),
      bloomCol = bloomCol,
      txn = Some((s"stream-${info.queryId()}", epochId)),
      part = partSpec.map(sp =>
        (sp, GraftWriteUtil.batchParts(sp, written))),
      statsCols = statsCols,
      trackedCs =
        if (csSpecs.isEmpty) None
        else Some(GraftWriteUtil.colStatsFromFacts(csSpecs, written)))
    // branch staging AFTER the data commit: a crash between the two
    // re-stages on the next epoch (the pin is monotone, never lost)
    stageRef.foreach(r =>
      SnapshotTable.stageBranchEnsure(path, r, v, streamBase))
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    GraftWriteUtil.deleteStaged(
      SparkSession.active.sparkContext.hadoopConfiguration,
      messages.toSeq.collect {
        case m: GraftRowWriteMessage => m.files.map(_.file)
      }.flatten)
}

private[v2] class GraftScanBuilder(res: GraftTableSource.Resolved)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates
    with SupportsPushDownLimit {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.sources.Filter

  private var required: StructType = res.schema
  private var pushed: Array[Filter] = Array.empty
  private var aggPush: Option[(StructType, Seq[Any])] = None
  private var limit: Option[Int] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** LIMIT n plans only enough FILES to cover n rows (manifest row
    * counts are exact) — `SELECT * FROM t LIMIT 10` on a 100 TB table
    * opens one file. PARTIAL pushdown: Spark re-applies the limit, so
    * over-delivery within the kept files is harmless.
    */
  override def pushLimit(n: Int): Boolean = {
    limit = Some(n)
    true
  }
  override def isPartiallyPushed(): Boolean = true

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val prunable = (res.ver.stats.map(_.col)
      ++ res.ver.part.toSeq.flatMap(_.fields.map(_.source))
      ++ res.ver.blooms.map(_.col)).toSet ++
      res.ver.colStats.map(_.col)
    // columns without a manifest index still benefit: predicates on
    // any row-group-translatable type ride to parquet's statistics
    // and column-index filters inside each kept file (pruneFiles
    // simply ignores them)
    val translatable = res.schema.fields.collect {
      case f if GraftReaderFactory.rowGroupTypes(f.dataType) => f.name
    }.toSet
    pushed = filters.filter(f => f.references.exists(prunable) ||
      (f.references.nonEmpty && f.references.forall(translatable)))
    filters // all residual: pruning only ever skips provably-dead files
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** COUNT(*) / MIN / MAX on the stats column answered from the
    * MANIFEST — zero data files opened, O(1) regardless of table
    * size. Sound because the manifest's facts are exact: `rows` is
    * the committed logical row count (DV-carrying versions never
    * reach a scan builder) and per-file [min, max] cover every row.
    * Only complete pushdown with NO grouping and NO filters
    * qualifies (any residual predicate makes the manifest bounds
    * approximations); everything else declines and Spark runs the
    * ordinary scan-side aggregate.
    */
  private def translate(agg: Aggregation): Option[(StructType, Seq[Any])] = {
    if (agg.groupByExpressions().nonEmpty || pushed.nonEmpty ||
        res.ver.files.isEmpty) return None
    val st = res.ver.stats
    def colName(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case f: NamedReference if f.fieldNames().length == 1 =>
        Some(f.fieldNames()(0))
      case _ => None
    }
    // legacy stats are stored as longs; only integral visible types
    // round-trip
    def legacyTyped(c: String, v: Long): Option[(DataType, Any)] =
      res.schema.fields.find(_.name == c).map(_.dataType) match {
        case Some(LongType) => Some((LongType, v))
        case Some(IntegerType) => Some((IntegerType, v.toInt))
        case _ => None
      }
    // TYPED stats serve MIN/MAX only when EVERY file's bounds are
    // usable AND exact — a has=false file could hide the extremum,
    // a truncated string bound is not a value of the column
    import graft.ops.TypedBounds
    def typedExtremum(c: String, wantMin: Boolean)
        : Option[(DataType, Any)] =
      res.ver.colStats.find(_.col == c)
        .filter(cs => cs.has.nonEmpty && cs.has.forall(identity) &&
          cs.exact.forall(identity) &&
          // an undecodable bound (corrupt manifest) declines the
          // serve, same as has=false
          cs.minKeys.forall(_ != null) && cs.maxKeys.forall(_ != null))
        .map { cs =>
          val keys = if (wantMin) cs.minKeys else cs.maxKeys
          val best = keys.reduce { (a, b) =>
            val cmp = TypedBounds.compare(cs.dtype, a, b)
            if (wantMin == (cmp <= 0)) a else b
          }
          val internal: Any = cs.dtype match {
            case "int" | "date" => best.asInstanceOf[Long].toInt
            case "long" | "timestamp" => best
            case "double" => best
            case "float" => best.asInstanceOf[Double].toFloat
            case "string" =>
              UTF8String.fromString(best.asInstanceOf[String])
            case "boolean" => best.asInstanceOf[Long] != 0L
          }
          (TypedBounds.sparkType(cs.dtype), internal)
        }
    def extremum(e: org.apache.spark.sql.connector.expressions.Expression,
                 wantMin: Boolean): Option[(String, DataType, Any)] =
      colName(e).flatMap { c =>
        val legacy =
          if (st.exists(_.col == c))
            legacyTyped(c,
              if (wantMin) st.get.mins.min else st.get.maxs.max)
          else None
        legacy.orElse(typedExtremum(c, wantMin)).map { case (dt, v) =>
          (c, dt, v)
        }
      }
    // COUNT(col) = rows − NULLs, served when the per-file null
    // counts cover every file (Iceberg null_value_counts semantics —
    // the counts are exact, truncation never applies to them)
    def countCol(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[(String, Long)] =
      colName(e).flatMap { c =>
        res.ver.colStats.find(_.col == c)
          .filter(_.nulls.length == res.ver.files.length)
          .map(cs => (c, res.ver.rows - cs.nulls.sum))
      }
    val fields = Seq.newBuilder[StructField]
    val vals = Seq.newBuilder[Any]
    agg.aggregateExpressions().foreach {
      case _: CountStar =>
        fields += StructField("count_star", LongType, nullable = false)
        vals += res.ver.rows
      case m: Min =>
        val (c, dt, v) = extremum(m.column(), wantMin = true)
          .getOrElse(return None)
        fields += StructField(s"min_$c", dt); vals += v
      case m: Max =>
        val (c, dt, v) = extremum(m.column(), wantMin = false)
          .getOrElse(return None)
        fields += StructField(s"max_$c", dt); vals += v
      case ct: Count if !ct.isDistinct =>
        val (c, n) = countCol(ct.column()).getOrElse(return None)
        fields += StructField(s"count_$c", LongType, nullable = false)
        vals += n
      case _ => return None
    }
    Some((StructType(fields.result()), vals.result()))
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    translate(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    aggPush = translate(agg)
    aggPush.isDefined
  }

  override def build(): Scan = aggPush match {
    case Some((schema, vals)) => new GraftAggScan(res, schema, vals)
    case None => new GraftScan(res, required, pushed, limit)
  }
}

/** One-row scan serving a completely-pushed aggregate straight from
  * the manifest (see [[GraftScanBuilder.translate]]).
  */
private[v2] final class GraftAggScan(val res: GraftTableSource.Resolved,
                                     schema: StructType, vals: Seq[Any])
    extends Scan with Batch with ScanMetrics.Reporting {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_table ${res.path}@v${res.version} MANIFEST-AGGREGATE " +
      s"[${schema.fieldNames.mkString(",")}]"

  override def plannedFileNames: Seq[String] = Nil
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftAggPartition(vals))

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition)
          : PartitionReader[InternalRow] = {
        val vs = partition.asInstanceOf[GraftAggPartition].vals
        new PartitionReader[InternalRow] {
          private var served = false
          override def next(): Boolean = { val r = !served; served = true; r }
          override def get(): InternalRow = InternalRow.fromSeq(vs)
          override def close(): Unit = ()
        }
      }
    }
}

private[v2] final case class GraftAggPartition(vals: Seq[Any])
    extends InputPartition

/** Scan of a CREATEd table with no committed versions: the marker's
  * schema, zero partitions.
  */
private[v2] final class GraftEmptyScanBuilder(schema: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def description(): String = "graft_table EMPTY (no versions)"
    override def planInputPartitions(): Array[InputPartition] = Array.empty
    override def createReaderFactory(): PartitionReaderFactory =
      new PartitionReaderFactory {
        override def createReader(partition: InputPartition)
            : PartitionReader[InternalRow] =
          throw new IllegalStateException("empty scan has no partitions")
      }
  }
}

private[v2] final class GraftScan(val res: GraftTableSource.Resolved,
                                  required: StructType,
                                  pushed: Array[org.apache.spark.sql.sources.Filter],
                                  limit: Option[Int] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning
    with ScanMetrics.Reporting {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** STORAGE-PARTITIONED JOIN: an identity-partitioned table reports
    * `KeyGroupedPartitioning` over its partition source, and every
    * input partition carries its key — with
    * `spark.sql.sources.v2.bucketing.enabled`, Spark groups the files
    * by key and a join (or aggregate) on that column needs NO shuffle
    * of this side at all: two co-partitioned snapshot tables join
    * file-against-file, the plan a 100 TB fact↔fact join requires.
    * Non-identity transforms stay `UnknownPartitioning`: truncate/
    * bucket keys would need a FunctionCatalog for Catalyst to prove
    * both sides agree, and the provider is catalog-less by design.
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    res.ver.part match {
      case Some(p) if limit.isEmpty &&
          p.fields.forall(f => required.fieldNames.contains(f.source)) =>
        // per-field key expressions (identity resolves catalog-free;
        // bucket/truncate/days/… resolve only for tables loaded
        // through GraftCatalog, whose FunctionCatalog carries the
        // transform arithmetic — elsewhere Spark simply falls back to
        // unknown partitioning, which is always sound). The per-file
        // key tuples ride on the input partitions
        // ([[KeyedFilePartition]]).
        val keys = GraftWriteUtil.transformExprs(p).toArray
        val pk = res.ver.partKeys.get
        val nTuples = keptFiles().map(pk.row).distinct.length
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(keys, nTuples)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(res.ver.files.length)
    }

  /** Manifest-derived statistics, AFTER static pruning: Catalyst sees
    * the bytes/rows of the files a query will actually read, so a
    * filtered slice of a huge table still qualifies for the broadcast
    * side of a join — the manifest makes the estimate exact, where
    * file-source tables guess from raw file sizes.
    */
  override def estimateStatistics(): Statistics = {
    val kept = keptFiles()
    val bytes = res.ver.fileBytes.map(fb => kept.map(fb).sum)
    val rows = res.ver.fileRows.map(fr => kept.map(fr).sum)
    // COLUMN statistics from the manifest's per-file NDV sketches
    // ([[graft.ops.NdvSketch]]): merged over exactly the surviving
    // files, so a pruned slice reports the slice's distinct counts —
    // under CBO, Catalyst's FilterEstimation then prices an equality
    // predicate at rows/NDV and a join can flip to broadcast where
    // the size-only estimate never would. Served only for columns
    // this scan outputs (Spark resolves the references against the
    // relation's output) and only when EVERY surviving file's sketch
    // is known — a partial union would understate cardinality.
    val colMap = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    res.ver.colStats.foreach { cs =>
      if (required.fieldNames.contains(cs.col)) {
        val ndv = cs.ndvOf(kept)
        val nulls =
          if (cs.nulls.isEmpty) None else Some(kept.map(cs.nulls).sum)
        // overall [min, max] over the surviving files, as the CATALYST
        // value FilterEstimation expects per attribute type (Int days
        // for DATE, Long micros for TIMESTAMP, unwidened Int/Float for
        // the narrow numerics) — string/boolean bounds are not served
        // (Catalyst's range estimation has no use for them). Served
        // only when EVERY surviving file carries a decodable bound.
        def catalystOf(key: Any): Option[Any] = cs.dtype match {
          case "int" | "date" => Some(key.asInstanceOf[Long].toInt)
          case "long" | "timestamp" => Some(key)
          case "double" => Some(key)
          case "float" =>
            Some(key.asInstanceOf[Double].floatValue())
          case d if graft.ops.TypedBounds.isDecimal(d) =>
            val (dp, ds) = graft.ops.TypedBounds.decimalOf(d).get
            Some(org.apache.spark.sql.types.Decimal.createUnsafe(
              key.asInstanceOf[Long], dp, ds))
          case _ => None
        }
        // dtypes catalystOf discards (string/boolean) short-circuit
        // BEFORE the O(surviving-files) reduce — a large manifest
        // with a string stats column in the output must not pay a
        // per-file pass for a bound that is then thrown away
        val servedDtype = cs.dtype match {
          case "int" | "date" | "long" | "timestamp" | "double" |
               "float" => true
          case d if graft.ops.TypedBounds.isDecimal(d) => true
          case _ => false
        }
        def bound(keys: IndexedSeq[Any], takeMax: Boolean): Option[Any] =
          if (!servedDtype || kept.isEmpty ||
              kept.exists(i => keys(i) == null)) None
          else catalystOf(kept.map(keys)
            .reduce((a, b) =>
              if ((graft.ops.TypedBounds.compare(cs.dtype, a, b) > 0)
                == takeMax) a else b))
        val mn = bound(cs.minKeys, takeMax = false)
        val mx = bound(cs.maxKeys, takeMax = true)
        if (ndv.isDefined || nulls.isDefined || mn.isDefined)
          colMap.put(
            org.apache.spark.sql.connector.expressions.Expressions
              .column(cs.col),
            new org.apache.spark.sql.connector.read.colstats
                .ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                ndv.map(java.util.OptionalLong.of)
                  .getOrElse(java.util.OptionalLong.empty())
              override def nullCount(): java.util.OptionalLong =
                nulls.map(java.util.OptionalLong.of)
                  .getOrElse(java.util.OptionalLong.empty())
              override def min(): java.util.Optional[Object] =
                mn.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty())
              override def max(): java.util.Optional[Object] =
                mx.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty())
            })
      }
    }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        bytes.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
      override def numRows(): java.util.OptionalLong =
        rows.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colMap
    }
  }

  /** Runtime (DPP-style) file pruning: when this table is joined on
    * its stats / partition-source / bloom column, Spark executes the
    * other side first and hands the join keys back as an `In` filter —
    * the SAME manifest pruning then drops files at RUNTIME, so a join
    * against a filtered dimension reads only the matching slice of a
    * 100 TB fact table. Filters arrive before (re-)planning; pruning
    * stays conservative, Spark re-applies the join itself.
    */
  private var runtime: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  // pruneFiles can launch a Spark job (bloom probe); Spark calls
  // estimateStatistics / outputPartitioning / planInputPartitions
  // each at least once per plan — memoize per runtime-filter
  // instance (filter() replaces the array wholesale)
  @volatile private var keptKey: AnyRef = _
  @volatile private var keptMemo: Seq[Int] = _
  private def keptFiles(): Seq[Int] = {
    val k = runtime
    if (keptMemo == null || !(keptKey eq k)) {
      keptMemo = GraftTableSource.pruneFiles(res, pushed ++ k)
      keptKey = k
    }
    keptMemo
  }

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val cols = ((res.ver.stats.map(_.col)).toSeq
      ++ res.ver.blooms.map(_.col)
      ++ res.ver.part.toSeq.flatMap(_.fields.map(_.source))
      ++ res.ver.colStats.map(_.col)).distinct
    // advertise ONLY columns this scan OUTPUTS (the pruned schema):
    // Spark resolves these references against the relation's output,
    // so naming a pruned-away column (a partition source a narrow
    // projection dropped — e.g. the source side of a self-referencing
    // MERGE) fails ANALYSIS for the whole query. A runtime filter can
    // only arrive on an output attribute anyway. `_file` likewise
    // resolves only when projected (row-level rewrites project it).
    val out = required.fieldNames.toSet
    val all = cols.filter(out) ++
      (if (out("_file")) Seq("_file") else Seq.empty)
    all.map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray
  }

  override def filter(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    runtime = filters

  /** The scan's pushed + runtime predicates EXCLUDING plan-derived
    * `_file` group filters — a row-level rewrite's static
    * read-predicate set, usable as the OCC-rebase proof that a
    * concurrently-added file cannot hold a matching row (`_file`
    * lists are plan-time enumerations over the OLD base, never a
    * predicate over new files).
    */
  private[v2] def staticPredicates
      : Array[org.apache.spark.sql.sources.Filter] =
    (pushed ++ runtime).filterNot(_.references.contains("_file"))

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(res, required)

  /** The exact files the latest plan served — the GROUP set a
    * row-level rewrite replaces.
    */
  @volatile var plannedFileNames: Seq[String] = _

  override def description(): String = {
    val kept = GraftTableSource.pruneFiles(res, pushed)
    s"graft_table ${res.path}@v${res.version}, " +
      s"files=${kept.length}/${res.ver.files.length}, " +
      s"columns=[${required.fieldNames.mkString(",")}]" +
      (if (pushed.nonEmpty)
        s", pushed=[${pushed.mkString(", ")}]" else "")
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val pruned = keptFiles()
    // a pushed LIMIT keeps only enough files to cover n rows (partial
    // pushdown: Spark re-applies the limit on the delivered rows)
    val kept = limit match {
      case Some(n) if res.ver.fileRows.isDefined =>
        val fr = res.ver.fileRows.get
        var cum = 0L
        pruned.takeWhile { i =>
          val need = cum < n
          cum += fr(i)
          need
        }
      case _ => pruned
    }
    plannedFileNames = kept.map(res.ver.files)
    // key the input partitions whenever outputPartitioning reports
    // KeyGroupedPartitioning (all partition sources projected)
    val keyed = limit.isEmpty && res.ver.part.exists(p =>
      p.fields.forall(f => required.fieldNames.contains(f.source)))
    def keyValsOf(i: Int): Seq[Any] = {
      val pk = res.ver.partKeys.get
      res.ver.part.get.fields.zipWithIndex.map { case (f, j) =>
        // decoded key → the key expression's PHYSICAL shape
        f.valueDtype match {
          case "int" | "date" => pk.key(i, j).asInstanceOf[Long].toInt
          case "string" => org.apache.spark.unsafe.types.UTF8String
            .fromString(pk.key(i, j).asInstanceOf[String])
          case d if graft.ops.TypedBounds.isDecimal(d) =>
            val (dp, ds) = graft.ops.TypedBounds.decimalOf(d).get
            org.apache.spark.sql.types.Decimal.createUnsafe(
              pk.key(i, j).asInstanceOf[Long], dp, ds)
          case _ => pk.key(i, j) // long-backed ordinals
        }
      }
    }
    // the pushed + runtime predicates, re-checked by Spark above the
    // scan, also drive parquet's ROW-GROUP statistics filtering inside
    // each kept file — what bounds the read when pruning keeps a huge
    // file for one matching range. NEVER on a `_file`-projecting scan:
    // that is the row-level REWRITE scan, whose contract is
    // file-granular — predicates may prune whole GROUPS (files), but
    // every row of a scanned file must be DELIVERED (carried rows of
    // unmatched row groups would otherwise silently vanish from the
    // rewritten table)
    val rowGroupFilters =
      if (required.fieldNames.contains("_file")) Array.empty[org.apache.spark.sql.sources.Filter]
      else pushed ++ runtime
    kept.map { i =>
      val base = GraftReaderFactory.partition(res, i, required,
        rowGroupFilters)
      if (keyed) KeyedFilePartition(base, keyValsOf(i))
      else base: InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory.forSession(SparkSession.active)
}

/** One table file to read: the per-file REQUESTED schema (required
  * visible columns under this file's PHYSICAL names — field-id
  * resolution applied at planning; a column this file predates keeps
  * its visible name, matches nothing, and reads as nulls), whether
  * the trailing `_file` metadata column is requested, and the
  * serialized parquet row-group predicate derived from the pushed
  * filters.
  */
private[v2] final case class GraftFilePartition(
    file: String, requestedJson: String, wantsFileCol: Boolean,
    rowGroupPredicate: Option[org.apache.parquet.filter2.predicate.FilterPredicate],
    // (physical column name, declared dtype) of every column the
    // row-group predicate references — the footer probe checks each
    // is physically present WITH the expected parquet shape before
    // the predicate applies
    predicateCols: Seq[(String, String)] = Seq.empty)
    extends InputPartition

/** A file partition of a hidden-partitioned table, carrying its
  * partition value(s) so Spark can key-group partitions for
  * storage-partitioned joins — one element per partition field, in
  * spec order, already in the key expressions' PHYSICAL shapes (Long
  * / Int / UTF8String).
  */
private[v2] final case class KeyedFilePartition(p: GraftFilePartition,
                                                keyVals: Seq[Any])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow.fromSeq(keyVals)
}

/** Reader factory carrying the SESSION's Hadoop configuration as a
  * broadcast — executors open table files through it, so
  * `spark.hadoop.*` settings (object-store credentials, endpoints)
  * reach the data plane exactly as they reach the metadata plane
  * ([[graft.ops.HadoopTableIo]]). Scans whose columns are all data
  * columns read COLUMNAR (`ColumnarBatch` pass-through, ColumnarToRow
  * fused above the scan); only `_file`-projecting scans (row-level
  * rewrites) take the per-row path.
  */
private[v2] final class GraftReaderFactory(
    bconf: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.SerializableConfiguration])
    extends PartitionReaderFactory {

  private def fileOf(partition: InputPartition): GraftFilePartition =
    partition match {
      case KeyedFilePartition(p, _) => p
      case p: GraftFilePartition => p
    }

  override def supportColumnarReads(partition: InputPartition): Boolean =
    !fileOf(partition).wantsFileCol

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new GraftPartitionReader(fileOf(partition), bconf.value.value)

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = fileOf(partition)
    require(!p.wantsFileCol,
      "_file-projecting scans read row-by-row")
    val vec = GraftReaderFactory.openVectorized(p, bconf.value.value)
    vec.initBatch(new StructType(), InternalRow.empty)
    vec.enableReturningBatches()
    new ScanMetrics.CountsRows[org.apache.spark.sql.vectorized.ColumnarBatch] {
      override def next(): Boolean = vec.nextKeyValue()
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
        val b = vec.getCurrentValue
          .asInstanceOf[org.apache.spark.sql.vectorized.ColumnarBatch]
        delivered += b.numRows()
        b
      }
      override def close(): Unit = vec.close()
    }
  }
}

private[v2] object GraftReaderFactory {

  def forSession(spark: SparkSession): GraftReaderFactory = {
    val conf = spark.sessionState.newHadoopConf()
    // scan-wide constants Spark's ParquetReadSupport resolves from the
    // task configuration; per-file keys (requested schema, row-group
    // predicate) are layered on an executor-side copy
    conf.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    conf.setBoolean("spark.sql.parquet.binaryAsString", false)
    conf.setBoolean("spark.sql.parquet.int96AsTimestamp", false)
    conf.setBoolean("spark.sql.caseSensitive", true)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    conf.setBoolean("spark.sql.parquet.fieldId.read.enabled", false)
    new GraftReaderFactory(spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(conf)))
  }

  /** Build the partition for file `i`: resolve each required visible
    * column to this file's physical name (field-id resolution was
    * applied when `res` was built) and translate the pushed filters
    * into a parquet row-group predicate against those names.
    */
  def partition(res: GraftTableSource.Resolved, i: Int,
                required: StructType,
                filters: Array[org.apache.spark.sql.sources.Filter])
      : GraftFilePartition = {
    val phys = res.filePhysical(i)
    val wantsFile = required.fieldNames.lastOption.contains("_file")
    require(!required.fieldNames.dropRight(1).contains("_file"),
      s"_file must be the trailing requested column, got " +
        s"${required.fieldNames.toSeq}")
    val dataFields = (if (wantsFile) required.fields.dropRight(1)
      else required.fields).toSeq
    // a column this file predates reads as nulls BY NAME MISMATCH —
    // the sentinel cannot collide with any physical name, where the
    // bare visible name could: after RENAME a→c, a LATER column named
    // `a` must never match an old file's physical `a` (c's bytes)
    val requested = StructType(dataFields.map(f =>
      StructField(phys.getOrElse(f.name, s"__graft_absent__${f.name}"),
        f.dataType, nullable = true)))
    val (pred, predCols) = rowGroupPredicate(res, phys, filters)
    GraftFilePartition(res.ver.files(i), requested.json, wantsFile,
      pred, predCols)
  }

  /** The visible types whose predicates translate into parquet
    * row-group/page filters ([[rowGroupPredicate]]) — also what
    * [[GraftScanBuilder.pushFilters]] keeps pushing for.
    */
  val rowGroupTypes: Set[DataType] = Set(IntegerType, LongType,
    DateType, TimestampType, DoubleType, FloatType, StringType,
    BooleanType)

  /** Pushed/runtime filters as a parquet [[FilterPredicate]] —
    * STATISTICS-level row-group skipping (and column-index page
    * skipping) inside kept files, TYPED: integral, DATE (int32 epoch
    * days), TIMESTAMP (int64 micros), DOUBLE/FLOAT, STRING (binary —
    * parquet's unsigned byte order IS UTF-8 order) and BOOLEAN
    * comparisons on columns physically present translate; everything
    * else is simply not part of the predicate (the filters are
    * residual — Spark re-applies them above the scan — so a partial
    * translation can only skip row groups that provably hold no
    * matching row, never change results).
    */
  private def rowGroupPredicate(res: GraftTableSource.Resolved,
                                phys: Map[String, String],
                                filters: Array[org.apache.spark.sql.sources.Filter])
      : (Option[org.apache.parquet.filter2.predicate.FilterPredicate],
         Seq[(String, String)]) = {
    import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
    import org.apache.parquet.io.api.Binary
    import org.apache.spark.sql.sources._
    import graft.ops.TypedBounds
    val referenced =
      scala.collection.mutable.LinkedHashSet.empty[(String, String)]
    // visible column -> (physical name, dtype)
    def colOf(c: String): Option[(String, String)] =
      res.schema.fields.find(_.name == c).flatMap { f =>
        phys.get(c).flatMap(ph =>
          TypedBounds.dtypeOf(f.dataType).map(ph -> _))
      }
    sealed trait Op
    case object OpEq extends Op; case object OpGt extends Op
    case object OpGtEq extends Op; case object OpLt extends Op
    case object OpLtEq extends Op
    def longOf(dtype: String, v: Any): Option[Long] =
      TypedBounds.keyOfValue(dtype, v) match {
        case Some(l: Long) => Some(l)
        case _ => None
      }
    def cmp(c: String, v: Any, op: Op): Option[FilterPredicate] =
      colOf(c).flatMap { case (ph, dtype) =>
        val pred: Option[FilterPredicate] = dtype match {
          case "long" | "timestamp" =>
            longOf(dtype, v).map { l =>
              val col = FilterApi.longColumn(ph)
              val jv = java.lang.Long.valueOf(l)
              op match {
                case OpEq => FilterApi.eq(col, jv)
                case OpGt => FilterApi.gt(col, jv)
                case OpGtEq => FilterApi.gtEq(col, jv)
                case OpLt => FilterApi.lt(col, jv)
                case OpLtEq => FilterApi.ltEq(col, jv)
              }
            }
          case "int" | "date" =>
            longOf(dtype, v)
              .filter(l => l >= Int.MinValue && l <= Int.MaxValue)
              .map { l =>
                val col = FilterApi.intColumn(ph)
                val jv = Integer.valueOf(l.toInt)
                op match {
                  case OpEq => FilterApi.eq(col, jv)
                  case OpGt => FilterApi.gt(col, jv)
                  case OpGtEq => FilterApi.gtEq(col, jv)
                  case OpLt => FilterApi.lt(col, jv)
                  case OpLtEq => FilterApi.ltEq(col, jv)
                }
              }
          case "double" =>
            (v match {
              case d: Double => Some(d)
              case f: Float => Some(f.toDouble)
              case _ => None
            }).map { d =>
              val col = FilterApi.doubleColumn(ph)
              val jv = java.lang.Double.valueOf(d)
              op match {
                case OpEq => FilterApi.eq(col, jv)
                case OpGt => FilterApi.gt(col, jv)
                case OpGtEq => FilterApi.gtEq(col, jv)
                case OpLt => FilterApi.lt(col, jv)
                case OpLtEq => FilterApi.ltEq(col, jv)
              }
            }
          case "float" =>
            (v match {
              case f: Float => Some(f)
              case _ => None
            }).map { f =>
              val col = FilterApi.floatColumn(ph)
              val jv = java.lang.Float.valueOf(f)
              op match {
                case OpEq => FilterApi.eq(col, jv)
                case OpGt => FilterApi.gt(col, jv)
                case OpGtEq => FilterApi.gtEq(col, jv)
                case OpLt => FilterApi.lt(col, jv)
                case OpLtEq => FilterApi.ltEq(col, jv)
              }
            }
          case "string" =>
            (v match {
              case s: String => Some(Binary.fromString(s))
              case _ => None
            }).map { b =>
              val col = FilterApi.binaryColumn(ph)
              op match {
                case OpEq => FilterApi.eq(col, b)
                case OpGt => FilterApi.gt(col, b)
                case OpGtEq => FilterApi.gtEq(col, b)
                case OpLt => FilterApi.lt(col, b)
                case OpLtEq => FilterApi.ltEq(col, b)
              }
            }
          case "boolean" =>
            (v, op) match {
              case (b: Boolean, OpEq) => Some(FilterApi.eq(
                FilterApi.booleanColumn(ph), java.lang.Boolean.valueOf(b)))
              case _ => None
            }
          case _ => None
        }
        pred.foreach(_ => referenced += ((ph, dtype)))
        pred
      }
    def one(f: Filter): Option[FilterPredicate] = f match {
      case EqualTo(c, v) => cmp(c, v, OpEq)
      case GreaterThan(c, v) => cmp(c, v, OpGt)
      case GreaterThanOrEqual(c, v) => cmp(c, v, OpGtEq)
      case LessThan(c, v) => cmp(c, v, OpLt)
      case LessThanOrEqual(c, v) => cmp(c, v, OpLtEq)
      case In(c, vs) if vs.nonEmpty && vs.length <= 32 =>
        val eqs = vs.toSeq.map(v => cmp(c, v, OpEq))
        if (eqs.forall(_.isDefined)) eqs.flatten.reduceOption(FilterApi.or)
        else None
      case _ => None
    }
    (filters.toSeq.flatMap(one).reduceOption(FilterApi.and),
      referenced.toSeq)
  }

  /** Open one file through Spark's VectorizedParquetRecordReader via
    * the Hadoop split path — the session configuration (not a fresh
    * one) resolves the FileSystem, so any Hadoop-addressable store
    * serves the read; the per-file requested schema and row-group
    * predicate ride the task configuration.
    */
  /** Memo of the footer presence/shape probe below, keyed by (file,
    * referenced columns): table files are IMMUTABLE (write-once under
    * unique batch dirs), so a probe result never goes stale — and at
    * object-store latency the probe is a whole RTT per file per scan
    * that repeated scans should not re-pay. Bounded, cleared
    * wholesale.
    */
  private val probeMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[(String, String)]), java.lang.Boolean]()

  /** True when the predicate may apply to this file: every referenced
    * column is physically present WITH the parquet shape the
    * predicate was built for — primitive type per dtype, and for
    * timestamps the MICROS logical annotation (a session writing
    * INT96 produces a column the int64 predicate must not touch).
    */
  private def probeOk(p: GraftFilePartition,
                      conf: org.apache.hadoop.conf.Configuration)
      : Boolean = {
    if (probeMemo.size > 4096) probeMemo.clear()
    probeMemo.computeIfAbsent((p.file, p.predicateCols), _ => {
      val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        conf, new HPath(p.file),
        org.apache.parquet.format.converter.ParquetMetadataConverter
          .SKIP_ROW_GROUPS)
      val fileSchema = footer.getFileMetaData.getSchema
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      import org.apache.parquet.schema.LogicalTypeAnnotation
      p.predicateCols.forall { case (name, dtype) =>
        fileSchema.containsField(name) && {
          val t = fileSchema.getType(Seq(name): _*)
          t.isPrimitive && {
            val prim = t.asPrimitiveType().getPrimitiveTypeName
            dtype match {
              case "int" | "date" => prim == INT32
              case "long" => prim == INT64
              case "timestamp" => prim == INT64 &&
                (t.getLogicalTypeAnnotation match {
                  case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                    ts.getUnit ==
                      LogicalTypeAnnotation.TimeUnit.MICROS
                  case _ => false
                })
              case "double" => prim == DOUBLE
              case "float" => prim == FLOAT
              case "string" => prim == BINARY
              case "boolean" => prim == BOOLEAN
              case _ => false
            }
          }
        }
      }
    })
  }

  def openVectorized(p: GraftFilePartition,
                     base: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader = {
    val conf = new org.apache.hadoop.conf.Configuration(base)
    conf.set("org.apache.spark.sql.parquet.row.requested_schema",
      p.requestedJson)
    // the row-group predicate applies only when THIS FILE physically
    // carries every referenced column in the predicate's shape — a
    // subset-column batch within an epoch (appendMeta stamps it with
    // the current epoch) may lack one, and parquet's schema validator
    // throws instead of treating the column as all-null; one
    // SKIP_ROW_GROUPS footer probe gates the predicate, paid only on
    // predicated scans and MEMOIZED per (immutable file, columns)
    val predOk = p.rowGroupPredicate.isDefined && probeOk(p, conf)
    if (predOk)
      org.apache.parquet.hadoop.ParquetInputFormat
        .setFilterPredicate(conf, p.rowGroupPredicate.get)
    // Spark's reader casts to the OLD-API FileSplit (which extends the
    // mapreduce one), so that is the type to hand it
    val split = new org.apache.hadoop.mapred.FileSplit(
      new HPath(p.file), 0L, Long.MaxValue, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    val r = new org.apache.spark.sql.execution.datasources.parquet
      .VectorizedParquetRecordReader(null, "CORRECTED", "UTC",
        "CORRECTED", "UTC", false, 4096)
    try r.initialize(split, ctx)
    catch { case e: Throwable => r.close(); throw e }
    r
  }
}

/** Per-row reader for one table file — the `_file`-projecting path
  * (row-level rewrites need the metadata column appended per row);
  * plain scans go columnar through
  * [[GraftReaderFactory.createColumnarReader]]. Both drive the same
  * vectorized parquet decode through the session's Hadoop
  * configuration; a column the file predates reads as nulls (the
  * requested schema names it, the file doesn't match it).
  */
private[v2] final class GraftPartitionReader(
    p: GraftFilePartition, base: org.apache.hadoop.conf.Configuration)
    extends ScanMetrics.CountsRows[InternalRow] {

  private val vec = GraftReaderFactory.openVectorized(p, base)

  private val fileRow: InternalRow =
    if (!p.wantsFileCol) null
    else InternalRow(UTF8String.fromString(p.file))

  override def next(): Boolean = vec.nextKeyValue()

  override def get(): InternalRow = {
    delivered += 1
    val row = vec.getCurrentValue.asInstanceOf[InternalRow]
    if (!p.wantsFileCol) row
    else new org.apache.spark.sql.catalyst.expressions
      .JoinedRow(row, fileRow)
  }

  override def close(): Unit = vec.close()
}

/** DYNAMIC partition overwrite — replace exactly the partitions the
  * incoming batch touches, one conditional-put commit: the write
  * declares the same clustered+sorted distribution as the row-level
  * rewrite (the catalog's transform function), executors roll
  * partition-pure files, and commit() swaps every base file whose
  * recorded partition value appears in the batch — surviving
  * partitions carry BY REFERENCE, so the cost is (new partition
  * bytes + one manifest put) at any table size. Commit retry
  * recomputes the keep set against the refreshed base (overwrite
  * semantics are REPLACE, same argument as
  * [[SnapshotTable.overwriteWhere]]). DV-carrying tables and
  * not-yet-committed tables decline loudly.
  */
private[v2] final class GraftDynamicOverwrite(
    path: String,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering
    with org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write._

  private val schema = info.schema()
  private val spark0 = SparkSession.active
  private val latest = SnapshotTable.latestVersion(path)
  require(latest > 0,
    s"dynamic partition overwrite needs a committed table at $path — " +
      "INSERT INTO creates")
  private val base0 = SnapshotTable.readVersion(spark0, path, latest)
  require(base0.dvFiles.isEmpty,
    "table carries deletion vectors — materializeDeletes(...) first " +
      "so the replace cannot resurrect MOR-deleted rows")
  private val spec = base0.part.getOrElse(
    throw new IllegalArgumentException(
      "dynamic partition overwrite needs hidden partitioning — an " +
        "unpartitioned overwrite is all-or-nothing (mode overwrite)"))
  private val srcIdxs: Seq[Int] =
    GraftWriteUtil.partIndices(schema, spec)._1
  private val statsIdx: Option[(Int, Boolean)] =
    base0.stats.map(_.col).map { c =>
      val i = schema.fieldIndex(c)
      schema.fields(i).dataType match {
        case IntegerType => (i, true)
        case LongType => (i, false)
        case other => throw new IllegalArgumentException(
          s"stats column $c has type $other — only INT/BIGINT stats " +
            "columns are indexable")
      }
    }
  // no new columns: the schema meta is carried by reference
  base0.schemaNames.foreach { names =>
    val unknown = schema.fieldNames.filterNot(names.contains)
    require(unknown.isEmpty,
      s"dynamic overwrite carries new column(s) ${unknown.toSeq} — " +
        "evolve the schema with an append first")
  }

  private val batchDir =
    s"$path/files/batch-${java.util.UUID.randomUUID().toString.take(12)}"

  override def description(): String =
    s"graft_table $path DYNAMIC OVERWRITE"
  override def toBatch: BatchWrite = this

  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    org.apache.spark.sql.connector.distributions.Distributions
      .clustered(GraftWriteUtil.transformExprs(spec).toArray)

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    (GraftWriteUtil.transformExprs(spec)
        .map(Expressions.sort(_, SortDirection.ASCENDING)) ++
      base0.stats.map(st => Expressions.sort(
        Expressions.column(st.col), SortDirection.ASCENDING))).toArray
  }

  override def createBatchWriterFactory(pinfo: PhysicalWriteInfo)
      : DataWriterFactory =
    new GraftRowWriterFactory(batchDir, schema, statsIdx,
      Some((srcIdxs, spec)), GraftWriteUtil.parquetSqlConfs(),
      GraftWriteUtil.broadcastSessionConf(SparkSession.active),
      csIdx = GraftWriteUtil.csIndices(schema,
        SnapshotTable.colSpecsOf(base0)))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val written = messages.toSeq.collect {
      case m: GraftRowWriteMessage => m.files
    }.flatten.filter(_.rows > 0).sortBy(_.file)
    // dynamic overwrite replaces exactly the partitions the batch
    // touches — an EMPTY batch touches none, so the correct result is
    // the unchanged table (the Delta/Iceberg contract; a scheduled
    // INSERT OVERWRITE over an occasionally-empty source must not
    // fail the job). No commit = no version churn; the txn watermark
    // is deliberately NOT advanced, because replaying a no-op is
    // itself a no-op.
    if (written.isEmpty) return
    written.find(f => statsIdx.isDefined && !f.statSeen).foreach { f =>
      throw new IllegalStateException(
        s"written file ${f.file} holds only NULLs in stats column " +
          s"${base0.stats.get.col} — no committable min/max")
    }
    SnapshotTable.enforceConstraintsOn(spark, path, written.map(_.file))
    val conf = spark.sparkContext.hadoopConfiguration
    def sizeOf(f: String): Long = {
      val p = new HPath(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }
    val bytes = written.map(m => sizeOf(m.file))
    // the same per-writer idempotence every other write path honors
    val txn = for {
      w <- Option(info.options().get("txn_writer"))
      b <- Option(info.options().get("txn_batch"))
    } yield (w, b.toLong)
    SnapshotTable.commitDynamicOverwrite(spark, path, spec,
      written.map(_.file), written.map(_.rows), bytes,
      written.map(_.statMin), written.map(_.statMax),
      GraftWriteUtil.batchParts(spec, written), txn = txn,
      trackedCs = Some(GraftWriteUtil.colStatsFromFacts(
        SnapshotTable.colSpecsOf(base0), written)))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftWriteUtil.deleteStaged(
      SparkSession.active.sparkContext.hadoopConfiguration,
      messages.toSeq.collect {
        case m: GraftRowWriteMessage => m.files.map(_.file)
      }.flatten)
}

/** Version offset of the streaming source: the commit log IS the
  * stream's offset domain, so checkpointing and replay inherit the
  * table's own atomicity.
  */
private[v2] final case class GraftVersionOffset(version: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = version.toString
}

/** `spark.readStream.format("graft_table")` — the commit log as a
  * micro-batch stream (the Delta streaming-read shape): each offset
  * is a table VERSION, each micro-batch delivers exactly the rows of
  * the files that ENTERED the table in (start, end] — planned from
  * the manifests, cost ∝ appended files, never table size. Starting
  * from offset 0 the first batch is the initial snapshot (everything
  * visible at the then-latest version), after which the stream tails
  * appends. The source serves APPEND-ONLY histories: a commit in
  * range that removed files or touched deletion vectors (COW/MOR
  * delete, compaction, restore, recluster) fails the stream loudly —
  * a tailing consumer must not silently miss retractions; route such
  * tables through [[SnapshotTable.tailChanges]], whose change feed
  * carries the deletes. Schema drift across the stream (a rename/
  * drop mid-tail) also fails loudly; restart the stream to adopt the
  * new schema. Exactly-once end-to-end comes from Spark's offset log
  * + this source's deterministic (version-range → files) planning.
  */
private[v2] final class GraftMicroBatchStream(
    res: GraftTableSource.Resolved,
    required: org.apache.spark.sql.types.StructType)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  override def initialOffset(): Offset = GraftVersionOffset(0L)

  override def latestOffset(): Offset =
    GraftVersionOffset(SnapshotTable.latestVersion(res.path))

  /** Trigger.AvailableNow: pin the end of the run to the version
    * visible when the trigger fired — later commits wait for the next
    * run, exactly the table's own snapshot-isolation contract.
    */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(SnapshotTable.latestVersion(res.path))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    GraftVersionOffset(availableNowCap
      .getOrElse(SnapshotTable.latestVersion(res.path)))

  override def deserializeOffset(json: String): Offset =
    GraftVersionOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val a = start.asInstanceOf[GraftVersionOffset].version
    val b = end.asInstanceOf[GraftVersionOffset].version
    if (a >= b) return Array.empty
    val spark = SparkSession.active
    val endRes = GraftTableSource.resolve(
      Map("path" -> res.path, "version" -> b.toString))
    require(endRes.schema == res.schema,
      s"graft_table stream: schema changed between v$a and v$b " +
        s"(${res.schema.fieldNames.toSeq} → " +
        s"${endRes.schema.fieldNames.toSeq}) — restart the stream to " +
        "adopt the new schema")
    val endVer = endRes.ver
    val baseFiles: Set[String] =
      if (a == 0) {
        // the initial snapshot delivers raw file rows — a DV-carrying
        // version would silently resurrect its deleted rows
        require(endVer.dvFiles.isEmpty,
          s"graft_table stream: version $b of ${res.path} carries " +
            "deletion vectors — the snapshot batch cannot apply the " +
            "DV anti-join; materializeDeletes(...) first or consume " +
            "via tailChanges")
        Set.empty
      } else {
        val startVer = SnapshotTable.readVersion(spark, res.path, a)
        require(startVer.dvFiles == endVer.dvFiles,
          s"graft_table stream: deletion vectors changed between v$a " +
            s"and v$b — the append-only tail cannot represent " +
            "retractions; consume via tailChanges instead")
        val endSet = endVer.files.toSet
        val removed = startVer.files.filterNot(endSet)
        require(removed.isEmpty,
          s"graft_table stream: ${removed.length} file(s) left the " +
            s"table between v$a and v$b (delete/compact/restore) — " +
            "the append-only tail cannot represent that; consume via " +
            "tailChanges instead")
        startVer.files.toSet
      }
    endVer.files.indices
      .filterNot(i => baseFiles(endVer.files(i)))
      .map { i =>
        GraftReaderFactory.partition(endRes, i, required, Array.empty)
          : InputPartition
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory.forSession(SparkSession.active)
}
