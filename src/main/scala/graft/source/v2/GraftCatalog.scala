package graft.source.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expression, Literal, NamedReference, Transform}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.{SnapshotTable, TableIo}

/** The snapshot table as a Spark SQL CATALOG — the front door that
  * makes the whole table layer plain SQL:
  *
  * {{{
  *   spark.sql.catalog.graft      = graft.source.v2.GraftCatalog
  *   spark.sql.catalog.graft.root = /warehouse
  *
  *   CREATE TABLE graft.db.t (k BIGINT, v STRING)
  *     PARTITIONED BY (bucket(8, k))
  *   INSERT INTO graft.db.t SELECT ...
  *   SELECT * FROM graft.db.t VERSION AS OF 3
  *   SELECT * FROM graft.db.t TIMESTAMP AS OF '2026-01-01 00:00:00'
  *   ALTER TABLE graft.db.t RENAME COLUMN v TO label
  *   ALTER TABLE graft.db.t DROP COLUMN label
  *   DROP TABLE graft.db.t
  * }}}
  *
  * Identifiers map to directories (`root/ns.../name`); a table exists
  * when its `log/` holds a manifest or a CREATE marker. CREATE TABLE
  * records intent only (schema DDL + partition spec + stats/bloom
  * layout via TBLPROPERTIES `stats_col`/`bloom_col`) — the first
  * INSERT commits version 1 under that layout through the same
  * create-exclusive protocol every other commit uses, so DDL adds no
  * second metadata plane. ALTERs are [[SnapshotTable.addColumn]]/
  * [[SnapshotTable.renameColumn]]/[[SnapshotTable.dropColumn]] —
  * metadata-only commits by field id (ADD records the declared type
  * in the manifest, since no file footer can supply it until data
  * arrives; old files read the column as typed NULLs) — or a marker
  * rewrite while the table is still empty.
  *
  * Supported column types: the graft_table scalar surface (BOOLEAN,
  * INT, BIGINT, FLOAT, DOUBLE, STRING, BINARY, DATE, TIMESTAMP).
  * Partition transforms: identity / bucket(n, col) / truncate(w, col)
  * over a BIGINT source.
  */
final class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {
  private var cname: String = _
  private var root: String = _

  /** Day-two maintenance as SQL `CALL` — see [[GraftProcedures]]. */
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.names.map(Identifier.of(namespace, _)).toArray

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(root, ident.name())

  /** The partition transforms as V2 catalog FUNCTIONS — what lets
    * Catalyst prove two bucket/truncate-partitioned tables agree and
    * plan a STORAGE-PARTITIONED JOIN between them (the scan reports
    * `KeyGroupedPartitioning(bucket(n, col))`; resolution needs the
    * function to come from the relation's catalog). The bound
    * arithmetic is [[SnapshotTable.PartSpec]]'s, byte-identical to
    * what routed the rows at write time.
    */
  override def listFunctions(namespace: Array[String])
      : Array[Identifier] =
    GraftTransformFunction.names.map(Identifier.of(namespace, _)).toArray

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (GraftTransformFunction.names.contains(ident.name()))
      new GraftTransformFunction(ident.name())
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    cname = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog $name needs spark.sql.catalog.$name.root"))
  }

  override def name(): String = cname

  private def io: TableIo = TableIo.forPath(root)

  private def pathOf(ident: Identifier): String =
    (root +: ident.namespace().toSeq :+ ident.name()).mkString("/")

  private def existsAt(p: String): Boolean =
    SnapshotTable.latestVersion(p) > 0 ||
      GraftTableSource.readMarker(p).isDefined

  override def tableExists(ident: Identifier): Boolean =
    existsAt(pathOf(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = (root +: namespace.toSeq).mkString("/")
    if (!io.exists(dir)) return Array.empty
    io.listNames(dir)
      // dot-dirs are staging areas (atomic CTAS), never tables
      .filterNot(_.startsWith("."))
      .filter(n => existsAt(s"$dir/$n"))
      .sorted
      .map(n => Identifier.of(namespace, n))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val p = pathOf(ident)
    if (existsAt(p)) return new GraftTable(Map("path" -> p))
    // Iceberg-style metadata tables: `graft.db.t.history` parses as
    // namespace [db, t] + name "history" — serve the owning table's
    // log as a relation when the suffix names one
    if (ident.namespace().nonEmpty &&
        GraftMetaTable.kinds(ident.name())) {
      val owner = (root +: ident.namespace().toSeq).mkString("/")
      if (existsAt(owner))
        return new GraftMetaTable(ident.name(), owner)
    }
    throw new NoSuchTableException(ident)
  }

  /** SELECT ... VERSION AS OF v */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = pathOf(ident)
    if (!existsAt(p)) throw new NoSuchTableException(ident)
    new GraftTable(Map("path" -> p, "version" -> version))
  }

  /** SELECT ... TIMESTAMP AS OF ts — Spark hands MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p = pathOf(ident)
    if (!existsAt(p)) throw new NoSuchTableException(ident)
    new GraftTable(Map("path" -> p,
      "timestamp_ms" -> (timestamp / 1000L).toString))
  }

  private def supportedTypes(dt: DataType): Boolean = dt match {
    case BooleanType | IntegerType | LongType | FloatType | DoubleType |
         StringType | BinaryType | DateType | TimestampType => true
    case _: org.apache.spark.sql.types.DecimalType => true
    case _ => false
  }

  /** One SQL `PARTITIONED BY` transform → a typed [[SnapshotTable
    * .PartField]]: the source dtype comes from the declared schema
    * (what fixes the executor/driver arithmetic), transform names are
    * Iceberg's public catalog (identity, bucket, truncate, days,
    * months, years, hours).
    */
  private def toPartField(t: Transform,
                          schema: StructType): SnapshotTable.PartField = {
    def ref(e: Expression): Option[String] = e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    def lit(e: Expression): Option[Long] = e match {
      case l: Literal[_] => l.value() match {
        case n: Number => Some(n.longValue())
        case _ => None
      }
      case _ => None
    }
    val args = t.arguments().toSeq
    def dtypeOf(c: String): String = {
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"partition source $c is not a column of the table"))
      graft.ops.TypedBounds.dtypeOf(f.dataType)
        .filter(Set("int", "long", "date", "timestamp", "string"))
        .getOrElse(throw new IllegalArgumentException(
          s"partition source $c has type ${f.dataType} — hidden " +
            "partitioning covers INT/BIGINT/DATE/TIMESTAMP/STRING " +
            "sources"))
    }
    t.name() match {
      case "identity" =>
        val c = args.flatMap(ref).headOption.getOrElse(fail(t))
        SnapshotTable.PartField(c, "identity", 0L, dtypeOf(c))
      case n @ ("bucket" | "truncate") =>
        val c = args.flatMap(ref).headOption.getOrElse(fail(t))
        val w = args.flatMap(lit).headOption.getOrElse(fail(t))
        SnapshotTable.PartField(c, n, w, dtypeOf(c))
      case n @ ("days" | "months" | "years" | "hours") =>
        val c = args.flatMap(ref).headOption.getOrElse(fail(t))
        SnapshotTable.PartField(c, n, 0L, dtypeOf(c))
      case _ => fail(t)
    }
  }

  private def fail(t: Transform): Nothing =
    throw new UnsupportedOperationException(
      s"unsupported partition transform $t — use identity(col), " +
        "bucket(n, col), truncate(w, col), days(col), months(col), " +
        "years(col) or hours(col)")

  /** Validate schema + partitions + layout TBLPROPERTIES into the
    * CREATE marker — shared by CREATE TABLE and the staged (CTAS/
    * RTAS) paths.
    */
  private def buildMarker(schema: StructType,
                          partitions: Array[Transform],
                          properties: util.Map[String, String])
      : GraftTableSource.Marker = {
    schema.fields.foreach { f =>
      require(supportedTypes(f.dataType),
        s"column ${f.name} has unsupported type ${f.dataType} — the " +
          "graft catalog serves scalar snapshot tables")
    }
    val part =
      if (partitions.isEmpty) None
      else Some(SnapshotTable.PartSpec(
        partitions.toSeq.map(toPartField(_, schema))))
    val props = properties.asScala
    // bloom_col accepts a comma-separated LIST (per-column indexes);
    // stats_col stays one column by the manifest's compact encoding
    def layoutCol(key: String): Option[String] = props.get(key).map { c =>
      c.split(',').map(_.trim).filter(_.nonEmpty).foreach { one =>
        require(schema.fieldNames.contains(one),
          s"$key=$one is not a column of the table")
      }
      c
    }
    // typed multi-column stats: TBLPROPERTIES('stats_cols'='a,b,c')
    val statsCols = props.get("stats_cols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    statsCols.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"stats_cols names $c, not a column of the table"))
      require(graft.ops.TypedBounds.dtypeOf(f.dataType).isDefined,
        s"stats_cols column $c has type ${f.dataType} — typed stats " +
          "cover INT/BIGINT/DATE/TIMESTAMP/FLOAT/DOUBLE/STRING/" +
          "BOOLEAN/DECIMAL(≤18)")
    }
    GraftTableSource.Marker(schema, part, layoutCol("stats_col"),
      layoutCol("bloom_col"), statsCols)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val p = pathOf(ident)
    if (existsAt(p)) throw new TableAlreadyExistsException(ident)
    GraftTableSource.writeMarker(p,
      buildMarker(schema, partitions, properties))
    new GraftTable(Map("path" -> p))
  }

  // ---------------------------------------------- staged CTAS / RTAS
  // CREATE TABLE ... AS SELECT and REPLACE TABLE ... AS SELECT run
  // ATOMICALLY: the staged table writes marker + data + v1 manifest
  // under a hidden sibling directory (`.staged-<name>-<nonce>` — the
  // dot prefix keeps it out of listings), and commitStagedChanges
  // publishes it with ONE directory rename into the final identity.
  // A failed CTAS aborts by deleting the staging dir — no half-table
  // is ever visible under the real name. REPLACE deletes the old
  // directory immediately before the rename: a crash in that narrow
  // window leaves the staged dir intact for manual recovery, never a
  // torn table.

  private def stagedTable(ident: Identifier,
                          info: org.apache.spark.sql.connector.catalog.TableInfo,
                          replacing: Boolean): StagedTable = {
    val schema = StructType(info.columns().map(c =>
      StructField(c.name(), c.dataType(), c.nullable())))
    val tmp = (root +: ident.namespace().toSeq :+
      s".staged-${ident.name()}-${java.util.UUID.randomUUID()
        .toString.take(12)}").mkString("/")
    GraftTableSource.writeMarker(tmp,
      buildMarker(schema, info.partitions(), info.properties()))
    new GraftStagedTable(ident, pathOf(ident), tmp, replacing, this)
  }

  override def stageCreate(ident: Identifier,
                           info: org.apache.spark.sql.connector.catalog.TableInfo)
      : StagedTable = {
    if (existsAt(pathOf(ident))) throw new TableAlreadyExistsException(ident)
    stagedTable(ident, info, replacing = false)
  }

  override def stageReplace(ident: Identifier,
                            info: org.apache.spark.sql.connector.catalog.TableInfo)
      : StagedTable = {
    if (!existsAt(pathOf(ident))) throw new NoSuchTableException(ident)
    stagedTable(ident, info, replacing = true)
  }

  override def stageCreateOrReplace(ident: Identifier,
                                    info: org.apache.spark.sql.connector.catalog.TableInfo)
      : StagedTable =
    stagedTable(ident, info, replacing = true)

  private[v2] def existsAtPath(p: String): Boolean = existsAt(p)

  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val p = pathOf(ident)
    if (!existsAt(p)) throw new NoSuchTableException(ident)
    val spark = SparkSession.active
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "nested columns are not part of the snapshot-table surface")
        val cname = a.fieldNames()(0)
        require(supportedTypes(a.dataType()),
          s"column $cname has unsupported type ${a.dataType()} — the " +
            "graft catalog serves scalar snapshot tables")
        require(a.isNullable,
          s"ADD COLUMN $cname NOT NULL is unsatisfiable — existing " +
            "rows read the new column as NULL")
        require(a.position() == null,
          "ADD COLUMN ... FIRST/AFTER is not supported — new columns " +
            "append at the end of the schema (field-id order)")
        if (SnapshotTable.latestVersion(p) > 0)
          SnapshotTable.addColumn(spark, p, cname, a.dataType())
        else alterMarker(p) { m =>
          require(!m.schema.fieldNames.contains(cname),
            s"column $cname already exists")
          m.copy(schema = StructType(m.schema.fields :+
            StructField(cname, a.dataType())))
        }
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1,
          "nested columns are not part of the snapshot-table surface")
        if (SnapshotTable.latestVersion(p) > 0)
          SnapshotTable.renameColumn(spark, p, r.fieldNames()(0),
            r.newName())
        else alterMarker(p) { m =>
          val old = r.fieldNames()(0)
          val i = m.schema.fieldIndex(old)
          require(!m.schema.fieldNames.contains(r.newName()),
            s"column ${r.newName()} already exists")
          // declared layout follows the rename (nothing is committed)
          m.copy(
            schema = StructType(m.schema.fields.updated(i,
              m.schema.fields(i).copy(name = r.newName()))),
            part = m.part.map(sp => SnapshotTable.PartSpec(
              sp.fields.map(f =>
                if (f.source == old) f.copy(source = r.newName())
                else f))),
            statsCol = m.statsCol.map(c =>
              if (c == old) r.newName() else c),
            bloomCol = m.bloomCol.map(c =>
              if (c == old) r.newName() else c),
            statsCols = m.statsCols.map(c =>
              if (c == old) r.newName() else c))
        }
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1,
          "nested columns are not part of the snapshot-table surface")
        if (SnapshotTable.latestVersion(p) > 0)
          SnapshotTable.dropColumn(spark, p, d.fieldNames()(0))
        else alterMarker(p) { m =>
          val name = d.fieldNames()(0)
          val i = m.schema.fieldIndex(name)
          require(m.schema.length > 1, "cannot drop the last column")
          // nothing is committed yet: a declared-but-empty stats list
          // entry simply drops with the column
          m.copy(schema = StructType(m.schema.fields.patch(i, Nil, 1)),
            statsCols = m.statsCols.filterNot(_ == name))
        }
      // SAFE widenings (int→long, float→double) are metadata-only
      // ([[SnapshotTable.widenColumnType]]): the declared widened
      // type rides the manifest by field id, old files' narrow pages
      // widen at read. Everything else still rejects with the
      // atomic-RTAS workaround — narrowing loses values.
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames().length == 1,
          "nested columns are not part of the snapshot-table surface")
        val name = u.fieldNames()(0)
        if (SnapshotTable.latestVersion(p) > 0)
          SnapshotTable.widenColumnType(spark, p, name, u.newDataType())
        else alterMarker(p) { m =>
          val i = m.schema.fieldIndex(name)
          val cur = m.schema.fields(i).dataType
          val ok = (cur, u.newDataType()) match {
            case (IntegerType, LongType) => true
            case (FloatType, DoubleType) => true
            case _ => false
          }
          if (!ok) throw new UnsupportedOperationException(
            s"ALTER COLUMN $name TYPE " +
              s"${u.newDataType().simpleString} is not supported " +
              s"(current: ${cur.simpleString}) — only int→bigint and " +
              "float→double widen; rewrite instead: REPLACE TABLE t " +
              s"AS SELECT CAST($name AS " +
              s"${u.newDataType().simpleString}) ... FROM t " +
              "(atomic RTAS)")
          m.copy(schema = StructType(m.schema.fields.updated(i,
            m.schema.fields(i).copy(dataType = u.newDataType()))))
        }
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER $other — add/rename/drop column are the " +
          "metadata-only ALTERs this catalog serves")
    }
    loadTable(ident)
  }

  private def alterMarker(p: String)(
      f: GraftTableSource.Marker => GraftTableSource.Marker): Unit = {
    val m = GraftTableSource.readMarker(p).getOrElse(
      throw new IllegalStateException(s"no CREATE marker at $p"))
    val next = f(m)
    // layout columns follow a rename only while nothing is committed
    require(next.part.forall(sp =>
        next.schema.fieldNames.contains(sp.source)) &&
        next.statsCol.forall(next.schema.fieldNames.contains) &&
        next.bloomCol.forall(next.schema.fieldNames.contains) &&
        next.statsCols.forall(next.schema.fieldNames.contains),
      "ALTER would orphan the declared partition/stats/bloom layout " +
        "column — re-create the table with a consistent layout")
    GraftTableSource.rewriteMarker(p, next)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = pathOf(ident)
    if (!existsAt(p)) return false
    io.deleteDir(p)
    // a re-created table restarts version numbering — stale cached
    // resolutions would serve the dropped table's metadata
    GraftTableSource.invalidate(p)
    true
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "renameTable moves the table directory; the log is path-relative " +
        "and self-contained, so move it in storage and re-address it")

  // ------------------------------------------------------- namespaces
  // A namespace IS a directory level under the root: CREATE mkdirs,
  // DROP removes (cascade required when tables remain), SHOW lists
  // directories that are not themselves tables.

  private def nsDir(ns: Seq[String]): String =
    (root +: ns).mkString("/")

  override def namespaceExists(namespace: Array[String]): Boolean =
    io.isDirectory(nsDir(namespace.toSeq)) &&
      !existsAt(nsDir(namespace.toSeq))

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    val dir = nsDir(namespace.toSeq)
    if (namespace.nonEmpty && !namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace.toSeq)
    if (!io.exists(dir)) return Array.empty
    io.listNames(dir).sorted
      .filterNot(_.startsWith("."))
      .filter(n => io.isDirectory(s"$dir/$n") && !existsAt(s"$dir/$n"))
      .map(n => namespace :+ n)
      .toArray
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace.toSeq)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(namespace)
    io.mkdirs(nsDir(namespace.toSeq))
  }

  override def alterNamespace(namespace: Array[String],
                              changes: org.apache.spark.sql.connector
                                .catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces are directories and carry no metadata to alter")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    // non-cascade requires the directory EMPTY — direct tables AND
    // nested namespaces both count (a nested namespace may hold
    // tables a shallow listTables check would miss)
    if (!cascade && io.listNames(nsDir(namespace.toSeq)).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .NonEmptyNamespaceException(namespace)
    io.deleteDir(nsDir(namespace.toSeq))
    true
  }
}

/** A staged table for atomic CTAS/RTAS (see [[GraftCatalog]]'s staged
  * section): a fully functional [[GraftTable]] addressed at the
  * HIDDEN staging directory — marker, inserts, and the v1 manifest
  * all land there — published into the real identity by one
  * directory rename at commit, deleted wholesale on abort.
  */
private[v2] final class GraftStagedTable(
    ident: Identifier, realPath: String, tmpPath: String,
    replacing: Boolean, catalog: GraftCatalog)
    extends GraftTable(Map("path" -> tmpPath)) with StagedTable {

  override def name(): String = s"graft_table($realPath) [staged]"

  override def commitStagedChanges(): Unit = {
    val io = TableIo.forPath(realPath)
    // a staged table cannot carry DVs (its whole life is inserts),
    // but the invariant is load-bearing for the re-addressing below
    // (DV parquet embeds absolute addresses no string rewrite fixes)
    val latest = SnapshotTable.latestVersion(tmpPath)
    if (latest > 0)
      require(SnapshotTable.readVersion(
          org.apache.spark.sql.SparkSession.active, tmpPath, latest)
        .dvFiles.isEmpty, "staged table unexpectedly carries DVs")
    // re-address the log FIRST, while still under the (hidden)
    // staging dir: manifests, segments and bloom-index rows record
    // ABSOLUTE file URIs into the staging dir, rewritten here to the
    // final path (O(versions + index files) small JSON rewrites).
    // Ordering is the atomicity: the rename below is the LAST step,
    // so a crash anywhere before it leaves only the dot-hidden
    // staging dir — never a VISIBLE table whose manifests point at a
    // staging path that no longer exists (the torn state the old
    // rename-then-rewrite order could leave).
    val tio = TableIo.forPath(tmpPath)
    val tmpCanon = tio.canon(tmpPath)
    val realCanon = io.canon(realPath)
    val tmpLog = s"$tmpPath/log"
    tio.listNames(tmpLog)
      // segment files carry data-file URIs exactly like inline
      // manifests — both forms re-address
      .filter(n => (n.startsWith("v") || n.startsWith("seg-")) &&
        n.endsWith(".json"))
      .foreach { n =>
        val p = s"$tmpLog/$n"
        tio.writeAtomic(p, tio.readString(p).replace(tmpCanon, realCanon))
      }
    val tmpBloom = s"$tmpPath/bloomidx"
    if (tio.isDirectory(tmpBloom))
      tio.walkFiles(tmpBloom).filter(_.name.endsWith(".json"))
        .foreach { e =>
          tio.writeAtomic(e.path,
            tio.readString(e.path).replace(tmpCanon, realCanon))
        }
    if (replacing && catalog.existsAtPath(realPath)) {
      io.deleteDir(realPath)
      GraftTableSource.invalidate(realPath)
    }
    // rename LAST — the single visible step; fails loudly when the
    // destination exists, so a concurrent CREATE that won the race is
    // never silently replaced
    io.rename(tmpPath, realPath)
    // staged-path cache entries die with the staging dir; entries for
    // a replaced table's old segments die with the table
    SnapshotTable.invalidateSegments(tmpPath)
    SnapshotTable.invalidateSegments(realPath)
    GraftTableSource.invalidate(tmpPath)
  }

  override def abortStagedChanges(): Unit = {
    TableIo.forPath(tmpPath).deleteDir(tmpPath)
    GraftTableSource.invalidate(tmpPath)
  }
}

/** Metadata tables over a snapshot table's LOG — pure manifest reads,
  * O(versions) / O(files), never data:
  *  - `t.history`: one row per surviving version (version, op,
  *    committed_ms, rows, n_files, bytes) — DESCRIBE HISTORY as a
  *    relation any SQL can join/filter.
  *  - `t.files`: the CURRENT version's file inventory (file, rows,
  *    bytes, stats min/max, hidden partition value) — the manifest a
  *    query planner prunes with, exposed for inspection.
  */
private[v2] final class GraftMetaTable(kind: String, path: String)
    extends Table with SupportsRead {
  import org.apache.spark.sql.connector.read._
  import org.apache.spark.sql.catalyst.InternalRow

  override def name(): String = s"graft_table($path).$kind"

  override def schema(): StructType = kind match {
    case "history" => StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("op", StringType),
      StructField("committed_ms", LongType),
      StructField("rows", LongType, nullable = false),
      StructField("n_files", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false)))
    case "files" => StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("rows", LongType),
      StructField("bytes", LongType),
      StructField("stats_min", LongType),
      StructField("stats_max", LongType),
      // single-BIGINT specs: the LONG value (partition_key stays
      // NULL); every other spec: the rendered tuple (partition NULL)
      StructField("partition", LongType),
      StructField("partition_key", StringType)))
    case "partitions" => StructType(Seq(
      StructField("partition", LongType),
      StructField("partition_key", StringType),
      StructField("n_files", LongType, nullable = false),
      StructField("rows", LongType),
      StructField("bytes", LongType)))
    case "segments" => StructType(Seq(
      StructField("segment", StringType, nullable = false),
      StructField("size", LongType, nullable = false),
      StructField("live", LongType, nullable = false),
      StructField("dropped", LongType, nullable = false)))
    case "refs" => StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("version", LongType, nullable = false)))
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  /** Rows computed ON THE DRIVER at plan time (the log is small by
    * design); one input partition carries them.
    */
  private def rows(): Seq[Array[Any]] = {
    val spark = SparkSession.active
    val latest = SnapshotTable.latestVersion(path)
    if (latest == 0L) return Seq.empty // created, never written
    val io = TableIo.forPath(path)
    kind match {
      case "history" =>
        (1L to latest)
          .filter(v => io.exists(s"$path/log/v$v.json"))
          .map { v =>
            val ver = SnapshotTable.readVersion(spark, path, v)
            Array[Any](ver.version,
              org.apache.spark.unsafe.types.UTF8String.fromString(ver.op),
              if (ver.committedMs == 0L) null else ver.committedMs,
              ver.rows, ver.files.length.toLong,
              ver.fileBytes.map(_.sum).getOrElse(0L))
          }
      case "files" =>
        val ver = SnapshotTable.readVersion(spark, path, latest)
        val long = ver.part.exists(_.singleLong)
        ver.files.indices.map { i =>
          Array[Any](
            org.apache.spark.unsafe.types.UTF8String
              .fromString(ver.files(i)),
            ver.fileRows.map(r => Long.box(r(i))).orNull,
            ver.fileBytes.map(b => Long.box(b(i))).orNull,
            ver.stats.map(st => Long.box(st.mins(i))).orNull,
            ver.stats.map(st => Long.box(st.maxs(i))).orNull,
            ver.partKeys.filter(_ => long).map(pk => Long.box(pk.longs(i)))
              .orNull,
            ver.partKeys.filter(_ => !long).map(pk =>
              org.apache.spark.unsafe.types.UTF8String.fromString(
                GraftMetaTable.keyLabel(ver.part.get, pk.row(i))))
              .orNull)
        }
      case "partitions" =>
        val ver = SnapshotTable.readVersion(spark, path, latest)
        val (sp, pk) = ver.part.zip(ver.partKeys).getOrElse(
          throw new IllegalArgumentException(
            s"$path is not hidden-partitioned — t.partitions needs a " +
              "partition transform; t.files inventories plain tables"))
        def totals(idx: Seq[Int]): Seq[Any] = Seq(idx.length.toLong,
          ver.fileRows.map(r => Long.box(idx.map(r).sum)).orNull,
          ver.fileBytes.map(b => Long.box(idx.map(b).sum)).orNull)
        if (sp.singleLong)
          pk.longs.indices.groupBy(pk.longs).toSeq.sortBy(_._1)
            .map { case (p, idx) => (Seq[Any](p, null) ++ totals(idx)).toArray }
        else
          (0 until pk.nFiles).groupBy(pk.row).toSeq
            .map { case (row, idx) =>
              (GraftMetaTable.keyLabel(sp, row), idx) }
            .sortBy(_._1)
            .map { case (label, idx) =>
              (Seq[Any](null,
                org.apache.spark.unsafe.types.UTF8String.fromString(label)) ++
                totals(idx)).toArray
            }
      case "refs" =>
        // branches/tags (r19): the write-audit-publish surface,
        // inspectable from SQL — empty when none were created
        SnapshotTable.refs(path).map { r =>
          Array[Any](
            org.apache.spark.unsafe.types.UTF8String.fromString(r.name),
            org.apache.spark.unsafe.types.UTF8String.fromString(r.kind),
            r.version)
        }
      case "segments" =>
        // the O(Δ) manifest structure, inspectable from SQL; an
        // inline (below-threshold) table simply has none
        val ver = SnapshotTable.readVersion(spark, path, latest)
        ver.segRefs.getOrElse(Seq.empty).map { rf =>
          Array[Any](
            org.apache.spark.unsafe.types.UTF8String
              .fromString(rf.name),
            rf.size.toLong,
            (rf.size - rf.drops.length).toLong,
            rf.drops.length.toLong)
        }
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = () => new Scan with Batch {
    override def readSchema(): StructType = GraftMetaTable.this.schema()
    override def toBatch: Batch = this
    override def description(): String = name()
    override def planInputPartitions(): Array[InputPartition] =
      Array(GraftMetaPartition(rows()))
    override def createReaderFactory(): PartitionReaderFactory =
      new PartitionReaderFactory {
        override def createReader(partition: InputPartition)
            : PartitionReader[InternalRow] = {
          val it = partition.asInstanceOf[GraftMetaPartition]
            .rows.iterator
          new PartitionReader[InternalRow] {
            private var cur: Array[Any] = _
            override def next(): Boolean =
              if (it.hasNext) { cur = it.next(); true } else false
            override def get(): InternalRow =
              InternalRow.fromSeq(cur.toSeq)
            override def close(): Unit = ()
          }
        }
      }
  }
}

private[v2] object GraftMetaTable {
  val kinds: Set[String] = Set("history", "files", "partitions",
    "segments", "refs")

  /** Human-readable rendering of one typed partition tuple, e.g.
    * `days(ship_d)=18250/bucket(8, flag)=3`.
    */
  def keyLabel(spec: SnapshotTable.PartSpec, row: Seq[String]): String =
    spec.fields.zip(row).map { case (f, v) =>
      val label = f.transform match {
        case "identity" => f.source
        case "bucket" | "truncate" =>
          s"${f.transform}(${f.param}, ${f.source})"
        case t => s"$t(${f.source})"
      }
      s"$label=$v"
    }.mkString("/")
}

private[v2] final case class GraftMetaPartition(rows: Seq[Array[Any]])
    extends org.apache.spark.sql.connector.read.InputPartition

/** The hidden-partitioning transforms as bindable V2 scalar functions
  * — `bucket(width, col)` / `truncate(width, col)` over any supported
  * source type, and the single-argument temporal ordinals `days(col)`
  * / `months(col)` / `years(col)` / `hours(col)`. The arithmetic is
  * [[SnapshotTable.PartField.applyPhysical]]'s exactly (xxhash64 seed
  * 42 + floorMod for bucket, floorDiv/code-point prefix for truncate,
  * UTC epoch ordinals for the temporal family), so a value computed
  * here equals the manifest's recorded partition value for the file
  * holding that row.
  */
private[v2] final class GraftTransformFunction(transform: String)
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}

  private val temporal = GraftTransformFunction.temporalNames(transform)

  override def name(): String = transform
  override def description(): String =
    if (temporal) s"graft $transform(col): the snapshot table's " +
      "hidden-partitioning transform (UTC epoch ordinal)"
    else s"graft $transform(width, col): the snapshot table's " +
      "hidden-partitioning transform"

  private def dtypeOf(dt: DataType, what: String): String =
    graft.ops.TypedBounds.dtypeOf(dt)
      .filter(Set("int", "long", "date", "timestamp", "string"))
      .getOrElse(throw new IllegalArgumentException(
        s"$transform does not take a $dt $what"))

  override def bind(inputType: StructType): BoundFunction = {
    val (widthType, colPos) =
      if (temporal) {
        require(inputType.length == 1,
          s"$transform takes (col), got $inputType")
        (null: DataType, 0)
      } else {
        require(inputType.length == 2,
          s"$transform takes (width, col), got $inputType")
        val wt = inputType.fields(0).dataType
        require(wt == IntegerType || wt == LongType,
          s"$transform width must be integral, got $wt")
        (wt, 1)
      }
    val colType = inputType.fields(colPos).dataType
    val dtype = dtypeOf(colType, "column")
    // validate the (transform, dtype) combination (and, for the
    // width-less family, pin the whole field) at BIND time — a
    // width-bearing field revalidates per row against the live width
    val boundField =
      if (temporal) Some(SnapshotTable.PartField("x", transform, 0L, dtype))
      else None
    val stringValued = transform == "truncate" && dtype == "string"
    new ScalarFunction[AnyRef] {
      override def inputTypes(): Array[DataType] =
        if (temporal) Array(colType) else Array(widthType, colType)
      override def resultType(): DataType =
        if (stringValued) StringType else LongType
      override def name(): String = transform
      override def canonicalName(): String = s"graft.$transform"
      override def produceResult(input: org.apache.spark.sql.catalyst
          .InternalRow): AnyRef = {
        val field = boundField.getOrElse {
          val w =
            if (widthType == IntegerType) input.getInt(0).toLong
            else input.getLong(0)
          SnapshotTable.PartField("x", transform, w, dtype)
        }
        val raw: Any = dtype match {
          case "int" | "date" => input.getInt(colPos)
          case "string" => input.getUTF8String(colPos)
          case _ => input.getLong(colPos)
        }
        field.applyPhysical(raw) match {
          case l: Long => Long.box(l)
          case s: String =>
            org.apache.spark.unsafe.types.UTF8String.fromString(s)
          case other => throw new IllegalStateException(
            s"unexpected transform value $other")
        }
      }
    }
  }
}

private[v2] object GraftTransformFunction {
  val temporalNames: Set[String] = Set("days", "months", "years", "hours")
  val names: Seq[String] =
    Seq("bucket", "truncate", "days", "months", "years", "hours")
}
