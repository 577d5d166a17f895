package graft.ops

import java.nio.file.FileAlreadyExistsException

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Json

/** Versioned snapshot table: the commit-log layer that turns a pile of
  * parquet files into a TABLE with atomic appends and time travel —
  * the (deliberately minimal) Delta/Iceberg mechanism, built on the
  * same primitive those formats use at 100 TB: data files are
  * immutable and write-once, and a version IS a manifest file listing
  * exactly the data files visible at that version. Readers never list
  * the directory (an eventually-consistent object store lists late,
  * lists partial writes, and lists abandoned files from failed jobs);
  * they read `log/v{N}.json` and open precisely those files.
  *
  * A commit is CREATE-EXCLUSIVE — a conditional put of `v{N}.json`
  * that atomically fails with [[FileAlreadyExistsException]] when some
  * other writer already committed N (optimistic concurrency). The
  * entire METADATA plane routes through [[TableIo]], resolved from the
  * table-root string: plain paths use java.nio (conditional put =
  * unique temp file + atomic hard link), URI-schemed paths use the
  * Hadoop `FileSystem` API (conditional put = `create(path,
  * overwrite=false)` — atomic on HDFS, an `If-None-Match` PUT on
  * S3A ≥3.4.1), so the same commit protocol deploys wherever a 100 TB
  * table's log actually lives. Appends RETRY on
  * conflict (their data files are already durable under a unique batch
  * directory, so only the cheap manifest step re-runs against the new
  * latest version, and the loser's rows land at N+1 — no committed
  * version is ever silently replaced). Mutating commits that PLANNED
  * against the previous version (delete, compaction, merge, row-level
  * rewrites) detect conflicts on loss: when the winner's commit is
  * provably DISJOINT from the operation's read set (the common case —
  * an interleaved append elsewhere in the key space; layout and
  * schema unchanged), the rewrite AUTO-REBASES onto the new base and
  * re-commits ([[commitReplace]] — Delta's WriteSerializable
  * contract); an overlapping commit fails loudly for the caller to
  * re-plan.
  *
  * Manifests are LOGICALLY complete snapshots (every visible file,
  * with per-file row counts, byte sizes, and optional column
  * min/max) — time travel and recovery need no log replay, and scan
  * planning never lists directories. The STORAGE form adapts to file
  * count: below [[segThreshold]] the whole snapshot inlines into the
  * version file (one small read, zero extra RTTs); above it the
  * version file becomes an O(Δ) header re-referencing immutable
  * file-list SEGMENTS (see the segmented-manifests section), so a
  * commit's metadata cost is O(changed files) however large the
  * table — the Delta-log/Iceberg-manifest economics, without giving
  * up one-file version resolution. Per-file row counts make
  * scan/manifest drift checks and COW-delete accounting metadata-only;
  * per-file byte sizes feed the compaction planner without touching
  * the filesystem.
  *
  * The table can carry its own per-file Bloom index over one column
  * ([[BloomIndex]]): append writes index rows for each new batch, and
  * delete/compaction re-index the files they rewrite, so EQUALITY
  * probes keep whole-file skipping at every version — the index
  * follows the table through every commit instead of pointing at
  * whatever layout happens to be latest.
  */
object SnapshotTable {

  /** Per-file min/max of one long-typed column, aligned with `files` —
    * the Iceberg-style column statistics that let ANY range predicate
    * on the stat column prune files, not just curve-key rectangles.
    * This column doubles as the table's SORT/LAYOUT column (batches
    * are range-partitioned and sorted by it); for pruning-only
    * statistics over further columns — and over non-integral types —
    * see [[ColStats]].
    */
  final case class Stats(col: String, mins: Seq[Long], maxs: Seq[Long])

  /** TYPED per-file min/max of one declared stats column, aligned
    * with `files` — the multi-column generalization of [[Stats]]:
    * a table declares a LIST of stats columns (INT/BIGINT/DATE/
    * TIMESTAMP/FLOAT/DOUBLE/STRING/BOOLEAN), every write path
    * collects per-file bounds for each, and any range/equality
    * predicate on any of them prunes files at plan time. Bounds are
    * encoded per [[TypedBounds]] (strings in the manifest, dtype-
    * interpreted); `has(i)` = file i holds a non-NULL value (bounds
    * usable), `exact(i)` = the bounds are actual column values
    * (string bounds may be truncated — prunable, but NOT servable to
    * a pushed MIN/MAX aggregate).
    */
  final case class ColStats(col: String, dtype: String,
                            mins: Seq[String], maxs: Seq[String],
                            has: Seq[Boolean], exact: Seq[Boolean],
                            // per-file NULL counts (Iceberg
                            // null_value_counts): prunes IS NULL /
                            // IS NOT NULL and serves pushed
                            // COUNT(col). Empty = unknown (a manifest
                            // written before the counts existed) —
                            // consumers then neither prune nor serve.
                            nulls: Seq[Long] = Seq.empty,
                            // per-file KMV NDV sketches
                            // ([[NdvSketch]], base64). "" = unknown;
                            // an EMPTY sketch ("no non-null values")
                            // is a valid exact entry. Empty vector =
                            // a manifest written before sketches (or
                            // an unsketchable dtype) — consumers
                            // serve no distinct count.
                            kmv: Seq[String] = Seq.empty) {
    /** Decoded comparable bound keys (null where `has` is false),
      * materialized lazily ONCE per instance: the planner compares
      * bounds per (file × predicate × plan), and versions are cached
      * per (path, version) — re-parsing every encoded string on every
      * plan would be O(files) string work per query at scale.
      */
    @transient lazy val minKeys: IndexedSeq[Any] =
      mins.indices.map(i => decodeKey(mins, i))
    @transient lazy val maxKeys: IndexedSeq[Any] =
      maxs.indices.map(i => decodeKey(maxs, i))

    /** null = no usable key (has=false, or an undecodable entry in a
      * corrupted manifest): consumers treat it exactly like has=false
      * — the file is never pruned and never serves an aggregate.
      * Pruning metadata must degrade conservative, not fail the scan.
      */
    private def decodeKey(enc: Seq[String], i: Int): Any =
      if (!has(i)) null
      else try TypedBounds.keyOfEncoded(dtype, enc(i))
      catch { case _: RuntimeException => null }

    def slice(keepIdx: Seq[Int]): ColStats =
      ColStats(col, dtype, keepIdx.map(mins), keepIdx.map(maxs),
        keepIdx.map(has), keepIdx.map(exact),
        if (nulls.isEmpty) Seq.empty else keepIdx.map(nulls),
        if (kmv.isEmpty) Seq.empty else keepIdx.map(kmv))
    def ++(that: ColStats): ColStats = {
      require(col == that.col && dtype == that.dtype,
        s"cannot extend stats of ($col: $dtype) with " +
          s"(${that.col}: ${that.dtype})")
      ColStats(col, dtype, CatSeq.cat2(mins, that.mins),
        CatSeq.cat2(maxs, that.maxs), CatSeq.cat2(has, that.has),
        CatSeq.cat2(exact, that.exact),
        // null counts stay only when BOTH sides know them — a mixed
        // vector would mis-prune the unknown half
        if ((nulls.isEmpty && mins.nonEmpty) ||
            (that.nulls.isEmpty && that.mins.nonEmpty)) Seq.empty
        else CatSeq.cat2(nulls, that.nulls),
        // same both-or-nothing rule for NDV sketches: a mixed vector
        // would UNDERestimate the merged distinct count
        if ((kmv.isEmpty && mins.nonEmpty) ||
            (that.kmv.isEmpty && that.mins.nonEmpty)) Seq.empty
        else CatSeq.cat2(kmv, that.kmv))
    }

    /** Merged NDV estimate over the files at `idx` — None when any
      * surviving file's sketch is unknown (serving a partial union
      * would understate cardinality, the harmful direction for CBO).
      */
    def ndvOf(idx: Seq[Int]): Option[Long] =
      if (kmv.isEmpty) None
      else NdvSketch.mergeEstimate(idx.map(kmv))
  }

  /** Bloom-index configuration recorded in the manifest so mutating
    * commits know to keep the index current for the files they write.
    * `expectedPerFile <= 0` = size each file's bloom from its exact
    * row count ([[BloomIndex.buildRows]]) — the default; a fixed guess
    * saturates when file sizes grow past it and pruning stops.
    */
  final case class BloomConf(col: String, expectedPerFile: Long,
                             fpp: Double = 0.01)

  /** One dimension of a hidden-partitioning spec: `transform(source)`
    * over a TYPED source column. `dtype` is the source column's type
    * in [[TypedBounds]]' vocabulary — partitioning covers `int`,
    * `long`, `date`, `timestamp` and `string` sources (floats hash
    * and compare treacherously as layout keys; booleans are a filter,
    * not a layout). Transforms (Iceberg's public transform catalog,
    * UTC-pinned for temporal math):
    *
    *  - `identity`           — v = x; every partition holds exactly
    *    one source value (any dtype)
    *  - `truncate` (param=w) — integral: v = floorDiv(x, w); string:
    *    the first w CODE POINTS (order-preserving prefix — matches
    *    Spark's code-point `substring`)
    *  - `bucket` (param=n)   — v = floorMod(xxhash64(x), n) with the
    *    SAME xxhash64 (seed 42) Spark evaluates in executors,
    *    mirrored on the driver via `XxHash64Function.hash` over the
    *    column's PHYSICAL value (int days for DATE, long micros for
    *    TIMESTAMP, UTF8 bytes for STRING). Equality probes prune;
    *    range predicates cannot (the hash scatters order).
    *  - `days` / `months` / `years` — DATE or TIMESTAMP sources,
    *    ordinals since 1970-01-01 UTC (epoch day / `(y-1970)*12+m-1`
    *    / `y-1970`); `hours` — TIMESTAMP only,
    *    floorDiv(micros, 3.6e9). All monotone.
    *
    * The partition VALUE is a long for every transform except string
    * identity/truncate (a string); [[valueDtype]] names its encoding.
    */
  final case class PartField(source: String, transform: String,
                             param: Long, dtype: String) {
    require(Seq("identity", "truncate", "bucket", "days", "months",
        "years", "hours").contains(transform),
      s"unknown partition transform $transform (identity | truncate | " +
        "bucket | days | months | years | hours)")
    require(Seq("int", "long", "date", "timestamp", "string")
        .contains(dtype) || TypedBounds.isDecimal(dtype),
      s"partition source $source has dtype $dtype — hidden " +
        "partitioning covers INT/BIGINT/DATE/TIMESTAMP/STRING/" +
        "DECIMAL(≤18) sources")
    transform match {
      case "identity" => ()
      case "truncate" =>
        require(param > 0, s"truncate needs a positive width, got $param")
        require(dtype == "int" || dtype == "long" || dtype == "string" ||
            TypedBounds.isDecimal(dtype),
          s"truncate($param, $source) needs an integral, string, or " +
            s"decimal source, got $dtype — use days()/months() for " +
            "temporal")
      case "bucket" =>
        require(param > 0, s"bucket needs a positive count, got $param")
      case "days" | "months" | "years" =>
        require(dtype == "date" || dtype == "timestamp",
          s"$transform($source) needs a DATE or TIMESTAMP source, " +
            s"got $dtype")
      case "hours" =>
        require(dtype == "timestamp",
          s"hours($source) needs a TIMESTAMP source, got $dtype")
    }

    /** Encoding dtype of the recorded partition value. */
    def valueDtype: String =
      if (transform == "identity") dtype
      else if (transform == "truncate" && dtype == "string") "string"
      else "long"

    /** Decimal sources (r20) key on the UNSCALED long (p ≤ 18 makes
      * it exact): identity records it as the decimal dtype's encoded
      * key, truncate/bucket operate on it like any integral — the
      * executor mirror derives the same long via
      * `(src * 10^scale) :: long` ([[column]]).
      */
    private def decScale: Int = TypedBounds.decimalOf(dtype).get._2

    /** Range predicates convert to partition-value ranges only when
      * the transform preserves order. */
    def monotone: Boolean = transform != "bucket"

    private def micros(k: Any): Long = k.asInstanceOf[Long]
    private def epochDay(k: Any): Long = dtype match {
      case "date" => k.asInstanceOf[Long]
      case _ => Math.floorDiv(micros(k), PartField.MicrosPerDay)
    }

    /** Driver-side transform over a DECODED probe key (the shapes
      * [[TypedBounds.keyOfValue]] produces: Long for integral and
      * temporal dtypes, String for string) → the partition-value key
      * in [[valueDtype]]'s comparable shape. MUST stay byte-identical
      * to [[column]]'s executor arithmetic.
      */
    def applyKey(k: Any): Any = transform match {
      case "identity" => k
      case "truncate" => dtype match {
        case "string" =>
          val s = k.asInstanceOf[String]
          if (s.codePointCount(0, s.length) <= param) s
          else s.substring(0, s.offsetByCodePoints(0, param.toInt))
        case _ => Math.floorDiv(k.asInstanceOf[Long], param)
      }
      case "bucket" => Math.floorMod(hash64(k), param)
      case "days" => epochDay(k)
      case "hours" => Math.floorDiv(micros(k), PartField.MicrosPerHour)
      case "months" =>
        val d = java.time.LocalDate.ofEpochDay(epochDay(k))
        (d.getYear - 1970).toLong * 12L + (d.getMonthValue - 1)
      case "years" =>
        (java.time.LocalDate.ofEpochDay(epochDay(k)).getYear - 1970).toLong
    }

    /** xxhash64 (seed 42) over the column's PHYSICAL value — the same
      * function the executor `xxhash64(col)` expression evaluates, so
      * driver probes and written files can never disagree.
      */
    private def hash64(k: Any): Long = {
      import org.apache.spark.sql.catalyst.expressions.XxHash64Function
      import org.apache.spark.sql.types._
      dtype match {
        case "string" => XxHash64Function.hash(
          org.apache.spark.unsafe.types.UTF8String
            .fromString(k.asInstanceOf[String]), StringType, 42L)
        case "int" => XxHash64Function.hash(
          k.asInstanceOf[Long].toInt, IntegerType, 42L)
        case "date" => XxHash64Function.hash(
          k.asInstanceOf[Long].toInt, DateType, 42L)
        case "timestamp" => XxHash64Function.hash(
          k.asInstanceOf[Long], TimestampType, 42L)
        // decimal buckets hash the UNSCALED long as LongType — the
        // executor mirror hashes the same derived long column, so
        // the two sides agree by construction (hashing the Decimal
        // value directly would be type-dependent and unmirrorable)
        case _ => XxHash64Function.hash(
          k.asInstanceOf[Long], LongType, 42L)
      }
    }

    /** The transform as a codegen'd Column over the source column,
      * producing the partition-value key (long, or string for string
      * identity/truncate). Temporal math is UTC by construction
      * (epoch-day/epoch-micros arithmetic, never session-zone
      * year()/month() over raw timestamps).
      */
    def column: org.apache.spark.sql.Column = {
      def floorDivC(c: org.apache.spark.sql.Column, w: Long) =
        ((c - pmod(c, lit(w))) / lit(w)).cast("long")
      // decimal sources reduce to the UNSCALED long first (exact for
      // p ≤ 18); every transform then runs integral arithmetic on it,
      // mirroring the driver's applyKey over keyOfValue's unscaled key
      val src =
        if (TypedBounds.isDecimal(dtype))
          (col(source) * lit(TypedBounds.pow10(decScale))).cast("long")
        else col(source)
      lazy val days: org.apache.spark.sql.Column = dtype match {
        case "date" => datediff(src, to_date(lit("1970-01-01")))
          .cast("long")
        case _ => floorDivC(unix_micros(src), PartField.MicrosPerDay)
      }
      lazy val asDate: org.apache.spark.sql.Column = dtype match {
        case "date" => src
        case _ => date_from_unix_date(days.cast("int"))
      }
      transform match {
        case "identity" => dtype match {
          case "string" => src
          case "date" => datediff(src, to_date(lit("1970-01-01")))
            .cast("long")
          case "timestamp" => unix_micros(src)
          case _ => src.cast("long")
        }
        case "truncate" => dtype match {
          case "string" => substring(col(source), 1, param.toInt)
          case d if TypedBounds.isDecimal(d) =>
            // integral DIV over the derived unscaled long — inline the
            // derivation in SQL so DIV (exact long division; `/` would
            // round through double) applies to it
            val uns =
              s"CAST(`$source` * ${TypedBounds.pow10(decScale)}" +
                " AS BIGINT)"
            expr(s"(($uns) - pmod(($uns), ${param}L)) DIV ${param}L")
          case _ =>
            expr(s"(`$source` - pmod(`$source`, ${param}L)) DIV ${param}L")
        }
        case "bucket" => pmod(xxhash64(src), lit(param)).cast("long")
        case "days" => days
        case "hours" => floorDivC(unix_micros(src), PartField.MicrosPerHour)
        case "months" =>
          ((year(asDate) - 1970) * 12 + month(asDate) - 1).cast("long")
        case "years" => (year(asDate) - 1970).cast("long")
      }
    }

    /** Executor-side transform over the column's PHYSICAL value as an
      * InternalRow getter returns it (Int for int/date, Long for
      * long/timestamp, UTF8String for string) → the same key shape
      * [[applyKey]] produces. Bucket over strings hashes the
      * UTF8String bytes directly (what the `xxhash64(col)` expression
      * hashes), skipping a String round-trip per row.
      */
    def applyPhysical(raw: Any): Any = dtype match {
      case "string" =>
        val u = raw.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        if (transform == "bucket")
          Math.floorMod(
            org.apache.spark.sql.catalyst.expressions.XxHash64Function
              .hash(u, org.apache.spark.sql.types.StringType, 42L),
            param)
        else applyKey(u.toString)
      case "int" | "date" => applyKey(raw.asInstanceOf[Int].toLong)
      case d if TypedBounds.isDecimal(d) => applyKey(
        raw.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toUnscaledLong)
      case _ => applyKey(raw.asInstanceOf[Long])
    }

    /** Encode a computed partition-value key for manifest storage. */
    def encodeKey(k: Any): String = k match {
      case l: Long => l.toString
      case s: String => s
      case other => throw new IllegalArgumentException(
        s"partition value $other (${other.getClass.getName}) for " +
          s"$transform($source)")
    }
  }

  object PartField {
    val MicrosPerDay: Long = 86_400_000_000L
    val MicrosPerHour: Long = 3_600_000_000L
  }

  /** HIDDEN-partitioning spec (Iceberg-style): rows are grouped into
    * partition-pure files by the TUPLE of its [[PartField]]
    * transforms, the tuple is recorded PER FILE in the manifest, and
    * scans prune files from predicates on any SOURCE column — callers
    * never mention, see, or store the derived values. The data files
    * do not contain them (they live only in batch-directory names and
    * the manifest), so unlike Hive partitioning the layout is not
    * part of the schema, and queries that forget a partition column
    * still prune.
    *
    * One storage form for every spec, whatever its field count or
    * source types: the manifest records `part_sources/
    * part_transforms/part_params/part_dtypes` plus per-file
    * encoded-string tuples ([[PartKeys]]), and every commit, scan and
    * rewrite path handles the tuple. A single BIGINT field is one
    * [[PartKeys]] field with value dtype `long`.
    */
  final case class PartSpec(fields: Seq[PartField]) {
    require(fields.nonEmpty, "partition spec needs at least one field")
    require(fields.map(_.source).distinct.length == fields.length,
      s"partition spec repeats a source column: ${fields.map(_.source)}")

    /** The one-BIGINT-field shape the long-keyed APIs
      * ([[appendPartitioned]]'s range/key probes, [[overwriteWhere]],
      * [[deletePartitionRange]]) take: their bounds are source LONGs,
      * so they need exactly one field over a BIGINT source. A shape
      * test only — storage is the same [[PartKeys]] for every spec.
      */
    def singleLong: Boolean =
      fields.lengthCompare(1) == 0 && fields.head.dtype == "long"

    private def longField: PartField = {
      require(singleLong,
        s"this path supports only single-column BIGINT partition " +
          s"specs, got $describe")
      fields.head
    }

    def describe: String = fields.map(f => f.transform match {
      case "identity" => f.source
      case "bucket" | "truncate" => s"${f.transform}(${f.param}, ${f.source})"
      case t => s"$t(${f.source})"
    }).mkString("(", ", ", ")")

    // ---- single-BIGINT accessors (loud on any other shape)
    def source: String = longField.source
    def transform: String = longField.transform
    def param: Long = longField.param
    def monotone: Boolean = longField.monotone
    def apply(x: Long): Long = longField.applyKey(x).asInstanceOf[Long]
  }

  object PartSpec {
    /** The single-column BIGINT spec. */
    def apply(source: String, transform: String, param: Long): PartSpec =
      PartSpec(Seq(PartField(source, transform, param, "long")))
  }

  /** Per-file partition-value tuples: one encoded string per field
    * per file, flattened file-major. Decoded comparable keys
    * materialize lazily ONCE per instance (versions are cached per
    * (path, version); re-parsing per plan would be O(files × fields)
    * string work per query at scale).
    */
  final case class PartKeys(valueDtypes: IndexedSeq[String],
                            flat: IndexedSeq[String]) {
    require(valueDtypes.nonEmpty, "PartKeys without fields")
    require(flat.length % valueDtypes.length == 0,
      s"${flat.length} partition keys do not tile ${valueDtypes.length} " +
        "fields")
    def nFields: Int = valueDtypes.length
    def nFiles: Int = flat.length / nFields

    /** Encoded tuple of file i (a view, not a copy). */
    def row(i: Int): IndexedSeq[String] = {
      val o = i * nFields
      (0 until nFields).map(j => flat(o + j))
    }

    /** Decoded comparable key of (file i, field j). */
    def key(i: Int, j: Int): Any = keys(i * nFields + j)

    @transient lazy val keys: IndexedSeq[Any] =
      flat.indices.map(x =>
        TypedBounds.keyOfEncoded(valueDtypes(x % nFields), flat(x)))

    /** Per-file values of a single LONG-valued field — what the
      * long-keyed APIs of a [[PartSpec.singleLong]] spec compare. */
    @transient lazy val longs: IndexedSeq[Long] = {
      require(valueDtypes == IndexedSeq("long"),
        s"partition values of dtype(s) ${valueDtypes.mkString(", ")} " +
          "are not one LONG per file")
      keys.map(_.asInstanceOf[Long])
    }

    def slice(keepIdx: Seq[Int]): PartKeys =
      PartKeys(valueDtypes,
        keepIdx.iterator.flatMap(i =>
          (0 until nFields).map(j => flat(i * nFields + j))).toIndexedSeq)

    def ++(that: PartKeys): PartKeys = {
      require(valueDtypes == that.valueDtypes,
        "cannot extend partition keys across differing specs")
      PartKeys(valueDtypes, CatSeq.cat2(flat, that.flat).toIndexedSeq)
    }
  }

  object PartKeys {
    def empty(spec: PartSpec): PartKeys =
      PartKeys(spec.fields.map(_.valueDtype).toIndexedSeq,
        IndexedSeq.empty)
  }

  /** `schemaIds`/`schemaNames` — the VISIBLE schema at this version as
    * Iceberg-style (field-id, current-name) pairs in column order;
    * `epoch` — the naming epoch files are currently written under
    * (bumped by [[renameColumn]] and [[materializeSchema]], each epoch's
    * id→physical-name table persisted immutably as
    * `log/schema-e{E}.json`); `fileEpochs` — per file, the epoch it was
    * written under; `droppedIds` — ids dropped since the table was last
    * physically uniform. Absent on pre-upgrade tables (everything
    * degrades to the name-based behavior). `blooms` — every declared
    * bloom index in declaration order, one per column of the `bloomCol`
    * list (manifest arrays `bloom_cols`/`bloom_expecteds`/`bloom_fpps`).
    */
  final case class Version(version: Long, files: Seq[String], rows: Long,
                           stats: Option[Stats] = None,
                           fileRows: Option[Seq[Long]] = None,
                           fileBytes: Option[Seq[Long]] = None,
                           blooms: Seq[BloomConf] = Seq.empty,
                           txns: Map[String, Long] = Map.empty,
                           part: Option[PartSpec] = None,
                           committedMs: Long = 0L,
                           op: String = "",
                           dvFiles: Seq[String] = Seq.empty,
                           dvRows: Long = 0L,
                           schemaIds: Option[Seq[Long]] = None,
                           schemaNames: Option[Seq[String]] = None,
                           fileEpochs: Option[Seq[Long]] = None,
                           epoch: Long = 0L,
                           droppedIds: Seq[Long] = Seq.empty,
                           schemaMaxId: Long = 0L,
                           schemaAltered: Boolean = false,
                           colStats: Seq[ColStats] = Seq.empty,
                           addedTypes: Seq[(Long, String)] = Seq.empty,
                           // metadata-only ALTER COLUMN TYPE widening
                           // (int->long, float->double): the DECLARED
                           // widened type per field id — overrides the
                           // footer-derived type at resolution; old
                           // files upcast at read (parquet's widening
                           // decode / union coercion)
                           widenedTypes: Seq[(Long, String)] = Seq.empty,
                           segRefs: Option[Seq[SegRef]] = None,
                           // per-file partition tuples: set exactly
                           // when `part` is, for every spec shape
                           partKeys: Option[PartKeys] = None) {

    /** True when a raw name-based read of this version's files would
      * mis-merge: a rename or drop has happened since the table was
      * last physically uniform, so some live file carries a stale
      * physical name or a dropped column. Scans then resolve columns
      * BY FIELD ID per epoch group; rewrite ops require physical
      * uniformity ([[materializeSchema]]) instead. Pure ADDs bump the
      * naming epoch (the epoch table stays complete) but never set
      * this — add-only histories keep the single-scan mergeSchema
      * plan.
      */
    def needsResolve: Boolean = schemaIds.isDefined && schemaAltered
  }

  /** One reference from a SEGMENTED manifest header to an immutable
    * file-list segment (`log/seg-<nonce>.json`): the segment's name,
    * its ORIGINAL file count, and the original-position indices this
    * version has dropped from it. A version's live file list is the
    * concatenation of its segments' surviving entries in order —
    * commits that carry files forward re-reference the base's
    * segments (O(Δ) manifest bytes per commit however large the
    * table) instead of re-listing every file the way inline
    * manifests do.
    */
  final case class SegRef(name: String, size: Int, drops: Seq[Int]) {
    def liveIdx: Seq[Int] = {
      val d = drops.toSet
      (0 until size).filterNot(d)
    }
  }

  /** A parsed segment: per-file facts for its ORIGINAL slice, aligned
    * positionally. `csMins`/`csMaxs`/`csHas`/`csExact` are indexed by
    * the HEADER's typed-stats declaration order (segments carry no
    * column names, so ALTER RENAME stays metadata-only).
    */
  private final case class Segment(files: Seq[String], rows: Seq[Long],
                                   bytes: Seq[Long],
                                   epochs: Option[Seq[Long]],
                                   statsMin: Option[Seq[Long]],
                                   statsMax: Option[Seq[Long]],
                                   csMins: Seq[Seq[String]],
                                   csMaxs: Seq[Seq[String]],
                                   csHas: Seq[Seq[Boolean]],
                                   csExact: Seq[Seq[Boolean]],
                                   // partition tuples, flattened
                                   // file-major (nFields from the
                                   // header's spec)
                                   partKeys: Option[Seq[String]] = None,
                                   // per-column per-file null counts
                                   // (empty = written before they
                                   // existed — unknown)
                                   csNulls: Seq[Seq[Long]] = Seq.empty,
                                   // per-column per-file NDV sketches
                                   // (empty = written before they
                                   // existed — unknown)
                                   csKmv: Seq[Seq[String]] = Seq.empty)

  /** Per-file rows/bytes of a committed version, LOUDLY: a manifest
    * predating per-file facts cannot be mutated or extended without
    * silently corrupting the logical row count (rows = base + batch
    * needs base's per-file counts) — same contract compact() already
    * enforced. Read-only paths never need these.
    */
  private def rowsOf(ver: Version): Seq[Long] =
    if (ver.files.isEmpty) Seq.empty
    else ver.fileRows.getOrElse(throw new IllegalArgumentException(
      "manifest lacks per-file rows — recommit with this version"))

  private def bytesOf(ver: Version): Seq[Long] =
    if (ver.files.isEmpty) Seq.empty
    else ver.fileBytes.getOrElse(throw new IllegalArgumentException(
      "manifest lacks per-file bytes — recommit with this version"))

  /** Facts about one committed batch of data files, derived by reading
    * the WRITTEN files back (what a reader will actually observe,
    * whatever the committer renamed) plus one directory listing for
    * byte sizes. Everything is O(files in the batch) metadata.
    */
  private final case class Batch(files: Seq[String], rows: Seq[Long],
                                 bytes: Seq[Long], mins: Seq[Long],
                                 maxs: Seq[Long])

  private def logDir(path: String): String = s"$path/log"

  private def manifestPath(path: String, v: Long): String =
    s"${logDir(path)}/v$v.json"

  private def bloomIdxDir(path: String): String = s"$path/bloomidx"

  /** All metadata I/O routes through [[TableIo]], resolved from the
    * table-root string: plain paths → java.nio, URI-schemed paths →
    * Hadoop `FileSystem` — the data plane always goes through Spark.
    */
  private def io(path: String): TableIo = TableIo.forPath(path)

  private def nonce(): String =
    java.util.UUID.randomUUID().toString.take(12)

  // ------------------------------------------------ segmented manifests
  //
  // Above a file-count threshold, manifests switch from inline full
  // snapshots to a small HEADER (still one conditional-put v{N}.json —
  // the commit protocol is untouched) referencing immutable file-list
  // SEGMENTS (`log/seg-<nonce>.json`). A commit re-references the
  // base's segments for every carried file and writes one new segment
  // for its fresh files, so commit bytes are O(Δ), not O(table) — the
  // Delta-log/Iceberg-manifest economics a 100 TB table needs (a
  // million-file table must not rewrite a ~100 MB manifest to append
  // one batch). Reads stay one header + its segments, each cached
  // JVM-wide (segments are immutable), so repeated planning costs one
  // small read however long the history.
  //
  // Carry is DERIVED and SELF-VERIFYING, never declared: the renderer
  // matches the commit's file list against the base's by name and
  // reuses a base segment entry only when EVERY positional fact (rows,
  // bytes, layout stats, partition value, naming epoch, typed bounds)
  // is bit-equal to what the base recorded — anything else (stats
  // re-declaration, reordering, upgrades) falls back to writing a
  // full fresh segment. A wrong carry is therefore unrepresentable;
  // the worst a caller can cause is an O(files) segment write.

  /** File count at which manifests switch to segmented headers. Small
    * tables keep the inline single-read form (simpler, zero extra
    * RTTs); once a table crosses the threshold — or its base is
    * already segmented — commits write O(Δ) headers.
    */
  private def segThreshold: Int = confInt(
    "spark.graft.manifest.segmentThreshold", 512)

  /** Max segments per header before the renderer collapses the list
    * into one full segment (amortized O(Δ·maxSegments + files) — the
    * LSM trade every log-structured metadata design makes).
    */
  private def segMaxSegments: Int = confInt(
    "spark.graft.manifest.maxSegments", 64)

  /** A malformed value (e.g. 'abc') propagates as NumberFormatException
    * — silent fallback would mask operator misconfiguration; only the
    * no-active-session case falls back to the default.
    */
  private def confInt(key: String, dflt: Int): Int = {
    val raw =
      try SparkSession.active.conf.get(key, dflt.toString)
      catch { case scala.util.control.NonFatal(_) => dflt.toString }
    raw.toInt
  }

  /** A base segment whose drop list outgrew this bound is folded into
    * the commit's fresh segment instead of re-referenced — without
    * the cap, one big delete would repeat its drop indices in every
    * subsequent header forever (O(drops) per commit, not O(Δ)).
    */
  private def segDropCap(size: Int): Int = math.max(64, size / 10)

  /** Segment cache: immutable once written, so one parse per JVM. The
    * clear-at-capacity policy is deliberately dumb — segments are
    * small and re-parse is one readString + Jackson pass.
    */
  private val segCache =
    new java.util.concurrent.ConcurrentHashMap[String, Segment]()

  /** Drop every cached segment under `path` — for callers that delete
    * or rewrite a table root wholesale (RTAS replace, staged-table
    * re-addressing), where stale cache entries could otherwise serve
    * a dead table's file lists.
    */
  private[graft] def invalidateSegments(path: String): Unit = {
    // trailing separator: bare-prefix matching would also evict a
    // sibling table whose name extends this one (/wh/t1 vs /wh/t10)
    val prefix = io(path).canon(path).stripSuffix("/") + "/"
    val it = segCache.keySet().iterator()
    while (it.hasNext) if (it.next().startsWith(prefix)) it.remove()
  }

  private def readSegment(path: String, name: String): Segment = {
    val p = s"${logDir(path)}/$name"
    val key = io(path).canon(p)
    val hit = segCache.get(key)
    if (hit != null) return hit
    if (segCache.size > 512) segCache.clear()
    val seg = parseSegment(io(path).readString(p))
    segCache.put(key, seg)
    seg
  }

  /** Shared mapper: construction is the expensive part and readTree
    * is thread-safe.
    */
  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def parseSegment(json: String): Segment = {
    val n = jsonMapper.readTree(json)
    def node(f: String) = Option(n.get(f))
    def strs(f: String): Seq[String] = node(f).map(a =>
      (0 until a.size).map(a.get(_).asText()): Seq[String])
      .getOrElse(Seq.empty)
    def longs(f: String): Option[Seq[Long]] = node(f).map(a =>
      (0 until a.size).map(a.get(_).asLong()): Seq[Long])
    def nested[T](f: String, get: com.fasterxml.jackson.databind.JsonNode
        => T): Seq[Seq[T]] = node(f).map { outer =>
      (0 until outer.size).map { k =>
        val inner = outer.get(k)
        (0 until inner.size).map(j => get(inner.get(j))): Seq[T]
      }: Seq[Seq[T]]
    }.getOrElse(Seq.empty)
    Segment(strs("files"), longs("file_rows").getOrElse(Seq.empty),
      longs("file_bytes").getOrElse(Seq.empty),
      longs("file_epochs"),
      longs("stats_min"), longs("stats_max"),
      nested("cs_mins", _.asText()), nested("cs_maxs", _.asText()),
      nested("cs_has", _.asBoolean()), nested("cs_exact", _.asBoolean()),
      partKeys = node("part_keys").map(a =>
        (0 until a.size).map(a.get(_).asText()): Seq[String]),
      csNulls = nested("cs_nulls", _.asLong()),
      csKmv = nested("cs_kmv", _.asText()))
  }

  private def renderSegment(seg: Segment): String = {
    // ONE builder for the whole segment (r20): the field-by-field
    // mkString form built every array as its own String and then
    // concatenated them all again — 3× the bytes copied. Segment
    // writes are the incremental-collapse hot path, so the render is
    // append-only into a pre-sized builder.
    val sb = new java.lang.StringBuilder(64 + seg.files.length * 128)
    var first = true
    def key(name: String): Unit = {
      if (!first) sb.append(','); first = false
      sb.append('"').append(name).append("\":")
    }
    def qArr(name: String, xs: Seq[String]): Unit = {
      key(name); sb.append('[')
      var i = 0; val n = xs.length
      while (i < n) {
        if (i > 0) sb.append(',')
        Json.appendQuoted(sb, xs(i)); i += 1
      }
      sb.append(']')
    }
    def lArr(name: String, xs: Seq[Long]): Unit = {
      key(name); sb.append('[')
      var i = 0; val n = xs.length
      while (i < n) {
        if (i > 0) sb.append(','); sb.append(xs(i)); i += 1
      }
      sb.append(']')
    }
    def nest[T](name: String, vss: Seq[Seq[T]], one: T => Unit): Unit = {
      key(name); sb.append('[')
      var k = 0
      while (k < vss.length) {
        if (k > 0) sb.append(',')
        sb.append('[')
        val vs = vss(k)
        var i = 0; val n = vs.length
        while (i < n) {
          if (i > 0) sb.append(','); one(vs(i)); i += 1
        }
        sb.append(']'); k += 1
      }
      sb.append(']')
    }
    sb.append('{')
    qArr("files", seg.files)
    lArr("file_rows", seg.rows)
    lArr("file_bytes", seg.bytes)
    seg.epochs.foreach(lArr("file_epochs", _))
    seg.partKeys.foreach(qArr("part_keys", _))
    seg.statsMin.foreach(lArr("stats_min", _))
    seg.statsMax.foreach(lArr("stats_max", _))
    if (seg.csMins.nonEmpty) {
      nest[String]("cs_mins", seg.csMins, Json.appendQuoted(sb, _))
      nest[String]("cs_maxs", seg.csMaxs, Json.appendQuoted(sb, _))
      nest[Boolean]("cs_has", seg.csHas, sb.append(_))
      nest[Boolean]("cs_exact", seg.csExact, sb.append(_))
      if (seg.csNulls.nonEmpty)
        nest[Long]("cs_nulls", seg.csNulls, sb.append(_))
      if (seg.csKmv.nonEmpty)
        nest[String]("cs_kmv", seg.csKmv, Json.appendQuoted(sb, _))
    }
    sb.append('}').toString
  }

  /** Write a fresh segment under the table's log, returning its
    * SegRef. Create-exclusive under a nonce name — raced/abandoned
    * renders leave orphan segments no header references, swept by
    * [[vacuum]] under the same TTL as orphan data files.
    */
  private def writeSegment(path: String, seg: Segment): SegRef = {
    val name = s"seg-${nonce()}.json"
    io(path).createExclusive(s"${logDir(path)}/$name", renderSegment(seg))
    // the fresh segment is immediately hot — prime the cache
    segCache.put(io(path).canon(s"${logDir(path)}/$name"), seg)
    SegRef(name, seg.files.length, Seq.empty)
  }

  // ---------------------------------------------------- schema epochs

  private def epochFilePath(path: String, e: Long): String =
    s"${logDir(path)}/schema-e$e.json"

  /** Persist epoch `e`'s complete id→physical-name table, immutably:
    * create-exclusive, and a loser whose content matches the winner's
    * (a replayed commit) proceeds while a DIFFERENT naming for the
    * same epoch fails loudly — two concurrent schema changes cannot
    * both win.
    */
  private def writeEpochFile(path: String, e: Long, ids: Seq[Long],
                             names: Seq[String]): Unit = {
    val content = Json.obj(Seq(
      "epoch" -> e.toString,
      "ids" -> ids.mkString("[", ",", "]"),
      "names" -> names.map(Json.quote).mkString("[", ",", "]")))
    try io(path).createExclusive(epochFilePath(path, e), content)
    catch {
      case _: FileAlreadyExistsException =>
        require(io(path).readString(epochFilePath(path, e)) == content,
          s"conflicting schema epoch $e at $path — a concurrent schema " +
            "change committed a different naming; re-plan against the " +
            "new latest version")
    }
  }

  /** Epoch `e`'s id→physical-name table (O(1) small JSON read). */
  private def epochNaming(spark: SparkSession, path: String,
                          e: Long): Map[Long, String] = {
    val p = epochFilePath(path, e)
    require(io(path).exists(p),
      s"schema epoch $e of $path is missing — was log/ tampered with?")
    val r = spark.read.json(p).collect().head
    r.getAs[scala.collection.Seq[Long]]("ids")
      .zip(r.getAs[scala.collection.Seq[String]]("names")).toMap
  }

  /** Schema metadata for an append: first append assigns field ids
    * 1..C positionally (epoch 0); later appends reuse the base schema,
    * assigning FRESH ids (never recycling — `schemaMaxId` is the
    * fence) to new columns and bumping the naming epoch so the epoch
    * table stays complete for files written hereafter. Pre-upgrade
    * tables (no schema metadata in the base) stay name-based.
    */
  private def appendMeta(base: Version, path: String,
                         batchCols: Seq[String],
                         nNewFiles: Int): Option[SchemaMeta] = {
    if (base.files.isEmpty && base.schemaIds.isEmpty) {
      val ids = (1L to batchCols.length.toLong).toSeq
      writeEpochFile(path, 0L, ids, batchCols)
      Some(SchemaMeta(ids, batchCols, Seq.fill(nNewFiles)(0L), 0L,
        Seq.empty, batchCols.length.toLong, altered = false))
    } else base.schemaIds match {
      case None => None
      case Some(baseIds) =>
        val baseNames = base.schemaNames.get
        val known = baseNames.toSet
        val newCols = batchCols.filterNot(known)
        if (newCols.isEmpty)
          Some(SchemaMeta(baseIds, baseNames,
            CatSeq.cat2(base.fileEpochs.get,
              IndexedSeq.fill(nNewFiles)(base.epoch)),
            base.epoch, base.droppedIds, base.schemaMaxId,
            base.schemaAltered, base.addedTypes, base.widenedTypes))
        else {
          val newIds = ((base.schemaMaxId + 1) to
            (base.schemaMaxId + newCols.length)).toSeq
          val e = base.epoch + 1
          val ids = baseIds ++ newIds
          val names = baseNames ++ newCols
          writeEpochFile(path, e, ids, names)
          Some(SchemaMeta(ids, names,
            CatSeq.cat2(base.fileEpochs.get,
              IndexedSeq.fill(nNewFiles)(e)), e,
            base.droppedIds, base.schemaMaxId + newCols.length,
            base.schemaAltered, base.addedTypes, base.widenedTypes))
        }
    }
  }

  /** Rewrite ops read files by PHYSICAL column name (one merged scan):
    * sound only while the table is physically uniform. After a rename
    * or drop they fail loudly — [[materializeSchema]] is the rewrite
    * that restores uniformity.
    */
  private def requireUniform(ver: Version, opName: String): Unit =
    require(!ver.needsResolve,
      s"$opName reads files by physical column name, but the table " +
        s"carries schema ALTERs (naming epoch ${ver.epoch}" +
        (if (ver.droppedIds.nonEmpty)
          s", dropped ids ${ver.droppedIds.mkString(",")}" else "") +
        ") — run materializeSchema(...) first")

  /** Latest committed version, 0 if the table does not exist. */
  def latestVersion(path: String): Long = {
    var best = 0L
    io(path).listNames(logDir(path)).foreach { n =>
      if (n.startsWith("v") && n.endsWith(".json"))
        best = math.max(best, n.drop(1).dropRight(5).toLong)
    }
    best
  }

  /** AS OF TIMESTAMP resolution: the newest version whose manifest was
    * committed at or before `tsMillis` — `SELECT ... AS OF` by wall
    * clock, resolved against the commit times the manifests record
    * (not file mtimes, which copies and restores rewrite). A timestamp
    * before the first commit fails loudly: "the table as of then" was
    * nothing, and silently returning v1 would fabricate history. Scans
    * every manifest (O(versions) small JSON reads — the same trade as
    * [[expire]]) rather than binary-searching, so a clock that stepped
    * backwards between commits still resolves to the newest qualifying
    * version.
    */
  def versionAsOf(spark: SparkSession, path: String, tsMillis: Long): Long = {
    val latest = latestVersion(path)
    require(latest > 0, s"snapshot table $path does not exist")
    // a manifest without committed_ms (pre-upgrade table) carries NO
    // commit time — treating it as epoch 0 would resolve every
    // timestamp to it, fabricating AS OF history; skip it loudly
    val hits = (1L to latest)
      .filter(v => io(path).exists(manifestPath(path, v)))
      .map(v => v -> readVersion(spark, path, v).committedMs)
      .filter { case (_, ms) => ms > 0 && ms <= tsMillis }
    require(hits.nonEmpty,
      s"no version of $path with a recorded commit time existed at " +
        s"$tsMillis — first commit is later (pre-upgrade manifests " +
        "lack committed_ms and cannot resolve AS OF)")
    hits.map(_._1).max
  }

  /** DESCRIBE HISTORY: one row per surviving committed version — the
    * operation that produced it (APPEND/DELETE/OPTIMIZE/MERGE/RESTORE,
    * recorded in the manifest at commit time), its commit wall-clock,
    * and the state it left behind (row count, file count, total
    * bytes). O(versions) small manifest reads on the driver — the same
    * metadata trade as [[expire]] and [[versionAsOf]]; history is
    * manifests, never data. [[expire]]d versions simply don't appear.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    val latest = latestVersion(path)
    require(latest > 0, s"snapshot table $path does not exist")
    import spark.implicits._
    (1L to latest)
      .filter(v => io(path).exists(manifestPath(path, v)))
      .map { v =>
        val ver = readVersion(spark, path, v)
        (ver.version, ver.op, ver.committedMs, ver.rows,
          ver.files.length.toLong,
          ver.fileBytes.map(_.sum).getOrElse(0L))
      }.toDF("version", "op", "committed_ms", "rows", "n_files", "bytes")
      // pre-upgrade manifests carry no commit time: surface NULL, not
      // a fabricated epoch-0 wall clock
      .withColumn("committed_ms",
        when(col("committed_ms") === 0L, lit(null)).otherwise(
          col("committed_ms")))
  }

  def readVersion(spark: SparkSession, path: String, v: Long): Version = {
    val p = manifestPath(path, v)
    require(io(path).exists(p), s"snapshot table $path has no version $v")
    // Jackson, not spark.read.json: a manifest read is PLANNING-path
    // metadata — one small GET plus a driver-local parse, never a
    // Spark job (spark.read.json costs ~90 ms/job at local[32] and a
    // planning pass reads manifests dozens of times)
    val root = jsonMapper.readTree(io(path).readString(p))
    def has(c: String): Boolean = root.has(c)
    def jLong(c: String): Long = root.get(c).asLong()
    def jStr(c: String): String = root.get(c).asText()
    def longs(c: String): Option[Seq[Long]] =
      if (has(c)) {
        val a = root.get(c)
        Some((0 until a.size).map(a.get(_).asLong()): Seq[Long])
      } else None
    def strsOf(c: String): Seq[String] = {
      val a = root.get(c)
      (0 until a.size).map(a.get(_).asText())
    }
    // SEGMENTED header: materialize positional facts from the
    // referenced segments (each cached JVM-wide); scalar facts parse
    // from the header exactly like the inline form below
    val seg: Option[(Seq[SegRef], Seq[(SegRef, Segment)])] =
      if (has("seg_names")) {
        val names = strsOf("seg_names")
        val sizes = longs("seg_sizes").get
        val drops = strsOf("seg_drops")
        val refs = names.indices.map { i =>
          SegRef(names(i), sizes(i).toInt,
            if (drops(i).isEmpty) Seq.empty
            else drops(i).split(',').map(_.toInt).toSeq)
        }
        val loaded = refs.map(rf => (rf, readSegment(path, rf.name)))
        loaded.foreach { case (rf, sg) =>
          require(sg.files.length == rf.size,
            s"segment ${rf.name} holds ${sg.files.length} files, " +
              s"header of v$v says ${rf.size}")
        }
        Some((refs, loaded))
      } else None
    // hoist each segment's surviving-index list: 13 positional arrays
    // concatenate below, and liveIdx is O(segment) to rebuild. Results
    // materialize as IndexedSeq — everything downstream (pruning, the
    // next commit's carry verification) indexes them per element, and
    // a List here would be O(n²) at scale
    val segLive: Seq[(Segment, Seq[Int])] = seg.toSeq.flatMap(_._2)
      .map { case (rf, sg) => (sg, rf.liveIdx) }
    // LAZY stitch (r19): a version's positional facts are a [[CatSeq]]
    // of per-segment live views — O(segments) to build, not O(files),
    // which is what keeps readVersion (and so every commit's base
    // read) off the per-file cost curve at 1M files
    def cat[T](f: Segment => Seq[T]): IndexedSeq[T] =
      CatSeq.of(segLive.iterator.map { case (sg, li) =>
        CatSeq.view(f(sg).toIndexedSeq, li.toIndexedSeq)
      }.toIndexedSeq)
    def catOpt[T](f: Segment => Option[Seq[T]]): Option[IndexedSeq[T]] =
      if (segLive.nonEmpty && segLive.forall(s => f(s._1).isDefined))
        Some(CatSeq.of(segLive.iterator.map { case (sg, li) =>
          CatSeq.view(f(sg).get.toIndexedSeq, li.toIndexedSeq)
        }.toIndexedSeq))
      else None
    val stats =
      if (has("stats_col")) {
        if (seg.isDefined)
          Some(Stats(jStr("stats_col"),
            catOpt(_.statsMin).getOrElse(throw new IllegalStateException(
              s"v$v declares stats_col but a segment lacks bounds")),
            catOpt(_.statsMax).getOrElse(throw new IllegalStateException(
              s"v$v declares stats_col but a segment lacks bounds"))))
        else
          Some(Stats(jStr("stats_col"),
            longs("stats_min").get, longs("stats_max").get))
      } else None
    // the removed first-column-plus-extras encoding is never read as
    // "no index": merges and probes would silently stop pruning
    val oldBloomKeys = Seq("bloom_col", "bloom_cols_extra").filter(has)
    if (oldBloomKeys.nonEmpty)
      throw new IllegalStateException(
        s"snapshot table $path v$v records its bloom indexes in the " +
          s"removed first-column form (${oldBloomKeys.mkString("/")}) — " +
          "re-create the table")
    val blooms =
      if (has("bloom_cols")) {
        val cols = strsOf("bloom_cols")
        val exps = longs("bloom_expecteds").get
        val fpps = root.get("bloom_fpps")
        cols.indices.map(i =>
          BloomConf(cols(i), exps(i), fpps.get(i).asDouble()))
      } else Seq.empty[BloomConf]
    val txns =
      if (has("txn_writers"))
        strsOf("txn_writers").zip(longs("txn_batches").get).toMap
      else Map.empty[String, Long]
    // the removed single-BIGINT encoding is never read as
    // "unpartitioned": pruning and purity would silently vanish
    if (has("part_source"))
      throw new IllegalStateException(
        s"snapshot table $path v$v records its partition spec in the " +
          "removed single-BIGINT form (part_source/part_values) — " +
          "re-create the table")
    val part =
      if (has("part_sources")) {
        // four parallel field arrays
        val srcs = strsOf("part_sources")
        val trs = strsOf("part_transforms")
        val ps = longs("part_params").get
        val dts = strsOf("part_dtypes")
        Some(PartSpec(srcs.indices.map(k =>
          PartField(srcs(k), trs(k), ps(k), dts(k)))))
      } else None
    val colStats =
      if (seg.isDefined && has("cs_cols")) {
        // segmented: declaration (names/dtypes) in the header, bounds
        // concatenated from the segments' positional arrays
        val cols = strsOf("cs_cols")
        val dts = strsOf("cs_dtypes")
        cols.indices.map { k =>
          seg.get._2.foreach { case (rf, sg) =>
            require(sg.csMins.length == cols.length,
              s"segment ${rf.name} carries ${sg.csMins.length} typed-" +
                s"stats columns, header of v$v declares ${cols.length}")
          }
          ColStats(cols(k), dts(k), cat(_.csMins(k)), cat(_.csMaxs(k)),
            cat(_.csHas(k)), cat(_.csExact(k)),
            nulls =
              if (segLive.forall(_._1.csNulls.nonEmpty))
                cat(_.csNulls(k))
              else Seq.empty,
            kmv =
              if (segLive.forall(_._1.csKmv.nonEmpty))
                cat(_.csKmv(k))
              else Seq.empty)
        }
      } else if (has("col_stats")) {
        val arr = root.get("col_stats")
        (0 until arr.size).map { i =>
          val cr = arr.get(i)
          def sarr(f: String): Seq[String] = {
            val a = cr.get(f); (0 until a.size).map(a.get(_).asText())
          }
          def barr(f: String): Seq[Boolean] = {
            val a = cr.get(f); (0 until a.size).map(a.get(_).asBoolean())
          }
          ColStats(cr.get("col").asText(), cr.get("dtype").asText(),
            sarr("mins"), sarr("maxs"), barr("has"), barr("exact"),
            nulls =
              if (cr.has("nulls")) {
                val a = cr.get("nulls")
                (0 until a.size).map(a.get(_).asLong()): Seq[Long]
              } else Seq.empty,
            kmv = if (cr.has("kmv")) sarr("kmv") else Seq.empty)
        }
      } else Seq.empty
    val schemaIds = longs("schema_ids")
    // file naming epochs: positional — from segments when segmented.
    // A schema-carrying segmented manifest whose segments lack epochs
    // is corrupt; fail loudly rather than degrade to name resolution.
    val fileEpochs =
      if (seg.isDefined) {
        val e = catOpt(_.epochs)
        require(schemaIds.isEmpty || e.isDefined,
          s"v$v carries field-id schema but a segment lacks file_epochs")
        e
      } else longs("file_epochs")
    val partKeys: Option[PartKeys] = part.map { sp =>
      val vdts = sp.fields.map(_.valueDtype).toIndexedSeq
      val nF = vdts.length
      if (seg.isDefined) {
        // per-segment flat tuples, liveIdx selecting whole FILE groups
        val flat = segLive.iterator.flatMap { case (sg, li) =>
          val ks = sg.partKeys.getOrElse(throw new IllegalStateException(
            s"v$v is hidden-partitioned but a segment lacks part_keys"))
            .toIndexedSeq
          li.iterator.flatMap(i =>
            (0 until nF).map(j => ks(i * nF + j)))
        }.toIndexedSeq
        PartKeys(vdts, flat)
      } else PartKeys(vdts, strsOf("part_keys").toIndexedSeq)
    }
    Version(jLong("version"),
      if (seg.isDefined) cat(_.files) else strsOf("files"),
      jLong("rows"), stats,
      if (seg.isDefined) Some(cat(_.rows)) else longs("file_rows"),
      if (seg.isDefined) Some(cat(_.bytes)) else longs("file_bytes"),
      blooms, txns, part,
      if (has("committed_ms")) jLong("committed_ms") else 0L,
      if (has("op")) jStr("op") else "",
      if (has("dv_files")) strsOf("dv_files") else Seq.empty,
      if (has("dv_rows")) jLong("dv_rows") else 0L,
      schemaIds,
      if (has("schema_names")) Some(strsOf("schema_names")) else None,
      fileEpochs,
      if (has("epoch")) jLong("epoch") else 0L,
      longs("schema_dropped").getOrElse(Seq.empty),
      if (has("schema_max_id")) jLong("schema_max_id") else 0L,
      if (has("schema_altered")) root.get("schema_altered").asBoolean()
      else false,
      colStats,
      if (has("schema_added_ids"))
        longs("schema_added_ids").get.zip(strsOf("schema_added_types"))
      else Seq.empty,
      widenedTypes =
        if (has("schema_widened_ids"))
          longs("schema_widened_ids").get
            .zip(strsOf("schema_widened_types"))
        else Seq.empty,
      segRefs = seg.map(_._1),
      partKeys = partKeys)
  }

  // ------------------------------------------------------------ commit

  /** Field-id schema metadata carried by a manifest: the visible
    * (id, name) pairs, each file's naming epoch, the current epoch,
    * ids dropped since the table was last physically uniform, and —
    * for columns that entered by ALTER TABLE ADD COLUMN rather than
    * by data — the DECLARED type per field id (`addedTypes`): the one
    * fact no file footer can supply while the column has no
    * type-bearing file. Entries persist harmlessly after data
    * arrives (footer types take precedence at resolution).
    */
  private final case class SchemaMeta(ids: Seq[Long], names: Seq[String],
                                      fileEpochs: Seq[Long], epoch: Long,
                                      dropped: Seq[Long], maxId: Long,
                                      altered: Boolean,
                                      addedTypes: Seq[(Long, String)] =
                                        Seq.empty,
                                      widened: Seq[(Long, String)] =
                                        Seq.empty)

  /** Carry a version's schema metadata into its successor: kept files
    * keep their epochs, `nNew` rewritten/appended files get the
    * CURRENT epoch (they are written under the current naming).
    */
  private def carryMeta(ver: Version, keepIdx: Seq[Int],
                        nNew: Int): Option[SchemaMeta] =
    ver.schemaIds.map { ids =>
      val fe = ver.fileEpochs.get
      val kept =
        if (keepIdx == fe.indices) fe.toIndexedSeq else keepIdx.map(fe)
      SchemaMeta(ids, ver.schemaNames.get,
        CatSeq.cat2(kept, IndexedSeq.fill(nNew)(ver.epoch)), ver.epoch,
        ver.droppedIds, ver.schemaMaxId, ver.schemaAltered,
        ver.addedTypes, ver.widenedTypes)
    }

  /** Render the next version's manifest, choosing the storage form:
    * INLINE full snapshot below [[segThreshold]] files (one read, no
    * extra RTTs), SEGMENTED header above it or whenever the commit's
    * base already is (`seg` = the table path plus the base version the
    * commit was planned against; `path -> None` for first commits and
    * cross-table copies). Carry against the base is derived and
    * verified inside — see the segmented-manifests section doc.
    */
  private def renderManifest(v: Long, files: Seq[String], rows: Seq[Long],
                             bytes: Seq[Long], stats: Option[Stats],
                             // NO default: a path that forgot the bloom
                             // indexes would silently drop them from
                             // the successor manifest
                             blooms: Seq[BloomConf],
                             txns: Map[String, Long],
                             part: Option[PartSpec] = None,
                             op: String,
                             dvFiles: Seq[String] = Seq.empty,
                             dvRows: Long = 0L,
                             schema: Option[SchemaMeta],
                             // NO default: every commit path must say
                             // what happens to the typed stats — a
                             // defaulted Seq.empty would silently drop
                             // the whole index on any path that forgot
                             colStats: Seq[ColStats],
                             // NO default either: every commit path
                             // must say what base it planned against,
                             // or O(Δ) commits silently degrade to
                             // O(table) inline rewrites at scale
                             seg: (String, Option[Version]),
                             partKeys: Option[PartKeys] = None): String = {
    val (tpath, baseOpt) = seg
    // checked HERE so any commit path that forgot to thread the
    // tuples fails loudly at render, not as a silent unpartitioned
    // manifest
    require(part.isDefined == partKeys.isDefined,
      s"partition spec ${part.map(_.describe)} and per-file part_keys " +
        "must come together")
    val segmented = tpath.nonEmpty && files.nonEmpty &&
      (baseOpt.exists(_.segRefs.exists(_.nonEmpty)) ||
        files.length >= segThreshold)
    if (!segmented)
      renderInline(v, files, rows, bytes, stats, blooms, txns, part,
        op, dvFiles, dvRows, schema, colStats, partKeys)
    else
      renderSegmented(tpath, baseOpt, v, files, rows, bytes, stats,
        blooms, txns, part, op, dvFiles, dvRows, schema, colStats,
        partKeys)
  }

  /** Spec-visible counter of append-shape identity-carry commits —
    * pins that the O(Δ) fast path actually engages on the paths that
    * claim it (a silent fallback to the O(files) walk would only
    * surface as latency).
    */
  private[graft] val fastCarryHits =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Segmented header render: derive the carry against `baseOpt`,
    * write at most one fresh segment, and emit the O(Δ) header. See
    * the section doc for the self-verification contract.
    */
  private def renderSegmented(tpath: String, baseOpt: Option[Version],
                              v: Long, files0: Seq[String],
                              rows0: Seq[Long], bytes0: Seq[Long],
                              stats0: Option[Stats],
                              blooms: Seq[BloomConf],
                              txns: Map[String, Long],
                              part: Option[PartSpec],
                              op: String, dvFiles: Seq[String],
                              dvRows: Long, schema: Option[SchemaMeta],
                              colStats0: Seq[ColStats],
                              partKeys: Option[PartKeys])
      : String = {
    // EVERY positional array gets indexed per element below (carry
    // verification, fresh-segment extraction) — commit paths build
    // them with `++` which can yield List-backed Seqs, and per-element
    // List indexing is the O(n²) that turns a 20k-file commit into
    // seconds. Normalize once.
    val files = files0.toIndexedSeq
    val rows = rows0.toIndexedSeq
    val bytes = bytes0.toIndexedSeq
    val stats = stats0.map(st =>
      Stats(st.col, st.mins.toIndexedSeq, st.maxs.toIndexedSeq))
    // toIndexedSeq is identity on the commit paths' CatSeqs, so the
    // append-shape identity proof survives this normalization
    val colStats = colStats0.map(cs => ColStats(cs.col, cs.dtype,
      cs.mins.toIndexedSeq, cs.maxs.toIndexedSeq, cs.has.toIndexedSeq,
      cs.exact.toIndexedSeq, cs.nulls.toIndexedSeq,
      cs.kmv.toIndexedSeq))
    // the same positional-alignment guards renderInline enforces
    require(rows.length == files.length && bytes.length == files.length,
      s"per-file facts misaligned: ${rows.length} rows / " +
        s"${bytes.length} bytes for ${files.length} files")
    stats.foreach(st => require(st.mins.length == files.length &&
      st.maxs.length == files.length,
      s"layout stats carry ${st.mins.length} bounds for " +
        s"${files.length} files"))
    part.foreach(_ => require(partKeys.exists(_.nFiles == files.length),
      "partitioned manifest without per-file partition keys"))
    schema.foreach(sm => require(sm.fileEpochs.length == files.length,
      s"schema meta carries ${sm.fileEpochs.length} epochs for " +
        s"${files.length} files"))
    colStats.foreach { cs =>
      require(cs.mins.length == files.length &&
          cs.maxs.length == files.length &&
          cs.has.length == files.length &&
          cs.exact.length == files.length,
        s"typed stats of ${cs.col} carry ${cs.mins.length} bounds " +
          s"for ${files.length} files — a commit path mis-carried " +
          "the index")
    }
    val epochs: Option[IndexedSeq[Long]] =
      schema.map(_.fileEpochs.toIndexedSeq)
    // ---- APPEND-SHAPE identity carry (r19): when every positional
    // array is a two-part [[CatSeq]] whose FIRST part IS the base
    // version's own array (object identity), the carried region is
    // bit-identical to the committed base state BY CONSTRUCTION —
    // the arrays are immutable, identity implies equality, and there
    // is nothing left to verify per file. Commit CPU is then O(Δ)
    // like commit bytes: every base segment re-references verbatim
    // and only the fresh part is walked. Any mismatch falls through
    // to the general derivation below, which remains the
    // unrepresentability backstop for every other commit shape.
    val fastCarry: Option[(Seq[SegRef], Seq[Int], Seq[Int])] =
      baseOpt.filter(b => b.segRefs.exists(_.nonEmpty) &&
          b.fileRows.isDefined && b.fileBytes.isDefined)
        .flatMap { base =>
          import CatSeq.extendsBase
          val shapeOk =
            stats.isDefined == base.stats.isDefined &&
              part.isDefined == base.part.isDefined &&
              partKeys.isDefined == base.partKeys.isDefined &&
              epochs.isDefined == base.fileEpochs.isDefined &&
              colStats.length == base.colStats.length
          val ok = shapeOk &&
            extendsBase(files, base.files) &&
            extendsBase(rows, base.fileRows.get) &&
            extendsBase(bytes, base.fileBytes.get) &&
            stats.forall(st => base.stats.exists(bs =>
              extendsBase(st.mins, bs.mins) &&
                extendsBase(st.maxs, bs.maxs))) &&
            partKeys.forall(pk => base.partKeys.exists(bp =>
              extendsBase(pk.flat, bp.flat))) &&
            epochs.forall(e =>
              base.fileEpochs.exists(extendsBase(e, _))) &&
            colStats.zip(base.colStats).forall { case (a, b) =>
              a.dtype == b.dtype &&
                extendsBase(a.mins, b.mins) &&
                extendsBase(a.maxs, b.maxs) &&
                extendsBase(a.has, b.has) &&
                extendsBase(a.exact, b.exact) &&
                a.nulls.nonEmpty == b.nulls.nonEmpty &&
                (a.nulls.isEmpty || extendsBase(a.nulls, b.nulls)) &&
                a.kmv.nonEmpty == b.kmv.nonEmpty &&
                (a.kmv.isEmpty || extendsBase(a.kmv, b.kmv))
            }
          if (!ok) None
          else {
            fastCarryHits.incrementAndGet()
            Some((base.segRefs.get,
              0 until base.files.length,
              base.files.length until files.length))
          }
        }
    // ---- derive the carry: (re-referenced base segments, indices of
    // carried files in caller order, indices going into the fresh
    // segment). Any verification miss → everything fresh.
    val carry: Option[(Seq[SegRef], Seq[Int], Seq[Int])] =
      if (fastCarry.isDefined) fastCarry else
      baseOpt.filter(b => b.segRefs.exists(_.nonEmpty) &&
          b.fileRows.isDefined && b.fileBytes.isDefined)
        .flatMap { base =>
          val refs = base.segRefs.get
          // the APPEND shape — the commit built its list as
          // `base.files ++ batch` — matches by REFERENCE for the
          // whole prefix: detect it without hashing 200k file-name
          // strings into a map (the dominant per-commit driver cost
          // at scale; measured 52 → 437 ms/commit growth across a
          // 200k-file build before this path)
          val baseFiles = base.files
          val prefixLen = {
            var i = 0
            val n = math.min(files.length, baseFiles.length)
            while (i < n && (files(i).asInstanceOf[AnyRef] eq
                baseFiles(i).asInstanceOf[AnyRef])) i += 1
            i
          }
          val pairs: IndexedSeq[(Int, Int)] =
            if (prefixLen == baseFiles.length)
              baseFiles.indices.map(i => (i, i))
            else {
              val posOf = baseFiles.zipWithIndex.toMap
              files.indices.flatMap(i =>
                posOf.get(files(i)).map(p => (i, p)))
            }
          val basePos = pairs.map(_._2)
          val ascending = basePos.indices.drop(1)
            .forall(j => basePos(j - 1) < basePos(j))
          val shapeOk =
            stats.isDefined == base.stats.isDefined &&
              part.isDefined == base.part.isDefined &&
              partKeys.isDefined == base.partKeys.isDefined &&
              epochs.isDefined == base.fileEpochs.isDefined &&
              colStats.length == base.colStats.length
          if (pairs.isEmpty || !ascending || !shapeOk) None
          else {
            val bRows = base.fileRows.get
            val bBytes = base.fileBytes.get
            // string facts carried by `++` are the SAME objects —
            // reference-first equality keeps this pass cheap at 200k
            // files without weakening it (eq implies ==)
            def sEq(a: String, b: String): Boolean =
              (a.asInstanceOf[AnyRef] eq b.asInstanceOf[AnyRef]) ||
                a == b
            val factsEqual = pairs.forall { case (i, p) =>
              rows(i) == bRows(p) && bytes(i) == bBytes(p) &&
                stats.forall(st => st.mins(i) == base.stats.get.mins(p) &&
                  st.maxs(i) == base.stats.get.maxs(p)) &&
                partKeys.forall(pk =>
                  pk.row(i) == base.partKeys.get.row(p)) &&
                epochs.forall(e => e(i) == base.fileEpochs.get(p)) &&
                colStats.indices.forall { k =>
                  val a = colStats(k); val b = base.colStats(k)
                  a.dtype == b.dtype && sEq(a.mins(i), b.mins(p)) &&
                    sEq(a.maxs(i), b.maxs(p)) && a.has(i) == b.has(p) &&
                    a.exact(i) == b.exact(p) &&
                    // null counts must agree in PRESENCE and value —
                    // a carry across an unknown/known boundary would
                    // fabricate or drop counts
                    a.nulls.nonEmpty == b.nulls.nonEmpty &&
                    (a.nulls.isEmpty || a.nulls(i) == b.nulls(p))
                }
            }
            if (!factsEqual) None
            else {
              // base position -> (segment index, original local index)
              val posToSeg = refs.zipWithIndex.flatMap { case (rf, si) =>
                rf.liveIdx.map(li => (si, li))
              }.toIndexedSeq
              require(posToSeg.length == base.files.length,
                s"segments of v${base.version} materialize " +
                  s"${posToSeg.length} files, manifest says " +
                  s"${base.files.length}")
              val keptBySeg = Array.fill(refs.length)(
                scala.collection.mutable.Set.empty[Int])
              pairs.foreach { case (_, p) =>
                val (si, li) = posToSeg(p); keptBySeg(si) += li
              }
              // fully-dead segments vanish; over-dropped segments fold
              // their survivors into the fresh segment (drop-cap);
              // everything else re-references
              val fold = scala.collection.mutable.Set.empty[Int]
              val newRefs = refs.zipWithIndex.flatMap { case (rf, si) =>
                val kept = keptBySeg(si)
                if (kept.isEmpty) None
                else {
                  val drops = (0 until rf.size).filterNot(kept)
                  if (drops.length > segDropCap(rf.size)) {
                    fold += si; None
                  } else Some(SegRef(rf.name, rf.size, drops))
                }
              }
              val keptIdx = pairs.collect {
                case (i, p) if !fold(posToSeg(p)._1) => i
              }
              val foldIdx = pairs.collect {
                case (i, p) if fold(posToSeg(p)._1) => i
              }
              val matched = pairs.map(_._1).toSet
              val freshIdx = files.indices.filterNot(matched)
              Some((newRefs, keptIdx, foldIdx ++ freshIdx))
            }
          }
        }
    val (carriedRefs, carriedIdx, freshIdx) =
      carry.getOrElse((Seq.empty[SegRef], Seq.empty[Int],
        files.indices: Seq[Int]))
    def segOf(idx0: Seq[Int]): Segment = {
      // IndexedSeq throughout: this instance also PRIMES the segment
      // cache (writeSegment), and readers index its fields per
      // element — a List here (e.g. an `empty ++ Range` concat from
      // the no-carry path) made warm reads O(n²)
      val idx = idx0.toIndexedSeq
      Segment(
        idx.map(files), idx.map(rows), idx.map(bytes),
        epochs.map(e => idx.map(e)),
        stats.map(st => idx.map(st.mins)),
        stats.map(st => idx.map(st.maxs)),
        colStats.map(cs => idx.map(cs.mins)),
        colStats.map(cs => idx.map(cs.maxs)),
        colStats.map(cs => idx.map(cs.has)),
        colStats.map(cs => idx.map(cs.exact)),
        partKeys = partKeys.map(pk =>
          idx.flatMap(i => pk.row(i)): Seq[String]),
        csNulls =
          if (colStats.forall(_.nulls.nonEmpty))
            colStats.map(cs => idx.map(cs.nulls))
          else Seq.empty,
        csKmv =
          if (colStats.forall(_.kmv.nonEmpty))
            colStats.map(cs => idx.map(cs.kmv))
          else Seq.empty)
    }
    // adjacent ranges join into one Range (the append shape yields
    // [0,k) ++ [k,n) — keeping it a Range keeps the uniqueness check
    // below O(1) instead of an O(files) set build per commit)
    def joinIdx(a: Seq[Int], b: Seq[Int]): Seq[Int] = (a, b) match {
      case (ar: Range, br: Range) if ar.step == 1 && br.step == 1 &&
          ar.end == br.start => ar.start until br.end
      case _ => a ++ b
    }
    // ---- INCREMENTAL collapse (r20): over the segment cap, merge
    // ONE adjacent run of small pieces (the fresh batch counts as the
    // virtual tail piece) within a per-commit ENTRY BUDGET, instead
    // of rewriting every live file into a single segment. The full
    // collapse made the over-cap commit O(table) — the one commit in
    // 64 that cost seconds at a million files; the budgeted merge
    // bounds every commit at max(32k, 2·files/maxSegments) entries
    // (LSM tiering), so the tail flattens to ~budget/table of the old
    // spike while the amortized cost stays O(Δ·log). Order is
    // preserved (only ADJACENT pieces merge), so the header's live
    // list — carried ++ fresh — is unchanged; carry verification is
    // untouched (the merged segment's facts come from the SAME
    // verified arrays).
    def collapseIncremental(): (Seq[SegRef], Seq[Int]) = {
      val ci = carriedIdx.toIndexedSeq // Range on the fast path: O(1)
      val pieces = scala.collection.mutable.ArrayBuffer
        .empty[(Option[SegRef], IndexedSeq[Int])]
      var off = 0
      carriedRefs.foreach { rf =>
        val live = rf.size - rf.drops.length
        pieces += ((Some(rf), ci.slice(off, off + live)))
        off += live
      }
      require(off == ci.length,
        s"carried segments cover $off files, carry says ${ci.length}")
      if (freshIdx.nonEmpty)
        pieces += ((None, freshIdx.toIndexedSeq))
      // equilibrium needs B ≥ files/(cap − tail-smalls); 1.5×/cap
      // leaves ~20 slots of headroom at any size while keeping the
      // merge spike ~B/files of the old full collapse
      val budget = math.max(
        confInt("spark.graft.manifest.collapseBudget", 32768),
        3 * files.length / (2 * segMaxSegments))
      // rightmost maximal adjacent run with total ≤ budget (appends
      // pile small segments at the tail, so the rightmost run is the
      // natural target and usually swallows the fresh batch too)
      var hi = pieces.length - 1
      var lo = -1
      while (hi >= 1 && lo < 0) {
        var j = hi
        var tot = pieces(j)._2.length
        while (j > 0 && tot + pieces(j - 1)._2.length <= budget) {
          j -= 1; tot += pieces(j)._2.length
        }
        if (j < hi) lo = j else hi -= 1
      }
      val (mLo, mHi) =
        if (lo >= 0) (lo, hi)
        else {
          // every adjacent pair exceeds the budget (near-uniform huge
          // segments): the cap is a read-RTT contract and wins — merge
          // the smallest adjacent pair, still ~2·files/maxSegments
          val p = (0 until pieces.length - 1).minBy(k =>
            pieces(k)._2.length + pieces(k + 1)._2.length)
          (p, p + 1)
        }
      val mergedIdx: IndexedSeq[Int] =
        (mLo to mHi).iterator.flatMap(pieces(_)._2).toIndexedSeq
      val out = scala.collection.mutable.ArrayBuffer.empty[SegRef]
      var k = 0
      while (k < pieces.length) {
        if (k == mLo) {
          out += writeSegment(tpath, segOf(mergedIdx))
          k = mHi + 1
        } else {
          out += pieces(k)._1.getOrElse(
            writeSegment(tpath, segOf(pieces(k)._2)))
          k += 1
        }
      }
      (out.toSeq, joinIdx(carriedIdx, freshIdx))
    }
    val wantSegs = carriedRefs.length + (if (freshIdx.nonEmpty) 1 else 0)
    val (finalRefs, headerIdx) =
      if (carriedRefs.isEmpty) {
        // first segmented commit (or a carry miss): one full segment
        val order = joinIdx(carriedIdx, freshIdx)
        (Seq(writeSegment(tpath, segOf(order))), order)
      } else if (wantSegs > segMaxSegments) collapseIncremental()
      else if (freshIdx.nonEmpty)
        (carriedRefs :+ writeSegment(tpath, segOf(freshIdx)),
          joinIdx(carriedIdx, freshIdx))
      else (carriedRefs, carriedIdx)
    headerIdx match {
      case r: Range if r.step == 1 =>
        require(r.start == 0 && r.length == files.length,
          s"segment render lost files: $r of ${files.length}")
      case idx =>
        require(idx.length == files.length && {
          val bs = new java.util.BitSet(files.length)
          idx.forall { i => val fresh = !bs.get(i); bs.set(i); fresh }
        }, s"segment render lost files: ${idx.length} of " +
          s"${files.length}")
    }
    // physical row total: on the identity-carry path the base's
    // recorded total is exact (rows = physical − dv at render, so
    // physical = rows + dv) and only the fresh part sums — the last
    // per-file O(files) pass a pure append paid
    val physRows =
      if (fastCarry.isDefined)
        baseOpt.get.rows + baseOpt.get.dvRows +
          CatSeq.freshPart(rows).sum
      else rows.sum
    // ---- the O(Δ) header: scalar facts + segment references
    val fields = scala.collection.mutable.ArrayBuffer(
      "version" -> v.toString,
      "op" -> Json.quote(op),
      "committed_ms" -> System.currentTimeMillis().toString,
      "rows" -> (physRows - dvRows).toString,
      "seg_names" -> finalRefs.map(rf => Json.quote(rf.name))
        .mkString("[", ",", "]"),
      "seg_sizes" -> finalRefs.map(_.size).mkString("[", ",", "]"),
      "seg_drops" -> finalRefs.map(rf =>
        Json.quote(rf.drops.mkString(","))).mkString("[", ",", "]"))
    stats.foreach(st => fields += "stats_col" -> Json.quote(st.col))
    fields ++= bloomFields(blooms)
    if (txns.nonEmpty) {
      val ts = txns.toSeq.sortBy(_._1)
      fields += "txn_writers" -> ts.map(t => Json.quote(t._1))
        .mkString("[", ",", "]")
      fields += "txn_batches" -> ts.map(_._2).mkString("[", ",", "]")
    }
    if (dvFiles.nonEmpty) {
      fields += "dv_files" -> dvFiles.map(Json.quote)
        .mkString("[", ",", "]")
      fields += "dv_rows" -> dvRows.toString
    }
    schema.foreach { sm =>
      fields += "schema_ids" -> sm.ids.mkString("[", ",", "]")
      fields += "schema_names" -> sm.names.map(Json.quote)
        .mkString("[", ",", "]")
      fields += "epoch" -> sm.epoch.toString
      fields += "schema_max_id" -> sm.maxId.toString
      fields += "schema_altered" -> sm.altered.toString
      if (sm.dropped.nonEmpty)
        fields += "schema_dropped" -> sm.dropped.mkString("[", ",", "]")
      if (sm.addedTypes.nonEmpty) {
        val ts = sm.addedTypes.sortBy(_._1)
        fields += "schema_added_ids" -> ts.map(_._1)
          .mkString("[", ",", "]")
        fields += "schema_added_types" -> ts.map(t => Json.quote(t._2))
          .mkString("[", ",", "]")
      }
      if (sm.widened.nonEmpty) {
        val ws = sm.widened.sortBy(_._1)
        fields += "schema_widened_ids" -> ws.map(_._1)
          .mkString("[", ",", "]")
        fields += "schema_widened_types" -> ws.map(w => Json.quote(w._2))
          .mkString("[", ",", "]")
      }
    }
    part.foreach(fields ++= specFields(_))
    if (colStats.nonEmpty) {
      fields += "cs_cols" -> colStats.map(c => Json.quote(c.col))
        .mkString("[", ",", "]")
      fields += "cs_dtypes" -> colStats.map(c => Json.quote(c.dtype))
        .mkString("[", ",", "]")
    }
    Json.obj(fields)
  }

  /** A partition spec's JSON fields — four parallel per-field arrays,
    * shared by manifests and the CREATE TABLE marker. */
  private[graft] def specFields(p: PartSpec): Seq[(String, String)] = Seq(
    "part_sources" -> p.fields.map(f => Json.quote(f.source))
      .mkString("[", ",", "]"),
    "part_transforms" -> p.fields.map(f => Json.quote(f.transform))
      .mkString("[", ",", "]"),
    "part_params" -> p.fields.map(_.param).mkString("[", ",", "]"),
    "part_dtypes" -> p.fields.map(f => Json.quote(f.dtype))
      .mkString("[", ",", "]"))

  /** The bloom declaration's JSON fields — three parallel per-index
    * arrays, shared by the inline and segmented forms; none when the
    * table declares no index. */
  private def bloomFields(blooms: Seq[BloomConf]): Seq[(String, String)] =
    if (blooms.isEmpty) Seq.empty
    else Seq(
      "bloom_cols" -> blooms.map(b => Json.quote(b.col))
        .mkString("[", ",", "]"),
      "bloom_expecteds" -> blooms.map(_.expectedPerFile)
        .mkString("[", ",", "]"),
      "bloom_fpps" -> blooms.map(_.fpp).mkString("[", ",", "]"))

  private def renderInline(v: Long, files: Seq[String], rows: Seq[Long],
                           bytes: Seq[Long], stats: Option[Stats],
                           blooms: Seq[BloomConf],
                           txns: Map[String, Long],
                           part: Option[PartSpec],
                           op: String,
                           dvFiles: Seq[String],
                           dvRows: Long,
                           schema: Option[SchemaMeta],
                           colStats: Seq[ColStats],
                           partKeys: Option[PartKeys])
      : String = {
    val fields = scala.collection.mutable.ArrayBuffer(
      "version" -> v.toString,
      "op" -> Json.quote(op),
      "committed_ms" -> System.currentTimeMillis().toString,
      // LOGICAL row count: physical file rows minus DV-deleted rows
      // (file_rows stay physical — they describe the files, not the
      // table; scans assert against the logical count)
      "rows" -> (rows.sum - dvRows).toString,
      "files" -> files.map(Json.quote).mkString("[", ",", "]"),
      "file_rows" -> rows.mkString("[", ",", "]"),
      "file_bytes" -> bytes.mkString("[", ",", "]"))
    stats.foreach { st =>
      fields += "stats_col" -> Json.quote(st.col)
      fields += "stats_min" -> st.mins.mkString("[", ",", "]")
      fields += "stats_max" -> st.maxs.mkString("[", ",", "]")
    }
    fields ++= bloomFields(blooms)
    if (txns.nonEmpty) {
      // sorted for byte-deterministic manifests
      val ts = txns.toSeq.sortBy(_._1)
      fields += "txn_writers" -> ts.map(t => Json.quote(t._1))
        .mkString("[", ",", "]")
      fields += "txn_batches" -> ts.map(_._2).mkString("[", ",", "]")
    }
    if (dvFiles.nonEmpty) {
      fields += "dv_files" -> dvFiles.map(Json.quote)
        .mkString("[", ",", "]")
      fields += "dv_rows" -> dvRows.toString
    }
    schema.foreach { sm =>
      require(sm.fileEpochs.length == files.length,
        s"schema meta carries ${sm.fileEpochs.length} epochs for " +
          s"${files.length} files")
      fields += "schema_ids" -> sm.ids.mkString("[", ",", "]")
      fields += "schema_names" -> sm.names.map(Json.quote)
        .mkString("[", ",", "]")
      fields += "file_epochs" -> sm.fileEpochs.mkString("[", ",", "]")
      fields += "epoch" -> sm.epoch.toString
      fields += "schema_max_id" -> sm.maxId.toString
      fields += "schema_altered" -> sm.altered.toString
      if (sm.dropped.nonEmpty)
        fields += "schema_dropped" -> sm.dropped.mkString("[", ",", "]")
      if (sm.addedTypes.nonEmpty) {
        val ts = sm.addedTypes.sortBy(_._1)
        fields += "schema_added_ids" -> ts.map(_._1)
          .mkString("[", ",", "]")
        fields += "schema_added_types" -> ts.map(t => Json.quote(t._2))
          .mkString("[", ",", "]")
      }
      if (sm.widened.nonEmpty) {
        val ws = sm.widened.sortBy(_._1)
        fields += "schema_widened_ids" -> ws.map(_._1)
          .mkString("[", ",", "]")
        fields += "schema_widened_types" -> ws.map(w => Json.quote(w._2))
          .mkString("[", ",", "]")
      }
    }
    part.foreach { p =>
      val pk = partKeys.getOrElse(throw new IllegalStateException(
        "partitioned manifest without per-file partition keys"))
      require(pk.nFiles == files.length,
        s"${pk.nFiles} partition tuples for ${files.length} files")
      fields ++= specFields(p)
      fields += "part_keys" -> pk.flat.map(Json.quote)
        .mkString("[", ",", "]")
    }
    if (colStats.nonEmpty) {
      colStats.foreach { cs =>
        require(cs.mins.length == files.length &&
            cs.maxs.length == files.length &&
            cs.has.length == files.length &&
            cs.exact.length == files.length,
          s"typed stats of ${cs.col} carry ${cs.mins.length} bounds " +
            s"for ${files.length} files — a commit path mis-carried " +
            "the index")
      }
      fields += "col_stats" -> colStats.map(cs => Json.obj(Seq(
        "col" -> Json.quote(cs.col),
        "dtype" -> Json.quote(cs.dtype),
        "mins" -> cs.mins.map(Json.quote).mkString("[", ",", "]"),
        "maxs" -> cs.maxs.map(Json.quote).mkString("[", ",", "]"),
        "has" -> cs.has.mkString("[", ",", "]"),
        "exact" -> cs.exact.mkString("[", ",", "]")) ++
        (if (cs.nulls.length == files.length)
          Seq("nulls" -> cs.nulls.mkString("[", ",", "]"))
        else Seq.empty) ++
        (if (cs.kmv.length == files.length)
          Seq("kmv" -> cs.kmv.map(Json.quote).mkString("[", ",", "]"))
        else Seq.empty)))
        .mkString("[", ",", "]")
    }
    Json.obj(fields)
  }

  /** Conditional put of `v{N}.json`: write to a unique temp name, then
    * hard-link it to the manifest name — `createLink` is atomic and
    * FAILS (never replaces) when the target exists, surfacing a racing
    * writer's earlier commit as [[FileAlreadyExistsException]]. This is
    * the property a plain rename lacks: POSIX rename silently replaces,
    * which would let two writers that both computed prev+1 discard one
    * another's committed version.
    */
  private def commitExclusive(path: String, v: Long,
                              manifest: String): Unit =
    io(path).createExclusive(manifestPath(path, v), manifest)

  // ------------------------------------------------------------- batch

  /** Write `df` as a new immutable batch under a unique directory and
    * derive its per-file facts. `statsCol`-laid-out batches are range-
    * partitioned and sorted so file min/max stay tight (stats only
    * prune when files hold tight ranges; a date-ish column arrives
    * nearly sorted anyway).
    */
  private def writeBatch(df: DataFrame, path: String, numPartitions: Int,
                         statsCol: Option[String]): Batch = {
    val spark = df.sparkSession
    val batchDir = s"$path/files/batch-${nonce()}"
    val laidOut = statsCol match {
      case Some(c) => df.repartitionByRange(numPartitions, col(c))
        .sortWithinPartitions(c)
      case None => df.repartition(numPartitions)
    }
    laidOut.write.mode("errorifexists").parquet(batchDir)
    enforceConstraints(spark, path, batchDir)
    batchFacts(spark, batchDir, statsCol)
  }

  // ------------------------------------------------------- constraints

  final case class Constraint(name: String, expr: String)

  /** Declare CHECK constraints (Delta-style invariants) for a table:
    * every subsequent data-INGESTING commit — [[append]],
    * [[appendPartitioned]], [[merge]] — validates the WRITTEN batch
    * (what readers will actually observe, after any cast or truncation
    * the write path applied) and ABORTS on violation: the batch
    * directory is wiped, nothing is referenced, the table stays at its
    * prior version, and the error names each violated constraint with
    * its violating-row count. SQL CHECK semantics: a row violates only
    * when the expression evaluates to FALSE — NULL passes, so
    * `x IS NOT NULL` is itself an expressible constraint. Validation
    * is ONE aggregate over the just-written batch — O(batch), never
    * O(table), reading files the facts pass leaves page-cache-warm.
    * Rewrite-only commits (delete, compact, recluster, restore) skip
    * validation: their rows were validated when ingested.
    */
  def setConstraints(path: String, cs: Seq[Constraint]): Unit = {
    require(cs.nonEmpty, "declare at least one constraint")
    val json = cs.map(c => Json.obj(Seq(
      "name" -> Json.quote(c.name), "expr" -> Json.quote(c.expr))))
      .mkString("\n")
    io(path).write(s"$path/constraints.json", json)
  }

  def constraintsOf(spark: SparkSession, path: String): Seq[Constraint] = {
    val p = s"$path/constraints.json"
    if (!io(path).exists(p)) return Seq.empty
    spark.read.json(p).collect().toSeq
      .map(r => Constraint(r.getAs[String]("name"),
        r.getAs[String]("expr")))
  }

  private def enforceConstraints(spark: SparkSession, path: String,
                                 batchDir: String): Unit =
    enforceConstraintsOn(spark, path, Seq(batchDir))

  /** Constraint validation over explicit file paths — the DSv2
    * row-level write stages files individually rather than under one
    * batch directory. Violations wipe the STAGED files (unreferenced
    * by any manifest) and abort.
    */
  private[graft] def enforceConstraintsOn(spark: SparkSession,
                                          path: String,
                                          files: Seq[String]): Unit = {
    val cs = constraintsOf(spark, path)
    if (cs.isEmpty || files.isEmpty) return
    val df = spark.read.parquet(files: _*)
    val aggs = cs.map(c =>
      sum(when(expr(c.expr) === false, 1L).otherwise(0L)).as(c.name))
    val r = df.agg(aggs.head, aggs.drop(1): _*).collect().head
    val bad = cs.zipWithIndex
      .map { case (c, i) => c -> (if (r.isNullAt(i)) 0L else r.getLong(i)) }
      .filter(_._2 > 0)
    if (bad.nonEmpty) {
      // the staged files are unreferenced by any manifest: wipe them
      // so the aborted commit leaves nothing for vacuum to sweep
      files.foreach { f =>
        val fio = io(f)
        if (fio.isDirectory(f)) fio.deleteDir(f) else fio.delete(f)
      }
      throw new IllegalArgumentException(
        "constraint violation, commit aborted: " + bad.map { case (c, n) =>
          s"${c.name} (CHECK ${c.expr}) violated by $n row(s)"
        }.mkString("; "))
    }
  }

  private def batchFacts(spark: SparkSession, batchDir: String,
                         statsCol: Option[String]): Batch = {
    val perFile = spark.read.parquet(batchDir)
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("n"),
        statsCol.map(c => min(col(c)).cast("long").as("mn"))
          .getOrElse(max(lit(0L)).as("mn")),
        statsCol.map(c => max(col(c)).cast("long").as("mx"))
          .getOrElse(max(lit(0L)).as("mx")))
      .collect().sortBy(_.getString(0)) // O(batch files) metadata
    val bio = io(batchDir)
    val batchRoot = bio.canon(batchDir)
    val sizes: Map[String, Long] = bio.walkFiles(batchDir)
      .filter(e => e.name.endsWith(".parquet") && !e.name.startsWith("."))
      .map(e => bio.canon(e.path).stripPrefix(batchRoot)
        .stripPrefix("/") -> e.size)
      .toMap
    def sizeOf(f: String): Long = {
      val rel = bio.canon(f).stripPrefix(batchRoot).stripPrefix("/")
      sizes.getOrElse(rel,
        throw new IllegalStateException(s"written file vanished: $f"))
    }
    Batch(perFile.map(_.getString(0)).toSeq,
      perFile.map(_.getLong(1)).toSeq,
      perFile.map(r => sizeOf(r.getString(0))).toSeq,
      perFile.map(_.getLong(2)).toSeq,
      perFile.map(_.getLong(3)).toSeq)
  }

  /** A bloom declaration names one column or a comma-separated LIST
    * ('doc_id' / 'doc_id,url'), parsed to [[Version.blooms]] in
    * declaration order — each column gets its own per-file filters,
    * maintained by the same write paths. Empty = no declaration.
    */
  private def parseBloomDecl(bloomCol: Option[String], expected: Long,
                             fpp: Double): Seq[BloomConf] = {
    val cols = bloomCol.toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    require(cols.distinct.length == cols.length,
      s"duplicate bloom columns in ${cols.mkString(", ")}")
    cols.map(BloomConf(_, expected, fpp))
  }

  /** Build and persist bloom-index rows for a batch's files (metadata
    * beside the data, one JSON dir per batch; probes read the union
    * and restrict to the manifest's file list).
    */
  private[graft] def writeBloomRows(spark: SparkSession, path: String,
                                    files: Seq[String], bc: BloomConf)
      : Unit =
    BloomIndex.buildRows(spark, files, bc.col, bc.expectedPerFile,
        fpp = bc.fpp)
      .coalesce(1)
      .write.mode("errorifexists")
      .json(s"${bloomIdxDir(path)}/idx-${nonce()}")

  // ------------------------------------------------- typed file stats

  /** The declared (column, dtype) list of a version's typed stats. */
  private[graft] def colSpecsOf(ver: Version): Seq[(String, String)] =
    ver.colStats.map(cs => (cs.col, cs.dtype))

  /** Per-file typed bounds of `files` for the declared `specs` — ONE
    * column-pruned aggregate over exactly the new files (O(batch),
    * reading only the stats columns), encoded per [[TypedBounds]].
    * A declared column a file does not carry (schema evolution) gets
    * `has = false` — unprunable, never wrong. Result arrays align
    * with `files` in the GIVEN order.
    */
  /** Spec-visible counter of batch re-reads this JVM performed to
    * recover typed bounds — the write paths track bounds in their
    * tasks and must NOT bump this per commit; [[analyzeStats]]' one
    * deliberate O(table) read does.
    */
  private[graft] val colStatsReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private[graft] def computeColStats(spark: SparkSession,
                                     files: Seq[String],
                                     specs: Seq[(String, String)])
      : Seq[ColStats] = {
    if (specs.isEmpty) return Seq.empty
    if (files.isEmpty)
      return specs.map { case (c, t) =>
        ColStats(c, t, Seq.empty, Seq.empty, Seq.empty, Seq.empty)
      }
    colStatsReads.incrementAndGet()
    val df = spark.read.option("mergeSchema", "true").parquet(files: _*)
    val present = specs.filter { case (c, _) => df.columns.contains(c) }
    present.foreach { case (c, t) =>
      val dt = TypedBounds.dtypeOf(df.schema(c).dataType)
      require(dt.contains(t),
        s"stats column $c has type ${df.schema(c).dataType} but the " +
          s"manifest declares $t — types never change per the append " +
          "contract")
    }
    val ndvK = NdvSketch.kOf(spark)
    val byFile: Map[String, Row] = {
      val aggs = Seq(count(lit(1)).as("__n")) ++
        present.flatMap { case (c, t) =>
          Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nu_$c")) ++
            // NDV sketch in the SAME per-file aggregate: the k minima
            // of the canonical-string hash ride next to the bounds,
            // no extra pass ([[NdvSketch]])
            NdvSketch.canonColumn(t, c).map(e =>
              graft.functions.KmvDistinctExpr.kmvMins(e, ndvK)
                .as(s"__kmv_$c"))
        }
      df.groupBy(input_file_name().as("__f"))
        .agg(aggs.head, aggs.drop(1): _*)
        .collect() // O(batch files) metadata
        .map(r => canonFile(r.getString(0)) -> r).toMap
    }
    val presentSet = present.map(_._1).toSet
    specs.map { case (c, t) =>
      val sketchable = NdvSketch.sketchable(t)
      val bounds = files.map { f =>
        byFile.get(canonFile(f)) match {
          case Some(r) if presentSet(c) =>
            val (mn, mx, has, exact) = TypedBounds.encode(t,
              r.getAs[Any](s"__mn_$c"), r.getAs[Any](s"__mx_$c"))
            val kv =
              if (!sketchable) ""
              else NdvSketch.encode(ndvK,
                r.getAs[scala.collection.Seq[Long]](s"__kmv_$c").toSeq)
            (mn, mx, has, exact, r.getAs[Long](s"__nu_$c"), kv)
          case Some(r) =>
            // the file predates the column: every row reads as NULL —
            // an EMPTY sketch states that exactly
            ("", "", false, false, r.getAs[Long]("__n"),
              if (sketchable) NdvSketch.encode(ndvK, Seq.empty) else "")
          case _ =>
            // zero-row file (absent from the aggregate): no values at
            // all, so the empty sketch is exact here too
            ("", "", false, false, 0L,
              if (sketchable) NdvSketch.encode(ndvK, Seq.empty) else "")
        }
      }
      ColStats(c, t, bounds.map(_._1), bounds.map(_._2),
        bounds.map(_._3), bounds.map(_._4), bounds.map(_._5),
        if (sketchable) bounds.map(_._6) else Seq.empty)
    }
  }

  /** Typed stats of an append-shaped RETRY against a refreshed base:
    * the loser of a version race re-commits blindly (the append
    * contract), so when a concurrent commit (re-)declared the stats
    * columns after this append computed its bounds, recompute the
    * batch's bounds against the base's CURRENT declaration instead of
    * failing the retry with a misaligned-index error. A first
    * declaration that lost to plain data commits drops (declaring
    * over existing data is analyzeStats' explicit O(table) read, per
    * [[colSpecsForAppend]]'s contract).
    */
  private def retryCs(spark: SparkSession, base: Version,
                      files: Seq[String],
                      plannedSpecs: Seq[(String, String)],
                      planned: Seq[ColStats]): Seq[ColStats] = {
    val baseSpecs = colSpecsOf(base)
    if (baseSpecs == plannedSpecs || base.files.isEmpty) planned
    else if (baseSpecs.isEmpty) Seq.empty
    else computeColStats(spark, files, baseSpecs)
  }

  /** Typed stats for a commit against `base`: the base's per-file
    * vectors sliced to the kept files, extended with `fresh` (the new
    * files' bounds, computed once by the caller at plan time). Fails
    * loudly when the declared columns changed under the operation —
    * the caller's fresh bounds would describe the wrong index.
    */
  private[graft] def colStatsWith(base: Version, keepIdx: Seq[Int],
                                  fresh: Seq[ColStats]): Seq[ColStats] =
    if (base.colStats.isEmpty) fresh
    else {
      require(fresh.isEmpty ||
          colSpecsOf(base) == fresh.map(cs => (cs.col, cs.dtype)),
        s"typed stats columns changed under the operation (table: " +
          s"${colSpecsOf(base)}, writer: " +
          s"${fresh.map(cs => (cs.col, cs.dtype))}) — re-plan against " +
          "the new latest version")
      // full-keep (append shape): carry the base vectors BY IDENTITY —
      // the O(1) that lets the segmented render prove the carry by
      // object identity instead of an O(files) equality walk
      val fullKeep =
        base.colStats.headOption.exists(cs => keepIdx == cs.mins.indices)
      val carried =
        if (fullKeep) base.colStats
        else base.colStats.map(_.slice(keepIdx))
      if (fresh.isEmpty) carried
      else carried.zip(fresh).map { case (a, b) => a ++ b }
    }

  /** Derive (column, dtype) specs for a FIRST declaration from the
    * written batch's schema — every named column must exist in the
    * batch and carry a [[TypedBounds]]-supported type.
    */
  private def deriveColSpecs(spark: SparkSession, sampleFiles: Seq[String],
                             cols: Seq[String]): Seq[(String, String)] = {
    require(cols.distinct.length == cols.length,
      s"duplicate stats columns in ${cols.mkString(", ")}")
    val schema = spark.read.option("mergeSchema", "true")
      .parquet(sampleFiles: _*).schema
    cols.map { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"stats column $c is not in the written batch " +
            s"(${schema.fieldNames.mkString(", ")})"))
      val t = TypedBounds.dtypeOf(f.dataType).getOrElse(
        throw new IllegalArgumentException(
          s"stats column $c has type ${f.dataType} — typed stats " +
            "cover INT/BIGINT/DATE/TIMESTAMP/FLOAT/DOUBLE/STRING/" +
            "BOOLEAN"))
      (c, t)
    }
  }

  /** The effective typed-stats specs of an APPEND-shaped commit:
    * inherited from the base when declared there (a `statsCols`
    * argument must then match), or derived from the written batch for
    * a FIRST declaration — allowed only while the table holds no data
    * (declaring over existing files is [[analyzeStats]]' explicit
    * O(table) read, not something an append should do implicitly).
    */
  private def colSpecsForAppend(spark: SparkSession,
                                preBase: Option[Version],
                                statsCols: Seq[String],
                                sampleFiles: Seq[String])
      : Seq[(String, String)] =
    preBase.filter(_.colStats.nonEmpty) match {
      case Some(b) =>
        require(statsCols.isEmpty ||
            statsCols.toSet == b.colStats.map(_.col).toSet,
          s"typed stats columns changed mid-table (was " +
            s"${b.colStats.map(_.col)}, got $statsCols) — re-declare " +
            "with analyzeStats")
        colSpecsOf(b)
      case None if statsCols.isEmpty => Seq.empty
      case None =>
        require(preBase.forall(_.files.isEmpty),
          "declaring typed stats on a table with existing data needs " +
            "analyzeStats (per-file bounds must cover EVERY file)")
        deriveColSpecs(spark, sampleFiles, statsCols)
    }

  /** Declare (or re-declare) the table's typed stats columns and
    * commit per-file bounds for EVERY live file — ANALYZE, the one
    * deliberate O(table-stats-columns) read in the lifecycle: adding
    * statistics to a table that already has data has to look at the
    * data once. Subsequent commits maintain the index incrementally
    * (each write path computes bounds for just its new files).
    * Re-declaring with a different column list REPLACES the index —
    * also the way to RETIRE a stats column (e.g. before DROP COLUMN).
    * Plan-against-base mutation policy: a racing commit fails this
    * loudly (the bounds were computed for the base's file list).
    */
  def analyzeStats(spark: SparkSession, path: String,
                   cols: Seq[String]): Long = {
    require(cols.nonEmpty,
      "declare at least one stats column (re-declare a subset to " +
        "retire one)")
    val prev = latestVersion(path)
    require(prev > 0, s"snapshot table $path does not exist")
    val ver = readVersion(spark, path, prev)
    requireUniform(ver, "analyzeStats")
    require(ver.files.nonEmpty,
      "cannot ANALYZE an empty table — declare stats_cols on the " +
        "first write instead")
    val specs = deriveColSpecs(spark, ver.files, cols)
    val cs = computeColStats(spark, ver.files, specs)
    val v = prev + 1
    commitExclusive(path, v, renderManifest(v, ver.files, rowsOf(ver),
      bytesOf(ver), ver.stats, ver.blooms, ver.txns, ver.part,
      op = "ANALYZE",
      dvFiles = ver.dvFiles, dvRows = ver.dvRows,
      schema = carryMeta(ver, ver.files.indices, 0), colStats = cs,
      seg = path -> Some(ver), partKeys = ver.partKeys))
    v
  }

  // ------------------------------------------------------------ append

  /** Commit `df` as the next version: new immutable data files under a
    * unique batch directory, then a create-exclusive manifest commit,
    * RETRIED against the refreshed latest version when a concurrent
    * append wins the race (both batches end up visible — the loser's
    * at the next version number). Returns the committed version.
    *
    * `txn = Some((writerId, batchId))` makes the append IDEMPOTENT per
    * writer: the manifest carries each writer's latest committed
    * batchId, and a replay (same writer, batchId ≤ committed) returns
    * the already-visible version WITHOUT writing anything — the
    * Delta-style transaction identifier that turns a Structured
    * Streaming `foreachBatch` sink into exactly-once: on restart the
    * re-delivered micro-batch hits the recorded id and skips. batchIds
    * must be monotonically increasing per writer (streaming batch ids
    * are). If a concurrent attempt of the SAME writer/batch wins the
    * commit race after this call already wrote its data files, those
    * files are simply never referenced (and [[expire]] never touches
    * unknown files, so they are inert until a cleanup).
    */
  def append(df: DataFrame, path: String, numPartitions: Int,
             statsCol: Option[String] = None,
             bloomCol: Option[String] = None,
             bloomExpectedPerFile: Long = -1L,
             bloomFpp: Double = 0.01,
             txn: Option[(String, Long)] = None,
             statsCols: Seq[String] = Seq.empty): Long = {
    val spark = df.sparkSession
    def committedAt(base: Version): Boolean = txn.exists { case (w, b) =>
      base.txns.get(w).exists(_ >= b)
    }
    // replay fast-path: check BEFORE writing any data
    val pre = latestVersion(path)
    val preBase =
      if (pre == 0) None else Some(readVersion(spark, path, pre))
    if (txn.isDefined && preBase.exists(committedAt)) return pre
    // LAYOUT INHERITANCE: an indexed table keeps its stats index
    // through appends that did not name it — per-file [min, max]
    // vectors must cover EVERY file, so "this batch just skips stats"
    // is unrepresentable and the old behavior (silently dropping the
    // whole index) was a pruning trap. A batch that does not carry
    // the column at all still appends (the index drops, loudly
    // visible in the manifest, as before).
    val statsColEff = statsCol.orElse(
      preBase.flatMap(_.stats.map(_.col)).filter(df.columns.contains))
    val batch = writeBatch(df, path, numPartitions, statsColEff)
    // typed stats: inherit the declared columns, or take a FIRST
    // declaration on a table with no data yet (declaring on existing
    // data is the explicit O(table) read — analyzeStats)
    val colSpecs = colSpecsForAppend(spark, preBase, statsCols,
      batch.files)
    val batchCs = computeColStats(spark, batch.files, colSpecs)
    // WRITTEN schema, not df's: what readers will actually observe
    val batchCols = spark.read.parquet(batch.files.head)
      .schema.fieldNames.toSeq
    val decl = parseBloomDecl(bloomCol, bloomExpectedPerFile, bloomFpp)
    decl.foreach(writeBloomRows(spark, path, batch.files, _))
    var attempts = 0
    while (true) {
      val prev = latestVersion(path)
      val base =
        if (prev == 0) Version(0, Seq.empty, 0)
        else readVersion(spark, path, prev)
      // a racing attempt of the same writer/batch committed first:
      // this attempt's files stay unreferenced, the table is correct
      if (committedAt(base)) return prev
      require(base.part.isEmpty,
        s"table is hidden-partitioned (${base.part.get}) — " +
          "use appendPartitioned so new files stay partition-pure")
      require(statsColEff.isEmpty || base.files.isEmpty ||
          base.stats.exists(_.col == statsColEff.get),
        s"stats column changed mid-table (was ${base.stats.map(_.col)})")
      require(bloomCol.isEmpty || base.files.isEmpty ||
          base.blooms.map(_.col) == decl.map(_.col),
        s"bloom columns changed mid-table (was " +
          s"${base.blooms.map(_.col)}, got $bloomCol)")
      val v = prev + 1
      val manifest = renderManifest(v,
        CatSeq.cat2(base.files, batch.files),
        CatSeq.cat2(rowsOf(base), batch.rows),
        CatSeq.cat2(bytesOf(base), batch.bytes),
        statsColEff.map { c =>
          Stats(c,
            CatSeq.cat2(base.stats.map(_.mins).getOrElse(Seq.empty),
              batch.mins),
            CatSeq.cat2(base.stats.map(_.maxs).getOrElse(Seq.empty),
              batch.maxs))
        },
        if (decl.nonEmpty) decl else base.blooms,
        base.txns ++ txn.toMap, op = "APPEND",
        dvFiles = base.dvFiles, dvRows = base.dvRows,
        schema = appendMeta(base, path, batchCols, batch.files.length),
        colStats = colStatsWith(base, base.files.indices,
          retryCs(spark, base, batch.files, colSpecs, batchCs)),
        seg = path -> Some(base))
      try { commitExclusive(path, v, manifest); return v }
      catch {
        case _: FileAlreadyExistsException =>
          attempts += 1
          require(attempts < 16,
            s"append to $path lost $attempts consecutive version races")
      }
    }
    -1L // unreachable
  }

  /** [[append]] for files ALREADY WRITTEN by the caller's executors —
    * the native streaming sink's commit half: the epoch's tasks wrote
    * parquet directly ([[graft.source.v2.GraftRowWriterFactory]]) and
    * hand their per-file facts here; this validates constraints,
    * indexes blooms, and runs the same retry-against-refreshed-base
    * conditional put as [[append]], with `txn = (queryId, epochId)`
    * making a replayed epoch commit NOTHING. `statMinMax` must be
    * present exactly when the table carries a stats config (the
    * caller tracked min/max while writing).
    */
  private[graft] def commitAppendFiles(spark: SparkSession, path: String,
                                       files: Seq[String], rows: Seq[Long],
                                       bytes: Seq[Long],
                                       batchCols: Seq[String],
                                       statsCol: Option[String],
                                       statMinMax: Option[(Seq[Long], Seq[Long])],
                                       bloomCol: Option[String],
                                       txn: Option[(String, Long)],
                                       part: Option[(PartSpec, PartKeys)] = None,
                                       op: String = "APPEND",
                                       statsCols: Seq[String] = Seq.empty,
                                       // typed bounds tracked INSIDE
                                       // the write tasks: when they
                                       // cover the table's declared
                                       // specs, the commit skips the
                                       // O(batch bytes) re-read
                                       trackedCs: Option[Seq[ColStats]] = None)
      : Long = {
    require(statsCol.isEmpty == statMinMax.isEmpty,
      "per-file stats must be tracked exactly when a stats column is set")
    part.foreach { case (_, pk) =>
      require(pk.nFiles == files.length,
        s"${pk.nFiles} partition tuples for ${files.length} files")
    }
    def committedAt(base: Version): Boolean = txn.exists { case (w, b) =>
      base.txns.get(w).exists(_ >= b)
    }
    enforceConstraintsOn(spark, path, files)
    val pre = latestVersion(path)
    val preBase =
      if (pre == 0) Version(0, Seq.empty, 0)
      else readVersion(spark, path, pre)
    if (committedAt(preBase)) return pre
    val colSpecs = colSpecsForAppend(spark,
      if (pre == 0) None else Some(preBase), statsCols, files)
    // writer-tracked bounds cover the declared specs → zero re-read;
    // anything else (first declaration through a path that did not
    // track, a drifted layout) recomputes — correct over fast
    val batchCs = trackedCs match {
      case Some(cs) if cs.map(c => (c.col, c.dtype)) == colSpecs => cs
      case _ => computeColStats(spark, files, colSpecs)
    }
    val decl = parseBloomDecl(bloomCol, -1L, 0.01)
    if (files.nonEmpty)
      (if (decl.nonEmpty) decl else preBase.blooms)
        .foreach(writeBloomRows(spark, path, files, _))
    var attempts = 0
    while (true) {
      val prev = latestVersion(path)
      val base =
        if (prev == 0) Version(0, Seq.empty, 0)
        else if (prev == pre) preBase // no race: reuse the pre-read
        else readVersion(spark, path, prev)
      if (committedAt(base)) return prev
      require(base.files.isEmpty ||
          base.part.isEmpty == part.isEmpty &&
            base.part.forall(sp => part.exists(_._1 == sp)),
        s"partition layout changed mid-stream (table: ${base.part}, " +
          s"writer: ${part.map(_._1)}) — the writer resolved a stale " +
          "layout")
      require(statsCol.isEmpty || base.files.isEmpty ||
          base.stats.exists(_.col == statsCol.get),
        s"stats column changed mid-stream (was ${base.stats.map(_.col)})")
      require(statsCol.isDefined || base.stats.isEmpty,
        s"table indexes stats on ${base.stats.map(_.col)} but the " +
          "stream tracked none — the writer resolved a stale layout")
      val v = prev + 1
      val manifest = renderManifest(v,
        CatSeq.cat2(base.files, files),
        CatSeq.cat2(rowsOf(base), rows),
        CatSeq.cat2(bytesOf(base), bytes),
        statsCol.map(c => Stats(c,
          CatSeq.cat2(base.stats.map(_.mins).getOrElse(Seq.empty),
            statMinMax.get._1),
          CatSeq.cat2(base.stats.map(_.maxs).getOrElse(Seq.empty),
            statMinMax.get._2))),
        if (decl.nonEmpty) decl else base.blooms, base.txns ++ txn.toMap,
        part = part.map(_._1),
        op = op,
        dvFiles = base.dvFiles, dvRows = base.dvRows,
        schema = appendMeta(base, path, batchCols, files.length),
        colStats = colStatsWith(base, base.files.indices,
          retryCs(spark, base, files, colSpecs, batchCs)),
        seg = path -> Some(base),
        partKeys = part.map { case (sp, pk) =>
          extendParts(sp, base, base.files.indices, pk)
        })
      try { commitExclusive(path, v, manifest); return v }
      catch {
        case _: FileAlreadyExistsException =>
          attempts += 1
          require(attempts < 16,
            s"append to $path lost $attempts consecutive version races")
      }
    }
    -1L // unreachable
  }

  /** Commit `df` as the next version REPLACING the table's contents —
    * SQL TRUNCATE + INSERT as one atomic commit (`mode("overwrite")`
    * through the DSv2 front door). The new manifest references ONLY
    * the fresh batch; prior files stay on disk for time travel until
    * [[expire]]/[[vacuum]] reclaim them, so an overwrite is as
    * reversible as any other commit ([[restore]] undoes it). Deletion
    * vectors do not carry (every row they addressed is gone), and
    * stats/bloom configs are NOT inherited: the old files' index rows
    * describe files no longer in the table — pass `statsCol`/
    * `bloomCol` to index the replacement. Schema follows [[append]]'s
    * evolution contract (unknown columns get fresh field ids, naming
    * epoch bumps). Partitioned tables reject: a plain repartition
    * would break the partition-purity invariant pruning relies on —
    * drop partitions or re-create the table instead. Blind commit
    * retry is sound here for the same reason as [[append]]: the
    * result manifest does not depend on the base it replaces.
    */
  def overwrite(df: DataFrame, path: String, numPartitions: Int,
                statsCol: Option[String] = None,
                bloomCol: Option[String] = None,
                bloomExpectedPerFile: Long = -1L,
                bloomFpp: Double = 0.01,
                txn: Option[(String, Long)] = None,
                statsCols: Seq[String] = Seq.empty): Long = {
    val spark = df.sparkSession
    def committedAt(base: Version): Boolean = txn.exists { case (w, b) =>
      base.txns.get(w).exists(_ >= b)
    }
    val pre = latestVersion(path)
    if (pre > 0) {
      val preVer = readVersion(spark, path, pre)
      if (txn.isDefined && committedAt(preVer)) return pre
      // reject BEFORE materializing the batch: writing the full
      // replacement only to fail the in-loop partitioning require
      // would burn a table-size write and leave orphans for vacuum
      require(preVer.part.isEmpty,
        s"table is hidden-partitioned (${preVer.part.get}) — a plain " +
          "overwrite would break partition purity; drop partitions " +
          "or re-create the table")
    }
    val batch = writeBatch(df, path, numPartitions, statsCol)
    val batchCols = spark.read.parquet(batch.files.head)
      .schema.fieldNames.toSeq
    // typed stats are NOT inherited across an overwrite (the old
    // bounds describe replaced files) — mirror the stats/bloom
    // contract: pass statsCols to index the replacement
    val batchCs =
      if (statsCols.isEmpty) Seq.empty
      else computeColStats(spark, batch.files,
        deriveColSpecs(spark, batch.files, statsCols))
    val decl = parseBloomDecl(bloomCol, bloomExpectedPerFile, bloomFpp)
    decl.foreach(writeBloomRows(spark, path, batch.files, _))
    var attempts = 0
    while (true) {
      val prev = latestVersion(path)
      val base =
        if (prev == 0) Version(0, Seq.empty, 0)
        else readVersion(spark, path, prev)
      if (committedAt(base)) return prev
      require(base.part.isEmpty,
        s"table is hidden-partitioned (${base.part.get}) — a plain " +
          "overwrite would break partition purity; drop partitions " +
          "or re-create the table")
      val v = prev + 1
      // appendMeta computes epochs for base + new files; an overwrite
      // keeps only the new files' tail — and NARROWS the visible
      // schema to the batch's columns: a column the replacement does
      // not carry has no type-bearing file left, so keeping it
      // visible would silently flip its type (its id moves to
      // dropped, exactly like DROP COLUMN, and a later re-add is a
      // fresh column)
      val meta = appendMeta(base, path, batchCols, batch.files.length)
        .map { m =>
          val keep = m.names.indices.filter(i => batchCols.contains(m.names(i)))
          val removed = m.names.indices.filterNot(keep.toSet).map(m.ids)
          m.copy(ids = keep.map(m.ids), names = keep.map(m.names),
            fileEpochs = m.fileEpochs.takeRight(batch.files.length),
            dropped = m.dropped ++ removed,
            altered = m.altered || removed.nonEmpty,
            addedTypes = m.addedTypes
              .filter(t => keep.map(m.ids).contains(t._1)),
            widened = m.widened
              .filter(t => keep.map(m.ids).contains(t._1)))
        }
      val manifest = renderManifest(v, batch.files, batch.rows,
        batch.bytes,
        statsCol.map(c => Stats(c, batch.mins, batch.maxs)),
        decl, base.txns ++ txn.toMap, op = "OVERWRITE",
        schema = meta, colStats = batchCs,
        seg = path -> Some(base))
      try { commitExclusive(path, v, manifest); return v }
      catch {
        case _: FileAlreadyExistsException =>
          attempts += 1
          require(attempts < 16,
            s"overwrite of $path lost $attempts consecutive version races")
      }
    }
    -1L // unreachable
  }

  /** SQL TRUNCATE TABLE: commit a version with ZERO files — a pure
    * metadata operation at any table size (the COW/MOR delete
    * economics' third point, for the everything case). The visible
    * schema and partition spec carry (future appends keep the layout
    * and naming epochs); stats/bloom configs drop with the files they
    * described; prior versions stay time-travelable until [[expire]].
    * Blind retry is sound: the result does not depend on the base.
    */
  def truncate(spark: SparkSession, path: String): Long = {
    var attempts = 0
    while (true) {
      val prev = latestVersion(path)
      require(prev > 0, s"snapshot table $path does not exist")
      val base = readVersion(spark, path, prev)
      require(base.schemaIds.isDefined,
        s"$path predates field-id schema tracking — an empty version " +
          "would lose the column types; recreate the table to upgrade")
      val v = prev + 1
      val meta = base.schemaIds.map(ids => SchemaMeta(ids,
        base.schemaNames.get, Seq.empty, base.epoch, base.droppedIds,
        base.schemaMaxId, base.schemaAltered, base.addedTypes,
        base.widenedTypes))
      // layout CONFIG survives the truncate (stats with empty per-file
      // vectors, bloom unchanged) so post-truncate appends keep
      // indexing — dropping it would silently end range pruning
      val manifest = renderManifest(v, Seq.empty, Seq.empty, Seq.empty,
        base.stats.map(st => Stats(st.col, Seq.empty, Seq.empty)),
        base.blooms, base.txns, base.part,
        op = "TRUNCATE", schema = meta,
        colStats = base.colStats.map(_.slice(Seq.empty)),
        seg = path -> Some(base),
        partKeys = base.part.map(PartKeys.empty))
      try { commitExclusive(path, v, manifest); return v }
      catch {
        case _: FileAlreadyExistsException =>
          attempts += 1
          require(attempts < 16,
            s"truncate of $path lost $attempts consecutive version races")
      }
    }
    -1L // unreachable
  }

  /** OCC conflict detection for GROUP-REPLACEMENT commits: is `latest`
    * (the version a racing writer committed while this operation was
    * rewriting) a SAFE base to rebase onto? Safe means the winner's
    * commit is LOGICALLY DISJOINT from this operation: every file the
    * operation read is still live and unchanged (no rewrite, no DV),
    * the layout and schema metadata are byte-identical, and any files
    * the winner ADDED are ones the operation's own predicates can
    * prove hold no matching row (`interleavedOk` — supplied by the
    * caller, who knows its predicate semantics). Then re-committing
    * the same rewrite against `latest` is equivalent to the serial
    * order winner→this-operation — the Delta WriteSerializable
    * contract. Anything else throws, loudly, with the conditional-put
    * loss as the cause: the caller must re-plan.
    */
  private def rebaseTarget(path: String, op: String, base: Version,
                           latest: Version, removed: Set[String],
                           interleavedOk: (Version, Seq[Int]) => Boolean,
                           cause: Throwable): Version = {
    def fail(why: String): Nothing = {
      val e = new java.util.ConcurrentModificationException(
        s"$op on $path planned against v${base.version}, but " +
          s"v${latest.version} committed concurrently and $why — " +
          "re-run the operation against the new latest version")
      e.initCause(cause)
      throw e
    }
    val latestCanon = latest.files.map(canonFile)
    val latestSet = latestCanon.toSet
    if (!removed.forall(latestSet))
      fail("rewrote or removed files this operation read")
    if (latest.dvFiles != base.dvFiles)
      fail("changed deletion vectors")
    if (latest.part != base.part) fail("changed the partition layout")
    if (latest.stats.map(_.col) != base.stats.map(_.col))
      fail("changed the stats layout")
    if (colSpecsOf(latest) != colSpecsOf(base))
      fail("changed the typed-stats layout")
    if (latest.blooms != base.blooms) fail("changed the bloom layout")
    if (latest.schemaIds != base.schemaIds ||
        latest.schemaNames != base.schemaNames ||
        latest.epoch != base.epoch ||
        latest.schemaAltered != base.schemaAltered ||
        latest.droppedIds != base.droppedIds ||
        latest.schemaMaxId != base.schemaMaxId)
      fail("altered the schema")
    val baseSet = base.files.map(canonFile).toSet
    val interleaved = latest.files.indices
      .filter(i => !baseSet(latestCanon(i)))
    if (interleaved.nonEmpty && !interleavedOk(latest, interleaved))
      fail("added files this operation's predicates cannot prove " +
        "unmatched")
    latest
  }

  /** One GROUP-REPLACEMENT commit — files' = (base − removed) + new —
    * with OCC AUTO-REBASE: when the conditional put loses a version
    * race to a commit [[rebaseTarget]] proves logically disjoint (the
    * common case: an interleaved append elsewhere in the key space),
    * the replacement re-renders against the winner's manifest —
    * surviving files re-sliced, the winner's interleaved files
    * carried, txn watermarks taken from the winner — and re-commits,
    * instead of failing a rewrite whose data work is already done.
    * Overlapping commits still fail loudly (stale plan). The new
    * files' facts are positional over `newFiles`, computed once by
    * the caller.
    */
  private def commitReplace(spark: SparkSession, path: String,
                            base: Version, removed: Set[String],
                            newFiles: Seq[String], newRows: Seq[Long],
                            newBytes: Seq[Long],
                            newStats: Option[(Seq[Long], Seq[Long])],
                            newParts: Option[PartKeys],
                            newColStats: Seq[ColStats], op: String,
                            extraTxn: Map[String, Long],
                            interleavedOk: (Version, Seq[Int]) => Boolean,
                            // DV rows the caller's rewrite MATERIALIZED
                            // (their target files are in `removed`):
                            // subtracted from the carried count so the
                            // logical-rows arithmetic stays exact
                            dvApplied: Long = 0L)
      : Long = {
    require(base.stats.isEmpty == newStats.isEmpty,
      "new-file stat bounds must be present exactly when the base " +
        "carries a stats layout")
    require(base.part.isEmpty == newParts.isEmpty,
      "a partitioned base needs partition values for every new file " +
        "(and an unpartitioned one none)")
    var cur = base
    var attempts = 0
    while (true) {
      val curCanon = cur.files.map(canonFile)
      val keepIdx = cur.files.indices.filterNot(i => removed(curCanon(i)))
      val rows = rowsOf(cur)
      val bytes = bytesOf(cur)
      val v = cur.version + 1
      val manifest = renderManifest(v,
        keepIdx.map(cur.files) ++ newFiles,
        keepIdx.map(rows) ++ newRows,
        keepIdx.map(bytes) ++ newBytes,
        cur.stats.map(st => Stats(st.col,
          keepIdx.map(st.mins) ++ newStats.get._1,
          keepIdx.map(st.maxs) ++ newStats.get._2)),
        // per-writer MAX, never last-write-wins: a rebase against a
        // winner that already advanced this writer's watermark must
        // not regress it, or a crash-recovery replay of the newer
        // batch would re-apply it (exactly-once breaks)
        cur.blooms, extraTxn.foldLeft(cur.txns) { case (m, (w, b)) =>
          m.updated(w, math.max(b, m.getOrElse(w, Long.MinValue)))
        }, part = cur.part,
        // DVs carry (r20): kept files still need theirs; rows the
        // caller's rewrite materialized (`dvApplied`) leave the
        // live-delete count. Dropping the files here instead would
        // resurrect kept files' dead rows
        dvFiles = cur.dvFiles, dvRows = cur.dvRows - dvApplied,
        op = op,
        schema = carryMeta(cur, keepIdx, newFiles.length),
        colStats = colStatsWith(cur, keepIdx, newColStats),
        seg = path -> Some(cur),
        partKeys = cur.part.map(sp =>
          extendParts(sp, cur, keepIdx, newParts.get)))
      try { commitExclusive(path, v, manifest); return v }
      catch {
        case e: FileAlreadyExistsException =>
          attempts += 1
          require(attempts < 16,
            s"$op on $path lost $attempts consecutive version races")
          val latest = readVersion(spark, path, latestVersion(path))
          cur = rebaseTarget(path, op, base, latest, removed,
            interleavedOk, e)
      }
    }
    -1L // unreachable
  }

  /** Interleaved files are safe when the base's stats layout proves
    * them outside [lo, hi] on the layout column — the guard for
    * range-predicated rewrites (COW delete, merge's key-location
    * range).
    */
  private def statsDisjoint(lo: Long, hi: Long)
      : (Version, Seq[Int]) => Boolean =
    (nb, idxs) => nb.stats.exists(st =>
      idxs.forall(i => st.maxs(i) < lo || st.mins(i) > hi))

  /** Commit a GROUP REPLACEMENT prepared by the DSv2 row-level write
    * (SQL MERGE/UPDATE): the caller already wrote the new files and
    * derived their facts; kept files carry by reference, schema meta
    * carries under the current epoch. Loses of the conditional put
    * AUTO-REBASE when the racing commit is provably disjoint
    * ([[commitReplace]]); `interleavedOk` is the caller's proof
    * obligation for files the winner added — the row-level write
    * passes its scan's STATIC pushed predicates through manifest
    * pruning, and an operation with no static predicates (a bare
    * MERGE ON key) stays fail-loudly.
    */
  private[graft] def commitReplaceGroups(spark: SparkSession, path: String,
                                         base: Version,
                                         removed: Set[String],
                                         newFiles: Seq[String],
                                         newRows: Seq[Long],
                                         newBytes: Seq[Long],
                                         newStats: Option[(Seq[Long], Seq[Long])],
                                         newParts: Option[PartKeys],
                                         newColStats: Seq[ColStats],
                                         op: String,
                                         interleavedOk: (Version, Seq[Int]) => Boolean)
      : Long =
    commitReplace(spark, path, base, removed, newFiles, newRows,
      newBytes, newStats, newParts, newColStats, op,
      extraTxn = Map.empty, interleavedOk = interleavedOk)

  // ------------------------------------------------- hidden partitioning

  /** The shared per-file facts of a `partitionBy`-written batch (rows,
    * stats bounds, sizes), partition-form-agnostic — the caller parses
    * the partition value(s) from the returned file paths.
    */
  private def dirBatchFacts(spark: SparkSession, batchDir: String,
                            statsCol: Option[String]): Batch = {
    val perFile = spark.read.parquet(batchDir)
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("n"),
        statsCol.map(c => min(col(c)).cast("long").as("mn"))
          .getOrElse(max(lit(0L)).as("mn")),
        statsCol.map(c => max(col(c)).cast("long").as("mx"))
          .getOrElse(max(lit(0L)).as("mx")))
      .collect().sortBy(_.getString(0)) // O(batch files) metadata
    // key by path RELATIVE to the batch dir, never by base filename:
    // Spark's dynamic-partition writer reuses one task's base name
    // (part-NNNNN-<uuid>.c000…) across different __pK= directories, so
    // filename keys collide and commit the wrong file_bytes
    val bio = io(batchDir)
    val batchRoot = bio.canon(batchDir)
    val sizes: Map[String, Long] = bio.walkFiles(batchDir)
      .filter(e => e.name.endsWith(".parquet") && !e.name.startsWith("."))
      .map(e => bio.canon(e.path).stripPrefix(batchRoot)
        .stripPrefix("/") -> e.size)
      .toMap
    def sizeOf(f: String): Long = {
      val rel = bio.canon(f).stripPrefix(batchRoot).stripPrefix("/")
      sizes.getOrElse(rel,
        throw new IllegalStateException(s"written file vanished: $f"))
    }
    Batch(perFile.map(_.getString(0)).toSeq,
      perFile.map(_.getLong(1)).toSeq,
      perFile.map(r => sizeOf(r.getString(0))).toSeq,
      perFile.map(_.getLong(2)).toSeq,
      perFile.map(_.getLong(3)).toSeq)
  }

  // -------------------------------------- partitioned batch plumbing

  /** The derived hidden-partition columns `df` is routed and
    * `partitionBy`-written under: one path-safe STRING per field —
    * `"k" + hex(UTF8(encoded value))`, pure `[kA-F0-9]`, so Spark's
    * partition-path escaping never fires and [[partBatchFacts]]
    * parses values back with no unescaping rules.
    * A NULL source value yields a NULL derived column, which lands in
    * the `__HIVE_DEFAULT_PARTITION__` directory and fails the parse
    * LOUDLY — hidden partitioning routes by value and rejects NULL
    * sources on every write path.
    */
  private def partDerivedCols(spec: PartSpec)
      : Seq[(String, org.apache.spark.sql.Column)] =
    spec.fields.zipWithIndex.map { case (f, k) =>
      s"__p$k" -> concat(lit("k"),
        hex(encode(f.column.cast("string"), "UTF-8")))
    }

  /** Check `df` can be routed under `spec`: sources present, dtypes
    * matching the spec's declaration, derived names unclaimed. */
  private def requireRoutable(df: DataFrame, spec: PartSpec): Unit = {
    spec.fields.foreach { f =>
      require(df.columns.contains(f.source),
        s"partition source ${f.source} not in ${df.columns.toSeq}")
      val dt = df.schema(f.source).dataType
      val have = TypedBounds.dtypeOf(dt).getOrElse(dt.simpleString)
      require(have == f.dtype,
        s"partition source ${f.source} is $have, spec declares " +
          s"${f.dtype} — the driver-side probe mirror and the " +
          "executor transform must agree on the input type")
    }
    partDerivedCols(spec).foreach { case (n, _) =>
      require(!df.columns.contains(n),
        s"$n is reserved for the hidden partition value")
    }
  }

  /** Decode one `__pK=` dir value back to the encoded partition key. */
  private def unhexKey(s: String, file: String): String = {
    require(s != "__HIVE_DEFAULT_PARTITION__",
      s"partition source is NULL in $file — hidden partitioning " +
        "routes by value and cannot place a NULL row")
    require(s.nonEmpty && s.charAt(0) == 'k' && (s.length - 1) % 2 == 0,
      s"malformed hidden-partition dir value $s under $file")
    val hexs = s.substring(1)
    val bytes = new Array[Byte](hexs.length / 2)
    var i = 0
    while (i < bytes.length) {
      bytes(i) = java.lang.Integer
        .parseInt(hexs.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** [[dirBatchFacts]] + per-field partition tuples parsed from each
    * file's `__p0=…/__p1=…` path segments.
    */
  private def partBatchFacts(spark: SparkSession, batchDir: String,
                             statsCol: Option[String], spec: PartSpec)
      : (Batch, PartKeys) = {
    val batch = dirBatchFacts(spark, batchDir, statsCol)
    val res = spec.fields.indices.map(k => (s"__p$k=([^/]+)").r)
    val flat = batch.files.iterator.flatMap { f =>
      res.zipWithIndex.map { case (re, k) =>
        val m = re.findFirstMatchIn(f).getOrElse(
          throw new IllegalStateException(
            s"partitioned batch file without a __p$k= segment: $f"))
        unhexKey(m.group(1), f)
      }
    }.toIndexedSeq
    (batch, PartKeys(spec.fields.map(_.valueDtype).toIndexedSeq, flat))
  }

  /** Route + write one partitioned batch under `spec`:
    * one shuffle on the derived value(s) so each partition tuple lands
    * in one task, `partitionBy` on the derived dirs so every data file
    * holds exactly one tuple, sorted by the stats column within
    * partitions when one is indexed. Returns the per-file facts.
    */
  private def writePartitionedBatch(df: DataFrame, batchDir: String,
                                    spec: PartSpec,
                                    statsCol: Option[String])
      : (Batch, PartKeys) = {
    requireRoutable(df, spec)
    val derived = partDerivedCols(spec)
    val pcols = derived.map { case (n, _) => col(n) }
    val withP = derived.foldLeft(df) { case (d, (n, c)) =>
      d.withColumn(n, c)
    }
    val laidOut = statsCol match {
      case Some(c) => withP.repartition(pcols: _*)
        .sortWithinPartitions(pcols :+ col(c): _*)
      case None => withP.repartition(pcols: _*)
    }
    laidOut.write.mode("errorifexists")
      .partitionBy(derived.map(_._1): _*).parquet(batchDir)
    val spark = df.sparkSession
    // an all-empty input lands no parquet at all — empty facts, the
    // caller decides what an empty batch means (truncate, carry, …)
    if (!hasParquet(batchDir))
      (Batch(Seq.empty, Seq.empty, Seq.empty, Seq.empty, Seq.empty),
        PartKeys.empty(spec))
    else partBatchFacts(spark, batchDir, statsCol, spec)
  }

  /** Carry a partitioned base's per-file tuples and extend with one
    * batch — the part_keys every partitioned commit hands to
    * [[renderManifest]].
    */
  private def extendParts(spec: PartSpec, base: Version, keepIdx: Seq[Int],
                          fresh: PartKeys): PartKeys = {
    val kept = base.partKeys.map(pk =>
      if (keepIdx == (0 until pk.nFiles)) pk else pk.slice(keepIdx))
      .getOrElse(PartKeys.empty(spec))
    kept ++ fresh
  }

  /** Commit `df` as the next version of a HIDDEN-partitioned table:
    * rows are shuffled once on the derived partition value(s) (so
    * each tuple lands in one task) and written `partitionBy` so every
    * data file holds exactly one tuple — which is what makes manifest
    * pruning on the recorded per-file value EXACT, not just tight.
    * The derived values are dropped by the writer (they live in the
    * `__p0=…/__p1=…` directory names and the manifest only); scans of
    * leaf files never see them. Works for every [[PartField]] list —
    * a single BIGINT field, days/months over DATE/TIMESTAMP, string
    * identity/truncate/bucket, several fields. `statsCol` additionally records
    * per-file min/max of a DATA column for second-level pruning
    * inside partitions (files are sorted by it within each
    * partition).
    *
    * Same create-exclusive commit + blind retry as [[append]] (append
    * commutes with append). The spec is table metadata: the first
    * partitioned append fixes it and later appends must match.
    * `txn` gives the same per-writer idempotence as [[append]]'s — a
    * replayed streaming micro-batch at or below the writer's recorded
    * watermark commits nothing, so `foreachBatch` ingest into a
    * partitioned table is exactly-once too.
    */
  def appendPartitioned(df: DataFrame, path: String, spec: PartSpec,
                        statsCol: Option[String] = None,
                        txn: Option[(String, Long)] = None,
                        bloomCol: Option[String] = None,
                        bloomExpectedPerFile: Long = -1L,
                        bloomFpp: Double = 0.01,
                        statsCols: Seq[String] = Seq.empty): Long = {
    val spark = df.sparkSession
    requireRoutable(df, spec)
    def committedAt(base: Version): Boolean = txn.exists { case (w, b) =>
      base.txns.get(w).exists(_ >= b)
    }
    val pre = latestVersion(path)
    val preBase =
      if (pre == 0) None else Some(readVersion(spark, path, pre))
    if (txn.isDefined && preBase.exists(committedAt)) return pre
    // layout inheritance, exactly as [[append]]: an indexed table
    // keeps its stats index through appends that did not name it
    val statsColEff = statsCol.orElse(
      preBase.flatMap(_.stats.map(_.col)).filter(df.columns.contains))
    val batchDir = s"$path/files/batch-${nonce()}"
    val (batch, bparts) =
      writePartitionedBatch(df, batchDir, spec, statsColEff)
    enforceConstraints(spark, path, batchDir)
    val batchCols = spark.read.parquet(batch.files.head)
      .schema.fieldNames.toSeq
    val colSpecs = colSpecsForAppend(spark, preBase, statsCols,
      batch.files)
    val batchCs = computeColStats(spark, batch.files, colSpecs)
    val decl = parseBloomDecl(bloomCol, bloomExpectedPerFile, bloomFpp)
    decl.foreach(writeBloomRows(spark, path, batch.files, _))
    var attempts = 0
    while (true) {
      val prev = latestVersion(path)
      val base =
        if (prev == 0) Version(0, Seq.empty, 0)
        else readVersion(spark, path, prev)
      if (committedAt(base)) return prev
      require(base.files.isEmpty || base.part.contains(spec),
        s"partition spec changed mid-table (was ${base.part}, got $spec)")
      require(statsColEff.isEmpty || base.files.isEmpty ||
          base.stats.exists(_.col == statsColEff.get),
        s"stats column changed mid-table (was ${base.stats.map(_.col)})")
      require(bloomCol.isEmpty || base.files.isEmpty ||
          base.blooms.map(_.col) == decl.map(_.col),
        s"bloom columns changed mid-table (was " +
          s"${base.blooms.map(_.col)}, got $bloomCol)")
      val v = prev + 1
      val pkNew = extendParts(spec, base, base.files.indices, bparts)
      val manifest = renderManifest(v,
        CatSeq.cat2(base.files, batch.files),
        CatSeq.cat2(rowsOf(base), batch.rows),
        CatSeq.cat2(bytesOf(base), batch.bytes),
        statsColEff.map { c =>
          Stats(c,
            CatSeq.cat2(base.stats.map(_.mins).getOrElse(Seq.empty),
              batch.mins),
            CatSeq.cat2(base.stats.map(_.maxs).getOrElse(Seq.empty),
              batch.maxs))
        },
        if (decl.nonEmpty) decl else base.blooms, base.txns ++ txn.toMap,
        Some(spec),
        op = "APPEND", dvFiles = base.dvFiles, dvRows = base.dvRows,
        schema = appendMeta(base, path, batchCols, batch.files.length),
        colStats = colStatsWith(base, base.files.indices,
          retryCs(spark, base, batch.files, colSpecs, batchCs)),
        seg = path -> Some(base),
        partKeys = Some(pkNew))
      try { commitExclusive(path, v, manifest); return v }
      catch {
        case _: FileAlreadyExistsException =>
          attempts += 1
          require(attempts < 16,
            s"append to $path lost $attempts consecutive version races")
      }
    }
    -1L // unreachable
  }

  /** REPLACE WHERE as ONE commit: delete every row of the partitioned
    * table whose source value lies in [lo, hi] AND insert `df` — SQL
    * `INSERT INTO t REPLACE WHERE …` / `df.writeTo(t).overwrite(cond)`.
    * The range must align to partition boundaries (monotone transform;
    * truncate widths checked like [[deletePartitionRange]]), so the
    * delete half is pure METADATA — surviving files are carried by
    * reference, zero data bytes moved — and the insert half is an
    * ordinary partitioned batch. Every incoming row must itself fall
    * in [lo, hi]: rows outside would silently survive the next
    * replace of the same range, so they reject loudly (the
    * Delta-replaceWhere contract). Commit retry recomputes the keep
    * set against the refreshed base — overwrite semantics are
    * REPLACE, so re-resolving against a racing append commits the
    * overwrite's view of the range, exactly as a sequential
    * delete+insert would. Returns the committed version.
    */
  def overwriteWhere(df: DataFrame, path: String, lo: Long, hi: Long,
                     txn: Option[(String, Long)] = None): Long = {
    val spark = df.sparkSession
    require(lo <= hi, s"empty REPLACE WHERE range [$lo, $hi]")
    val pre = latestVersion(path)
    require(pre > 0, s"snapshot table $path does not exist")
    def committedAt(base: Version): Boolean = txn.exists { case (w, b) =>
      base.txns.get(w).exists(_ >= b)
    }
    val ver0 = readVersion(spark, path, pre)
    if (committedAt(ver0)) return pre
    require(ver0.dvFiles.isEmpty,
      "table carries deletion vectors — materializeDeletes(...) first " +
        "so the replace cannot resurrect MOR-deleted rows")
    val spec = ver0.part.getOrElse(throw new IllegalArgumentException(
      "REPLACE WHERE needs hidden partitioning — an unpartitioned " +
        "range replace is deleteStatsRange + append"))
    require(spec.monotone,
      s"${spec.transform} partitions hold unordered key mixtures — a " +
        "range cannot replace whole bucket partitions")
    if (spec.transform == "truncate")
      require(Math.floorMod(lo, spec.param) == 0 &&
          Math.floorMod(hi + 1, spec.param) == 0,
        s"[$lo, $hi] is not aligned to the $spec partition width — " +
          "REPLACE WHERE swaps whole partitions; widen the predicate " +
          "to partition boundaries")
    require(df.columns.contains(spec.source) &&
        df.schema(spec.source).dataType ==
          org.apache.spark.sql.types.LongType,
      s"replacement rows must carry BIGINT ${spec.source}")
    val statsCol = ver0.stats.map(_.col)
    // the new batch, laid out exactly like a partitioned append
    val batchDir = s"$path/files/batch-${nonce()}"
    val (batch, bparts) = writePartitionedBatch(df, batchDir, spec, statsCol)
    // an EMPTY replacement is a legitimate "clear this range" backfill:
    // the commit below is then the pure metadata-only partition drop
    val emptyBatch = batch.files.isEmpty
    if (!emptyBatch) {
      // the replaceWhere contract: every incoming row inside the range
      val range = spark.read.parquet(batchDir)
        .agg(min(col(spec.source)).cast("long"),
          max(col(spec.source)).cast("long")).collect().head
      if (!range.isNullAt(0))
        require(range.getLong(0) >= lo && range.getLong(1) <= hi,
          s"replacement rows fall outside REPLACE WHERE [$lo, $hi] " +
            s"(batch spans [${range.getLong(0)}, ${range.getLong(1)}]) — " +
            "rows outside the predicate would silently survive the next " +
            "replace; widen the predicate or filter the input")
      enforceConstraints(spark, path, batchDir)
    } else io(batchDir).deleteDir(batchDir)
    val batchCols =
      if (emptyBatch) Seq.empty[String]
      else spark.read.parquet(batch.files.head).schema.fieldNames.toSeq
    if (!emptyBatch)
      ver0.blooms.foreach(writeBloomRows(spark, path, batch.files, _))
    val batchCs = computeColStats(spark, batch.files, colSpecsOf(ver0))
    val (plo, phi) = (spec(lo), spec(hi))
    var attempts = 0
    while (true) {
      val prev = latestVersion(path)
      val ver = readVersion(spark, path, prev)
      if (committedAt(ver)) return prev
      require(ver.part.contains(spec) && ver.dvFiles.isEmpty,
        s"table layout changed under the replace (part=${ver.part}, " +
          s"dv=${ver.dvFiles.length}) — re-run against the new base")
      // the batch carries no new columns (checked so the schema meta
      // can be carried by reference — REPLACE WHERE is not evolution)
      ver.schemaNames.foreach { names =>
        val unknown = batchCols.filterNot(c => names.contains(c))
        require(unknown.isEmpty,
          s"REPLACE WHERE batch carries new column(s) $unknown — " +
            "evolve the schema with an append first")
      }
      val pv = ver.partKeys.get.longs
      val keepIdx = ver.files.indices
        .filterNot(i => pv(i) >= plo && pv(i) <= phi)
      require(keepIdx.nonEmpty || batch.files.nonEmpty,
        "REPLACE WHERE covers every partition and the replacement is " +
          "empty — a zero-file version is unreadable; TRUNCATE instead")
      val rows = rowsOf(ver)
      val bytes = bytesOf(ver)
      val v = prev + 1
      val manifest = renderManifest(v,
        keepIdx.map(ver.files) ++ batch.files,
        keepIdx.map(rows) ++ batch.rows,
        keepIdx.map(bytes) ++ batch.bytes,
        ver.stats.map(st => Stats(st.col,
          keepIdx.map(st.mins) ++ batch.mins,
          keepIdx.map(st.maxs) ++ batch.maxs)),
        ver.blooms, ver.txns ++ txn.toMap, Some(spec), op = "OVERWRITE",
        schema = carryMeta(ver, keepIdx, batch.files.length),
        colStats = colStatsWith(ver, keepIdx, batchCs),
        seg = path -> Some(ver),
        partKeys = Some(extendParts(spec, ver, keepIdx, bparts)))
      try { commitExclusive(path, v, manifest); return v }
      catch {
        case _: FileAlreadyExistsException =>
          attempts += 1
          require(attempts < 16,
            s"replace on $path lost $attempts consecutive version races")
      }
    }
    -1L // unreachable
  }

  /** Whole-table overwrite of a HIDDEN-PARTITIONED table — atomic
    * TRUNCATE + partitioned INSERT as one commit (`mode("overwrite")`
    * / static INSERT OVERWRITE): the new manifest references ONLY the
    * fresh partition-pure batch under the table's recorded spec;
    * prior versions travel until [[expire]]. Layout (spec, stats,
    * bloom) is inherited — an overwrite changes contents, never the
    * table's pruning structures. Blind commit retry is sound exactly
    * as in [[overwrite]]: the result does not depend on the base.
    */
  def overwritePartitioned(df: DataFrame, path: String,
                           txn: Option[(String, Long)] = None): Long = {
    val spark = df.sparkSession
    val pre = latestVersion(path)
    require(pre > 0, s"snapshot table $path does not exist")
    def committedAt(base: Version): Boolean = txn.exists { case (w, b) =>
      base.txns.get(w).exists(_ >= b)
    }
    val ver0 = readVersion(spark, path, pre)
    if (committedAt(ver0)) return pre
    val spec = ver0.part.getOrElse(throw new IllegalArgumentException(
      "overwritePartitioned needs hidden partitioning — use overwrite"))
    val statsCol = ver0.stats.map(_.col)
    val batchDir = s"$path/files/batch-${nonce()}"
    val (batch, bparts) = writePartitionedBatch(df, batchDir, spec,
      statsCol)
    if (batch.files.isEmpty) {
      // overwrite-with-nothing = TRUNCATE: the zero-file manifest
      // commit, layout carried, prior versions travel
      io(batchDir).deleteDir(batchDir)
      return truncate(spark, path)
    }
    enforceConstraints(spark, path, batchDir)
    val batchCols = spark.read.parquet(batch.files.head)
      .schema.fieldNames.toSeq
    ver0.blooms.foreach(writeBloomRows(spark, path, batch.files, _))
    val batchCs = computeColStats(spark, batch.files, colSpecsOf(ver0))
    var attempts = 0
    while (true) {
      val prev = latestVersion(path)
      val ver = readVersion(spark, path, prev)
      if (committedAt(ver)) return prev
      require(ver.part.contains(spec),
        s"partition spec changed mid-overwrite (was ${ver.part})")
      ver.schemaNames.foreach { names =>
        val unknown = batchCols.filterNot(names.contains)
        require(unknown.isEmpty,
          s"overwrite batch carries new column(s) $unknown — evolve " +
            "the schema with an append first")
      }
      val v = prev + 1
      val manifest = renderManifest(v, batch.files, batch.rows,
        batch.bytes,
        statsCol.map(c => Stats(c, batch.mins, batch.maxs)),
        ver.blooms, ver.txns ++ txn.toMap, Some(spec),
        op = "OVERWRITE",
        schema = carryMeta(ver, Seq.empty, batch.files.length),
        colStats = colStatsWith(ver, Seq.empty, batchCs),
        seg = path -> Some(ver),
        partKeys = Some(extendParts(spec, ver, Seq.empty, bparts)))
      try { commitExclusive(path, v, manifest); return v }
      catch {
        case _: FileAlreadyExistsException =>
          attempts += 1
          require(attempts < 16,
            s"overwrite of $path lost $attempts consecutive version races")
      }
    }
    -1L // unreachable
  }

  /** Commit half of DYNAMIC partition overwrite (the DSv2 write's
    * executors already wrote partition-pure files and derived their
    * facts): swap every base file whose recorded partition value is
    * in `replaced` for the new batch, surviving files carried by
    * reference, retried against the refreshed base (overwrite
    * semantics are REPLACE — the same argument as
    * [[overwriteWhere]]). Works for ANY transform, bucket included:
    * the replaced set is exact partition values, never a range.
    */
  private[graft] def commitDynamicOverwrite(spark: SparkSession,
                                            path: String, spec: PartSpec,
                                            files: Seq[String],
                                            rows: Seq[Long],
                                            bytes: Seq[Long],
                                            statMins: Seq[Long],
                                            statMaxs: Seq[Long],
                                            parts: PartKeys,
                                            txn: Option[(String, Long)] = None,
                                            trackedCs: Option[Seq[ColStats]] = None)
      : Long = {
    var attempts = 0
    var bloomWritten = false
    // the replaced set: exactly the partition tuples the batch landed in
    val replaced: Set[IndexedSeq[String]] =
      (0 until parts.nFiles).map(parts.row).toSet
    // new files' typed bounds: writer-tracked when they cover the
    // pre-commit declaration, else computed ONCE here (the in-loop
    // colStatsWith fails loudly if the layout changes)
    val preSpecs =
      colSpecsOf(readVersion(spark, path, latestVersion(path)))
    val freshCs = trackedCs match {
      case Some(cs) if cs.map(c => (c.col, c.dtype)) == preSpecs => cs
      case _ => computeColStats(spark, files, preSpecs)
    }
    while (true) {
      val prev = latestVersion(path)
      val ver = readVersion(spark, path, prev)
      // replay idempotence: a re-delivered (writer, batch) at or below
      // the recorded watermark commits NOTHING — the staged files stay
      // unreferenced and inert
      if (txn.exists { case (w, b) => ver.txns.get(w).exists(_ >= b) })
        return prev
      require(ver.part.contains(spec) && ver.dvFiles.isEmpty,
        s"table layout changed under the overwrite (part=${ver.part}, " +
          s"dv=${ver.dvFiles.length}) — re-run against the new base")
      if (!bloomWritten) {
        ver.blooms.foreach(writeBloomRows(spark, path, files, _))
        bloomWritten = true
      }
      val pk = ver.partKeys.get
      val keepIdx = ver.files.indices.filterNot(i => replaced(pk.row(i)))
      val baseRows = rowsOf(ver)
      val baseBytes = bytesOf(ver)
      val v = prev + 1
      val manifest = renderManifest(v,
        keepIdx.map(ver.files) ++ files,
        keepIdx.map(baseRows) ++ rows,
        keepIdx.map(baseBytes) ++ bytes,
        ver.stats.map(st => Stats(st.col,
          keepIdx.map(st.mins) ++ statMins,
          keepIdx.map(st.maxs) ++ statMaxs)),
        ver.blooms, ver.txns ++ txn.toMap, Some(spec), op = "OVERWRITE",
        schema = carryMeta(ver, keepIdx, files.length),
        colStats = colStatsWith(ver, keepIdx, freshCs),
        seg = path -> Some(ver),
        partKeys = Some(extendParts(spec, ver, keepIdx, parts)))
      try { commitExclusive(path, v, manifest); return v }
      catch {
        case _: FileAlreadyExistsException =>
          attempts += 1
          require(attempts < 16,
            s"overwrite on $path lost $attempts consecutive version races")
      }
    }
    -1L // unreachable
  }

  /** Partition-pruned scan at `version` from a RANGE predicate on the
    * SOURCE column: the bounds are pushed through the (monotone)
    * transform on the driver, only the files whose recorded partition
    * value falls in the transformed range are opened, and the exact
    * BETWEEN rides along as the residual. Bucket transforms reject —
    * hashing scatters order — use [[scanPartitionKeys]].
    * Returns (relation, filesRead, filesTotal) for pruning assertions.
    */
  def scanPartitionRange(spark: SparkSession, path: String, version: Long,
                         lo: Long, hi: Long): (DataFrame, Int, Int) = {
    val ver = readVersion(spark, path, version)
    val spec = ver.part.getOrElse(throw new IllegalArgumentException(
      s"version $version is not hidden-partitioned — appendPartitioned"))
    require(spec.monotone,
      s"${spec.transform} does not preserve order — range predicates " +
        "cannot prune bucket partitions; use scanPartitionKeys")
    val pv = ver.partKeys.get.longs
    val (plo, phi) = (spec(lo), spec(hi))
    val hit = ver.files.indices
      .filter(i => pv(i) >= plo && pv(i) <= phi)
    val df =
      if (hit.isEmpty) emptyRelation(spark, path, ver)
      else readWithDv(spark, path, ver, hit)
    (df.filter(col(spec.source).between(lo, hi)), hit.length,
      ver.files.length)
  }

  /** Partition-pruned equality probe at `version`: each key maps
    * through the transform (any transform — bucket included, which is
    * what bucket partitioning exists for) to a partition value; only
    * files recording one of those values are opened, with the exact
    * `IN` as residual. Returns (relation, filesRead, filesTotal).
    */
  def scanPartitionKeys(spark: SparkSession, path: String, version: Long,
                        keys: Seq[Long]): (DataFrame, Int, Int) = {
    require(keys.nonEmpty, "partition probe needs at least one key")
    val ver = readVersion(spark, path, version)
    val spec = ver.part.getOrElse(throw new IllegalArgumentException(
      s"version $version is not hidden-partitioned — appendPartitioned"))
    val want = keys.map(spec(_)).toSet
    val pv = ver.partKeys.get.longs
    val hit = ver.files.indices.filter(i => want(pv(i)))
    val df =
      if (hit.isEmpty) emptyRelation(spark, path, ver)
      else readWithDv(spark, path, ver, hit)
    (df.filter(col(spec.source).isin(keys: _*)), hit.length,
      ver.files.length)
  }

  /** METADATA-ONLY delete of whole partitions: when [lo, hi] on the
    * source column aligns to partition boundaries, every row of every
    * intersecting file is in range, so the new version simply OMITS
    * those files from its manifest — zero bytes read, zero written,
    * whatever the partitions hold. This is the step past the COW
    * delete's economics ("rewrite only intersecting files") for the
    * delete shape ingest actually produces (drop a bad day/tenant):
    * at 100 TB the drop costs one manifest write. Non-aligned ranges
    * reject loudly rather than silently over-deleting — sub-partition
    * surgery is [[deleteStatsRange]]'s job. Time travel to the
    * pre-delete version still reads the dropped files (they stay on
    * disk until [[expire]]). Create-exclusive commit, no retry (the
    * file arithmetic is version-specific). Returns
    * (newVersion, filesDropped, filesTotalBefore).
    */
  /** METADATA-ONLY SQL DELETE of whole hidden partitions: when every
    * pushed predicate is an equality/IN on the SOURCE column of an
    * INJECTIVE partition field — `identity` over any dtype, or
    * `days` over a DATE source (epoch-day identity) — the recorded
    * partition value DETERMINES the source value, so a matching file
    * holds ONLY matching rows and a surviving file holds NONE: the
    * new version simply omits the matched files. This is "drop a bad
    * day/tenant" as one manifest write, via plain `DELETE FROM`, at
    * any table size. `IsNotNull` on a partition source is vacuous
    * (every write path rejects NULL sources) and is skipped. Returns
    * None when the shape does not apply — a non-injective transform
    * (truncate/bucket/hours/months over timestamps), a predicate on
    * a non-source column, a DV-carrying table — and the caller falls
    * back to the MOR path. Deleting EVERY file routes to [[truncate]]
    * (a zero-file version needs the truncate form). Returns
    * Some((version, rowsDeleted)) when it committed.
    */
  private[graft] def deletePartitionsByFilters(
      spark: SparkSession, path: String,
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : Option[(Long, Long)] = {
    import org.apache.spark.sql.sources._
    val prev = latestVersion(path)
    if (prev == 0) return None
    val ver = readVersion(spark, path, prev)
    if (ver.dvFiles.nonEmpty || ver.part.isEmpty ||
        ver.files.isEmpty) return None
    val sp = ver.part.get
    def injective(f: PartField): Boolean =
      f.transform == "identity" ||
        (f.transform == "days" && f.dtype == "date")
    val fieldOf: Map[String, (PartField, Int)] =
      sp.fields.zipWithIndex
        .filter { case (f, _) => injective(f) }
        .map { case (f, j) => f.source -> (f, j) }.toMap
    val sources = sp.fields.map(_.source).toSet
    // translate EVERY filter to (field index, probe partition keys);
    // anything else disqualifies the whole fast path
    val probes = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Set[Any])]
    filters.foreach {
      case IsNotNull(c) if sources(c) => () // vacuous: sources non-NULL
      case EqualTo(c, v) if fieldOf.contains(c) =>
        val (f, j) = fieldOf(c)
        TypedBounds.keyOfValue(f.dtype, v) match {
          case Some(k) => probes += ((j, Set(f.applyKey(k))))
          case None => return None
        }
      case In(c, vs) if fieldOf.contains(c) =>
        val (f, j) = fieldOf(c)
        val ks = vs.toSeq.map(v => TypedBounds.keyOfValue(f.dtype, v))
        if (ks.exists(_.isEmpty)) return None
        probes += ((j, ks.flatten.map(f.applyKey).toSet))
      case _ => return None
    }
    if (probes.isEmpty) return None
    val pk = ver.partKeys.get
    val dropIdx = ver.files.indices.filter(i =>
      probes.forall { case (j, want) => want.contains(pk.key(i, j)) })
    val rows = rowsOf(ver)
    val dropped = dropIdx.map(rows).sum
    if (dropIdx.isEmpty) return Some((prev, 0L)) // no partition matches
    if (dropIdx.length == ver.files.length)
      return Some((truncate(spark, path), dropped))
    val keepIdx = ver.files.indices.filterNot(dropIdx.toSet)
    val bytes = bytesOf(ver)
    val v = prev + 1
    commitExclusive(path, v, renderManifest(v,
      keepIdx.map(ver.files), keepIdx.map(rows), keepIdx.map(bytes),
      ver.stats.map(st =>
        Stats(st.col, keepIdx.map(st.mins), keepIdx.map(st.maxs))),
      ver.blooms, ver.txns, ver.part,
      op = "DELETE", schema = carryMeta(ver, keepIdx, 0),
      colStats = ver.colStats.map(_.slice(keepIdx)),
      seg = path -> Some(ver),
      partKeys = Some(pk.slice(keepIdx))))
    Some((v, dropped))
  }

  def deletePartitionRange(spark: SparkSession, path: String, lo: Long,
                           hi: Long): (Long, Int, Int) = {
    val prev = latestVersion(path)
    require(prev > 0, s"snapshot table $path does not exist")
    val ver = readVersion(spark, path, prev)
    require(ver.dvFiles.isEmpty,
      "table carries deletion vectors — materializeDeletes(...) first " +
        "so the rewrite cannot resurrect MOR-deleted rows")
    val spec = ver.part.getOrElse(throw new IllegalArgumentException(
      "metadata-only delete needs hidden partitioning — appendPartitioned"))
    require(spec.monotone,
      s"${spec.transform} partitions hold unordered key mixtures — a " +
        "range cannot drop whole bucket partitions")
    if (spec.transform == "truncate")
      require(Math.floorMod(lo, spec.param) == 0 &&
          Math.floorMod(hi + 1, spec.param) == 0,
        s"[$lo, $hi] is not aligned to the $spec partition width — " +
          "a metadata-only delete drops whole partitions; use " +
          "deleteStatsRange for sub-partition ranges")
    // identity partitions hold one value each: any range is aligned
    val (plo, phi) = (spec(lo), spec(hi))
    val pk = ver.partKeys.get
    val pv = pk.longs
    val keepIdx = ver.files.indices
      .filterNot(i => pv(i) >= plo && pv(i) <= phi)
    require(keepIdx.nonEmpty,
      "delete range covers every partition — a zero-file version is " +
        "unreadable (no schema source); drop the table instead")
    val rows = rowsOf(ver)
    val bytes = bytesOf(ver)
    val v = prev + 1
    commitExclusive(path, v, renderManifest(v,
      keepIdx.map(ver.files), keepIdx.map(rows), keepIdx.map(bytes),
      ver.stats.map(st =>
        Stats(st.col, keepIdx.map(st.mins), keepIdx.map(st.maxs))),
      ver.blooms, ver.txns, Some(spec),
      op = "DELETE", schema = carryMeta(ver, keepIdx, 0),
      colStats = ver.colStats.map(_.slice(keepIdx)),
      seg = path -> Some(ver), partKeys = Some(pk.slice(keepIdx))))
    (v, ver.files.length - keepIdx.length, ver.files.length)
  }

  // ------------------------------------------------------------- scans

  /** Time-travel scan: exactly the files visible at `version`, plus
    * (filesRead, rowsExpected) so callers can assert isolation — a
    * v1 scan must not see v2's files however many exist on disk.
    */
  def scanAt(spark: SparkSession, path: String, version: Long)
      : (DataFrame, Int, Long) = {
    val ver = readVersion(spark, path, version)
    require(ver.files.nonEmpty, s"version $version is empty")
    // mergeSchema: appends may evolve the schema (added columns read
    // as null from older files) — the manifest, not file homogeneity,
    // defines the table
    (readWithDv(spark, path, ver, ver.files.indices, mergeSchema = true),
      ver.files.length, ver.rows)
  }

  /** Read `files` (a pruned subset of `ver.files`) applying the
    * version's DELETION VECTORS, if any: rows whose (file, position)
    * appears in the DV relation are anti-joined away. The DV side is
    * tiny relative to the table (it is the deleted rows' addresses,
    * nothing else), so AQE broadcasts it and the read tax is one
    * hash-probe per row — the merge-on-read trade
    * [[deleteRowsWhere]] buys its O(matched) delete latency with,
    * until [[materializeDeletes]] rewrites it away. Row addressing
    * uses the parquet source's `_metadata.file_path`/`row_index`,
    * which are stable per committed immutable file.
    */
  /** Zero-row relation with the version's VISIBLE schema — pruned
    * scans that hit nothing must still present current column names,
    * not a head file's stale physical ones.
    */
  private def emptyRelation(spark: SparkSession, path: String,
                            ver: Version): DataFrame =
    if (ver.needsResolve) readResolved(spark, path, ver, Seq(0)).limit(0)
    else fillAddedColumns(
      spark.read.parquet(ver.files.head).limit(0), ver)

  private def readWithDv(spark: SparkSession, path: String, ver: Version,
                         idx: Seq[Int],
                         mergeSchema: Boolean = false): DataFrame =
    if (ver.needsResolve) readResolved(spark, path, ver, idx)
    else {
      val rd =
        if (mergeSchema) spark.read.option("mergeSchema", "true")
        else spark.read
      // ADD COLUMN columns with no type-bearing file surface as typed
      // nulls (no file carries them, so the merged schema lacks them)
      fillAddedColumns(
        applyDv(spark, rd.parquet(idx.map(ver.files): _*), ver), ver)
    }

  /** FIELD-ID column resolution — the read path that makes rename and
    * drop metadata-only: the version's files are grouped by the naming
    * EPOCH they were written under, each group is read with its
    * epoch's id→physical-name table and projected onto the version's
    * VISIBLE schema (physical name aliased to current name, per id),
    * and the groups union by name with nulls for columns a group's
    * files predate. Deletion vectors apply per group, on the raw
    * source relation, before the projection. Epoch count = ALTER
    * count since last uniform state (small); each group is one
    * ordinary pruned parquet scan — no per-file work, no driver data.
    * Under name-based resolution a rename would silently fork a
    * column into old-null/new-null halves; ids make old files serve
    * the new name and dropped columns vanish without rewriting a
    * byte.
    */
  private def readResolved(spark: SparkSession, path: String,
                           ver: Version, idx: Seq[Int]): DataFrame = {
    val fe = ver.fileEpochs.get
    val visible = ver.schemaIds.get.zip(ver.schemaNames.get)
    val groups = idx.groupBy(fe).toSeq.sortBy(_._1)
    val parts = groups.map { case (e, gidx) =>
      val naming = epochNaming(spark, path, e)
      val raw = spark.read.option("mergeSchema", "true")
        .parquet(gidx.map(ver.files): _*)
      val present = raw.schema.fieldNames.toSet
      val cols = visible.flatMap { case (id, cur) =>
        naming.get(id).filter(present).map(ph => col(ph).as(cur))
      }
      applyDv(spark, raw, ver).select(cols: _*)
    }
    val u = parts.reduce(_.unionByName(_, allowMissingColumns = true))
    // a visible column absent from EVERY opened group (a pruned scan
    // missing the adding batch's files, or an ADD COLUMN with no
    // type-bearing file) still surfaces, as TYPED nulls when the
    // manifest declares the type
    val filled = fillAddedColumns(u, ver)
    // ALTER COLUMN TYPE widening: groups written pre-widen carry the
    // narrow physical type; the union already coerces where groups
    // mix, and the explicit cast pins the DECLARED widened type even
    // while every live file is still narrow (cast to self is a no-op)
    if (ver.widenedTypes.isEmpty) filled
    else {
      val idName = ver.schemaIds.get.zip(ver.schemaNames.get).toMap
      ver.widenedTypes.foldLeft(filled) { case (d, (id, ddl)) =>
        idName.get(id).filter(d.columns.contains) match {
          case Some(n) => d.withColumn(n, col(n).cast(
            org.apache.spark.sql.types.DataType.fromDDL(ddl)))
          case None => d
        }
      }
    }
  }

  /** Canonical filesystem path for cross-source file comparisons:
    * `input_file_name()` (manifest entries) renders `file:///x` while
    * `_metadata.file_path` (DV addresses) renders `file:/x` — equal
    * files, unequal strings. Comparisons WITHIN one source stay raw;
    * any comparison ACROSS the two goes through this.
    */
  private def hasParquet(dir: String): Boolean =
    io(dir).walkFiles(dir).exists(_.name.endsWith(".parquet"))

  private[graft] def canonFile(f: String): String =
    if (f.startsWith("file:")) TableIo.nioIo.canon(f)
    else TableIo.forPath(f).canon(f)

  /** DV rows targeting any file in `canonSet` — the count a DV-aware
    * rewrite must SUBTRACT from the carried `dvRows` when it removes
    * those files (their DV rows go inert; the manifest's logical
    * `rows` is physical − dvRows, so a stale count would double-drop
    * the materialized rows). O(dv bytes) driver metadata.
    */
  private def dvRowsTargeting(spark: SparkSession, ver: Version,
                              canonSet: Set[String]): Long =
    if (ver.dvFiles.isEmpty || canonSet.isEmpty) 0L
    else spark.read.parquet(ver.dvFiles: _*).groupBy("__dvf").count()
      .collect()
      .filter(r => canonSet(canonFile(r.getString(0))))
      .map(_.getLong(1)).sum

  /** Live rows of `files` with a `__file` provenance column — the
    * compaction-shaped read: both `input_file_name()` and the DV
    * anti-join's metadata addresses must bind while the relation is
    * still the raw file source, so this derives them together.
    */
  private def dvLive(spark: SparkSession, ver: Version,
                     files: Seq[String]): DataFrame = {
    val raw = spark.read.parquet(files: _*)
      .select(col("*"), input_file_name().as("__file"),
        col("_metadata.file_path").as("__f"),
        col("_metadata.row_index").as("__i"))
    val live =
      if (ver.dvFiles.isEmpty) raw
      else {
        val dv = spark.read.parquet(ver.dvFiles: _*)
        raw.join(dv,
          col("__f") === dv("__dvf") && col("__i") === dv("__dvp"),
          "left_anti")
      }
    live.drop("__f", "__i")
  }

  /** Anti-join `ver`'s deletion vectors onto `base`, which MUST still
    * be the raw file-source relation (`_metadata` stops resolving
    * after any join/projection).
    */
  private def applyDv(spark: SparkSession, base: DataFrame,
                      ver: Version): DataFrame =
    if (ver.dvFiles.isEmpty) base
    else {
      val dv = spark.read.parquet(ver.dvFiles: _*)
      base.select(col("*"), col("_metadata.file_path").as("__f"),
          col("_metadata.row_index").as("__i"))
        .join(dv, col("__f") === dv("__dvf") && col("__i") === dv("__dvp"),
          "left_anti")
        .drop("__f", "__i")
    }

  /** Stats-pruned range scan at `version`: open only the files whose
    * [min, max] on the manifest's stat column intersects [lo, hi],
    * with the exact BETWEEN as the residual predicate — Iceberg-style
    * file skipping on a plain data column, no curve key required.
    * Returns (relation, filesRead, filesTotal) for pruning assertions.
    */
  def scanStatsRange(spark: SparkSession, path: String, version: Long,
                     lo: Long, hi: Long): (DataFrame, Int, Int) = {
    val ver = readVersion(spark, path, version)
    val st = ver.stats.getOrElse(throw new IllegalArgumentException(
      s"version $version carries no column stats — append with statsCol"))
    val hit = ver.files.indices.filter(i =>
      st.maxs(i) >= lo && st.mins(i) <= hi)
    val df =
      if (hit.isEmpty) emptyRelation(spark, path, ver)
      else readWithDv(spark, path, ver, hit)
    (df.filter(col(st.col).between(lo, hi)), hit.length, ver.files.length)
  }

  /** Multi-interval stats scan AT A VERSION: open only the files whose
    * manifest [min, max] on the stat column intersects ANY of the
    * (sorted, disjoint) intervals, with the OR-of-BETWEEN residual.
    * When the stat column IS a space-filling-curve key (append the
    * layout with `statsCol = "z"`), feeding this the rectangle's
    * [[CurveCover]] decomposition gives Z-order/Hilbert rectangle
    * pruning WITH time travel — the clustered-layout story (q131/q135)
    * composed with the commit log, no separate `_manifest` file: the
    * snapshot manifest's per-file stats ARE the curve manifest.
    * An empty cover is an empty relation, not an error.
    */
  def scanRangesAt(spark: SparkSession, path: String, version: Long,
                   ranges: Seq[(Long, Long)]): (DataFrame, Int, Int) = {
    val ver = readVersion(spark, path, version)
    val st = ver.stats.getOrElse(throw new IllegalArgumentException(
      s"version $version carries no column stats — append with statsCol"))
    if (ranges.isEmpty)
      return (emptyRelation(spark, path, ver), 0,
        ver.files.length)
    val hit = ver.files.indices.filter(i => ranges.exists {
      case (lo, hi) => st.maxs(i) >= lo && st.mins(i) <= hi
    })
    val df =
      if (hit.isEmpty) emptyRelation(spark, path, ver)
      else readWithDv(spark, path, ver, hit)
    val pred = ranges.map { case (lo, hi) => col(st.col).between(lo, hi) }
      .reduce(_ || _)
    (df.filter(pred), hit.length, ver.files.length)
  }

  /** Rectangle probe at a version over a curve-keyed layout: the
    * [[CurveCover]] decomposition of the (x, y) rectangle against this
    * VERSION's per-file key ranges. See [[scanRangesAt]].
    */
  def scanRectangleAt(spark: SparkSession, path: String, version: Long,
                      xmin: Long, xmax: Long, ymin: Long, ymax: Long,
                      bits: Int, curve: String = "zorder",
                      maxRanges: Int = 64): (DataFrame, Int, Int) =
    scanRangesAt(spark, path, version,
      CurveCover.cover(xmin, xmax, ymin, ymax, bits, curve, maxRanges))

  /** Bloom-pruned equality probe AT A VERSION: membership is tested in
    * executors over the index rows of exactly the files visible at
    * `version` ([[BloomIndex.probePlan]] — bloom bytes never reach the
    * driver), then only the might-contain files are opened with the
    * exact `IN` as residual. Skipping composes with time travel: a
    * probe at v1 cannot open a file committed at v2, however the
    * layout evolved since. Returns (relation, filesRead, filesTotal).
    */
  def scanKeysAt(spark: SparkSession, path: String, version: Long,
                 keys: Seq[Long]): (DataFrame, Int, Int) =
    scanKeysTypedAt(spark, path, version, keys)

  /** Typed twin of [[scanKeysAt]]: probe values in their SOURCE types
    * (String / Date / Timestamp / integral), canonicalized per
    * [[BloomIndex.canonProbe]] to match the build-side encoding.
    */
  def scanKeysTypedAt(spark: SparkSession, path: String, version: Long,
                      keys: Seq[Any]): (DataFrame, Int, Int) = {
    val canon = keys.map(v => BloomIndex.canonProbe(v).getOrElse(
      throw new IllegalArgumentException(
        s"bloom probe value $v (${v.getClass.getName}) has no " +
          "canonical bloom encoding")))
    val ver = readVersion(spark, path, version)
    val bc = ver.blooms.headOption.getOrElse(
      throw new IllegalArgumentException(
        s"version $version carries no bloom index — append with bloomCol"))
    import spark.implicits._
    // restrict the index union (rows for every batch ever written) to
    // THIS version's manifest: a broadcast semi-join on file name —
    // O(files) names, the same manifest-scale trade every planner op
    // makes; the bloom bytes stay columnar in executors
    val visible = ver.files.toDF("file")
    val idx = spark.read.schema(BloomIndex.indexSchema)
      .option("recursiveFileLookup", "true")
      .json(bloomIdxDir(path))
      .filter(col("col") === bc.col)
      .join(broadcast(visible), "file")
    val (hit, total) = BloomIndex.probeFilesTyped(idx, canon)
    require(total == ver.files.length,
      s"bloom index incomplete at version $version: " +
        s"$total of ${ver.files.length} files indexed")
    val hs = hit.toSet
    val hitIdx = ver.files.indices.filter(i => hs(ver.files(i)))
    val df =
      if (hitIdx.isEmpty) emptyRelation(spark, path, ver)
      else readWithDv(spark, path, ver, hitIdx)
    (df.filter(col(bc.col).isin(keys: _*)), hitIdx.length, total)
  }

  // ------------------------------------------------------------ delete

  /** Copy-on-write DELETE of stat-column range [lo, hi]: rewrite ONLY
    * the files whose manifest [min, max] intersects the range —
    * untouched files carry into the new version BY REFERENCE (zero
    * I/O), which is the entire economics of a 100 TB delete: dropping
    * one bad ingest day must not rewrite seven years. Survivor rows of
    * the hit files are rewritten into new files (ONE read — the
    * deleted-row accounting comes from the manifest's per-file counts,
    * not a second scan), and the next manifest lists carried +
    * rewritten files. Time travel is preserved: the old version's
    * manifest (and its files, which are never deleted here — that is a
    * separate retention sweep) still reads exactly the pre-delete
    * table. Losing the create-exclusive commit AUTO-REBASES when the
    * winner only added files provably outside [lo, hi] (manifest-stats
    * proof — [[commitReplace]]); an overlapping winner fails loudly
    * for the caller to re-plan.
    * Returns (newVersion, filesRewritten, filesTotalBefore).
    */
  def deleteStatsRange(spark: SparkSession, path: String, lo: Long,
                       hi: Long): (Long, Int, Int) = {
    val prev = latestVersion(path)
    require(prev > 0, s"snapshot table $path does not exist")
    val ver = readVersion(spark, path, prev)
    require(ver.dvFiles.isEmpty,
      "table carries deletion vectors — materializeDeletes(...) first " +
        "so the rewrite cannot resurrect MOR-deleted rows")
    require(ver.part.isEmpty,
      "COW delete would rewrite files without their partition dirs — " +
        "on a hidden-partitioned table use deletePartitionRange")
    requireUniform(ver, "deleteStatsRange")
    val st = ver.stats.getOrElse(throw new IllegalArgumentException(
      "copy-on-write delete needs column stats — append with statsCol"))
    val hitIdx = ver.files.indices.filter(i =>
      st.maxs(i) >= lo && st.mins(i) <= hi)
    val keepIdx = ver.files.indices.filterNot(hitIdx.contains)
    val v = prev + 1
    if (hitIdx.isEmpty) {
      // nothing intersects: the new version is the old file list
      commitExclusive(path, v, renderManifest(v, ver.files,
        rowsOf(ver),
        bytesOf(ver),
        Some(st), ver.blooms, ver.txns, op = "DELETE",
        schema = carryMeta(ver, ver.files.indices, 0),
        colStats = ver.colStats,
      seg = path -> Some(ver)))
      return (v, 0, ver.files.length)
    }
    val hitFiles = hitIdx.map(ver.files)
    val survivors = spark.read.parquet(hitFiles: _*)
      .filter(!col(st.col).between(lo, hi))
    val batchDir = s"$path/files/batch-${nonce()}"
    // keep the survivors' stat-order so their new stats stay tight
    survivors.repartitionByRange(math.max(hitIdx.length / 2, 1),
        col(st.col))
      .sortWithinPartitions(st.col)
      .write.mode("errorifexists").parquet(batchDir)
    val batch = batchFacts(spark, batchDir, Some(st.col))
    // a delete range aligned exactly to file boundaries leaves NO
    // survivors: nothing to index, nothing to reference — drop the
    // empty rewrite dir (only row-less part files) rather than leaving
    // it for vacuum, and the new manifest is just the carried set
    if (batch.files.nonEmpty)
      ver.blooms.foreach(writeBloomRows(spark, path, batch.files, _))
    else io(batchDir).deleteDir(batchDir)
    require(keepIdx.nonEmpty || batch.files.nonEmpty,
      "delete covers every row of every file — a zero-file version is " +
        "unreadable (no schema source); drop the table instead")
    // OCC: an interleaved commit that only ADDED files provably
    // outside [lo, hi] (manifest stats) rebases automatically —
    // serial-order-equivalent, the delete never needed to see them
    val vc = commitReplace(spark, path, ver,
      hitFiles.map(canonFile).toSet,
      batch.files, batch.rows, batch.bytes,
      Some((batch.mins, batch.maxs)), None,
      computeColStats(spark, batch.files, colSpecsOf(ver)),
      op = "DELETE", extraTxn = Map.empty,
      interleavedOk = statsDisjoint(lo, hi))
    (vc, hitIdx.length, ver.files.length)
  }

  // --------------------------------------------------- deletion vectors

  /** MERGE-ON-READ delete — the third point on the delete-economics
    * triangle ([[deleteStatsRange]] = copy-on-write rewrite,
    * [[deletePartitionRange]] = metadata-only aligned drop): delete by
    * ARBITRARY predicate while moving only the deleted rows'
    * ADDRESSES. The current version is scanned (existing DVs applied,
    * so re-deleting is naturally idempotent), matching rows' (file,
    * position) pairs are written as a deletion-vector parquet batch,
    * and the new manifest carries the SAME file list with the DV
    * attached — commit cost ∝ matched rows, never rewritten bytes, the
    * shape that matters when 100 rows die inside a 1 GB file. Readers
    * pay one broadcast anti-join until [[materializeDeletes]] folds
    * the DVs into a rewrite. File stats stay valid as bounds (pruning
    * keeps working; it may open a file whose matches are all dead —
    * correct, just less tight). Works on plain AND hidden-partitioned
    * layouts. Returns (version, rowsDeleted); deleting zero rows still
    * commits (an auditable no-op, like an empty append).
    */
  def deleteRowsWhere(spark: SparkSession, path: String,
                      predicateSql: String): (Long, Long) =
    deleteRowsBy(spark, path, _.filter(expr(predicateSql)))

  /** MOR delete by KEY SET: the deletion-vector shape a curation
    * pipeline needs — "remove THESE doc ids" where the ids come from
    * another computation (a dedup pass, a contamination scan), as a
    * DataFrame, never a driver-side IN-list. The key relation joins
    * distributively (broadcast when small, shuffle when not); rows
    * already MOR-deleted are skipped, so overlapping passes compose
    * idempotently. Same zero-rewrite commit as [[deleteRowsWhere]].
    */
  def deleteRowsIn(spark: SparkSession, path: String, keyCol: String,
                   keys: DataFrame): (Long, Long) = {
    require(keys.columns.contains(keyCol),
      s"key relation lacks column $keyCol")
    deleteRowsBy(spark, path,
      _.join(keys.select(col(keyCol)).distinct(), Seq(keyCol),
        "left_semi"))
  }

  /** DV maintenance policy: the bound on merge-on-read's read tax.
    * Every MOR delete appends one DV batch, and every scan pays an
    * anti-join against ALL of the version's DV files — chained
    * curation passes (dedup, decontamination, quality filters, each a
    * [[deleteRowsIn]] commit) would otherwise grow that tax without
    * limit, and past broadcast size the scan plan silently degrades
    * to a sort-merge of the full table side. With a policy set, a
    * delete whose committed state exceeds EITHER threshold triggers
    * [[materializeDeletes]] immediately after its commit: DV count
    * stays ≤ `maxDvFiles` (bounding per-scan file opens) and dead
    * rows stay ≤ `maxDvFraction` of physical rows (bounding the
    * anti-join's broadcast side). Both commits land in history
    * (DELETE then OPTIMIZE) — auditable, and the change feed across
    * the pair nets to exactly the deleted rows. No policy = today's
    * manual-materialize behavior.
    */
  final case class DvPolicy(maxDvFiles: Int, maxDvFraction: Double)

  def setDvPolicy(path: String, maxDvFiles: Int = 8,
                  maxDvFraction: Double = 0.1): Unit = {
    require(maxDvFiles >= 1, s"maxDvFiles must be >= 1, got $maxDvFiles")
    require(maxDvFraction > 0 && maxDvFraction <= 1,
      s"maxDvFraction must be in (0, 1], got $maxDvFraction")
    io(path).write(s"$path/dvpolicy.json", Json.obj(Seq(
      "max_dv_files" -> maxDvFiles.toString,
      "max_dv_fraction" -> maxDvFraction.toString)))
  }

  def dvPolicyOf(path: String): Option[DvPolicy] = {
    val p = s"$path/dvpolicy.json"
    if (!io(path).exists(p)) return None
    val s = io(path).readString(p)
    val files = "\"max_dv_files\":\\s*(\\d+)".r
      .findFirstMatchIn(s).map(_.group(1).toInt)
    val frac = "\"max_dv_fraction\":\\s*([0-9.eE+-]+)".r
      .findFirstMatchIn(s).map(_.group(1).toDouble)
    Some(DvPolicy(
      files.getOrElse(throw new IllegalStateException(
        s"malformed dv policy at $p: $s")),
      frac.getOrElse(throw new IllegalStateException(
        s"malformed dv policy at $p: $s"))))
  }

  private def deleteRowsBy(spark: SparkSession, path: String,
                           selectHits: DataFrame => DataFrame)
      : (Long, Long) = {
    val prev = latestVersion(path)
    require(prev > 0, s"snapshot table $path does not exist")
    val ver = readVersion(spark, path, prev)
    requireUniform(ver, "MOR delete")
    val dvDir = s"$path/dv/batch-${nonce()}"
    // tag addresses on the RAW file scan (_metadata resolves only on
    // the source relation), then apply existing DVs so a repeated
    // delete of the same predicate is a natural no-op
    val tagged = spark.read.option("mergeSchema", "true")
      .parquet(ver.files: _*)
      .select(col("*"), col("_metadata.file_path").as("__f"),
        col("_metadata.row_index").as("__i"))
    val live =
      if (ver.dvFiles.isEmpty) tagged
      else {
        val dv0 = spark.read.parquet(ver.dvFiles: _*)
        tagged.join(dv0,
          col("__f") === dv0("__dvf") && col("__i") === dv0("__dvp"),
          "left_anti")
      }
    val hits = selectHits(live)
      .select(col("__f").as("__dvf"), col("__i").as("__dvp"))
    // one file per delete commit: a DV batch is addresses only (16 B a
    // row), so even a 10M-row delete is ~160 MB — raise this if a
    // single delete routinely kills more
    hits.repartition(1).write.mode("errorifexists").parquet(dvDir)
    val written = spark.read.parquet(dvDir)
    val nDel = written.count()
    val dvFiles =
      if (nDel == 0) { io(dvDir).deleteDir(dvDir); Seq.empty }
      else written.select(input_file_name()).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
    val v = prev + 1
    val physRows = rowsOf(ver).sum
    val allDv = ver.dvFiles ++ dvFiles
    val allDvRows = ver.dvRows + nDel
    commitExclusive(path, v, renderManifest(v, ver.files,
      rowsOf(ver),
      bytesOf(ver),
      ver.stats, ver.blooms, ver.txns, ver.part,
      op = "DELETE",
      dvFiles = allDv, dvRows = allDvRows,
      schema = carryMeta(ver, ver.files.indices, 0),
      colStats = ver.colStats,
      seg = path -> Some(ver), partKeys = ver.partKeys))
    // maintenance hook: when a [[DvPolicy]] is set and this commit
    // pushed the table past either threshold, fold the DVs into a
    // rewrite NOW — the caller's returned version is the materialized
    // one, and the read tax stays bounded however many curation
    // passes chain
    dvPolicyOf(path) match {
      case Some(pol) if allDv.nonEmpty &&
          (allDv.length > pol.maxDvFiles ||
            allDvRows.toDouble / math.max(physRows, 1L) >
              pol.maxDvFraction) =>
        (materializeDeletes(spark, path).version, nDel)
      case _ => (v, nDel)
    }
  }

  /** Fold a table's deletion vectors into its layout: files with NO
    * dead rows are carried untouched; files with dead rows are
    * rewritten DV-applied (stats-sorted so their new per-file stats
    * stay tight), and the new version carries no DVs — the maintenance
    * commit that ends the MOR read tax and re-opens the COW/compact/
    * recluster/merge paths. Cost ∝ the hit files, never the table —
    * the DV relation itself says which files those are. On
    * hidden-partitioned layouts the survivor rewrite re-derives the
    * hidden value, so the materialized files stay partition-pure and
    * range/key pruning survives.
    */
  def materializeDeletes(spark: SparkSession, path: String)
      : CompactResult = {
    val prev = latestVersion(path)
    require(prev > 0, s"snapshot table $path does not exist")
    val ver = readVersion(spark, path, prev)
    requireUniform(ver, "materializeDeletes")
    require(ver.dvFiles.nonEmpty, "table carries no deletion vectors")
    val dv = spark.read.parquet(ver.dvFiles: _*)
    val hitSet = dv.select("__dvf").distinct()
      .collect().map(r => canonFile(r.getString(0)))
      .toSet // O(hit files) driver metadata
    val hitIdx = ver.files.indices.filter(i => hitSet(canonFile(ver.files(i))))
    require(hitIdx.nonEmpty, "deletion vectors reference no live file")
    require(hitIdx.length < ver.files.length || ver.dvRows < ver.rows + ver.dvRows,
      "materialize would rewrite every file of a fully-deleted table — " +
        "drop the table instead")
    val keepIdx =
      ver.files.indices.filterNot(i => hitSet(canonFile(ver.files(i))))
    val statsCol = ver.stats.map(_.col)
    val survivors = {
      val hitVer = ver.copy(files = hitIdx.map(ver.files))
      applyDv(spark, spark.read.option("mergeSchema", "true")
        .parquet(hitVer.files: _*), hitVer)
    }
    val batchDir = s"$path/files/batch-${nonce()}"
    val rows = rowsOf(ver)
    val bytes = bytesOf(ver)
    val v = prev + 1
    ver.part match {
      case Some(spec) =>
        // partitioned layout: the shared batch writer re-derives the
        // hidden value(s) so the rewritten survivors stay partition-
        // pure; every row of every hit file may be DV-dead, and the
        // write then lands no parquet — carry only the kept files
        val (batch, bparts) =
          writePartitionedBatch(survivors, batchDir, spec, statsCol)
        if (batch.files.isEmpty) io(batchDir).deleteDir(batchDir)
        else ver.blooms.foreach(writeBloomRows(spark, path, batch.files, _))
        commitExclusive(path, v, renderManifest(v,
          keepIdx.map(ver.files) ++ batch.files,
          keepIdx.map(rows) ++ batch.rows,
          keepIdx.map(bytes) ++ batch.bytes,
          ver.stats.map(st => Stats(st.col,
            keepIdx.map(st.mins) ++ batch.mins,
            keepIdx.map(st.maxs) ++ batch.maxs)),
          ver.blooms, ver.txns, Some(spec), op = "OPTIMIZE",
          schema = carryMeta(ver, keepIdx, batch.files.length),
          colStats = colStatsWith(ver, keepIdx,
            computeColStats(spark, batch.files, colSpecsOf(ver))),
          seg = path -> Some(ver),
          partKeys = Some(extendParts(spec, ver, keepIdx, bparts))))
        CompactResult(v, ver.files.length,
          keepIdx.length + batch.files.length, hitIdx.length)
      case None =>
        val laidOut = statsCol match {
          case Some(c) => survivors
            .repartitionByRange(math.max(hitIdx.length / 2, 1), col(c))
            .sortWithinPartitions(c)
          case None =>
            survivors.repartition(math.max(hitIdx.length / 2, 1))
        }
        laidOut.write.mode("errorifexists").parquet(batchDir)
        val batch = batchFacts(spark, batchDir, statsCol)
        if (batch.files.nonEmpty)
          ver.blooms.foreach(writeBloomRows(spark, path, batch.files, _))
        else io(batchDir).deleteDir(batchDir)
        commitExclusive(path, v, renderManifest(v,
          keepIdx.map(ver.files) ++ batch.files,
          keepIdx.map(rows) ++ batch.rows,
          keepIdx.map(bytes) ++ batch.bytes,
          ver.stats.map(st => Stats(st.col,
            keepIdx.map(st.mins) ++ batch.mins,
            keepIdx.map(st.maxs) ++ batch.maxs)),
          ver.blooms, ver.txns, op = "OPTIMIZE",
          schema = carryMeta(ver, keepIdx, batch.files.length),
          colStats = colStatsWith(ver, keepIdx,
            computeColStats(spark, batch.files, colSpecsOf(ver))),
      seg = path -> Some(ver)))
        CompactResult(v, ver.files.length,
          keepIdx.length + batch.files.length, hitIdx.length)
    }
  }

  // ----------------------------------------------------------- compact

  /** Result of one OPTIMIZE pass: the committed version, file counts
    * before/after, and how many input files were rewritten (the rest
    * carried by reference).
    */
  final case class CompactResult(version: Long, filesBefore: Int,
                                 filesAfter: Int, rewritten: Int)

  /** Bin-compact the latest version toward `targetBytes` per file and
    * commit the result as a new version — OPTIMIZE, closing the loop
    * from [[Compaction.planBins]] (the metadata-only plan) to a
    * manifest that swaps the merged inputs for their outputs.
    *
    * The plan orders files by their stat-column min (tiebroken by max
    * and file name — a total order, satisfying planBins' unique-order
    * precondition) and assigns NEXT-FIT bins, so every bin is a
    * contiguous run of the key space and the compacted files inherit
    * tight disjoint stat ranges — stats/curve pruning SURVIVES the
    * rewrite, which is the property the next-fit choice exists for.
    * Single-file bins carry by reference, and so do multi-file bins
    * whose members are all already ≥ `minFileBytes` (default half the
    * target — the Delta-style convergence rule: without it, two files
    * just under target re-merge on every pass and OPTIMIZE never
    * reaches a fixed point; with it, already-compact regions of a
    * 100 TB table cost nothing to re-OPTIMIZE). The remaining bins are
    * rewritten in ONE job: their rows get a bin id via a
    * broadcast file→bin join on `input_file_name`, are range-
    * repartitioned by (bin, key) — order-preserving, so every output
    * file still covers a contiguous key run even if the range
    * partitioner folds small adjacent bins together — and sorted
    * within partitions by the key.
    *
    * Plan cost is O(manifest); data cost is one read+write of exactly
    * the under-sized files. Losing the create-exclusive commit
    * AUTO-REBASES across ANY disjoint concurrent commit (compaction
    * is predicate-free — interleaved appends simply are not compacted
    * this pass); rewrites of the planned inputs fail loudly. Requires
    * a stats
    * layout: compaction without a declared order would have nothing to
    * preserve. The table's bloom index, if any, is rebuilt for the
    * rewritten files only.
    */
  def compact(spark: SparkSession, path: String, targetBytes: Long,
              minFileBytes: Long = -1L): CompactResult = {
    require(targetBytes > 0, s"compaction target must be positive")
    val minBytes = if (minFileBytes >= 0) minFileBytes else targetBytes / 2
    val prev = latestVersion(path)
    require(prev > 0, s"snapshot table $path does not exist")
    val ver = readVersion(spark, path, prev)
    require(ver.part.isEmpty,
      "compaction would merge files across partition values — " +
        "not supported on hidden-partitioned tables")
    requireUniform(ver, "compact")
    val st = ver.stats.getOrElse(throw new IllegalArgumentException(
      "compaction preserves key contiguity — needs a statsCol layout"))
    val rows = ver.fileRows.getOrElse(throw new IllegalArgumentException(
      "manifest lacks per-file rows — recommit with this version"))
    val bytes = ver.fileBytes.getOrElse(throw new IllegalArgumentException(
      "manifest lacks per-file bytes — recommit with this version"))
    import spark.implicits._
    val manifestDf = ver.files.indices.map { i =>
      (ver.files(i), rows(i), bytes(i), st.mins(i), st.maxs(i))
    }.toDF("file", "rws", "bytes", "mn", "mx")
    val planned = Compaction.planBins(manifestDf, col("bytes"),
        struct(col("mn"), col("mx"), col("file")), targetBytes)
      .collect() // O(manifest)
    val byBin = planned.groupBy(_.getAs[Long]("bin")).toSeq.sortBy(_._1)
    def fileOf(r: Row): String = r.getAs[String]("file")
    // rewrite a bin only when merging buys something: ≥2 files and at
    // least one genuinely under-sized — the convergence rule above
    val multi = byBin.filter { case (_, rs) =>
      rs.length > 1 && rs.exists(_.getAs[Long]("bytes") < minBytes)
    }
    if (multi.isEmpty) // already compact: nothing to commit
      return CompactResult(prev, ver.files.length, ver.files.length, 0)
    // bin ids re-indexed 0..B-1 in layout order for the shuffle key
    val binMap = multi.zipWithIndex.flatMap { case ((_, rs), b) =>
      rs.map(r => (fileOf(r), b.toLong))
    }
    val rewriteFiles = binMap.map(_._1)
    val binDf = binMap.toDF("__file", "__bin")
    val batchDir = s"$path/files/batch-${nonce()}"
    // DV-aware (r20): subtract deletion-vector positions while the
    // relation is still the raw file source (metadata columns stop
    // resolving after the bin join) — compaction then doubles as a
    // partial materialize for the rewritten bins; kept files' DV
    // rows carry in the manifest (commitReplace), rewritten files'
    // rows go inert
    dvLive(spark, ver, rewriteFiles)
      .join(broadcast(binDf), "__file")
      .repartitionByRange(multi.length, col("__bin"), col(st.col))
      .sortWithinPartitions(col("__bin"), col(st.col))
      .drop("__file", "__bin")
      .write.mode("errorifexists").parquet(batchDir)
    val batch = batchFacts(spark, batchDir, Some(st.col))
    ver.blooms.foreach(writeBloomRows(spark, path, batch.files, _))
    // OCC: compaction is predicate-free — ANY interleaved append
    // rebases (the new files simply are not compacted this pass)
    val rewriteCanon = rewriteFiles.map(canonFile).toSet
    val v = commitReplace(spark, path, ver, rewriteCanon,
      batch.files, batch.rows, batch.bytes,
      Some((batch.mins, batch.maxs)), None,
      computeColStats(spark, batch.files, colSpecsOf(ver)),
      op = "OPTIMIZE", extraTxn = Map.empty,
      interleavedOk = (_, _) => true,
      dvApplied = dvRowsTargeting(spark, ver, rewriteCanon))
    CompactResult(v, ver.files.length,
      readVersion(spark, path, v).files.length, rewriteFiles.length)
  }

  /** OPTIMIZE for hidden-partitioned tables: bin-compact small files
    * WITHIN each partition value — the maintenance op a daily-ingest
    * table actually needs, since every append drops one small file per
    * partition and a year of ingest makes 365× the files. Bins are
    * next-fit per partition (ordered by the stats min when the table
    * has a stats layout, file name otherwise), single-file bins and
    * all-large bins carry by reference (the same convergence rule as
    * [[compact]]), and the rewrite re-derives the hidden value(s) from
    * the source columns so the output files are partition-pure by
    * construction —
    * partition pruning survives, which is the property [[compact]]'s
    * guard exists to protect. One read+write of exactly the
    * under-sized files; plan cost O(manifest). Create-exclusive
    * commit, no retry.
    */
  def compactPartitioned(spark: SparkSession, path: String,
                         targetBytes: Long, minFileBytes: Long = -1L)
      : CompactResult = {
    require(targetBytes > 0, "compaction target must be positive")
    val minBytes = if (minFileBytes >= 0) minFileBytes else targetBytes / 2
    val prev = latestVersion(path)
    require(prev > 0, s"snapshot table $path does not exist")
    val ver = readVersion(spark, path, prev)
    val spec = ver.part.getOrElse(throw new IllegalArgumentException(
      "compactPartitioned needs hidden partitioning — use compact"))
    requireUniform(ver, "compactPartitioned")
    // partition identity per file — bins never cross a tuple, so
    // compaction preserves partition purity
    val pk = ver.partKeys.get
    val rows = ver.fileRows.getOrElse(throw new IllegalArgumentException(
      "manifest lacks per-file rows — recommit with this version"))
    val bytes = ver.fileBytes.getOrElse(throw new IllegalArgumentException(
      "manifest lacks per-file bytes — recommit with this version"))
    // next-fit bins per partition, in layout order (stats min when
    // present so key contiguity survives, name otherwise — a total
    // order either way since names are unique)
    val orderKey: Int => (Long, String) = ver.stats match {
      case Some(st) => i => (st.mins(i), ver.files(i))
      case None => i => (0L, ver.files(i))
    }
    val binOf = scala.collection.mutable.Map.empty[String, Long]
    var rewriteBins = 0L
    ver.files.indices.groupBy(pk.row).toSeq
      .sortBy(_._1.toString).foreach { case (_, idxs) =>
      val ordered = idxs.sortBy(orderKey)
      // next-fit: cut a bin when adding the file would overflow target
      val bins = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.ArrayBuffer.empty[Int])
      var acc = 0L
      ordered.foreach { i =>
        if (acc + bytes(i) > targetBytes && bins.last.nonEmpty) {
          bins += scala.collection.mutable.ArrayBuffer.empty[Int]
          acc = 0L
        }
        bins.last += i; acc += bytes(i)
      }
      bins.filter(b => b.length > 1 && b.exists(i => bytes(i) < minBytes))
        .foreach { b =>
          b.foreach(i => binOf(ver.files(i)) = rewriteBins)
          rewriteBins += 1
        }
    }
    if (binOf.isEmpty)
      return CompactResult(prev, ver.files.length, ver.files.length, 0)
    val rewriteFiles = binOf.keys.toSeq.sorted
    val keepIdx = ver.files.indices.filterNot(i => binOf.contains(ver.files(i)))
    import spark.implicits._
    val binDf = binOf.toSeq.toDF("__file", "__bin")
    val batchDir = s"$path/files/batch-${nonce()}"
    val derived = partDerivedCols(spec) // partition-pure by construction
    // DV-aware (r20): same as [[compact]] — dead rows subtract during
    // the bin rewrite, kept files' DVs carry below
    val src0 = dvLive(spark, ver, rewriteFiles)
      .join(broadcast(binDf), "__file")
    val src = derived.foldLeft(src0) { case (d, (n, c)) =>
      d.withColumn(n, c)
    }
    val laidOut = ver.stats match {
      case Some(st) => src
        .repartitionByRange(rewriteBins.toInt, col("__bin"), col(st.col))
        .sortWithinPartitions(col("__bin"), col(st.col))
      case None => src.repartitionByRange(rewriteBins.toInt, col("__bin"))
    }
    laidOut.drop("__file", "__bin")
      .write.mode("errorifexists")
      .partitionBy(derived.map(_._1): _*).parquet(batchDir)
    val (batch, bparts) =
      partBatchFacts(spark, batchDir, ver.stats.map(_.col), spec)
    ver.blooms.foreach(writeBloomRows(spark, path, batch.files, _))
    val v = prev + 1
    commitExclusive(path, v, renderManifest(v,
      keepIdx.map(ver.files) ++ batch.files,
      keepIdx.map(rows) ++ batch.rows,
      keepIdx.map(bytes) ++ batch.bytes,
      ver.stats.map(st => Stats(st.col,
        keepIdx.map(st.mins) ++ batch.mins,
        keepIdx.map(st.maxs) ++ batch.maxs)),
      ver.blooms, ver.txns, Some(spec), op = "OPTIMIZE",
      dvFiles = ver.dvFiles, dvRows = ver.dvRows -
        dvRowsTargeting(spark, ver, rewriteFiles.map(canonFile).toSet),
      schema = carryMeta(ver, keepIdx, batch.files.length),
      colStats = colStatsWith(ver, keepIdx,
        computeColStats(spark, batch.files, colSpecsOf(ver))),
      seg = path -> Some(ver),
      partKeys = Some(extendParts(spec, ver, keepIdx, bparts))))
    CompactResult(v, ver.files.length,
      keepIdx.length + batch.files.length, rewriteFiles.length)
  }

  // --------------------------------------------------------- recluster

  final case class ReclusterResult(version: Long, filesBefore: Int,
                                   filesAfter: Int)

  /** Re-layout the latest version by a DIFFERENT cluster column —
    * `OPTIMIZE ... ZORDER BY`, the operation that converts an
    * ingest-ordered table (laid out and stats-pruned on arrival time)
    * into a query-ordered one (laid out on a space-filling-curve key so
    * rectangle probes prune; see [[scanRectangleAt]]). The column must
    * already exist in the table — recluster changes the physical order
    * and the manifest's stat column, never the rows, so the rewrite is
    * row-preserving: a change feed across the recluster commit is EMPTY
    * (every rewritten row cancels in [[changes]]' multiset difference)
    * and time travel to the pre-recluster version still prunes on the
    * OLD stat column, because stats live per manifest, not per table.
    *
    * This is the one whole-table rewrite in the lifecycle (compaction
    * touches under-sized files, delete touches intersecting files) —
    * the price of changing the clustering dimension. It is still ONE
    * range-shuffle job: read every live file, range-partition by the
    * new key (contiguous disjoint per-file key ranges, exactly what
    * stats pruning needs), sort within partitions, commit. At 100 TB
    * you run it once per layout decision, not per ingest — and appends
    * after it keep the new layout by passing the new `statsCol`.
    * Create-exclusive commit, no retry (a racing commit staled the
    * plan — re-run). The bloom index, if any, is rebuilt for the new
    * files; bloom pruning is layout-independent so it just follows.
    */
  def recluster(spark: SparkSession, path: String, clusterCol: String,
                numPartitions: Int): ReclusterResult = {
    val prev = latestVersion(path)
    require(prev > 0, s"snapshot table $path does not exist")
    val ver = readVersion(spark, path, prev)
    require(ver.part.isEmpty,
      "recluster would rewrite files without their partition dirs — " +
        "use reclusterPartitioned on hidden-partitioned tables")
    requireUniform(ver, "recluster")
    // DV-aware (r20): a whole-table rewrite is ALSO the natural DV
    // materialize — subtract deletion-vector positions during the
    // read (same anti-join as every scan) and commit with no DVs,
    // instead of demanding a separate materializeDeletes pass first
    val data = applyDv(spark, spark.read.option("mergeSchema", "true")
      .parquet(ver.files: _*), ver)
    require(data.columns.contains(clusterCol),
      s"recluster column $clusterCol not in table " +
        s"(${data.columns.toSeq.mkString(", ")}) — add it before " +
        "reclustering; recluster reorders rows, it does not derive them")
    val batchDir = s"$path/files/batch-${nonce()}"
    data.repartitionByRange(numPartitions, col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode("errorifexists").parquet(batchDir)
    val batch = batchFacts(spark, batchDir, Some(clusterCol))
    ver.blooms.foreach(writeBloomRows(spark, path, batch.files, _))
    val v = prev + 1
    commitExclusive(path, v, renderManifest(v, batch.files, batch.rows,
      batch.bytes,
      Some(Stats(clusterCol, batch.mins, batch.maxs)),
      ver.blooms, ver.txns,
      op = "OPTIMIZE",
      schema = carryMeta(ver, Seq.empty, batch.files.length),
      colStats = colStatsWith(ver, Seq.empty,
        computeColStats(spark, batch.files, colSpecsOf(ver))),
      seg = path -> Some(ver)))
    ReclusterResult(v, ver.files.length, batch.files.length)
  }

  /** Partition-aware OPTIMIZE ZORDER (Iceberg's sort-order-within-spec):
    * re-layout every live file by `clusterCol` WITHIN its hidden
    * partition tuple, so rectangle/range pruning on the curve key
    * COMPOSES with partition pruning — on a `days(d) × bucket(8, g)`
    * table the layout tools stop being bin-packing-only. The hidden
    * value(s) are re-derived from the source columns exactly as
    * [[compactPartitioned]] does, and `partitionBy` on the derived
    * dirs makes every output file tuple-pure BY CONSTRUCTION; the
    * range partitioner keys on (partition dirs, clusterCol), so each
    * file additionally covers one contiguous key range inside its
    * tuple — the per-file min/max the manifest records become
    * selective for rectangle probes ([[scanRectangleAt]]).
    *
    * Like [[recluster]] this is row-preserving (a change feed across
    * it is EMPTY) and switches the manifest's stats column to
    * `clusterCol`; the partition spec, schema epochs, blooms, and
    * writer watermarks all carry. One range-shuffle job over the live
    * files — the whole-table price of changing the within-partition
    * order, paid once per layout decision. Create-exclusive commit,
    * no retry (a racing commit staled the plan — re-run).
    */
  def reclusterPartitioned(spark: SparkSession, path: String,
                           clusterCol: String, numPartitions: Int)
      : ReclusterResult = {
    val prev = latestVersion(path)
    require(prev > 0, s"snapshot table $path does not exist")
    val ver = readVersion(spark, path, prev)
    val spec = ver.part.getOrElse(throw new IllegalArgumentException(
      "reclusterPartitioned needs hidden partitioning — use recluster"))
    requireUniform(ver, "reclusterPartitioned")
    // DV-aware (r20): subtract deletion-vector positions during the
    // read — the full rewrite doubles as the DV materialize, so a
    // curated (MOR-deleted) table rezorders in ONE pass
    val data = applyDv(spark, spark.read.option("mergeSchema", "true")
      .parquet(ver.files: _*), ver)
    require(data.columns.contains(clusterCol),
      s"recluster column $clusterCol not in table " +
        s"(${data.columns.toSeq.mkString(", ")}) — add it before " +
        "reclustering; recluster reorders rows, it does not derive them")
    val derived = partDerivedCols(spec) // partition-pure by construction
    val src = derived.foldLeft(data) { case (d, (n, c)) =>
      d.withColumn(n, c)
    }
    val dcols = derived.map { case (n, _) => col(n) }
    val batchDir = s"$path/files/batch-${nonce()}"
    src.repartitionByRange(numPartitions,
        (dcols :+ col(clusterCol)): _*)
      .sortWithinPartitions((dcols :+ col(clusterCol)): _*)
      .write.mode("errorifexists")
      .partitionBy(derived.map(_._1): _*).parquet(batchDir)
    val (batch, bparts) =
      partBatchFacts(spark, batchDir, Some(clusterCol), spec)
    ver.blooms.foreach(writeBloomRows(spark, path, batch.files, _))
    val v = prev + 1
    commitExclusive(path, v, renderManifest(v, batch.files, batch.rows,
      batch.bytes,
      Some(Stats(clusterCol, batch.mins, batch.maxs)),
      ver.blooms, ver.txns, Some(spec),
      op = "OPTIMIZE",
      schema = carryMeta(ver, Seq.empty, batch.files.length),
      colStats = colStatsWith(ver, Seq.empty,
        computeColStats(spark, batch.files, colSpecsOf(ver))),
      seg = path -> Some(ver),
      partKeys = Some(extendParts(spec, ver, Seq.empty, bparts))))
    ReclusterResult(v, ver.files.length, batch.files.length)
  }

  // ------------------------------------------------------------- merge

  /** The `candidates` (file indexes of `ver`) whose bloom on `bc.col`
    * might hold one of the `updates`' keys — the merge refinement.
    * Keys probe at the TABLE's column type, canonicalized as the build
    * side encodes them ([[BloomIndex.canonProbe]]). None = the index
    * cannot prune: a key with no canonical encoding, or a candidate
    * without index rows (a commit that did not declare the index wrote
    * it) that might hold a key's old row.
    */
  private def bloomKeyHits(spark: SparkSession, path: String, ver: Version,
                           bc: BloomConf,
                           keyType: org.apache.spark.sql.types.DataType,
                           candidates: Seq[Int], updates: DataFrame)
      : Option[Seq[Int]] = {
    import spark.implicits._
    val canon = updates.select(col(bc.col).cast(keyType)).distinct()
      .collect().map(r => BloomIndex.canonProbe(r.get(0)))
    if (canon.exists(_.isEmpty)) return None
    val idx = spark.read.schema(BloomIndex.indexSchema)
      .option("recursiveFileLookup", "true")
      .json(bloomIdxDir(path))
      .filter(col("col") === bc.col)
      .join(broadcast(candidates.map(ver.files).toDF("file")), "file")
    val (hitFiles, total) =
      BloomIndex.probeFilesTyped(idx, canon.map(_.get).toSeq)
    if (total != candidates.length) None
    else {
      val hs = hitFiles.toSet
      Some(candidates.filter(i => hs(ver.files(i))))
    }
  }

  final case class MergeResult(version: Long, filesRewritten: Int,
                               filesTotal: Int, rowsMatched: Long,
                               rowsInserted: Long)

  /** MERGE INTO (copy-on-write upsert): rows of `updates` REPLACE the
    * table rows sharing their `keyCol` value and INSERT where no such
    * row exists. Only the candidate files are rewritten: stats-pruned
    * by the update batch's [min, max] on the layout column, then — when
    * the table's bloom index covers the merge key and the batch is
    * collect-able (≤100k keys; a CDC batch is small next to the table,
    * and a giant backfill should rewrite, not merge) — bloom-refined to
    * the files that might actually contain an update key. Everything
    * else carries by reference, which is the 100 TB economics: a
    * late-data correction batch for one day must not rewrite the year.
    *
    * Merge contract: `keyCol` is unique per row in the table and in
    * `updates` (checked for updates, one agg on the small side), and an
    * update carries the SAME layout-column value as the row it replaces
    * — rows are addressed by key but LOCATED by layout, so a key living
    * outside the batch's layout range would not be found and the update
    * would insert a duplicate. That is the CDC-natural case (a
    * correction carries its event's own timestamp); violating it is a
    * data bug this layer cannot detect without scanning the full table.
    *
    * Row accounting is metadata arithmetic (manifest per-file counts +
    * one count of the small side): matched = hitRows + |updates| −
    * newBatchRows, inserted = |updates| − matched. Losing the
    * create-exclusive commit AUTO-REBASES when the winner only added
    * files provably outside the update batch's layout range
    * ([[commitReplace]]); an overlapping winner fails loudly.
    */
  def merge(spark: SparkSession, path: String, updates: DataFrame,
            keyCol: String, txn: Option[(String, Long)] = None)
      : MergeResult = {
    val prev = latestVersion(path)
    require(prev > 0, s"snapshot table $path does not exist")
    val ver = readVersion(spark, path, prev)
    require(ver.dvFiles.isEmpty,
      "table carries deletion vectors — materializeDeletes(...) first " +
        "so the rewrite cannot resurrect MOR-deleted rows")
    // idempotent replay (same contract as append's txn): a batch id at
    // or below the writer's recorded watermark merges NOTHING — the
    // exactly-once guarantee for a streaming CDC-apply sink
    txn.foreach { case (w, b) =>
      if (ver.txns.get(w).exists(_ >= b))
        return MergeResult(prev, 0, ver.files.length, 0L, 0L)
    }
    require(ver.part.isEmpty,
      "merge would rewrite files without their partition dirs — " +
        "not supported on hidden-partitioned tables")
    requireUniform(ver, "merge")
    val st = ver.stats.getOrElse(throw new IllegalArgumentException(
      "merge locates rows via column stats — append with statsCol"))
    require(updates.columns.contains(keyCol) &&
        updates.columns.contains(st.col),
      s"updates must carry $keyCol and the layout column ${st.col}")
    // small-side facts in ONE aggregate
    val u = updates.agg(count(lit(1)), count_distinct(col(keyCol)),
      min(col(st.col)).cast("long"), max(col(st.col)).cast("long"))
      .collect().head
    val nUpd = u.getLong(0)
    require(nUpd > 0, "empty update batch")
    require(u.getLong(1) == nUpd,
      s"merge keys must be unique: $nUpd rows, ${u.getLong(1)} keys")
    val (lo, hi) = (u.getLong(2), u.getLong(3))
    val statsHit = ver.files.indices.filter(i =>
      st.maxs(i) >= lo && st.mins(i) <= hi)
    val tableSchema = spark.read.parquet(ver.files.head).schema
    val hitIdx = ver.blooms.find(_.col == keyCol) match {
      case Some(bc) if statsHit.nonEmpty && nUpd <= 100000 =>
        bloomKeyHits(spark, path, ver, bc, tableSchema(keyCol).dataType,
          statsHit, updates)
          .getOrElse(statsHit)
      case _ => statsHit
    }
    val tableCols = tableSchema.fieldNames
    require(updates.columns.sorted.sameElements(tableCols.sorted),
      s"updates schema ${updates.columns.toSeq} must match table " +
        s"columns ${tableCols.toSeq}")
    val rows = rowsOf(ver)
    val hitRows = hitIdx.map(rows).sum
    val newData =
      if (hitIdx.isEmpty) updates.select(tableCols.map(col): _*)
      else spark.read.parquet(hitIdx.map(ver.files): _*)
        .join(updates.select(col(keyCol)), Seq(keyCol), "left_anti")
        .select(tableCols.map(col): _*)
        .unionByName(updates.select(tableCols.map(col): _*))
    val batchDir = s"$path/files/batch-${nonce()}"
    newData.repartitionByRange(math.max(hitIdx.length, 1), col(st.col))
      .sortWithinPartitions(st.col)
      .write.mode("errorifexists").parquet(batchDir)
    enforceConstraints(spark, path, batchDir)
    val batch = batchFacts(spark, batchDir, Some(st.col))
    ver.blooms.foreach(writeBloomRows(spark, path, batch.files, _))
    // OCC: interleaved files provably outside the update batch's
    // layout range [lo, hi] cannot hold a row any update key locates
    // (the merge contract addresses rows by key but LOCATES them by
    // layout) — rebase; anything inside the range fails loudly
    val v = commitReplace(spark, path, ver,
      hitIdx.map(ver.files).map(canonFile).toSet,
      batch.files, batch.rows, batch.bytes,
      Some((batch.mins, batch.maxs)), None,
      computeColStats(spark, batch.files, colSpecsOf(ver)),
      op = "MERGE", extraTxn = txn.toMap,
      interleavedOk = statsDisjoint(lo, hi))
    val matched = hitRows + nUpd - batch.rows.sum
    MergeResult(v, hitIdx.length, ver.files.length, matched, nUpd - matched)
  }

  /** MERGE INTO for hidden-partitioned tables — the upsert a
    * partitioned CDC sink actually needs. Candidate files prune by the
    * update rows' partition TUPLES (every field's transform over its
    * source, derived on the small side — O(distinct tuples) driver
    * metadata — and compared against the manifest's per-file tuples),
    * and the rewrite routes partition-pure via [[writePartitionedBatch]]
    * — an update whose source value changed simply lands in its new
    * partition.
    *
    * The cross-partition-move hazard is handled, not assumed away:
    * tuple pruning alone is sound only when EVERY field derives from
    * the merge key (a key's old row then provably lives in a tuple the
    * updates cover). Otherwise a bloom index on the key closes it:
    * probe ALL files for the update keys (probe values canonicalize
    * per [[BloomIndex.canonProbe]], so string/date/timestamp/decimal
    * keys all work) and union the hits into the candidate set — the
    * old row's file is rewritten and the key anti-joined out, wherever
    * it lives, for the price of a metadata probe. Neither → fail
    * loudly naming the hazard rather than silently duplicating. An
    * incomplete index, an untranslatable probe value or updates too
    * large to probe (>100k) fall back to rewriting every file —
    * correct, just unpruned. Hit files read through the DV anti-join;
    * the commit extends tuples/typed stats through the same
    * [[extendParts]]/[[colStatsWith]] carry every partitioned commit
    * uses. Same txn-id replay dedupe and CHECK-constraint gate as
    * [[merge]].
    */
  def mergePartitioned(spark: SparkSession, path: String,
                       updates: DataFrame, keyCol: String,
                       txn: Option[(String, Long)] = None): MergeResult = {
    val prev = latestVersion(path)
    require(prev > 0, s"snapshot table $path does not exist")
    val ver = readVersion(spark, path, prev)
    txn.foreach { case (w, b) =>
      if (ver.txns.get(w).exists(_ >= b))
        return MergeResult(prev, 0, ver.files.length, 0L, 0L)
    }
    val spec = ver.part.getOrElse(throw new IllegalArgumentException(
      "mergePartitioned needs hidden partitioning — use merge"))
    requireUniform(ver, "mergePartitioned")
    // the partition sources and the merge key must keep the table's
    // types in the updates: transforms and bloom probes hash by type
    val tableSchema = spark.read.parquet(ver.files.head).schema
    def dtName(dt: org.apache.spark.sql.types.DataType): String =
      TypedBounds.dtypeOf(dt).getOrElse(dt.simpleString).toUpperCase
    (spec.fields.map(_.source) :+ keyCol).distinct
      .filter(c => updates.columns.contains(c) &&
        tableSchema.fieldNames.contains(c))
      .foreach { c =>
        val (have, want) = (updates.schema(c).dataType,
          tableSchema(c).dataType)
        require(have == want,
          s"updates' $c must be ${dtName(want)} like the table (was " +
            s"${dtName(have)}) — partition transforms and bloom probes " +
            "hash by type")
      }
    requireRoutable(updates, spec)
    val tableCols = tableSchema.fieldNames
    require(updates.columns.sorted.sameElements(tableCols.sorted),
      s"updates schema ${updates.columns.toSeq} must match table " +
        s"columns ${tableCols.toSeq}")
    require(updates.columns.contains(keyCol),
      s"updates must carry the merge key $keyCol")
    val u = updates.agg(count(lit(1)), count_distinct(col(keyCol)))
      .collect().head
    val nUpd = u.getLong(0)
    require(nUpd > 0, "empty update batch")
    require(u.getLong(1) == nUpd,
      s"merge keys must be unique: $nUpd rows, ${u.getLong(1)} keys")
    // the updates' partition TUPLES, in the manifest's encoded form
    val updTuples: Set[Seq[String]] = updates
      .select(spec.fields.zipWithIndex.map { case (f, j) =>
        f.column.as(s"__pv$j")
      }: _*).distinct()
      .collect().map { r =>
        spec.fields.zipWithIndex.map { case (f, j) =>
          f.encodeKey(r.get(j) match {
            case i: Int => i.toLong
            case x => x
          })
        }: Seq[String]
      }.toSet
    val pk = ver.partKeys.get
    val partHit = ver.files.indices.filter(i => updTuples(pk.row(i)))
    val keyDetermines = spec.fields.forall(_.source == keyCol)
    val hitIdx: Seq[Int] =
      if (keyDetermines) partHit
      else if (nUpd > 100000) ver.files.indices // unprunable: all files
      else ver.blooms.find(_.col == keyCol) match {
        case Some(bc) =>
          bloomKeyHits(spark, path, ver, bc, tableSchema(keyCol).dataType,
            ver.files.indices, updates)
            .map(hits => (partHit ++ hits).distinct.sorted)
            .getOrElse(ver.files.indices)
        case None => throw new IllegalArgumentException(
          s"mergePartitioned on key '$keyCol' needs either every " +
            s"partition field sourced from it (spec: ${spec.describe}) " +
            "or a bloom index on the key: without one, a key whose " +
            "row lives outside the updates' partition tuples would " +
            "be silently duplicated")
      }
    val hitSet = hitIdx.toSet
    val keepIdx = ver.files.indices.filterNot(hitSet)
    val rows = rowsOf(ver)
    val bytes = bytesOf(ver)
    val hitRows = hitIdx.map(rows).sum
    val dvHitRows: Long = dvRowsTargeting(spark, ver,
      hitIdx.map(i => canonFile(ver.files(i))).toSet)
    val newData =
      if (hitIdx.isEmpty) updates.select(tableCols.map(col): _*)
      else applyDv(spark,
          spark.read.parquet(hitIdx.map(ver.files): _*), ver)
        .join(updates.select(col(keyCol)), Seq(keyCol), "left_anti")
        .select(tableCols.map(col): _*)
        .unionByName(updates.select(tableCols.map(col): _*))
    val batchDir = s"$path/files/batch-${nonce()}"
    val (batch, bparts) = writePartitionedBatch(newData, batchDir,
      spec, ver.stats.map(_.col))
    enforceConstraints(spark, path, batchDir)
    ver.blooms.foreach(writeBloomRows(spark, path, batch.files, _))
    val v = prev + 1
    commitExclusive(path, v, renderManifest(v,
      keepIdx.map(ver.files) ++ batch.files,
      keepIdx.map(rows) ++ batch.rows,
      keepIdx.map(bytes) ++ batch.bytes,
      ver.stats.map(st => Stats(st.col,
        keepIdx.map(st.mins) ++ batch.mins,
        keepIdx.map(st.maxs) ++ batch.maxs)),
      ver.blooms, ver.txns ++ txn.toMap, Some(spec), op = "MERGE",
      // DVs carry for the kept files; the rewritten files' DV rows
      // went INERT, so the live-delete count shrinks by exactly the
      // rows the rewrite materialized
      dvFiles = ver.dvFiles, dvRows = ver.dvRows - dvHitRows,
      schema = carryMeta(ver, keepIdx, batch.files.length),
      colStats = colStatsWith(ver, keepIdx,
        computeColStats(spark, batch.files, colSpecsOf(ver))),
      seg = path -> Some(ver),
      partKeys = Some(extendParts(spec, ver, keepIdx, bparts))))
    val matched = hitRows - dvHitRows + nUpd - batch.rows.sum
    MergeResult(v, hitIdx.length, ver.files.length, matched,
      nUpd - matched)
  }

  // ------------------------------------------------ schema evolution

  /** RENAME COLUMN — metadata-only, O(1): the visible name changes AT
    * THE COLUMN'S FIELD ID; no data file is touched. Files written
    * before the rename keep their old physical name and scans resolve
    * them by id ([[readResolved]]); files written after use the new
    * name (the naming epoch bumps, its id→name table persisted
    * immutably). Under name-based resolution a rename silently forks
    * the column into old-null/new-null halves — the hazard field ids
    * exist to close. Time travel shows each version under ITS OWN
    * names. Layout metadata follows: a stats/bloom/partition-source
    * column keeps pruning under its new name. Create-exclusive
    * commit, no retry (plan-against-prev mutation).
    */
  def renameColumn(spark: SparkSession, path: String, oldName: String,
                   newName: String): Long = {
    require(oldName != newName, "rename to the same name is a no-op")
    val prev = latestVersion(path)
    require(prev > 0, s"snapshot table $path does not exist")
    val ver = readVersion(spark, path, prev)
    val ids = ver.schemaIds.getOrElse(throw new IllegalArgumentException(
      s"$path predates field-id schema tracking — a name-based rename " +
        "would fork the column; recreate the table to upgrade"))
    val names = ver.schemaNames.get
    val i = names.indexOf(oldName)
    require(i >= 0, s"no column $oldName in ${names.mkString(", ")}")
    require(!names.contains(newName),
      s"column $newName already exists — renaming $oldName onto it " +
        s"would collide; rename or drop the existing $newName first")
    val newNames = names.updated(i, newName)
    val e = ver.epoch + 1
    writeEpochFile(path, e, ids, newNames)
    val v = prev + 1
    commitExclusive(path, v, renderManifest(v, ver.files, rowsOf(ver),
      bytesOf(ver),
      ver.stats.map(st =>
        if (st.col == oldName) st.copy(col = newName) else st),
      ver.blooms.map(bc =>
        if (bc.col == oldName) bc.copy(col = newName) else bc),
      ver.txns,
      ver.part.map(p => PartSpec(p.fields.map(f =>
        if (f.source == oldName) f.copy(source = newName) else f))),
      op = "ALTER",
      dvFiles = ver.dvFiles, dvRows = ver.dvRows,
      schema = Some(SchemaMeta(ids, newNames, ver.fileEpochs.get, e,
        ver.droppedIds, ver.schemaMaxId, altered = true,
        addedTypes = ver.addedTypes, widened = ver.widenedTypes)),
      colStats = ver.colStats.map(cs =>
        if (cs.col == oldName) cs.copy(col = newName) else cs),
      seg = path -> Some(ver),
      partKeys = ver.partKeys))
    v
  }

  /** ALTER COLUMN TYPE — metadata-only for the SAFE widenings
    * (int→long, float→double; the value-preserving pairs whose
    * manifest encodings are already identical: integrals store
    * decimal longs, floats store doubleToLongBits of the double).
    * Committed files keep their narrow physical pages; reads widen
    * per file (parquet's widening decode serves INT32 under a BIGINT
    * requested schema on the DSv2 path; [[readResolved]] casts on the
    * API path), so the ALTER is one manifest write at any table size.
    * The widened type is DECLARED per field id (`widenedTypes`) —
    * footers cannot supply it while narrow files live — and the
    * naming epoch bumps so epoch groups stay physically type-pure for
    * the group-wise reads. Like rename/drop, the table is then
    * non-uniform: rewrite maintenance requires [[materializeSchema]]
    * first (which settles every file on the widened type). Everything
    * else is REJECTED with the atomic-RTAS workaround — narrowing
    * loses values, and serving them would corrupt silently.
    *
    * Partition SOURCE columns refuse to widen: the spec's transform
    * arithmetic and recorded tuple encodings are typed by the source
    * dtype, and re-keying partitions is a rewrite decision, not a
    * metadata edit.
    */
  def widenColumnType(spark: SparkSession, path: String, name: String,
                      newDt: org.apache.spark.sql.types.DataType): Long = {
    val prev = latestVersion(path)
    require(prev > 0, s"snapshot table $path does not exist")
    val ver = readVersion(spark, path, prev)
    val ids = ver.schemaIds.getOrElse(throw new IllegalArgumentException(
      s"$path predates field-id schema tracking — recreate to upgrade"))
    val names = ver.schemaNames.get
    val i = names.indexOf(name)
    require(i >= 0, s"no column $name in ${names.mkString(", ")}")
    // current VISIBLE type from the union schema (a by-data column is
    // absent from the head file, and the empty-relation shortcut
    // would type it void) — O(footers), fine for a one-time DDL
    val curDt =
      (if (ver.needsResolve || ver.files.isEmpty)
        readResolved(spark, path, ver, ver.files.indices)
      else fillAddedColumns(
        spark.read.option("mergeSchema", "true")
          .parquet(ver.files: _*), ver))
        .schema(name).dataType
    val pair = (TypedBounds.dtypeOf(curDt), TypedBounds.dtypeOf(newDt))
    val (from, to) = pair match {
      case (Some("int"), Some("long")) => ("int", "long")
      case (Some("float"), Some("double")) => ("float", "double")
      // DECIMAL precision widening at the SAME scale (the Iceberg-
      // safe case): every value representable before is representable
      // after, and both dtypes' manifest encodings are the identical
      // unscaled long — bounds/blooms/sketches stay valid verbatim.
      // dtypeOf caps both at p ≤ 18 so the unscaled-long planes hold.
      case (Some(a), Some(b))
          if TypedBounds.isDecimal(a) && TypedBounds.isDecimal(b) &&
            TypedBounds.decimalOf(a).get._2 ==
              TypedBounds.decimalOf(b).get._2 &&
            TypedBounds.decimalOf(a).get._1 <
              TypedBounds.decimalOf(b).get._1 => (a, b)
      case _ => throw new UnsupportedOperationException(
        s"ALTER COLUMN $name TYPE ${newDt.simpleString} is not " +
          s"supported (current: ${curDt.simpleString}) — only the " +
          "value-preserving widenings int→bigint, float→double, and " +
          "decimal(p,s)→decimal(p+k,s) with p+k ≤ 18 are " +
          "metadata-only; rewrite instead: REPLACE TABLE t AS " +
          s"SELECT CAST($name AS ${newDt.simpleString}) ... FROM t " +
          "(atomic RTAS)")
    }
    require(!ver.part.exists(_.fields.exists(_.source == name)),
      s"$name is a partition source — the spec's transform arithmetic " +
        "is typed by the source dtype; re-create the layout via " +
        "atomic RTAS instead of widening under it")
    val e = ver.epoch + 1
    writeEpochFile(path, e, ids, names)
    val v = prev + 1
    commitExclusive(path, v, renderManifest(v, ver.files, rowsOf(ver),
      bytesOf(ver), ver.stats, ver.blooms, ver.txns, ver.part,
      op = "ALTER",
      dvFiles = ver.dvFiles, dvRows = ver.dvRows,
      schema = Some(SchemaMeta(ids, names, ver.fileEpochs.get, e,
        ver.droppedIds, ver.schemaMaxId, altered = true,
        addedTypes = ver.addedTypes,
        widened = ver.widenedTypes.filterNot(_._1 == ids(i)) :+
          (ids(i) -> newDt.sql))),
      colStats = ver.colStats.map(cs =>
        if (cs.col == name && cs.dtype == from) cs.copy(dtype = to)
        else cs),
      seg = path -> Some(ver), partKeys = ver.partKeys))
    v
  }

  /** DROP COLUMN — metadata-only: the (id, name) pair leaves the
    * visible schema; the bytes stay in the files (old versions still
    * time-travel to them) but every scan at this and later versions
    * projects the column away ([[readResolved]]). The id is never
    * recycled (`schemaMaxId` fence), so a later ADD of the same NAME
    * is a brand-new column that reads NULL from files predating it —
    * never the dropped column's resurrected bytes. Layout columns
    * (stats/bloom/partition source) refuse to drop: pruning and
    * routing arithmetic depend on them.
    */
  def dropColumn(spark: SparkSession, path: String, name: String): Long = {
    val prev = latestVersion(path)
    require(prev > 0, s"snapshot table $path does not exist")
    val ver = readVersion(spark, path, prev)
    val ids = ver.schemaIds.getOrElse(throw new IllegalArgumentException(
      s"$path predates field-id schema tracking — recreate to upgrade"))
    val names = ver.schemaNames.get
    val i = names.indexOf(name)
    require(i >= 0, s"no column $name in ${names.mkString(", ")}")
    require(names.length > 1,
      "cannot drop the last visible column — drop the table instead")
    require(!ver.stats.exists(_.col == name),
      s"$name is the stats layout column — pruning depends on it; " +
        "recluster to another layout first")
    require(!ver.blooms.exists(_.col == name),
      s"$name is a bloom index column — key probes depend on it")
    require(!ver.part.exists(_.fields.exists(_.source == name)),
      s"$name is a hidden-partitioning source — routing depends on it")
    require(!ver.colStats.exists(_.col == name),
      s"$name is a typed stats column — re-declare the index without " +
        "it (analyzeStats) before dropping")
    val v = prev + 1
    commitExclusive(path, v, renderManifest(v, ver.files, rowsOf(ver),
      bytesOf(ver),
      ver.stats, ver.blooms, ver.txns, ver.part,
      op = "ALTER", dvFiles = ver.dvFiles, dvRows = ver.dvRows,
      schema = Some(SchemaMeta(ids.patch(i, Nil, 1),
        names.patch(i, Nil, 1), ver.fileEpochs.get, ver.epoch,
        ver.droppedIds :+ ids(i), ver.schemaMaxId, altered = true,
        addedTypes = ver.addedTypes.filterNot(_._1 == ids(i)),
        widened = ver.widenedTypes.filterNot(_._1 == ids(i)))),
      colStats = ver.colStats,
      seg = path -> Some(ver), partKeys = ver.partKeys))
    v
  }

  /** ADD COLUMN — metadata-only, O(1): a fresh field id enters the
    * visible schema with a DECLARED type recorded in the manifest
    * (`addedTypes` — the one fact no file footer can supply while the
    * column has no type-bearing file), the naming epoch bumps so
    * files written hereafter carry the id→name mapping, and every
    * existing file reads the column as typed NULLs — no data file is
    * touched, exactly like Delta/Iceberg ADD COLUMN. Pure adds keep
    * `schemaAltered` FALSE: reads stay on the single-scan merged
    * path (the new column simply resolves to nulls by name
    * mismatch), and rewrite ops stay open. The id is never recycled
    * (`schemaMaxId` fence), so a DROP and re-ADD of the same name is
    * a brand-new column that never resurrects old bytes. Returns the
    * committed version.
    */
  def addColumn(spark: SparkSession, path: String, name: String,
                dataType: org.apache.spark.sql.types.DataType): Long = {
    val prev = latestVersion(path)
    require(prev > 0, s"snapshot table $path does not exist")
    val ver = readVersion(spark, path, prev)
    val ids = ver.schemaIds.getOrElse(throw new IllegalArgumentException(
      s"$path predates field-id schema tracking — recreate to upgrade"))
    val names = ver.schemaNames.get
    require(!names.contains(name),
      s"column $name already exists in ${names.mkString(", ")}")
    val ddl = dataType.sql
    // the type must round-trip through its DDL rendering — that is
    // how the manifest stores it
    require(org.apache.spark.sql.types.DataType.fromDDL(ddl) == dataType,
      s"type $dataType does not round-trip through DDL")
    val newId = ver.schemaMaxId + 1
    val e = ver.epoch + 1
    writeEpochFile(path, e, ids :+ newId, names :+ name)
    val v = prev + 1
    commitExclusive(path, v, renderManifest(v, ver.files, rowsOf(ver),
      bytesOf(ver),
      ver.stats, ver.blooms, ver.txns, ver.part,
      op = "ALTER", dvFiles = ver.dvFiles, dvRows = ver.dvRows,
      schema = Some(SchemaMeta(ids :+ newId, names :+ name,
        ver.fileEpochs.get, e, ver.droppedIds, newId,
        altered = ver.schemaAltered,
        addedTypes = ver.addedTypes :+ (newId, ddl),
        widened = ver.widenedTypes)),
      colStats = ver.colStats,
      seg = path -> Some(ver), partKeys = ver.partKeys))
    v
  }

  /** Typed NULL fill for visible columns a (possibly pruned) read did
    * not surface — ADD COLUMN columns with no type-bearing file read
    * as nulls OF THEIR DECLARED TYPE, and column order follows the
    * visible schema.
    */
  private def fillAddedColumns(df: DataFrame, ver: Version): DataFrame =
    ver.schemaNames match {
      case Some(names) =>
        val idType = ver.addedTypes.toMap
        val byName = ver.schemaIds.get.zip(names).map(_.swap).toMap
        val filled = names.filterNot(df.columns.contains)
          .foldLeft(df) { (d, n) =>
            val c = idType.get(byName(n)) match {
              case Some(ddl) => lit(null).cast(
                org.apache.spark.sql.types.DataType.fromDDL(ddl))
              case None => lit(null)
            }
            d.withColumn(n, c)
          }
        // ALWAYS normalize to the visible schema's column order: a
        // subset-column union can surface every column yet append a
        // later one at the end (unionByName ordering), and positional
        // consumers read the visible order
        filled.select(names.map(col): _*)
      case _ => df
    }

  /** Rewrite every live file under the CURRENT naming and visible
    * schema — the maintenance commit that ends [[readResolved]]'s
    * per-epoch read path and re-opens the rewrite ops
    * ([[requireUniform]]); deletion vectors fold away in the same
    * pass. One read+write of the whole table — the price of physical
    * uniformity, paid once per ALTER burst, never per query. Layout
    * (stats sort / hidden partitioning) is preserved, blooms rebuilt,
    * and a fresh naming epoch marks the uniform state (`altered`
    * clears, dropped-id bookkeeping resets).
    */
  def materializeSchema(spark: SparkSession, path: String,
                        numPartitions: Int = -1): CompactResult = {
    val prev = latestVersion(path)
    require(prev > 0, s"snapshot table $path does not exist")
    val ver = readVersion(spark, path, prev)
    require(ver.schemaIds.isDefined,
      s"$path predates field-id schema tracking — nothing to materialize")
    val data = readResolved(spark, path, ver, ver.files.indices)
    val nOut = if (numPartitions > 0) numPartitions
      else math.max(ver.files.length, 1)
    val statsCol = ver.stats.map(_.col)
    val batchDir = s"$path/files/batch-${nonce()}"
    val ids = ver.schemaIds.get
    val names = ver.schemaNames.get
    val e = ver.epoch + 1
    writeEpochFile(path, e, ids, names)
    val v = prev + 1
    def uniformMeta(nFiles: Int) = Some(SchemaMeta(ids, names,
      Seq.fill(nFiles)(e), e, Seq.empty, ver.schemaMaxId,
      altered = false, addedTypes = ver.addedTypes,
      widened = ver.widenedTypes))
    ver.part match {
      case Some(spec) =>
        val (batch, bparts) =
          writePartitionedBatch(data, batchDir, spec, statsCol)
        ver.blooms.foreach(writeBloomRows(spark, path, batch.files, _))
        commitExclusive(path, v, renderManifest(v, batch.files,
          batch.rows, batch.bytes,
          statsCol.map(c => Stats(c, batch.mins, batch.maxs)),
          ver.blooms, ver.txns, Some(spec),
          op = "OPTIMIZE", schema = uniformMeta(batch.files.length),
          colStats = colStatsWith(ver, Seq.empty,
            computeColStats(spark, batch.files, colSpecsOf(ver))),
          seg = path -> Some(ver),
          partKeys = Some(extendParts(spec, ver, Seq.empty, bparts))))
        CompactResult(v, ver.files.length, batch.files.length,
          ver.files.length)
      case None =>
        val laidOut = statsCol match {
          case Some(c) => data.repartitionByRange(nOut, col(c))
            .sortWithinPartitions(c)
          case None => data.repartition(nOut)
        }
        laidOut.write.mode("errorifexists").parquet(batchDir)
        val batch = batchFacts(spark, batchDir, statsCol)
        ver.blooms.foreach(writeBloomRows(spark, path, batch.files, _))
        commitExclusive(path, v, renderManifest(v, batch.files,
          batch.rows, batch.bytes,
          statsCol.map(c => Stats(c, batch.mins, batch.maxs)),
          ver.blooms, ver.txns,
          op = "OPTIMIZE",
          schema = uniformMeta(batch.files.length),
          colStats = colStatsWith(ver, Seq.empty,
            computeColStats(spark, batch.files, colSpecsOf(ver))),
      seg = path -> Some(ver)))
        CompactResult(v, ver.files.length, batch.files.length,
          ver.files.length)
    }
  }

  // ------------------------------------------------------------ expire

  final case class ExpireResult(manifestsDeleted: Int, filesDeleted: Int,
                                filesRetained: Int)

  /** Retention sweep: drop every version < `keepFrom` — delete their
    * manifests and every data file NOT referenced by any retained
    * version. Time travel to expired versions fails loudly afterwards
    * (the manifest is gone); retained versions read byte-identically
    * (their files were never candidates — a file is deleted only when
    * NO retained manifest lists it). Only files the expired manifests
    * REFERENCE are touched: unknown files in the directory are left
    * alone, so an in-flight append's durable-but-uncommitted batch can
    * never be swept out from under it. Cost is O(manifests × files)
    * string work plus one unlink per dead file — metadata-scale.
    * Stale bloom-index rows for deleted files are left behind
    * (probes restrict to a manifest's file list, so they are inert);
    * they vanish when their batch's files are all dead and the index
    * dir is rewritten by a later compaction of the index, not here.
    */
  // -------------------------------------------------------------- refs

  /** A named ref in the table log: `log/refs/<name>.json` → a
    * committed version. `kind` is "branch" (advanceable, forward-only)
    * or "tag" (frozen). Refs make WRITE-AUDIT-PUBLISH representable on
    * the linear version log: staged commits advance the log head (and
    * a staging branch) while the published ref (`main`) stays put;
    * the audit runs against the staging ref's version; publishing is
    * ONE metadata-only ref update ([[fastForward]]) — in a linear log
    * every higher version is a descendant of every lower one, so the
    * fast-forward property is structural, not checked. Scans take
    * refs via `.option("ref", name)` on the DSv2 source or
    * [[scanRef]]; [[expire]] retains ref-reachable versions.
    *
    * `base` (r20) is the staged BATCH's log parent — the version the
    * batch's first commit landed on top of, recorded by
    * [[stageBranch]] so [[publish]] knows the batch's exact delta.
    * Fast-forward publish is only safe when every commit between the
    * published and staged versions was audited; with `base`,
    * [[publish]] CHERRY-PICKS the batch's delta onto the published
    * state instead, so an earlier FAILED-audit batch sharing the
    * linear log is never silently published along. -1 = unset.
    */
  final case class RefInfo(name: String, kind: String, version: Long,
                           base: Long = -1L)

  private def refsDir(path: String): String = s"${logDir(path)}/refs"

  /** A ref is a DIRECTORY of sequence-numbered pins
    * (`refs/<name>/r<seq>.json`) and every update is a CONDITIONAL PUT
    * of the next sequence — the same create-exclusive protocol version
    * commits use, so a racing advance/fast-forward surfaces as
    * [[java.nio.file.FileAlreadyExistsException]] instead of silently
    * last-winning (which could move a branch BACKWARDS past a
    * concurrent publish). Resolution reads the max sequence.
    */
  private def refDir(path: String, name: String): String =
    s"${refsDir(path)}/$name"

  private def refSeqs(path: String, name: String): Seq[Long] =
    io(path).listNames(refDir(path, name))
      .filter(n => n.startsWith("r") && n.endsWith(".json"))
      .map(_.drop(1).dropRight(5).toLong).sorted

  private def requireRefName(name: String): Unit = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"ref name '$name' — use [A-Za-z0-9._-] (it becomes a log file " +
        "name)")
    // the DSv2 `version` option and SQL VERSION AS OF try a numeric
    // parse FIRST, so an all-digit ref name would silently resolve as
    // a version number through that path — keep the namespaces
    // unambiguous by refusing the collision at creation
    require(!name.forall(_.isDigit),
      s"ref name '$name' is all digits — VERSION AS OF and the " +
        "`version` option would read it as a version NUMBER, making " +
        "the ref unreachable by name; include a letter")
  }

  private def renderRef(r: RefInfo): String = Json.obj(Seq(
    "name" -> Json.quote(r.name), "kind" -> Json.quote(r.kind),
    "version" -> r.version.toString) ++
    (if (r.base >= 0) Seq("base" -> r.base.toString) else Seq.empty))

  private def createRef(path: String, name: String, kind: String,
                        version: Long): Long = {
    requireRefName(name)
    val latest = latestVersion(path)
    require(latest > 0, s"snapshot table $path does not exist")
    val v = if (version > 0) version else latest
    require(v <= latest && io(path).exists(manifestPath(path, v)),
      s"cannot pin ref '$name' to v$v — not a live committed version")
    io(path).mkdirs(refDir(path, name))
    if (refSeqs(path, name).nonEmpty)
      throw new java.nio.file.FileAlreadyExistsException(
        s"ref '$name' already exists on $path")
    // conditional put: racing creators of the same name surface as
    // FileAlreadyExistsException, same protocol as version commits
    io(path).createExclusive(s"${refDir(path, name)}/r1.json",
      renderRef(RefInfo(name, kind, v)))
    v
  }

  /** Create a branch at `version` (default: the current head). */
  def createBranch(path: String, name: String,
                   version: Long = -1L): Long =
    createRef(path, name, "branch", version)

  /** Create an immutable tag at `version` (default: the head). */
  def createTag(path: String, name: String, version: Long = -1L): Long =
    createRef(path, name, "tag", version)

  /** Resolve a ref by name, loudly. Returns the HIGHEST sequence's
    * pin — a torn reader during an advance sees the old or the new
    * pin, never a mixture.
    */
  def resolveRef(path: String, name: String): RefInfo =
    resolveRefSeq(path, name)._1

  private def resolveRefSeq(path: String, name: String)
      : (RefInfo, Long) = {
    val seqs = refSeqs(path, name)
    // list raw names, NOT refs(path): refs() resolves each name and
    // would recurse right back here on a half-created sibling
    require(seqs.nonEmpty,
      s"no ref '$name' on $path — refs: " +
        io(path).listNames(refsDir(path)).sorted.mkString(", "))
    val seq = seqs.last
    val n = jsonMapper.readTree(
      io(path).readString(s"${refDir(path, name)}/r$seq.json"))
    (RefInfo(n.get("name").asText(), n.get("kind").asText(),
      n.get("version").asLong(),
      if (n.has("base")) n.get("base").asLong() else -1L), seq)
  }

  /** Every ref on the table (empty when none were ever created).
    * Tolerates a ref vanishing BETWEEN the listing and its resolve
    * (a concurrent [[dropRef]]): the dropped name is skipped instead
    * of failing the whole listing — [[expire]] and the `.refs` meta
    * table stay available under concurrent ref churn.
    */
  def refs(path: String): Seq[RefInfo] =
    io(path).listNames(refsDir(path)).sorted
      .flatMap(n => scala.util.Try(resolveRef(path, n)).toOption)

  /** The CAS step every branch move shares, with the DROP-RACE guard:
    * [[TableIo.createExclusive]] implicitly recreates parent
    * directories, so a put racing a [[dropRef]] could resurrect the
    * deleted ref. Check the dir first, and AFTER a winning put verify
    * the predecessor pin is still there — if a drop interleaved, undo
    * the resurrection and fail loudly (a dropped ref stays dropped).
    */
  private def casRef(path: String, name: String, seq: Long,
                     next: RefInfo): Unit = {
    val dir = refDir(path, name)
    require(io(path).exists(dir),
      s"ref '$name' on $path was dropped — cannot advance it")
    // CAS on the next sequence: a racing advance that read the same
    // pin collides here and fails loudly — it must re-read and
    // re-decide, never silently overwrite a concurrent publish
    io(path).createExclusive(s"$dir/r${seq + 1}.json", renderRef(next))
    if (!io(path).exists(s"$dir/r$seq.json")) {
      io(path).deleteDir(dir)
      throw new IllegalStateException(
        s"ref '$name' on $path was dropped concurrently — the " +
          "advance rolled back; re-create the ref deliberately if " +
          "you meant to keep it")
    }
  }

  /** Advance a BRANCH to `toVersion` — forward-only (the linear log
    * makes every higher version a descendant, so this IS the
    * fast-forward), tags refuse, and the update is atomic (readers
    * see the old or the new pin, never torn bytes). Clears any staged
    * batch base — a plain advance makes no delta claim; use
    * [[stageBranch]] when the move stages a batch for [[publish]].
    */
  def advanceBranch(path: String, name: String, toVersion: Long): Long = {
    val (cur, seq) = resolveRefSeq(path, name)
    require(cur.kind == "branch",
      s"ref '$name' is a ${cur.kind} — tags are immutable; drop and " +
        "re-create to move one")
    require(toVersion >= cur.version,
      s"branch '$name' is at v${cur.version}; moving BACK to " +
        s"v$toVersion is a rollback, not a fast-forward — use " +
        "restoreTo semantics deliberately, not a ref move")
    require(io(path).exists(manifestPath(path, toVersion)),
      s"cannot advance '$name' to v$toVersion — not a live version")
    casRef(path, name, seq, cur.copy(version = toVersion, base = -1L))
    toVersion
  }

  /** Stage a batch on a branch: advance it to `toVersion` AND record
    * `baseVersion`, the batch's log parent (the head version its
    * first commit landed on top of). The recorded base is what lets
    * [[publish]] cherry-pick EXACTLY this batch's delta — without it,
    * publishing from a shared linear log would carry every
    * intermediate commit, including batches whose audit FAILED.
    */
  def stageBranch(path: String, name: String, toVersion: Long,
                  baseVersion: Long): Long = {
    require(baseVersion >= 0 && baseVersion < toVersion,
      s"staged batch base v$baseVersion must precede the staged " +
        s"version v$toVersion")
    require(baseVersion == 0 ||
        io(path).exists(manifestPath(path, baseVersion)),
      s"staged batch base v$baseVersion is not a committed version")
    val (cur, seq) = resolveRefSeq(path, name)
    require(cur.kind == "branch",
      s"ref '$name' is a ${cur.kind} — tags cannot stage batches")
    require(toVersion >= cur.version,
      s"branch '$name' is at v${cur.version}; staging cannot move it " +
        s"BACK to v$toVersion")
    require(io(path).exists(manifestPath(path, toVersion)),
      s"cannot stage '$name' at v$toVersion — not a live version")
    casRef(path, name, seq,
      cur.copy(version = toVersion, base = baseVersion))
    toVersion
  }

  /** ACCUMULATING stage — the streaming sink's per-epoch hook
    * (`writeStream.option("ref", name)`): advance the branch to
    * `toVersion`, creating it if absent, and record `baseVersion` as
    * the staged batch's base ONLY IF the branch has none yet — an
    * already-recorded base is KEPT, so a batch accumulates across
    * epochs (and across sink re-constructions: a V1-source pipeline
    * rebuilds the streaming write per micro-batch, each seeing a
    * later head) until [[publish]] consumes it and clears the base.
    */
  def stageBranchEnsure(path: String, name: String, toVersion: Long,
                        baseVersion: Long): Long = {
    if (refSeqs(path, name).isEmpty)
      try createRef(path, name, "branch", toVersion)
      catch { case _: FileAlreadyExistsException => () }
    val cur = resolveRef(path, name)
    stageBranch(path, name, toVersion,
      if (cur.base >= 0) cur.base else baseVersion)
  }

  /** PUBLISH: fast-forward branch `to` onto ref `from`'s version —
    * one atomic metadata write, zero data movement. ONLY safe when
    * every commit in (to.version, from.version] was audited: a linear
    * log makes every intermediate commit an ancestor of the staged
    * one, so fast-forwarding past an earlier batch publishes it too.
    * Under concurrent staged writers use [[stageBranch]] +
    * [[publish]], which cherry-picks the audited batch's delta alone.
    */
  def fastForward(path: String, to: String, from: String): Long =
    advanceBranch(path, to, resolveRef(path, from).version)

  final case class PublishResult(version: Long, staged: Long,
                                 mode: String, filesAdded: Int,
                                 filesRemoved: Int, dvAdded: Int)

  /** PUBLISH a staged batch, safe under CONCURRENT staged writers —
    * the write-audit-publish closer that does not trust the linear
    * log's ancestry. `from` must have been moved by [[stageBranch]]
    * (so its pin records the batch's log parent `base`). Two modes:
    *
    *  - `to` pins exactly `base` → nothing foreign sits under the
    *    batch; publish IS the fast-forward (one metadata write).
    *  - otherwise → commits landed between the published version and
    *    the batch (e.g. an earlier batch whose audit FAILED, still an
    *    ancestor of every later version). Fast-forwarding would
    *    silently publish them, so publish CHERRY-PICKS instead: it
    *    re-commits the batch's exact delta vs `base` — added files
    *    (facts sliced from the staged manifest), removed files,
    *    added deletion vectors, its txn watermark — as a NEW version
    *    whose content is the PUBLISHED state plus that delta, then
    *    advances `to`. The unpublished intermediate batches' files,
    *    DVs, and txn watermarks are all excluded, so an abandoned
    *    batch can be retried (its watermark never leaked) and its
    *    rows never appear under the published ref.
    *
    * Conflicts fail loudly as [[java.util.ConcurrentModificationException]]:
    * a batch that removed files, or DV-deleted rows, of an
    * UNPUBLISHED batch's files cannot be replayed onto the published
    * state (the reference it rewrote is not there) — re-stage it
    * against the published state. Schema/layout changes between base
    * and stage (or base and published) also refuse: stage those
    * directly on the published lineage.
    *
    * Cost: O(published files + batch delta) driver string work plus
    * one conditional-put commit — segment carry against the published
    * manifest keeps the new manifest O(Δ) bytes; no data moves.
    */
  def publish(spark: SparkSession, path: String, to: String,
              from: String): PublishResult = {
    val st = resolveRef(path, from)
    require(st.kind == "branch", s"ref '$from' is a ${st.kind}")
    val pub = resolveRef(path, to)
    require(pub.kind == "branch", s"ref '$to' is a ${pub.kind}")
    require(st.base >= 0L,
      s"branch '$from' records no staged-batch base — stage with " +
        "stageBranch(path, name, toVersion, baseVersion) so publish " +
        "knows the batch's exact delta (fastForward is only safe " +
        "when every commit between the published and staged " +
        "versions was audited)")
    require(st.version > pub.version,
      s"nothing to publish: '$from' pins v${st.version}, '$to' " +
        s"already at v${pub.version}")
    // after a successful publish the staged batch is CONSUMED: clear
    // the from-ref's base so the next staged epoch re-bases fresh —
    // re-publishing the same batch would duplicate its files (and is
    // rejected by the dup guard anyway)
    def consumeBase(): Unit = {
      val (cur, seq) = resolveRefSeq(path, from)
      if (cur.base >= 0)
        try casRef(path, from, seq, cur.copy(base = -1L))
        catch { case _: FileAlreadyExistsException => () }
    }
    if (st.base == pub.version) {
      advanceBranch(path, to, st.version)
      consumeBase()
      return PublishResult(st.version, st.version, "fast-forward",
        0, 0, 0)
    }
    def conflict(why: String): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"publish '$from' (v${st.version}, base v${st.base}) onto " +
          s"'$to' (v${pub.version}) on $path: $why — re-stage the " +
          "batch against the published state")
    if (st.base == 0L)
      conflict("the batch's parent is the EMPTY table but the " +
        "published branch has state")
    val mainV = readVersion(spark, path, pub.version)
    val parentV = readVersion(spark, path, st.base)
    val stageV = readVersion(spark, path, st.version)
    // layout planes must agree on all three ends: the delta's file
    // facts are positional slices and only transplant when the
    // published manifest declares the same planes the staged one does
    def samePlanes(a: Version, b: Version, rel: String): Unit = {
      if (a.part != b.part) conflict(s"partition spec changed $rel")
      if (a.stats.map(_.col) != b.stats.map(_.col))
        conflict(s"stats layout changed $rel")
      if (colSpecsOf(a) != colSpecsOf(b))
        conflict(s"typed-stats layout changed $rel")
      if (a.blooms != b.blooms)
        conflict(s"bloom layout changed $rel")
      if (a.schemaIds != b.schemaIds || a.schemaNames != b.schemaNames ||
          a.epoch != b.epoch || a.schemaAltered != b.schemaAltered ||
          a.droppedIds != b.droppedIds ||
          a.schemaMaxId != b.schemaMaxId ||
          a.addedTypes != b.addedTypes ||
          a.widenedTypes != b.widenedTypes)
        conflict(s"schema changed $rel — stage schema ops directly " +
          "on the published lineage, they do not cherry-pick")
    }
    samePlanes(parentV, stageV, "inside the staged batch")
    samePlanes(mainV, parentV,
      "between the published version and the batch's parent")
    // the batch's exact delta vs its own log parent
    val parentSet = parentV.files.map(canonFile).toSet
    val stageCanon = stageV.files.map(canonFile)
    val stageSet = stageCanon.toSet
    val addedIdx = stageV.files.indices
      .filter(i => !parentSet(stageCanon(i)))
    val removed = parentSet.diff(stageSet)
    val mainCanon = mainV.files.map(canonFile)
    val mainSet = mainCanon.toSet
    val missing = removed.filterNot(mainSet)
    if (missing.nonEmpty)
      conflict(s"the batch rewrote/removed ${missing.size} file(s) " +
        s"the published state does not carry (e.g. ${missing.head}) " +
        "— it touched an UNPUBLISHED batch's data")
    val dup = addedIdx.map(stageCanon).filter(mainSet)
    if (dup.nonEmpty)
      conflict(s"${dup.size} added file(s) already published " +
        s"(e.g. ${dup.head}) — double publish of the same batch")
    val parentDv = parentV.dvFiles.toSet
    if (!parentDv.subsetOf(stageV.dvFiles.toSet))
      conflict("the batch removed/compacted deletion vectors — a DV " +
        "materialize does not cherry-pick; run it on the published " +
        "state")
    val dvAdd = stageV.dvFiles.filterNot(parentDv)
    // published successor = published state − removed + batch's adds
    val keptIdx = mainV.files.indices
      .filterNot(i => removed(mainCanon(i)))
    val files = keptIdx.map(mainV.files) ++ addedIdx.map(stageV.files)
    if (dvAdd.nonEmpty) {
      // the batch's DVs must target files of the PUBLISHED successor:
      // a DV row against an unpublished batch's file means the batch
      // deleted rows it cannot have seen under the published state
      val newSet = files.map(canonFile).toSet
      val targets = spark.read.parquet(dvAdd: _*)
        .select("__dvf").distinct().collect().map(_.getString(0))
      val bad = targets.filterNot(t => newSet(canonFile(t)))
      if (bad.nonEmpty)
        conflict(s"staged deletion vectors target ${bad.length} " +
          s"file(s) absent from the published state (e.g. " +
          s"${bad.head}) — the batch deleted an UNPUBLISHED batch's " +
          "rows")
    }
    val mainRows = rowsOf(mainV); val mainBytes = bytesOf(mainV)
    val stRows = rowsOf(stageV); val stBytes = bytesOf(stageV)
    val rows = keptIdx.map(mainRows) ++ addedIdx.map(stRows)
    val bytes = keptIdx.map(mainBytes) ++ addedIdx.map(stBytes)
    val stats = mainV.stats.map { ms =>
      val ss = stageV.stats.get
      Stats(ms.col, keptIdx.map(ms.mins) ++ addedIdx.map(ss.mins),
        keptIdx.map(ms.maxs) ++ addedIdx.map(ss.maxs))
    }
    val colStats = mainV.colStats.zip(stageV.colStats).map {
      case (a, b) => a.slice(keptIdx) ++ b.slice(addedIdx)
    }
    val partKeys = mainV.partKeys.map(pk =>
      pk.slice(keptIdx) ++ stageV.partKeys.get.slice(addedIdx))
    val schema = mainV.schemaIds.map(ids =>
      SchemaMeta(ids, mainV.schemaNames.get,
        keptIdx.map(mainV.fileEpochs.get) ++
          addedIdx.map(stageV.fileEpochs.get),
        mainV.epoch, mainV.droppedIds, mainV.schemaMaxId,
        mainV.schemaAltered, mainV.addedTypes, mainV.widenedTypes))
    // the BATCH's txn watermarks only: an entry the stage merely
    // inherited from its parent belongs to an unpublished writer —
    // leaking it would make that writer's retry think it committed
    val txns = stageV.txns.foldLeft(mainV.txns) { case (m, (w, b)) =>
      if (parentV.txns.get(w).contains(b)) m
      else m.updated(w, math.max(b, m.getOrElse(w, Long.MinValue)))
    }
    var committed = -1L
    var attempts = 0
    while (committed < 0) {
      // content derives from the PUBLISHED pin, never the head — the
      // version number is just the next free slot in the linear log
      val v = latestVersion(path) + 1
      val manifest = renderManifest(v, files, rows, bytes, stats,
        mainV.blooms, txns, part = mainV.part,
        op = s"publish:$from", dvFiles = mainV.dvFiles ++ dvAdd,
        dvRows = mainV.dvRows + (stageV.dvRows - parentV.dvRows),
        schema = schema, colStats = colStats,
        seg = path -> Some(mainV), partKeys = partKeys)
      try { commitExclusive(path, v, manifest); committed = v }
      catch {
        case _: FileAlreadyExistsException =>
          attempts += 1
          require(attempts < 16,
            s"publish on $path lost $attempts consecutive version " +
              "races")
      }
    }
    advanceBranch(path, to, committed)
    consumeBase()
    PublishResult(committed, st.version, "cherry-pick",
      addedIdx.length, removed.size, dvAdd.length)
  }

  /** Remove a ref (its version becomes expirable again). */
  def dropRef(path: String, name: String): Unit = {
    require(refSeqs(path, name).nonEmpty, s"no ref '$name' on $path")
    io(path).deleteDir(refDir(path, name))
  }

  /** Scan the version a ref pins — time travel by name. Returns
    * (relation, pinned version, logical rows).
    */
  def scanRef(spark: SparkSession, path: String, name: String)
      : (DataFrame, Long, Long) = {
    val r = resolveRef(path, name)
    val (df, _, rows) = scanAt(spark, path, r.version)
    (df, r.version, rows)
  }

  // ------------------------------------------------------------ expire

  def expire(spark: SparkSession, path: String, keepFrom: Long)
      : ExpireResult = {
    val latest = latestVersion(path)
    require(keepFrom >= 1 && keepFrom <= latest,
      s"keepFrom $keepFrom outside committed versions [1, $latest]")
    // REF-reachable versions are retained whatever keepFrom says: a
    // branch/tag pins its version's manifest and files exactly like a
    // recent version — dropping the ref is the explicit way to
    // release them (the write-audit-publish contract: `main` must
    // survive any retention sweep while it is the published state)
    val pinned = refs(path).map(_.version)
      .filter(_ < keepFrom).toSet
    val survivors = ((keepFrom to latest) ++ pinned.toSeq).sorted
      .map(v => readVersion(spark, path, v))
    val retained = survivors.flatMap(_.files).toSet
    // segments referenced by ANY surviving header stay; a segment
    // referenced only by expired headers goes with them. (A fresh
    // segment an in-flight commit just wrote is referenced by NO
    // header yet — expire never touches it; vacuum's TTL sweep owns
    // true orphans, same as data files.)
    val retainedSegs = survivors.flatMap(_.segRefs.getOrElse(Seq.empty))
      .map(_.name).toSet
    var manifests = 0
    var deleted = 0
    // OWNERSHIP GUARD: a table only ever garbage-collects files under
    // its own root. A shallow [[cloneAt]] manifest references the
    // SOURCE table's files; expiring clone history must never reach
    // across and delete them (the source's own retention owns those).
    val tio = io(path)
    val root = tio.canon(path) + "/"
    val deadSegs = scala.collection.mutable.Set.empty[String]
    (1L until keepFrom).filterNot(pinned).foreach { v =>
      val p = manifestPath(path, v)
      if (tio.exists(p)) {
        val dead = readVersion(spark, path, v)
        dead.files.filterNot(retained)
          .filter(f => canonFile(f).startsWith(root))
          .foreach { f =>
            if (tio.delete(f)) deleted += 1
          }
        dead.segRefs.getOrElse(Seq.empty).map(_.name)
          .filterNot(retainedSegs).foreach(deadSegs.add)
        tio.delete(p)
        manifests += 1
      }
    }
    deadSegs.foreach { n =>
      segCache.remove(tio.canon(s"${logDir(path)}/$n"))
      tio.delete(s"${logDir(path)}/$n")
    }
    ExpireResult(manifests, deleted, retained.size)
  }

  // ------------------------------------------------------------- clone

  /** SHALLOW CLONE: create a NEW table whose v1 manifest references the
    * source table's data files at `version` — zero bytes copied, one
    * manifest write, full stats/partition metadata carried (deletion
    * vectors too: the clone sees exactly the source version's logical
    * rows). The clone then lives its own life: appends, deletes,
    * compactions write under ITS root and never touch the source —
    * dev/test forks, experiment branches, and point-in-time handoffs
    * at metadata cost. Bloom indexes are NOT carried (they live under
    * the source's root; rebuild with an append or recluster if key
    * probes matter on the clone). Writer txn ids are not carried — a
    * clone is a new table, not a resumed stream sink.
    *
    * Retention interplay (the hazard every shallow-clone design has):
    * the source's expire/vacuum does not know about clones, so
    * expiring source history a clone still references breaks the clone
    * — same documented contract as the big table formats; pin source
    * retention while clones live. The REVERSE hazard is closed
    * structurally: [[expire]]'s ownership guard means clone-side GC
    * only ever deletes files under the clone's own root.
    */
  def cloneAt(spark: SparkSession, srcPath: String, dstPath: String,
              version: Long = -1L): Long = {
    val v = if (version > 0) version else latestVersion(srcPath)
    val src = readVersion(spark, srcPath, v)
    require(latestVersion(dstPath) == 0,
      s"clone target $dstPath already has committed versions")
    src.files.foreach { f =>
      require(io(srcPath).exists(f),
        s"cannot clone $srcPath@v$v: data file $f was garbage-collected")
    }
    commitExclusive(dstPath, 1, renderManifest(1, src.files,
      rowsOf(src),
      bytesOf(src),
      src.stats, Seq.empty, Map.empty, src.part,
      op = "CLONE", dvFiles = src.dvFiles, dvRows = src.dvRows,
      schema = carryMeta(src, src.files.indices, 0),
      colStats = src.colStats,
      seg = dstPath -> None, partKeys = src.partKeys))
    // the clone's readers resolve naming epochs against ITS OWN log:
    // copy every epoch table the referenced files could need
    io(srcPath).listNames(logDir(srcPath))
      .filter(n => n.startsWith("schema-e") && n.endsWith(".json"))
      .foreach { n =>
        io(dstPath).write(s"${logDir(dstPath)}/$n",
          io(srcPath).readString(s"${logDir(srcPath)}/$n"))
      }
    // governance travels with the fork: the source's CHECK constraints
    // apply to the clone's future ingests too
    val srcCs = s"$srcPath/constraints.json"
    if (io(srcPath).exists(srcCs))
      io(dstPath).write(s"$dstPath/constraints.json",
        io(srcPath).readString(srcCs))
    // the DV maintenance policy is governance too
    val srcPol = s"$srcPath/dvpolicy.json"
    if (io(srcPath).exists(srcPol))
      io(dstPath).write(s"$dstPath/dvpolicy.json",
        io(srcPath).readString(srcPol))
    1L
  }

  // ----------------------------------------------------------- restore

  /** RESTORE TABLE … TO VERSION — the undo of any committed mutation,
    * as a metadata-only commit: version `prev+1`'s manifest is a copy
    * of `toVersion`'s file list, per-file facts, stats, bloom config
    * and partition layout. Zero data bytes move, history is preserved
    * (the rolled-back versions stay time-travelable until [[expire]]),
    * and [[changes]] across the restore commit reports exactly the
    * rows the rollback removed and re-added — so downstream
    * incremental consumers ([[tailChanges]]) absorb a restore like any
    * other commit instead of needing a reset.
    *
    * Fails loudly when any restored file no longer exists on disk
    * ([[expire]]/[[vacuum]] may have GC'd the history being revived) —
    * committing a manifest that points at deleted batches would
    * produce a silently truncated table. Writer txn ids are carried
    * from the LATEST version, not the restored one: an ingest that
    * replays an already-committed batch still dedupes, while a writer
    * whose data was just rolled back must re-commit under a NEW batch
    * id — the rollback is a deliberate operator action, not something
    * an at-least-once retry should silently reverse.
    */
  def restore(spark: SparkSession, path: String, toVersion: Long): Long = {
    val src = readVersion(spark, path, toVersion)
    src.files.foreach { f =>
      require(io(path).exists(f),
        s"cannot restore $path to v$toVersion: data file $f was " +
          "garbage-collected (expire/vacuum) — history is gone")
    }
    var attempts = 0
    while (true) {
      val prev = latestVersion(path)
      require(prev >= toVersion,
        s"restore target v$toVersion is ahead of latest v$prev")
      val base = readVersion(spark, path, prev)
      val manifest = renderManifest(prev + 1, src.files,
        rowsOf(src),
        bytesOf(src),
        src.stats, src.blooms, base.txns, src.part,
        op = "RESTORE", dvFiles = src.dvFiles, dvRows = src.dvRows,
        // the id fence NEVER regresses: a restore past a column add
        // must not let a later append recycle the rolled-back id —
        // old files' bytes would surface under the new column
        schema = carryMeta(src, src.files.indices, 0)
          .map(sm => sm.copy(
            maxId = math.max(sm.maxId, base.schemaMaxId))),
        colStats = src.colStats,
        seg = path -> Some(src), partKeys = src.partKeys)
      try { commitExclusive(path, prev + 1, manifest); return prev + 1 }
      catch {
        case _: FileAlreadyExistsException =>
          attempts += 1
          require(attempts < 16,
            s"restore of $path lost $attempts consecutive version races")
      }
    }
    -1L // unreachable
  }

  // ------------------------------------------------------------ vacuum

  final case class VacuumResult(orphansDeleted: Int, bytesFreed: Long,
                                indexRowsDropped: Long, filesLive: Int)

  /** Physical garbage collection — the sweep [[expire]] deliberately is
    * not: delete every data file under the table directory that NO
    * existing manifest references and that is older than `olderThanMs`.
    * Two things produce such files: aborted/raced commits (append
    * writes its batch durably BEFORE the manifest race, so a loser that
    * never retried, or a crashed job, leaves a whole batch directory
    * unreferenced) and [[expire]]d history. The age guard is what makes
    * the sweep safe to run alongside writers: an IN-FLIGHT append's
    * files are newer than any sane TTL, so they are never candidates —
    * the same recently-written grace every table format's VACUUM ships
    * with. Batch directories emptied of parquet are removed whole
    * (their `_SUCCESS` markers carry no information once the data is
    * gone).
    *
    * The bloom index, when present, is garbage-collected in the same
    * pass: index rows for files no manifest references are dropped and
    * the surviving rows are CONSOLIDATED into a single fresh directory
    * replacing the accumulated per-batch ones — without this, a
    * long-lived table's probe cost creeps up with dead batches even
    * though every probe correctly ignores their rows. Index GC assumes
    * no concurrent probe (a reader between the new dir's write and the
    * old dirs' removal would double-count files) — run it in the same
    * maintenance window as expire, which shares the assumption.
    *
    * Cost: one directory walk + O(manifests × files) string work +
    * one unlink per dead file; index GC is one small JSON read/write.
    * Nothing ever reads data.
    */
  def vacuum(spark: SparkSession, path: String,
             olderThanMs: Long = 7L * 24 * 3600 * 1000): VacuumResult = {
    val latest = latestVersion(path)
    require(latest > 0, s"snapshot table $path does not exist")
    val tio = io(path)
    // manifest-form names ("file:///…", exactly what the index rows
    // carry) and canonical paths for the storage walk
    val versions = (1L to latest)
      .filter(v => tio.exists(manifestPath(path, v)))
      .map(v => readVersion(spark, path, v))
    val liveRaw = versions.flatMap(_.files).toSet
    // deletion-vector batches are referenced data too: a DV file is
    // live while ANY manifest lists it, dead once materialize/expire
    // dropped its last reference — swept under the same TTL
    val live = liveRaw.map(canonFile) ++
      versions.flatMap(_.dvFiles).map(canonFile)
    val cutoff = System.currentTimeMillis() - math.max(olderThanMs, 0L)
    var deleted = 0
    var freed = 0L
    val touched = scala.collection.mutable.Set.empty[String]
    def parentOf(p: String): String = {
      val i = p.lastIndexOf('/')
      if (i <= 0) null else p.substring(0, i)
    }
    for (root <- Seq(s"$path/files", s"$path/dv")
         if tio.isDirectory(root)) {
      val rootCanon = tio.canon(root)
      tio.walkFiles(root).foreach { e =>
        // canonicalize before comparing: the live set is built from
        // absolute manifest URIs, and a RELATIVE table path would
        // otherwise make every live file fail the membership test and
        // be swept — total data loss on a healthy table
        val canon = tio.canon(e.path)
        if (e.name.endsWith(".parquet") && !live(canon) &&
            e.mtime <= cutoff) {
          freed += e.size
          tio.delete(e.path)
          deleted += 1
          // mark every ancestor up to the data root: partitioned
          // batches nest files under __pK=… dirs, and the emptied-dir
          // pass below lists only batch-level dirs
          var anc = parentOf(canon)
          while (anc != null && anc != rootCanon &&
              anc.startsWith(rootCanon)) {
            touched += anc; anc = parentOf(anc)
          }
        }
      }
      // drop batch directories the sweep emptied (marker files only).
      // The age guard applies to the DIRECTORY too: an in-flight write
      // holds only `_temporary/` (no parquet yet) but has a fresh
      // mtime, so the TTL that protects its files protects its dir —
      // except for dirs THIS sweep emptied, whose mtime the unlinks
      // just bumped
      tio.listEntries(root).foreach { d =>
        if (d.isDir && (touched(tio.canon(d.path)) ||
            d.mtime <= cutoff)) {
          val hasPq = tio.walkFiles(d.path)
            .exists(_.name.endsWith(".parquet"))
          if (!hasPq) tio.deleteDir(d.path)
        }
      }
    }
    // orphan SEGMENT sweep: a raced/abandoned segmented render writes
    // its segment before losing (or never attempting) the header
    // commit, leaving a seg-*.json no manifest references — same
    // lifecycle as orphan data files, same TTL guard
    val liveSegs = versions.flatMap(_.segRefs.getOrElse(Seq.empty))
      .map(_.name).toSet
    tio.listEntries(logDir(path)).foreach { e =>
      if (!e.isDir && e.name.startsWith("seg-") &&
          e.name.endsWith(".json") && !liveSegs(e.name) &&
          e.mtime <= cutoff) {
        segCache.remove(tio.canon(e.path))
        if (tio.delete(e.path)) deleted += 1
      }
    }
    // bloom-index GC: drop rows for dead files, consolidate the rest
    var idxDropped = 0L
    val idxRoot = bloomIdxDir(path)
    if (tio.isDirectory(idxRoot)) {
      val oldDirs = tio.listEntries(idxRoot).filter(_.isDir).map(_.path)
      val idx = spark.read.option("recursiveFileLookup", "true")
        .json(idxRoot)
      val total = idx.count()
      import spark.implicits._
      // index rows carry manifest-form names, so a broadcast semi-join
      // on the raw strings is exact
      val kept = idx.join(broadcast(liveRaw.toSeq.toDF("file")),
        Seq("file"), "left_semi")
      val keptN = kept.count()
      idxDropped = total - keptN
      if (idxDropped > 0 || oldDirs.length > 1) {
        if (keptN > 0)
          kept.coalesce(1).write.mode("errorifexists")
            .json(s"${bloomIdxDir(path)}/idx-gc-${nonce()}")
        oldDirs.foreach(tio.deleteDir)
      }
    }
    VacuumResult(deleted, freed, idxDropped, live.size)
  }

  // -------------------------------------------------------------- tail

  final case class TailBatch(fromV: Long, toV: Long)

  /** The durable consumer offset [[tailChanges]] advances: the highest
    * table version this checkpoint has fully processed (0 = nothing).
    */
  def committedOffset(checkpointDir: String): Long = {
    val cio = io(checkpointDir)
    val p = s"$checkpointDir/offset"
    if (cio.exists(p)) cio.readString(p).trim.toLong else 0L
  }

  /** Rewind/seek a consumer (reprocessing after a downstream bug, or
    * bootstrapping a copy). Overwrites the offset atomically; the next
    * [[tailChanges]] re-delivers from `v` — safe when the downstream
    * apply is idempotent (txn-keyed), duplicate-producing otherwise.
    */
  def resetOffset(checkpointDir: String, v: Long): Unit = {
    require(v >= 0, s"offset must be >= 0, got $v")
    io(checkpointDir).writeAtomic(s"$checkpointDir/offset", v.toString)
  }

  /** Incremental consumption of the commit log with a durable offset —
    * the batch half of a table→stream bridge (Delta-style streaming
    * read, Trigger.AvailableNow shape). One call delivers everything
    * committed since the checkpoint as ONE DataFrame — the full table
    * tagged `insert` on first contact (the initial snapshot), the
    * [[changes]] feed after (cost ∝ churn, never table size) — to `f`,
    * and advances the offset ONLY after `f` returns.
    *
    * Delivery is at-least-once with DETERMINISTIC batches: a crash
    * between `f` and the offset commit re-delivers exactly the same
    * (fromV, toV) range, so a downstream apply that keys its writes on
    * `toV` — [[append]]/[[merge]] with `txn = (consumerId, toV)` —
    * dedupes the replay and the pipeline is exactly-once end to end.
    * That composition is the point: offsets here, idempotence there,
    * no coordination between the two stores. A checkpoint whose
    * version has been [[expire]]d from the log fails loudly (the delta
    * can no longer be computed — reset and re-bootstrap) rather than
    * silently skipping history.
    */
  def tailChanges(spark: SparkSession, path: String, checkpointDir: String)
      (f: (DataFrame, Long, Long) => Unit): Option[TailBatch] = {
    val from = committedOffset(checkpointDir)
    val head = latestVersion(path)
    require(head > 0, s"snapshot table $path does not exist")
    require(from <= head,
      s"checkpoint $from is ahead of table head $head — wrong table?")
    if (head == from) return None
    require(from == 0 || io(path).exists(manifestPath(path, from)),
      s"checkpointed version $from has been expired from the log — " +
        "resetOffset(0) and re-bootstrap the consumer")
    val delta =
      if (from == 0)
        scanAt(spark, path, head)._1.withColumn("_change", lit("insert"))
      else changes(spark, path, from, head)
    f(delta, from, head)
    resetOffset(checkpointDir, head)
    Some(TailBatch(from, head))
  }

  // ----------------------------------------------------------- changes

  /** Change data feed between two versions: every row-level difference,
    * tagged `_change` ∈ {insert, delete} (an update surfaces as the
    * delete of the old row plus the insert of the new one). Computed
    * from the MANIFEST diff: only files that entered or left the table
    * between the versions are read — carried files contribute nothing
    * and cost nothing, so CDF cost scales with the CHURN, never the
    * table. Rewritten-but-identical rows (a COW delete's survivors, a
    * compaction's merged rows) cancel in the multiset difference and
    * correctly emit no change. Both file sets are read in ONE scan
    * (union of paths, mergeSchema for evolved columns) and split by a
    * broadcast file→side join, so the diff is two exceptAlls over
    * exactly the churned bytes.
    *
    * DELETION VECTORS compose: files that entered/left are read with
    * their OWN version's DVs applied (a materialize rewrite therefore
    * correctly cancels — the dead rows were already gone at `fromV`),
    * and for files present in BOTH versions the DV ADDRESS delta is
    * the change — addresses deleted in between emit those rows as
    * `delete`, addresses revived (a restore past a MOR delete) emit
    * `insert`. Cost stays churn-bound: only addressed files are read.
    */
  def changes(spark: SparkSession, path: String, fromV: Long, toV: Long)
      : DataFrame = {
    require(fromV <= toV, s"changes($fromV, $toV): versions reversed")
    val a = readVersion(spark, path, fromV)
    val b = readVersion(spark, path, toV)
    val aSet = a.files.toSet; val bSet = b.files.toSet
    // schema ALTERs are metadata-only: a rename/drop between the
    // versions moves no rows, so a churn-free interval is an EMPTY
    // feed (in the newer version's schema). Churn ACROSS an ALTER
    // boundary diffs correctly only when every churned file was
    // written under the CURRENT naming (the post-ALTER append case —
    // raw column names equal visible names); older-epoch churn would
    // need per-version resolution inside the multiset diff — consume
    // such feeds in segments split at the ALTER commit.
    if (a.schemaNames != b.schemaNames) {
      require(a.files == b.files && a.dvFiles == b.dvFiles,
        s"changes($fromV, $toV) crosses a schema ALTER with data " +
          "churn — consume the feed in segments split at the ALTER")
      return emptyRelation(spark, path, b)
        .withColumn("_change", lit(""))
    }
    if (a.needsResolve || b.needsResolve) {
      val aEp = a.files.zip(a.fileEpochs.getOrElse(Seq.empty)).toMap
      val bEp = b.files.zip(b.fileEpochs.getOrElse(Seq.empty)).toMap
      val churn = a.files.filterNot(bSet).forall(f =>
          aEp.get(f).contains(a.epoch)) &&
        b.files.filterNot(aSet).forall(f => bEp.get(f).contains(b.epoch))
      require(churn && a.dvFiles == b.dvFiles,
        s"changes($fromV, $toV) diffs files written under a pre-ALTER " +
          "naming — materializeSchema(...) or segment the feed at the " +
          "ALTER commit")
      if (a.files == b.files)
        return emptyRelation(spark, path, b)
          .withColumn("_change", lit(""))
    }
    val removed = a.files.filterNot(bSet)
    val added = b.files.filterNot(aSet)
    // DV address deltas, restricted to files both versions still list
    // (file-level churn is handled by the DV-aware reads below);
    // canonical form — DV addresses and manifest entries render paths
    // differently
    val common = (aSet intersect bSet).map(canonFile)
    def dvAddrs(files: Seq[String]): Option[DataFrame] =
      if (files.isEmpty) None else Some(spark.read.parquet(files: _*))
    val (morDeleted, morRevived) =
      if (a.dvFiles == b.dvFiles) (None, None)
      else {
        val aAddr = dvAddrs(a.dvFiles)
        val bAddr = dvAddrs(b.dvFiles)
        def delta(x: Option[DataFrame], y: Option[DataFrame]) =
          (x, y) match {
            case (Some(xa), Some(ya)) => Some(xa.exceptAll(ya))
            case (Some(xa), None) => Some(xa)
            case _ => None
          }
        def rowsAt(addr: Option[DataFrame]): Option[DataFrame] =
          addr.flatMap { ad =>
            // O(addressed files) driver metadata, like every manifest op
            val files = ad.select("__dvf").distinct().collect()
              .map(_.getString(0)).filter(f => common(canonFile(f)))
              .toSeq.sorted
            if (files.isEmpty) None
            else {
              val scoped = ad.filter(col("__dvf").isInCollection(files))
              Some(spark.read.option("mergeSchema", "true")
                .parquet(files: _*)
                .select(col("*"), col("_metadata.file_path").as("__mf"),
                  col("_metadata.row_index").as("__mi"))
                .join(scoped, col("__mf") === scoped("__dvf") &&
                  col("__mi") === scoped("__dvp"), "left_semi")
                .drop("__mf", "__mi"))
            }
          }
        (rowsAt(delta(dvAddrs(b.dvFiles), aAddr)),
          rowsAt(delta(dvAddrs(a.dvFiles), bAddr)))
      }
    val fileLevel: Option[DataFrame] =
      if (removed.isEmpty && added.isEmpty) None
      else {
        // one union schema so evolved columns align across the diff;
        // each side then reads its own files with its OWN version's
        // DVs applied (missing columns arrive as nulls)
        val unionSchema = spark.read.option("mergeSchema", "true")
          .parquet((removed ++ added): _*).schema
        def sideOf(files: Seq[String], ver: Version): Option[DataFrame] =
          if (files.isEmpty) None
          else Some(applyDv(spark,
            spark.read.schema(unionSchema).parquet(files: _*), ver))
        val olds = sideOf(removed, a)
        val news = sideOf(added, b)
        (olds, news) match {
          case (Some(o), Some(n)) =>
            Some(n.exceptAll(o).withColumn("_change", lit("insert"))
              .unionByName(o.exceptAll(n)
                .withColumn("_change", lit("delete"))))
          case (Some(o), None) =>
            Some(o.withColumn("_change", lit("delete")))
          case (None, Some(n)) =>
            Some(n.withColumn("_change", lit("insert")))
          case _ => None
        }
      }
    val parts = fileLevel.toSeq ++
      morDeleted.map(_.withColumn("_change", lit("delete"))) ++
      morRevived.map(_.withColumn("_change", lit("insert")))
    if (parts.isEmpty)
      spark.read.parquet(a.files.head).limit(0)
        .withColumn("_change", lit(""))
    else parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }
}
