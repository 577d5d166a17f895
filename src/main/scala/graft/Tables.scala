package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loader for the driver's parquet testdata tables (TESTDATA.md).
  *
  * Every query in the engine takes `(SparkSession, sfDir)` and resolves its
  * inputs through here, so scans stay plain parquet file-sources and Catalyst
  * keeps predicate pushdown / column pruning / partition-level parallelism.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    =
    normalizeEventTs(load(s, d, "events"))

  /** Normalize `events.ts` to the engine's integer-nanos contract
    * regardless of the physical parquet type the driver generated:
    *
    *   - INT64 TIMESTAMP(NANOS) read as long under `nanosAsLong` → as-is;
    *   - TIMESTAMP(MICROS) (tz or ntz) → `unix_micros * 1000`. The session
    *     time zone is pinned to UTC (GraftSession), so the NTZ→TZ cast is
    *     the identity and the extracted epoch is exact.
    *
    * Downstream event-time operators (q50/q51/q60, the streaming twins)
    * all consume integer nanos, so a driver-side regeneration of the
    * fixture's physical time type cannot change query semantics — the
    * same input-convention discipline the reference applies to coordinate
    * columns (utils.py:17-31), extended to time.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) | None => df
      case Some(TimestampType) | Some(TimestampNTZType) =>
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case Some(other) => throw new IllegalStateException(
        s"events.ts has unsupported physical type $other — extend " +
          "Tables.normalizeEventTs for the new driver fixture type")
    }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** A table's row count from its parquet footers: the row-group counts
    * summed on the driver through the session Hadoop conf. It runs no
    * Spark job and keeps nothing between calls.
    */
  def rowCount(s: SparkSession, d: String, name: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = s.sessionState.newHadoopConf()
    val root = new Path(s"$d/$name.parquet")
    val files = root.getFileSystem(conf).listFiles(root, true)
    var n = 0L
    while (files.hasNext) {
      val f = files.next()
      // Spark's hidden-file rule: _SUCCESS, .crc and the like hold no rows
      if (!f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith(".")) {
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try n += r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally r.close()
      }
    }
    n
  }
}

/** One registrable query: the Spark program plus (optionally) the DuckDB
  * oracle SQL the driver hash-compares against at sf0.01.
  *
  * `setup` builds the query's fixtures (snapshot tables, clustered
  * layouts, reference stores) from `(spark, sfDir)`. Bench, Verify and
  * Explain run it once, untimed, before the query; `fn` does only the
  * timed work and reads what `setup` left behind.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    setup: (SparkSession, String) => Unit)

object QueryDef {
  private val noSetup: (SparkSession, String) => Unit = (_, _) => ()

  def apply(name: String, oracle: String,
            setup: (SparkSession, String) => Unit = noSetup)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle), setup)
  def rowsOnly(name: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, None, noSetup)
}
