package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigated equi-join: salt the skewed (large) side's key with a
  * per-row shard, replicate the build side across all shards, join on
  * (key, salt). Result is identical to the plain join; the shuffle for
  * any single hot key is spread over `shards` reducers instead of one.
  *
  * AQE's skewedJoin handles sort-merge skew automatically at runtime;
  * this explicit form is for the cases AQE can't re-plan (e.g. a
  * skewed aggregation feeding a join, or pre-AQE shuffle sizing) and
  * doubles as the engine's documented recipe for hot-key joins at
  * 100 TB.
  */
object SkewJoin {

  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
                 shards: Int = 8): DataFrame = {
    require(shards > 0)
    // per-row deterministic shard on the large side: spread rows of one
    // key uniformly without an RNG (xxhash64 of the whole row)
    val salted = large.withColumn("_salt",
      pmod(xxhash64(large.columns.map(col): _*), lit(shards)))
    // build side replicated once per shard (generators can't nest in a
    // cast expression - cast after the explode lands in its own column)
    val replicated = small
      .withColumn("_salt_i", explode(sequence(lit(0), lit(shards - 1))))
      .withColumn("_salt", col("_salt_i").cast("long")).drop("_salt_i")
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }
}
