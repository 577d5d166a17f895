package graft.ops

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.model.{StacCollection, StacItem}

/** J1/J2/A4 over the typed STAC entities — the incremental get-or-create
  * semantics of the reference expressed as set-oriented joins instead of
  * per-entity probes.
  */
object StacOps {

  /** J2 — get-or-create items (ref generator.py:211-262): candidates whose
    * id already exists in the catalog are dropped ("existing wins", no
    * update) — a left-anti join on (collection, id). Both sides shuffle
    * only their key columns logically; Spark's anti join builds on the
    * pruned key set.
    */
  def getOrCreateItems(existing: Dataset[StacItem],
                       candidates: Dataset[StacItem]): Dataset[StacItem] = {
    import candidates.sparkSession.implicits._
    candidates.join(existing.select("collection", "id"),
      Seq("collection", "id"), "left_anti")
      // the join moves its keys to the front; restore the canonical
      // field order so positional ops (union) downstream stay correct
      .select("id", "collection", "geometry", "bbox", "datetime",
        "properties", "assets")
      .as[StacItem]
  }

  /** J1 + A4 — get-or-create collections with temporal-extent merge (ref
    * generator.py:144-209): new collection rows are unioned with stored
    * ones and re-aggregated per id — stored metadata wins (`first` by a
    * stored-first flag, matching "create if absent, never overwrite"),
    * while the temporal extent is the min/max over BOTH sides
    * (generator.py:192-207, null-tolerant via null-skipping aggregates)
    * and the bbox is the envelope of both.
    */
  def mergeCollections(stored: Dataset[StacCollection],
                       incoming: Dataset[StacCollection]): Dataset[StacCollection] = {
    val spark = incoming.sparkSession
    import spark.implicits._
    val tagged = stored.withColumn("pri", lit(0))
      .unionByName(incoming.withColumn("pri", lit(1)))
    tagged
      .groupBy(col("id"))
      .agg(
        min_by(col("title"), col("pri")).as("title"),
        min_by(col("description"), col("pri")).as("description"),
        min_by(col("license"), col("pri")).as("license"),
        array(
          min(element_at(col("bbox"), 1)), min(element_at(col("bbox"), 2)),
          max(element_at(col("bbox"), 3)), max(element_at(col("bbox"), 4)))
          .as("bbox"),
        min(col("temporal_start")).as("temporal_start"), // RFC3339 sorts lexically
        max(col("temporal_end")).as("temporal_end"),
        min_by(col("extra"), col("pri")).as("extra"),
        // W3 promotion precedence (ref generator.py:798-803): a stored
        // collection keeps its thumbnail; only a collection WITHOUT
        // assets adopts the incoming ones — sort key (empty?, pri)
        min_by(col("assets"),
          struct(when(size(col("assets")) > 0, 0).otherwise(1), col("pri")))
          .as("assets"))
      .as[StacCollection]
  }
}
