package graft

import graft.queries.EventOps

/** q57's point is physical: the bucketed sort-merge join must carry NO
  * shuffle exchange on either input.
  */
class BucketedJoinSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("bucketed join plan has no shuffle exchange") {
    EventOps.bucketedJoin.setup(spark, sf)
    val plan = EventOps.joinBucketed(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(800))
    assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
      s"unexpected exchange in:\n${plan.take(1200)}")
  }

  test("bucketed join equals the plain join") {
    import org.apache.spark.sql.functions._
    EventOps.bucketedJoin.setup(spark, sf)
    val bucketed = EventOps.bucketedJoin.fn(spark, sf)
      .orderBy("o_orderpriority").collect().map(_.toString)
    val plain = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_extendedprice"))
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double")
          .as("sum_price"))
      .orderBy("o_orderpriority").collect().map(_.toString)
    assert(bucketed.toSeq === plain.toSeq)
  }
}
