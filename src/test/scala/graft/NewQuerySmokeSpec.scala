package graft

class NewQuerySmokeSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"
  private def run(q: QueryDef) = {
    q.setup(spark, d)
    q.fn(spark, d).collect()
  }
  test("q194 smoke") {
    val r = run(queries.Relational.replaceWhere)
    println("q194: " + r.toSeq)
    assert(r.nonEmpty)
  }
  test("q195 smoke") {
    val r = run(queries.Relational.partitionedSqlMerge)
    println("q195: " + r.toSeq)
    assert(r.nonEmpty)
  }
  test("q196 smoke") {
    val r = run(queries.Relational.streamSink)
    println("q196: " + r.toSeq)
    assert(r.nonEmpty)
  }
  test("q197 smoke") {
    val r = run(queries.Relational.sqlMaintenance)
    println("q197: " + r.toSeq)
    assert(r.nonEmpty)
  }
}
