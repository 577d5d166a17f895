package perfbench

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("quartiles equal Python's statistics.quantiles(n=4)") {
    // expected values printed by CPython's statistics module
    val cases = Seq(
      Seq(1.0, 2.0, 3.0, 4.0) -> (1.25, 2.5, 3.75),
      Seq(5.0, 1.0, 4.0, 2.0, 3.0) -> (1.5, 3.0, 4.5),
      Seq(3.2, 1.5) -> (1.075, 2.35, 3.625),
      (1 to 10).map(_ * 10.0) -> (27.5, 55.0, 82.5))
    cases.foreach { case (xs, (q1, q2, q3)) =>
      val (a, b, c) = Stats.quartiles(xs)
      assert(math.abs(a - q1) < 1e-12 && math.abs(b - q2) < 1e-12 &&
        math.abs(c - q3) < 1e-12, s"$xs -> ($a, $b, $c)")
    }
    assertThrows[IllegalArgumentException](Stats.quartiles(Seq(1.0)))
  }

  test("relative spread is the interquartile distance over the median") {
    assert(math.abs(Stats.relativeSpread((1 to 10).map(_ * 10.0)) - 1.0) < 1e-12)
  }

  test("metric names: [A-Za-z0-9_.-], leading letter or digit, at most 64") {
    Seq("run_s", "spark.core_util", "queries.q115_pagerank_s", "9lives",
      "a-b.c_d", "x" * 64).foreach(n => assert(Stats.validName(n), n))
    Seq("", "_run", ".x", "-x", "run s", "run/s", "é", "x" * 65)
      .foreach(n => assert(!Stats.validName(n), n))
  }
}

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, s: Long, e: Long) =
    Span(id, s"s$id", parent, s, e)

  test("self time subtracts the union of the children's intervals") {
    val spans = Seq(
      span(0, -1, 0, 100),
      span(1, 0, 10, 30),   // overlaps child 2
      span(2, 0, 20, 50),
      span(3, 0, 70, 80),
      span(4, 1, 12, 18),   // grandchild: counts against 1, not 0
      span(5, 0, 95, 120))  // runs past its parent: clipped to 95..100
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - 40 - 10 - 5)
    assert(self(1) == 20 - 6)
    assert(self(2) == 30)
    assert(self(4) == 6)
    assert(self(5) == 25)
  }

  test("a span nested in a child's interval is not subtracted twice") {
    val self = Trace.selfTimes(Seq(
      span(0, -1, 0, 10), span(1, 0, 0, 10), span(2, 0, 2, 4)))
    assert(self(0) == 0)
  }

  test("tracer nests spans and attaches jobs to the innermost one") {
    val t = new Tracer(enabled = true)
    val v = t.span("outer") { t.span("inner") { Thread.sleep(2); 42 } }
    assert(v == 42)
    val Seq(inner, outer) = t.spans
    assert(inner.parent == outer.id && outer.parent == -1)
    assert(outer.startNs <= inner.startNs && inner.endNs <= outer.endNs)
    t.addJobs(Seq(JobRecord(7, "count at X.scala:1", inner.startNs, inner.endNs),
      JobRecord(8, "collect at X.scala:2", outer.endNs + 1000000, outer.endNs + 2000000)))
    val jobs = t.spans.filter(_.name.startsWith("job "))
    assert(jobs.map(_.parent) == Seq(inner.id, -1))
    assert(t.seconds("inner") > 0)
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(enabled = false)
    assert(t.span("x")(1) == 1)
    assert(t.spans.isEmpty)
  }
}

class BenchmarkFileSpec extends AnyFunSuite {

  private val spec = new ObjectMapper().readTree(
    Files.readString(Paths.get(sys.props.getOrElse("user.dir", "."))
      .resolveSibling("BENCHMARK.json")))

  private def metrics(key: String) = spec.get(key).asScala.toSeq
    .map(m => (m.get("name").asText, m.get("unit").asText, m.get("better").asText))

  test("BENCHMARK.json lists exactly the metrics the benchmark prints") {
    assert(metrics("end_to_end") == Main.EndToEnd.map(m => (m.name, m.unit, m.better)))
    assert(metrics("per_layer") == Main.PerLayer.map(m => (m.name, m.unit, m.better)))
    (Main.EndToEnd ++ Main.PerLayer).foreach(m => assert(Stats.validName(m.name), m))
  }

  test("every listed workload exists") {
    spec.get("workloads").asScala.foreach(w =>
      assert(Workload.Names.contains(w.get("name").asText), w))
  }
}
