package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import graft.GraftSession

/** Benchmark entry point: one workload per process.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --cores <n> --work <dir> --trace-dir <dir>
  *
  * Set-up (input generation, any template build and one untimed pass) is
  * repeated `SetupReps` times, each into a fresh directory, and reported
  * as its median. The timed phase then repeats the workload's operation
  * for `--seconds`, checking every run's outputs. With `--trace 1` the
  * timed phase is split into an untraced and a traced half, followed by
  * direct, traced calls into each layer; the per-layer metrics come from
  * that run and the span tree is written to `--trace-dir`.
  *
  * The last line on stdout is the JSON result; every other line starts
  * with '#'.
  */
object Main {

  val SetupReps = 3
  /** Untimed runs between set-up and timing: JIT compilation is still
    * settling after the set-up passes.
    */
  val WarmupRuns = 1
  val MinSamples = 3

  final case class Metric(name: String, unit: String, better: String)

  val EndToEnd: Seq[Metric] = Seq(
    Metric("run_s", "s", "lower"),
    Metric("throughput", "work/s", "higher"),
    Metric("setup_s", "s", "lower"),
    Metric("out_bytes", "bytes", "lower"))

  private def s(n: String) = Metric(n, "s", "lower")
  private def c(n: String) = Metric(n, "count", "lower")
  private def b(n: String) = Metric(n, "bytes", "lower")

  val MixQueries: Seq[String] =
    Seq("q115_pagerank", "q126_co_occurrence", "q68_dup_clusters")

  val PerLayer: Seq[Metric] = Seq(
    s("source.manifest_s"), s("source.tidy_decode_s"), c("source.tidy_rows"),
    b("source.input_bytes"), s("source.slice_encode_s"),
    s("functions.band_stats_s"), c("functions.band_stats_groups"),
    s("sink.cog_write_s"), c("sink.cog_count"), b("sink.cog_bytes"),
    s("sink.stac_read_s"), c("sink.stac_items_read"),
    s("sink.stac_write_s"), c("sink.stac_items_rewritten"),
    s("pipeline.preprocess_s"), s("pipeline.thumbnail_s"),
    c("pipeline.files_written"), s("pipeline.ingest_s"),
    c("pipeline.ingest_statements"), c("pipeline.items_loaded"),
    c("pipeline.items_skipped"),
    s("ops.get_or_create_s"), s("ops.merge_collections_s"),
    c("spark.jobs"), c("spark.stages"), c("spark.tasks"),
    Metric("spark.core_util", "ratio", "higher"),
    s("spark.executor_run_s"), s("spark.executor_cpu_s"), s("spark.jvm_gc_s"),
    b("spark.shuffle_write_bytes"), b("spark.shuffle_read_bytes"),
    b("spark.spill_bytes"), b("spark.input_bytes")) ++
    MixQueries.map(q => s(s"queries.${q}_s")) :+
    s("trace.overhead_s")

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, cores: Int, work: Path, traceDir: Path)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val w = get("--workload")
    require(Workload.Names.contains(w), s"unknown workload $w")
    Args(w, get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") == "1", get("--cores").toInt, Paths.get(get("--work")),
      Paths.get(get("--trace-dir")))
  }

  /** What one run of the workload's operation produced. */
  final case class Sample(runS: Double, outBytes: Long,
                          counts: Map[String, Double],
                          spark: SparkTotals, spans: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = GraftSession.build(a.cores.toString)
    val w = Workload(a.workload, spark, a.seed)
    var attempted = 0
    var failed = 0
    val problems = ArrayBuffer.empty[String]
    def record(what: String, errs: Seq[String]): Unit = {
      attempted += 1
      if (errs.nonEmpty) {
        failed += 1
        problems ++= errs.take(5).map(e => s"$what: $e")
      }
    }

    /** Runs the operation once and checks its outputs; its wall seconds
      * when it succeeded.
      */
    def attempt(t: Tracer, what: String, iteration: Int): Option[Double] = {
      val t0 = System.nanoTime()
      val err =
        try { w.run(t); None }
        catch { case e: Throwable => Some(s"run threw: $e") }
      val runS = (System.nanoTime() - t0) / 1e9
      val errs = err.toSeq ++ (if (err.nonEmpty) Nil else
        try w.check(iteration)
        catch { case e: Exception => Seq(s"check threw: $e") })
      record(what, errs)
      if (errs.isEmpty) Some(runS) else None
    }

    def once(t: Tracer, iteration: Int,
             collector: Option[SparkCollector] = None): Option[Sample] = {
      w.prepare()
      val sparkBefore = collector.map { c =>
        org.apache.spark.perfbenchbridge.ListenerDrain(spark.sparkContext)
        c.snapshot()
      }
      val spansBefore = t.spans.size
      attempt(t, s"run $iteration", iteration).map { runS =>
        val sparkDelta = collector.fold(SparkTotals()) { c =>
          org.apache.spark.perfbenchbridge.ListenerDrain(spark.sparkContext)
          c.snapshot() - sparkBefore.get
        }
        val spans = t.spans.drop(spansBefore)
          .groupMapReduce(_.name)(_.durNs / 1e9)(_ + _)
        Sample(runS, w.outBytes, w.runCounts, sparkDelta, spans)
      }
    }

    def loop(seconds: Double, t: Tracer, first: Int,
             collector: Option[SparkCollector] = None): Seq[Sample] = {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      val out = ArrayBuffer.empty[Sample]
      var i = first
      while (i - first < MinSamples || System.nanoTime() < end) {
        out ++= once(t, i, collector)
        i += 1
      }
      out.toSeq
    }

    val off = new Tracer(enabled = false)
    val setupTimes = (1 to SetupReps).map { r =>
      val dir = Dirs.fresh(a.work.resolve(s"setup-$r"))
      val t0 = System.nanoTime()
      w.setup(dir)
      w.prepare()
      // the output check is the benchmark's work, not set-up
      val dt = (System.nanoTime() - t0) / 1e9 +
        attempt(off, s"set-up pass $r", -r).getOrElse(0.0)
      if (r > 1) Dirs.wipe(a.work.resolve(s"setup-${r - 1}"))
      dt
    }
    println(f"# perfbench ${w.name} seed=${a.seed} cores=${a.cores} " +
      s"trace=${if (a.trace) 1 else 0}: ${w.sizes}; work/run = ${w.work} ${w.workUnit}")
    println(s"# set-up passes (s): ${setupTimes.mkString(", ")}")

    (1 to WarmupRuns).foreach(i => once(off, -SetupReps - i))
    val metrics: Seq[(Metric, Double)] =
      if (!a.trace) {
        val samples = loop(a.seconds, off, 0)
        if (samples.isEmpty) fail(problems.toSeq)
        report("run", samples)
        val runS = Stats.median(samples.map(_.runS))
        Seq(runS, w.work / runS, Stats.median(setupTimes),
          Stats.median(samples.map(_.outBytes.toDouble))).zip(EndToEnd)
          .map(_.swap)
      } else {
        val plain = loop(a.seconds / 2, off, 0)
        val tracer = new Tracer(enabled = true)
        val collector = new SparkCollector
        spark.sparkContext.addSparkListener(collector)
        val traced = loop(a.seconds / 2, tracer, plain.size + 1, Some(collector))
        if (plain.isEmpty || traced.isEmpty) fail(problems.toSeq)
        report("untraced run", plain)
        report("traced run", traced)
        val probeCounts = w.probe(tracer)
        org.apache.spark.perfbenchbridge.ListenerDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(collector)
        tracer.addJobs(collector.jobs())
        writeTrace(a, w, tracer)
        perLayer(a, plain, traced, tracer, probeCounts)
      }

    problems.take(20).foreach(p => println(s"# FAILED $p"))
    println(s"# error_rate = $failed/$attempted runs")
    println(resultJson(failed == 0, attempted, failed, metrics))
    spark.stop()
  }

  private def fail(problems: Seq[String]): Nothing = {
    problems.take(20).foreach(p => System.err.println(s"FAILED $p"))
    System.err.println("no run of the operation succeeded")
    sys.exit(1)
  }

  private def report(label: String, xs: Seq[Sample]): Unit = {
    val ts = xs.map(_.runS)
    val spread = if (ts.size >= 2) f"${Stats.relativeSpread(ts)}%.3f" else "-"
    println(f"# $label: n=${ts.size} median=${Stats.median(ts)}%.4f s " +
      s"spread=$spread; samples ${ts.map(t => f"$t%.3f").mkString(" ")}")
  }

  private def perLayer(a: Args, plain: Seq[Sample], traced: Seq[Sample],
                       tracer: Tracer, probeCounts: Map[String, Double])
      : Seq[(Metric, Double)] = {
    def med(f: Sample => Double) = Stats.median(traced.map(f))
    val iterSpans = traced.flatMap(_.spans.keySet).toSet
    val sp = Map(
      "spark.jobs" -> med(_.spark.jobs.toDouble),
      "spark.stages" -> med(_.spark.stages.toDouble),
      "spark.tasks" -> med(_.spark.tasks.toDouble),
      "spark.core_util" -> med(x => x.spark.executorRunMs / 1e3 / (x.runS * a.cores)),
      "spark.executor_run_s" -> med(_.spark.executorRunMs / 1e3),
      "spark.executor_cpu_s" -> med(_.spark.executorCpuNs / 1e9),
      "spark.jvm_gc_s" -> med(_.spark.gcMs / 1e3),
      "spark.shuffle_write_bytes" -> med(_.spark.shuffleWriteBytes.toDouble),
      "spark.shuffle_read_bytes" -> med(_.spark.shuffleReadBytes.toDouble),
      "spark.spill_bytes" -> med(_.spark.spillBytes.toDouble),
      "spark.input_bytes" -> med(_.spark.inputBytes.toDouble),
      "trace.overhead_s" ->
        (med(_.runS) - Stats.median(plain.map(_.runS))))
    val counts = traced.last.counts ++ probeCounts
    PerLayer.map { m =>
      val v = sp.get(m.name).orElse(counts.get(m.name)).getOrElse {
        val span = m.name.stripSuffix("_s")
        if (iterSpans.contains(span)) med(_.spans.getOrElse(span, 0.0))
        else tracer.seconds(span)
      }
      m -> v
    }
  }

  private def writeTrace(a: Args, w: Workload, tracer: Tracer): Unit = {
    val spans = tracer.spans
    val self = Trace.selfTimes(spans)
    Files.createDirectories(a.traceDir)
    val out = a.traceDir.resolve(s"${w.name}-seed${a.seed}.json")
    val body = spans.map { sp =>
      s"""{"id":${sp.id},"name":${JsonOut.quote(sp.name)},""" +
        s""""parent":${sp.parent},"start_ns":${sp.startNs},"end_ns":${sp.endNs},""" +
        s""""dur_s":${JsonOut.num(sp.durNs / 1e9)},"self_s":${JsonOut.num(self(sp.id) / 1e9)}}"""
    }.mkString("[\n", ",\n", "\n]")
    Files.writeString(out,
      s"""{"workload":${JsonOut.quote(w.name)},"seed":${a.seed},"spans":$body}""")
    println(s"# trace: ${spans.size} spans -> $out")
    println("# self time by span name (s):")
    spans.groupMapReduce(sp =>
        if (sp.name.startsWith("job ")) "spark job" else sp.name)(sp => self(sp.id))(_ + _)
      .toSeq.sortBy(-_._2).foreach { case (n, ns) => println(f"#   ${ns / 1e9}%10.4f  $n") }
  }

  def resultJson(correct: Boolean, attempted: Int, failed: Int,
                 metrics: Seq[(Metric, Double)]): String = {
    val ms = metrics.map { case (m, v) =>
      require(Stats.validName(m.name), s"bad metric name ${m.name}")
      s"${JsonOut.quote(m.name)}: {\"value\": ${JsonOut.num(v)}, \"unit\": ${JsonOut.quote(m.unit)}}"
    }.mkString("{", ", ", "}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $ms}"""
  }
}

object JsonOut {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Every digit as measured; JSON has no NaN or infinity. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v")
    v.toString
  }
}
