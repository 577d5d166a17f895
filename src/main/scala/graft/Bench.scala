package graft

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics

/** Benchmark entry point (A8 — the grand-totals harness).
  * Each query's `setup` runs once, untimed (its seconds go to stderr
  * only), then one warmup pass (JVM/codegen startup absorbed)
  * then THREE timed passes per query, reporting the per-query MEDIAN —
  * round-2 numbers showed multi-second environmental stalls (GC/disk/JIT)
  * landing on arbitrary queries in a single pass (a 25-row scan "taking"
  * 10.9 s), so a single sample is noise-dominated. Each query is
  * materialized through the `noop` sink so the full physical plan —
  * including any terminal sort — executes rather than being pruned by
  * `EliminateSorts` under a bare `count()`.
  *
  * Emits ONE JSON line with per-query median seconds; a failed query is
  * recorded as `-1` in `queries`, listed in `failed`, and flips the exit
  * code to 1 — failures must never masquerade as timings.
  *
  * Every `[bench]` stderr line also carries the number of classes the run
  * compiled (Janino, the `CodegenMetrics` compile count). After the
  * warm-up a query should compile nothing: the codegen class cache
  * (`GraftSession`) holds the suite's working set, so a timed pass that
  * compiles is listed at the end as a recompile. Compile counts stay out
  * of the JSON line, where `parsePrevTimes` would read them as timings.
  */
object Bench {

  /** Per-query `"qNN":<seconds>` pairs from a prior bench record. Two
    * shapes exist in the wild: the raw one-line JSON this main prints,
    * and the driver's committed wrapper (`BENCH_r*.json`) where that
    * line sits JSON-ESCAPED inside a `"tail"` field (`\"q47\":7.68`),
    * head-truncated to the last 2000 chars of stdout, and followed by
    * an sbt epilogue. Hence the optional backslashes. Round 6 proved
    * the plain-form regex never matches a wrapper: q47 ran 1.90× slower
    * yet `"slower"` stayed `{}` — a silent no-op tracker.
    */
  private val pairRe = """\\?"(q[0-9]\w+)\\?":\s*(-?[0-9.]+)""".r
  // optional whitespace after the colon: this main writes compact JSON,
  // but repaired/pretty-printed baselines (round-9's repair_note
  // surgery) carry `": 0.349"` — round 10's tracker silently matched 0
  // pairs against exactly such a file
  private val calRe = """\\?"cpu_cal_ms\\?":\s*([0-9.]+)""".r
  private val calMtRe = """\\?"cpu_cal_mt_ms\\?":\s*([0-9.]+)""".r

  def parsePrevTimes(txt: String): Map[String, Double] =
    pairRe.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  def parsePrevCal(txt: String): Option[Double] =
    calRe.findAllMatchIn(txt).map(_.group(1).toDouble).toSeq.lastOption

  def parsePrevCalMt(txt: String): Option[Double] =
    calMtRe.findAllMatchIn(txt).map(_.group(1).toDouble).toSeq.lastOption

  /** The `"regressions"` JSON block: queries ≥1.25× slower than `prevTxt`
    * both raw AND after normalizing by the host-speed canary
    * (`ratio_cal = ratio × calPrev/calNow`) — this VM's clock floats
    * 2-3× between rounds, so a raw-only gate flags host tides and a
    * cal-only gate trusts a single-thread proxy too much; requiring
    * both keeps either noise source out. `matched` is the number of
    * prev-time pairs recovered, so a vacuous comparison (matched=0,
    * the round-6 failure mode) is visible in the artifact itself.
    */
  def regressionsJson(results: Seq[(String, Either[String, Double])],
                      prevName: String, prevTxt: String,
                      calNow: Double, calMtNow: Double = 0.0): String = {
    val prevTimes = parsePrevTimes(prevTxt)
    // normalize by the MULTI-core canary when both artifacts carry it —
    // the wall-clock tides this VM shows are contention-shaped (r10:
    // cal_mt moved 240→284 ms between back-to-back runs while the
    // single-thread canary sat at 105.8 both times), so the
    // single-thread proxy under-corrects them
    val calScale = parsePrevCalMt(prevTxt).filter(_ > 0)
      .filter(_ => calMtNow > 0).map(_ / calMtNow)
      .orElse(parsePrevCal(prevTxt).filter(_ > 0).map(_ / calNow))
      .getOrElse(1.0)
    val regs = results.collect {
      case (k, Right(v)) if prevTimes.get(k).exists(p =>
          p >= 0.2 && v / p >= 1.25 && v / p * calScale >= 1.25) =>
        val p = prevTimes(k)
        k -> (s"""{"prev":${Json.num(p)},"now":${Json.num(v)},""" +
          s""""ratio":${Json.num(v / p)},""" +
          s""""ratio_cal":${Json.num(v / p * calScale)}}""")
    }
    s"""{"vs":${Json.quote(prevName)},"matched":${prevTimes.size},""" +
      s""""slower":${Json.obj(regs)}}"""
  }

  /** Baseline-overwrite guard: `bench_full.json` is what every future
    * run's regression tracker compares against, and this main rewrites
    * it in place on EVERY invocation — including dev-loop partial runs
    * (`graft.Bench q44_...`). A stray `git add -A` after such a run
    * once committed a 2-query baseline (r12, caught by the next full
    * run's `matched: 2`). So: refuse to overwrite when the new run
    * covers FEWER queries than the existing file, unless the caller
    * passed `--rebaseline`. Returns Left(reason) when the write must be
    * skipped.
    */
  def baselineWriteDecision(existingTxt: Option[String],
                            newKeys: Set[String],
                            rebaseline: Boolean,
                            newSf: String = ""): Either[String, Unit] = {
    if (rebaseline) return Right(())
    existingTxt.map(parsePrevTimes(_).keySet) match {
      case Some(prevKeys) if prevKeys.size > newKeys.size =>
        return Left(s"run covers ${newKeys.size} queries but the existing " +
          s"bench_full.json has ${prevKeys.size} — refusing to shrink " +
          "the baseline (partial dev run?). Pass --rebaseline to override.")
      case _ => ()
    }
    // second guard, learned in r15: a full-coverage run at a DIFFERENT
    // scale factor silently replaced the sf0.1 baseline with sf0.001
    // numbers (every dev verify loop runs sf0.001, and `git add -A`
    // committed it) — cross-SF baselines poison every later regression
    // ratio, so refuse those too unless --rebaseline
    val prevSf = existingTxt.flatMap(t =>
      "\"sf\":\\s*\"([^\"]+)\"".r.findFirstMatchIn(t).map(_.group(1)))
    prevSf match {
      case Some(p) if newSf.nonEmpty && p != newSf =>
        Left(s"run measured $newSf but the existing bench_full.json is " +
          s"a $p baseline — refusing the cross-SF overwrite (dev loop " +
          "at a smaller sf?). Pass --rebaseline to override.")
      case _ => Right(())
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val iterations = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val spark = GraftSession.build(cpus)
    val defs = SparkEntry.defs

    // classes compiled so far in this JVM; queries run one at a time, so
    // the delta around a run is that run's count
    def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    def runOnce(name: String): (Either[String, Double], Long) = {
      val t0 = System.nanoTime()
      val c0 = compiled()
      try {
        defs(name).fn(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val took = (System.nanoTime() - t0) / 1e9
        val n = compiled() - c0
        System.err.println(f"[bench] $name%-24s ${took}%8.2f s $n%5d compiled")
        (Right(took), n)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          (Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)),
            compiled() - c0)
      } finally {
        // r21 measurement fix: drop the query's registered in-query
        // caches after the action, so no cache outlives its query —
        // iterations 2+ recompute from parquet instead of serving
        // iteration 1's cache via plan canonicalization, and caches
        // cannot pressure later queries in the suite (the r20 q69/q37
        // flags sat lexically after q132's never-unpersisted cache).
        GraftSession.sweepCaches(spark)
      }
    }

    // Optional args restrict the run to the named queries (dev loop:
    // `tools/run.sh graft.Bench q44_stac_roundtrip`); no args = full
    // suite. `--rebaseline` is a flag, not a query name — it lets a
    // deliberately-smaller run overwrite bench_full.json (see
    // [[baselineWriteDecision]]).
    val rebaseline = args.contains("--rebaseline")
    val qArgs = args.toSeq.filterNot(_ == "--rebaseline")
    val names =
      if (qArgs.nonEmpty) qArgs.sorted
      else defs.keys.toSeq.sorted

    // untimed fixture build, swept like a query; a setup that throws
    // fails its query alone. Setup seconds never enter the JSON line:
    // parsePrevTimes would read any "q…":number pair as a timing.
    def setUp(name: String): Option[String] = {
      val t0 = System.nanoTime()
      val c0 = compiled()
      try {
        defs(name).setup(spark, sfDir)
        val took = (System.nanoTime() - t0) / 1e9
        val n = compiled() - c0
        System.err.println(
          f"[bench] $name%-24s ${took}%8.2f s $n%5d compiled setup")
        None
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name SETUP FAILED: ${e.getMessage}")
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      } finally GraftSession.sweepCaches(spark)
    }
    val c0 = compiled()
    val setupFailed: Map[String, String] =
      names.flatMap(n => setUp(n).map(n -> _)).toMap
    val runnable = names.filterNot(setupFailed.contains)
    val setupCompiled = compiled() - c0
    // warmup: absorb JVM/codegen/IO-cache startup
    val warmCompiled = runnable.map(runOnce(_)._2).sum

    // Interleave iterations (pass 1 of all queries, then pass 2, ...) so a
    // multi-minute environmental stall cannot poison all samples of one
    // query; the median then discards it.
    val passes: Seq[Seq[(String, (Either[String, Double], Long))]] =
      (1 to iterations).map(_ => runnable.map(n => n -> runOnce(n)))
    val samples: Seq[Seq[(String, Either[String, Double])]] =
      passes.map(_.map { case (n, (r, _)) => n -> r })
    val recompiles = for {
      (pass, i) <- passes.zipWithIndex
      (n, (_, c)) <- pass if c > 0
    } yield s"$n (pass ${i + 1}: $c)"
    System.err.println(s"[bench] classes compiled: setup $setupCompiled, " +
      s"warm-up $warmCompiled, timed passes " +
      passes.map(_.map(_._2._2).sum).mkString(" + ") +
      s"; total ${compiled() - c0}")
    if (recompiles.nonEmpty)
      System.err.println(
        s"[bench] timed passes that compiled: ${recompiles.mkString(", ")}")
    val results: Seq[(String, Either[String, Double])] = names.map { n =>
      val runs = setupFailed.get(n).map(Left(_)).toSeq ++
        samples.flatMap(_.find(_._1 == n).map(_._2))
      val errs = runs.collect { case Left(e) => e }
      if (errs.nonEmpty) n -> Left(errs.head)
      else {
        val ts = runs.collect { case Right(v) => v }.sorted
        n -> Right(ts(ts.size / 2))
      }
    }

    val qs = Json.obj(results.map {
      case (k, Right(v)) => k -> Json.num(v)
      case (k, Left(_))  => k -> "-1"
    })
    val failed = Json.obj(results.collect { case (k, Left(err)) =>
      k -> Json.quote(err)
    })
    val total = results.collect { case (_, Right(v) ) => v }.sum
    val nFail = results.count(_._2.isLeft)
    // Host-speed canary: this VM's effective CPU clock floats ~2-3×
    // between runs (frequency scaling outside our control — observed
    // identical code at 34 s and 62 s an hour apart). A fixed
    // single-thread arithmetic loop timed alongside the suite lets any
    // two bench lines be normalized against each other.
    val calMs = {
      var x = 0L; val t0 = System.nanoTime()
      var i = 0
      while (i < 200000000) { x += i * i; i += 1 }
      if (x == 42) System.err.print("") // keep the loop observable
      (System.nanoTime() - t0) / 1e6
    }
    // Multi-core canary: the same fixed loop on EVERY core at once, wall
    // time of the slowest thread. The r9 round-end run drifted 1.27×
    // across the board while the single-thread canary stayed flat — a
    // signature the single-thread probe cannot attribute (multi-core
    // contention from a co-tenant VM shows up here but not there, while
    // a frequency-scaling tide moves both in lockstep). With both
    // numbers in every artifact, "environment" becomes measurable
    // instead of asserted.
    val calMtMs = {
      val nThreads = math.min(32, Runtime.getRuntime.availableProcessors())
      val t0 = System.nanoTime()
      val threads = (0 until nThreads).map { tid =>
        val t = new Thread(() => {
          var x = 0L; var i = 0
          while (i < 200000000) { x += i * i + tid; i += 1 }
          if (x == 42) System.err.print("")
        })
        t.start(); t
      }
      threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }
    // In-round regression tracking: compare against the last committed
    // bench so a query that got slower surfaces in THIS round's artifact
    // instead of at judgment. Baseline preference: the COMMITTED
    // bench_full.json (`git show HEAD:` — every query pair, immune to
    // both the wrapper's 2000-char head-truncation and local bench runs
    // overwriting the working file), falling back to the newest
    // BENCH_r*.json wrapper tail when git or the sidecar is unavailable.
    // Ratio-gated (≥1.25× raw and canary-normalized, prev ≥0.2 s) to
    // keep noise-scale wobble out. Baselines and sidecars come from the
    // working directory only: a run from an exported copy (no .git) reads
    // and writes that copy, never another checkout.
    val cwd = new java.io.File(".")
    val committedFull: Option[(String, String)] =
      if (!new java.io.File(cwd, ".git").exists()) None
      else try {
        val txt = scala.sys.process.Process(
          Seq("git", "-C", cwd.getPath, "show", "HEAD:bench_full.json")).!!
        if (txt.contains("\"queries\"")) Some("bench_full.json@HEAD" -> txt)
        else None
      } catch { case _: Exception => None }
    val prev = committedFull.orElse {
      Option(cwd.listFiles()).toSeq.flatten
        .filter(f => f.getName.matches("BENCH_r\\d+\\.json"))
        .sortBy(_.getName).lastOption
        .map(f => f.getName -> java.nio.file.Files.readString(f.toPath))
    }
    val regressions = prev match {
      case None => "{}"
      case Some((name, txt)) =>
        regressionsJson(results, name, txt, calMs, calMtMs)
    }
    val line =
      s"""{"metric":"total","value":${Json.num(total)},"unit":"sec","queries":$qs,"failed":$failed,"n_failed":$nFail,"iterations":$iterations,"cpu_cal_ms":${Json.num(calMs)},"cpu_cal_mt_ms":${Json.num(calMtMs)},"regressions":$regressions,"sf":"$sfDir"}"""
    println(line)
    // Full-fidelity sidecars: the driver's BENCH_r*.json wrapper keeps
    // only the last 2000 chars of stdout (escaped, head-truncated, sbt
    // epilogue appended), so tooling that wants `json.load(...)` +
    // direct `queries` access reads bench_full.json instead;
    // bench_history.jsonl accumulates one line per run for trend tools.
    try {
      val dir = cwd.toPath
      val fullPath = dir.resolve("bench_full.json")
      val existing =
        if (java.nio.file.Files.exists(fullPath))
          Some(java.nio.file.Files.readString(fullPath))
        else None
      baselineWriteDecision(existing, names.toSet, rebaseline,
          newSf = sfDir) match {
        case Right(()) =>
          java.nio.file.Files.writeString(fullPath, line + "\n")
        case Left(reason) =>
          System.err.println(s"[bench] NOT writing bench_full.json: $reason")
      }
      java.nio.file.Files.writeString(dir.resolve("bench_history.jsonl"),
        line + "\n", java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case _: java.io.IOException => () } // read-only cwd: skip
    // what the suite leaves resident: the codegen cache's classes live in
    // Metaspace, so a cache sized past the working set shows up here
    System.gc()
    val mb = 1L << 20
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / mb
    val metaMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName == "Metaspace").map(_.getUsage.getUsed / mb)
      .getOrElse(-1L)
    System.err.println(
      s"[bench] after a full GC: heap used $heapMb MB, Metaspace used $metaMb MB")
    spark.stop()
    if (nFail > 0) sys.exit(1)
  }
}
