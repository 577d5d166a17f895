package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener,
  SparkListenerStageCompleted, StageInfo}
import graft.pipeline.{ConfigMismatchException, Ingest, Preprocess}
import graft.source.NetCdfFixture

/** The preprocess write stage runs one task per output group: each init's
  * netCDF slice and each (init, leadtime) COG (the leadtime-0 task also
  * writes the thumbnail). AQE partition coalescing or a hash collision
  * that packed two groups into one task would show as fewer tasks.
  *
  * The whole run has a job budget, and every job it submits names its
  * section in the job description.
  */
class PreprocessBalanceSpec extends SparkSpec {

  test("write stage: one task per slice and per COG (2 files x 3 leadtimes)") {
    val work = Files.createTempDirectory("graft-balance")
    val glob = NetCdfFixture.writeFiles(work.resolve("input"), n = 2)
    val stages = new ConcurrentLinkedQueue[StageInfo]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(e.stageInfo)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val res = Preprocess.run(spark, glob, Preprocess.Options(
        name = "sic_north", dataPath = work.resolve("data").toString))
      assert(res.nSlices === 2)
      // listener events arrive asynchronously
      def writeStages = stages.asScala.toSeq
        .filter(_.rddInfos.exists(_.name == Preprocess.WriteStage))
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (writeStages.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(writeStages.map(_.numTasks) === Seq(2 + 2 * 3))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private val Caller = "balance: caller"

  /** The descriptions of the jobs `body` submits, run under the
    * description [[Caller]], which `body` must leave in place.
    */
  private def callerJobs(body: => Unit): Seq[String] = jobsOf(Caller) {
    body
    assert(spark.sparkContext.getLocalProperty("spark.job.description") ===
      Caller, "the caller's job description is back")
  }

  private val PreprocessLabels = Set("manifest", "output manifest",
    "write pass", "catalog read", "catalog write").map("preprocess: " + _)
  private val IngestLabels = Set("ingest: catalog read", "ingest: load")

  test("job budget: a cold run submits <= 8 jobs, an idempotent re-run " +
    "no more than before; every job is labelled by its section") {
    val work = Files.createTempDirectory("graft-budget")
    val glob = NetCdfFixture.writeFiles(work.resolve("input"), n = 2)
    val opts = Preprocess.Options(
      name = "sic_north", dataPath = work.resolve("data").toString)
    var root = ""
    val cold = callerJobs { root = Preprocess.run(spark, glob, opts).catalogRoot }
    val rerun = callerJobs(Preprocess.run(spark, glob, opts))
    assert(cold.size <= 8, cold)
    // 25 and 22 jobs when the items were assembled by DataFrame joins;
    // a re-run has no new item, so it submits no catalog-write job
    assert(rerun.size <= 8, rerun)
    assert(!rerun.contains("preprocess: catalog write"), rerun)
    (cold ++ rerun).foreach(d => assert(PreprocessLabels(d), d))

    val ingest = callerJobs(Ingest.run(spark, root,
      new Ingest.DryRunClient(Set.empty, Set.empty)))
    assert(ingest.nonEmpty)
    ingest.foreach(d => assert(IngestLabels(d), d))
  }

  test("a run that throws still restores the caller's job description") {
    val work = Files.createTempDirectory("graft-budget-throw")
    val glob = NetCdfFixture.writeFiles(work.resolve("input"), n = 1)
    val opts = Preprocess.Options(
      name = "sic_north", dataPath = work.resolve("data").toString)
    Preprocess.run(spark, glob, opts)
    callerJobs(intercept[ConfigMismatchException](
      Preprocess.run(spark, glob, opts.copy(forecastFrequency = "6hours"))))
    callerJobs(intercept[Exception](Ingest.run(spark,
      work.resolve("no-catalog").toString,
      new Ingest.DryRunClient(Set.empty, Set.empty))))
  }
}
