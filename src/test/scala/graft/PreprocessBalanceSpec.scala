package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
import graft.pipeline.Preprocess
import graft.source.NetCdfFixture

/** The preprocess write stage runs one task per output group: each init's
  * netCDF slice and each (init, leadtime) COG (the leadtime-0 task also
  * writes the thumbnail). AQE partition coalescing or a hash collision
  * that packed two groups into one task would show as fewer tasks.
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
}
