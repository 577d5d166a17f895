package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, sum}
import graft.ops.SnapshotTable
import graft.queries.{EventOps, MultimodalQueries, NetCdfQueries, Relational,
  Similarity, TrainingPrep}

/** The untimed `QueryDef.setup` phase: a query's body does the same work
  * on every run, whatever ran before it, and nothing it reads is a
  * leftover of a dead table.
  */
class QuerySetupSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private val jobs = new ConcurrentLinkedQueue[String]()
  private lazy val listener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    spark.sparkContext.addSparkListener(l)
    l
  }
  private var markers = 0

  /** `body`'s result and the number of jobs submitted while it ran.
    * Listener events arrive asynchronously but in order, so two marker
    * jobs bracket the count exactly.
    */
  private def countJobs[T](body: => T): (T, Int) = {
    listener
    markers += 1
    val (begin, end) = (s"begin-$markers", s"end-$markers")
    def marker(tag: String): Unit = {
      val sc = spark.sparkContext
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
    }
    marker(begin)
    val r = body
    marker(end)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!jobs.contains(end) && System.nanoTime() < deadline)
      Thread.sleep(10)
    val seen = jobs.asScala.toSeq
    assert(seen.contains(end), "listener never saw the end marker")
    (r, seen.indexOf(end) - seen.indexOf(begin) - 1)
  }

  test("rowCount reads the footers: every sf0.001 table, no Spark job") {
    Tables.names.foreach { name =>
      val (n, nJobs) = countJobs(Tables.rowCount(spark, sf, name))
      assert(n === Tables.load(spark, sf, name).count(), name)
      assert(nJobs === 0, s"$name: rowCount ran $nJobs job(s)")
    }
  }

  test("a table wiped and rebuilt at the same path reads its new rows") {
    val path = Work.stableDir("setup-spec-wipe").resolve("t")
    Work.wipe(path)
    def read(): Row = spark.read.format("graft_table")
      .option("path", path.toString).load()
      .agg(org.apache.spark.sql.functions.count("k"), sum("k"))
      .collect().head
    SnapshotTable.append(spark.range(1000).select(col("id").as("k")),
      path.toString, numPartitions = 2)
    assert(read() === Row(1000L, 499500L))
    Work.wipe(path)
    // same path, same version number, different files
    SnapshotTable.append(
      spark.range(5000, 5500).select(col("id").as("k")),
      path.toString, numPartitions = 3)
    assert(read() === Row(500L, (5000L until 5500L).sum))
  }

  // The first graft_table read of a new version resolves its schema with
  // Spark jobs that GraftTableSource then caches, so q214 absorbs it with
  // one uncounted run before counting
  private val firstRunFillsCache = Set(Relational.decimalMoney)

  // iteration 1 and iteration 3 of the body do the same work, and a
  // second setup rebuilds the same fixture
  Seq(NetCdfQueries.kerchunkScan, Relational.clusterSkip,
      EventOps.streamTableIngest, TrainingPrep.corpusGovernance,
      Similarity.versionedAnn, Relational.publishCherryPick,
      Relational.decimalMoney, NetCdfQueries.preprocessE2e,
      MultimodalQueries.imagePipeline, Similarity.ivfAnn,
      NetCdfQueries.zarrScan, EventOps.bucketedJoin).foreach { q =>
    test(s"${q.name}: same jobs and rows on every run after setup") {
      def runBody(): (Seq[String], Int) = {
        val r = countJobs(q.fn(spark, sf).collect().map(_.toString).sorted
          .toSeq)
        GraftSession.sweepCaches(spark)
        r
      }
      q.setup(spark, sf)
      GraftSession.sweepCaches(spark)
      if (firstRunFillsCache(q)) runBody()
      val runs = Seq.fill(3)(runBody())
      assert(runs.head._1.nonEmpty)
      assert(runs(2)._1 === runs.head._1, "rows changed between runs")
      assert(runs(2)._2 === runs.head._2,
        s"iteration 1 ran ${runs.head._2} jobs, iteration 3 ${runs(2)._2}")
      q.setup(spark, sf)
      GraftSession.sweepCaches(spark)
      assert(runBody()._1 === runs.head._1, "rows changed after a re-setup")
    }
  }
}
