package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.ops.SnapshotTable
import graft.source.v2.ScanMetrics

/** SEGMENTED manifests: above a file-count threshold, a commit writes
  * an O(Δ) header referencing immutable file-list segments instead of
  * re-listing every file (Delta-log/Iceberg-manifest economics). These
  * tests force the threshold low and pin: carry-by-reference across
  * every commit shape, bit-identical materialization vs the inline
  * form, drop-cap folding, max-segment collapse, expire/vacuum GC of
  * dead/orphan segments, and the self-verification fallback.
  */
class SegmentedManifestSpec extends SparkSpec {

  private def freshPath(): String =
    Files.createTempDirectory("segman").toString + "/t"

  private def withSegConf[T](threshold: Int, maxSegs: Int = 64)(
      body: => T): T = {
    spark.conf.set("spark.graft.manifest.segmentThreshold",
      threshold.toString)
    spark.conf.set("spark.graft.manifest.maxSegments", maxSegs.toString)
    try body finally {
      spark.conf.unset("spark.graft.manifest.segmentThreshold")
      spark.conf.unset("spark.graft.manifest.maxSegments")
    }
  }

  private def headerText(path: String, v: Long): String =
    Files.readString(Paths.get(path, "log", s"v$v.json"))

  private def segNames(path: String): Seq[String] = {
    val log = Paths.get(path, "log")
    val st = Files.list(log)
    try {
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      st.iterator().forEachRemaining { p =>
        val n = p.getFileName.toString
        if (n.startsWith("seg-") && n.endsWith(".json")) b += n
      }
      b.toSeq
    } finally st.close()
  }

  private def df(lo: Int, hi: Int) = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, i.toLong * 3)).toDF("k", "x")
  }

  test("appends cross the threshold into segmented headers; later " +
      "headers re-reference earlier segments (O(Δ) commits) and " +
      "materialize identically to the inline form") {
    withSegConf(3) {
      val path = freshPath()
      SnapshotTable.append(df(0, 100), path, 2, statsCol = Some("k"))
      val v1 = SnapshotTable.readVersion(spark, path, 1)
      assert(v1.segRefs.isEmpty, "2 files is below the threshold")
      SnapshotTable.append(df(100, 200), path, 2, statsCol = Some("k"))
      val v2 = SnapshotTable.readVersion(spark, path, 2)
      assert(v2.segRefs.exists(_.nonEmpty), "4 files must segment")
      assert(v2.files.length === 4 && v2.rows === 200)
      SnapshotTable.append(df(200, 300), path, 2, statsCol = Some("k"))
      val v3 = SnapshotTable.readVersion(spark, path, 3)
      // O(Δ): v3 re-references v2's segment by name and lists NONE of
      // the carried file paths in its own header
      val h3 = headerText(path, 3)
      val v2segs = v2.segRefs.get.map(_.name)
      assert(v2segs.forall(h3.contains),
        "v3 must re-reference v2's segments")
      assert(v2.files.forall(f => !h3.contains(f)),
        "carried file paths must NOT appear in the O(Δ) header")
      // materialization: facts identical to what the files really are
      assert(v3.files.length === 6 && v3.rows === 300)
      assert(v3.fileRows.get.sum === 300)
      assert(v3.stats.get.mins.length === 6)
      val (scan, _, _) = SnapshotTable.scanAt(spark, path, 3)
      assert(scan.agg(count(lit(1)), sum("x").cast("long"))
        .collect().head.toSeq === Seq(300L, (0L until 300L).map(_ * 3).sum))
      // stats pruning still exact on the segmented table
      val (s2, filesRead, _) = SnapshotTable.scanAt(spark, path, 3)
      assert(s2.filter(col("k") < 50).count() === 50)
    }
  }

  test("COW delete on a segmented table records drops, not a rewrite " +
      "of the carried list; the dropped rows are gone") {
    withSegConf(3) {
      val path = freshPath()
      SnapshotTable.append(df(0, 400), path, 4, statsCol = Some("k"))
      val v1 = SnapshotTable.readVersion(spark, path, 1)
      assert(v1.segRefs.exists(_.nonEmpty))
      SnapshotTable.deleteStatsRange(spark, path, 100, 199)
      val v2 = SnapshotTable.readVersion(spark, path, 2)
      // the carried segment survives by name with drops recorded
      val carried = v2.segRefs.get.map(_.name)
        .intersect(v1.segRefs.get.map(_.name))
      assert(carried.nonEmpty, "delete must re-reference, not rewrite")
      val (scan, _, _) = SnapshotTable.scanAt(spark, path, 2)
      assert(scan.count() === 300)
      assert(scan.filter(col("k").between(100, 199)).count() === 0)
      // v1 still time-travels intact (shared segments)
      val (s1, _, _) = SnapshotTable.scanAt(spark, path, 1)
      assert(s1.count() === 400)
    }
  }

  test("a single-BIGINT spec commits per-file part_keys and no long " +
      "part_values, in inline and in segmented manifests") {
    import spark.implicits._
    val spec = SnapshotTable.PartSpec("p", "truncate", 10L)
    val data = (0L until 40L).map(i => (i, i * 2)).toDF("p", "v")
    def noLongForm(json: String): Unit = {
      assert(!json.contains("\"part_values\"") &&
        !json.contains("\"part_source\"") &&
        !json.contains("\"part_transform\"") &&
        !json.contains("\"part_param\""), json)
    }
    // inline: the header carries the spec and the tuples
    val inline = freshPath()
    SnapshotTable.appendPartitioned(data, inline, spec)
    val h1 = headerText(inline, 1)
    noLongForm(h1)
    assert(h1.contains("\"part_sources\":[\"p\"]") &&
      h1.contains("\"part_dtypes\":[\"long\"]") &&
      h1.contains("\"part_keys\":["), h1)
    val v1 = SnapshotTable.readVersion(spark, inline, 1)
    assert(v1.segRefs.isEmpty)
    assert(v1.partKeys.get.valueDtypes === IndexedSeq("long"))
    assert(v1.partKeys.get.longs.sorted === Seq(0L, 1L, 2L, 3L))
    // segmented: the header carries the spec, each segment the tuples
    withSegConf(2) {
      val seg = freshPath()
      SnapshotTable.appendPartitioned(data, seg, spec)
      val h = headerText(seg, 1)
      noLongForm(h)
      assert(h.contains("\"part_sources\":[\"p\"]") &&
        !h.contains("\"part_keys\""), h)
      val segs = segNames(seg)
      assert(segs.nonEmpty)
      segs.foreach { n =>
        val js = Files.readString(Paths.get(seg, "log", n))
        noLongForm(js)
        assert(js.contains("\"part_keys\":["), js)
      }
      val sv = SnapshotTable.readVersion(spark, seg, 1)
      assert(sv.segRefs.exists(_.nonEmpty))
      assert(sv.partKeys.get.longs.sorted === Seq(0L, 1L, 2L, 3L))
      val (probe, read, total) =
        SnapshotTable.scanPartitionRange(spark, seg, 1, 10L, 19L)
      assert(read === 1 && total === 4 && probe.count() === 10)
    }
  }

  test("a two-column bloom declaration commits one list encoding " +
      "(bloom_cols/bloom_expecteds/bloom_fpps), inline and segmented") {
    def listForm(json: String): Unit = {
      assert(json.contains("\"bloom_cols\":[\"k\",\"x\"]") &&
        json.contains("\"bloom_expecteds\":[-1,-1]") &&
        json.contains("\"bloom_fpps\":[0.01,0.01]"), json)
      assert(!json.contains("\"bloom_col\"") &&
        !json.contains("\"bloom_expected\"") &&
        !json.contains("\"bloom_fpp\"") &&
        !json.contains("_extra\""), json)
    }
    val want = Seq(SnapshotTable.BloomConf("k", -1L),
      SnapshotTable.BloomConf("x", -1L))
    val inline = freshPath()
    SnapshotTable.append(df(0, 100), inline, 2, statsCol = Some("k"),
      bloomCol = Some("k, x"))
    listForm(headerText(inline, 1))
    val v1 = SnapshotTable.readVersion(spark, inline, 1)
    assert(v1.segRefs.isEmpty && v1.blooms === want)
    withSegConf(3) {
      val seg = freshPath()
      SnapshotTable.append(df(0, 200), seg, 4, statsCol = Some("k"),
        bloomCol = Some("k,x"))
      listForm(headerText(seg, 1))
      val sv = SnapshotTable.readVersion(spark, seg, 1)
      assert(sv.segRefs.exists(_.nonEmpty) && sv.blooms === want)
      // a later commit that declares nothing carries the list whole
      SnapshotTable.deleteStatsRange(spark, seg, 0, 9)
      listForm(headerText(seg, 2))
      assert(SnapshotTable.readVersion(spark, seg, 2).blooms === want)
    }
  }

  test("a manifest in the removed first-column bloom form (bloom_col) " +
      "fails loudly, naming the table") {
    val path = freshPath()
    SnapshotTable.append(df(0, 20), path, 1, bloomCol = Some("k"))
    val h = headerText(path, 1)
    assert(h.contains("\"bloom_cols\":"), h)
    // the same version, re-encoded in the pre-unification form
    Files.writeString(Paths.get(path, "log", "v1.json"),
      h.replace("\"bloom_cols\":[\"k\"]", "\"bloom_col\":\"k\"")
        .replace("\"bloom_expecteds\":[-1]", "\"bloom_expected\":-1")
        .replace("\"bloom_fpps\":[0.01]", "\"bloom_fpp\":0.01"))
    val e = intercept[IllegalStateException] {
      SnapshotTable.readVersion(spark, path, 1)
    }
    assert(e.getMessage.contains(path) &&
      e.getMessage.contains("bloom_col"), e.getMessage)
  }

  test("hidden-partitioned + typed-stats table stays fully functional " +
      "segmented: partition pruning, typed pruning, REPLACE WHERE") {
    withSegConf(3) {
      import spark.implicits._
      val path = freshPath()
      val data = (0 until 400).map(i => (i.toLong % 8, i.toLong,
        f"d-$i%04d")).toDF("p", "k", "name")
      val spec = SnapshotTable.PartSpec("p", "identity", 0L)
      SnapshotTable.appendPartitioned(data, path, spec,
        statsCol = Some("k"), statsCols = Seq("name"))
      val v1 = SnapshotTable.readVersion(spark, path, 1)
      assert(v1.segRefs.exists(_.nonEmpty))
      assert(v1.partKeys.get.longs.length === v1.files.length)
      assert(v1.colStats.head.mins.length === v1.files.length)
      val t = spark.read.format("graft_table").option("path", path).load()
      assert(t.filter(col("p") === 3).count() === 50)
      assert(t.filter(col("name") < "d-0100").count() === 100)
      SnapshotTable.overwriteWhere(
        data.filter(col("p") === 3).withColumn("name", lit("zz")),
        path, 3, 3)
      val v2 = SnapshotTable.readVersion(spark, path, 2)
      assert(v2.segRefs.exists(_.nonEmpty))
      assert(v2.colStats.head.mins.length === v2.files.length)
      val t2 = spark.read.format("graft_table").option("path", path).load()
      assert(t2.filter(col("name") === "zz").count() === 50)
    }
  }

  test("ALTER RENAME on a segmented table is O(Δ): same segment set, " +
      "no new segment file, id-resolved reads intact") {
    withSegConf(3) {
      val path = freshPath()
      SnapshotTable.append(df(0, 300), path, 4, statsCol = Some("k"))
      val before = segNames(path)
      SnapshotTable.renameColumn(spark, path, "x", "y")
      assert(segNames(path) === before,
        "a metadata-only ALTER must write no segment")
      val v2 = SnapshotTable.readVersion(spark, path, 2)
      assert(v2.segRefs.get.map(_.name).toSet === before.toSet)
      val (scan, _, _) = SnapshotTable.scanAt(spark, path, 2)
      assert(scan.columns.toSeq === Seq("k", "y"))
      assert(scan.agg(sum("y").cast("long")).head.getLong(0)
        === (0L until 300L).map(_ * 3).sum)
      // post-rename append unifies (epoch machinery through segments)
      SnapshotTable.append(df(300, 350).withColumnRenamed("x", "y"),
        path, 1, statsCol = Some("k"))
      val (s3, _, _) = SnapshotTable.scanAt(spark, path, 3)
      assert(s3.agg(count(lit(1)),
        sum(when(col("y").isNull, 1L).otherwise(0L))).head.toSeq
        === Seq(350L, 0L))
    }
  }

  test("drop-cap: deleting most of a segment folds its survivors into " +
      "the fresh segment instead of carrying a huge drop list") {
    withSegConf(2) {
      val path = freshPath()
      // one segment of many small files so per-file drops are visible
      SnapshotTable.append(df(0, 1000), path, 100, statsCol = Some("k"))
      val v1 = SnapshotTable.readVersion(spark, path, 1)
      val seg1 = v1.segRefs.get.map(_.name).toSet
      // delete ~90% of the key range: far beyond the 10% drop cap
      SnapshotTable.deleteStatsRange(spark, path, 0, 899)
      val v2 = SnapshotTable.readVersion(spark, path, 2)
      assert(v2.segRefs.exists(_.nonEmpty))
      assert(v2.segRefs.get.map(_.name).toSet.intersect(seg1).isEmpty,
        "an over-dropped segment must fold, not carry its drop list")
      val (scan, _, _) = SnapshotTable.scanAt(spark, path, 2)
      assert(scan.count() === 100)
      assert(scan.agg(min("k")).head.getLong(0) === 900L)
    }
  }

  test("max-segment collapse bounds header fan-out (LSM trade)") {
    withSegConf(1, maxSegs = 2) {
      val path = freshPath()
      (0 until 5).foreach(i =>
        SnapshotTable.append(df(i * 10, i * 10 + 10), path, 1,
          statsCol = Some("k")))
      val v5 = SnapshotTable.readVersion(spark, path, 5)
      assert(v5.segRefs.get.length <= 2,
        s"collapse must bound segments, got ${v5.segRefs.get.length}")
      assert(v5.files.length === 5 && v5.rows === 50)
      val (scan, _, _) = SnapshotTable.scanAt(spark, path, 5)
      assert(scan.count() === 50)
    }
  }

  test("incremental collapse: over-cap commits merge a bounded " +
      "adjacent tail run — the big head segment re-references " +
      "untouched, and later appends still fast-carry") {
    spark.conf.set("spark.graft.manifest.collapseBudget", "10")
    try withSegConf(1, maxSegs = 4) {
      val path = freshPath()
      val names = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      (0 until 20).foreach { i =>
        SnapshotTable.append(df(i * 10, i * 10 + 10), path, 1,
          statsCol = Some("k"))
        val v = SnapshotTable.readVersion(spark, path, i + 1)
        assert(v.segRefs.get.length <= 4,
          s"v${i + 1} fan-out ${v.segRefs.get.length} over the cap")
        names += v.segRefs.get.map(_.name)
      }
      val v20 = SnapshotTable.readVersion(spark, path, 20)
      // bounded, not full: no collapse rewrote the whole table into
      // one segment (the old behavior), and at 20 files > budget the
      // head segment survives merges by reference
      assert(v20.segRefs.get.length >= 2,
        "over-cap commit degraded to a FULL collapse")
      assert(v20.segRefs.get.forall(_.size <= 10),
        s"a merge exceeded the entry budget: " +
          s"${v20.segRefs.get.map(_.size)}")
      // the head segment, once at budget size, is stable across
      // later collapse commits (re-referenced, never rewritten)
      val head15 = names(14).head
      assert(names.drop(14).forall(_.head == head15),
        "the budget-sized head segment was rewritten by a later " +
          "collapse — the merge was not incremental")
      // content intact through every merge
      val (scan, _, rows) = SnapshotTable.scanAt(spark, path, 20)
      assert(rows === 200 && scan.count() === 200)
      assert(scan.agg(sum("k")).head.getLong(0) === (0L until 200L).sum)
      // collapse commits did not break the identity-carry plane: the
      // NEXT append over the merged base still fast-carries
      val before = SnapshotTable.fastCarryHits.get()
      SnapshotTable.append(df(900, 910), path, 1, statsCol = Some("k"))
      assert(SnapshotTable.fastCarryHits.get() > before,
        "append after an incremental collapse lost the O(Δ) carry")
    } finally spark.conf.unset("spark.graft.manifest.collapseBudget")
  }

  test("expire deletes segments only the dead versions referenced; " +
      "vacuum sweeps orphan segments under the TTL") {
    withSegConf(2, maxSegs = 100) {
      val path = freshPath()
      SnapshotTable.append(df(0, 100), path, 3, statsCol = Some("k"))
      // hits every file → v2 rewrites them all; v1's segments die
      SnapshotTable.deleteStatsRange(spark, path, 0, 89)
      SnapshotTable.append(df(500, 600), path, 3, statsCol = Some("k"))
      val v1segs = SnapshotTable.readVersion(spark, path, 1)
        .segRefs.get.map(_.name).toSet
      val v3segs = SnapshotTable.readVersion(spark, path, 3)
        .segRefs.get.map(_.name).toSet
      assert(v1segs.intersect(v3segs).isEmpty)
      SnapshotTable.expire(spark, path, keepFrom = 3)
      val left = segNames(path).toSet
      assert(v1segs.forall(!left(_)),
        "segments referenced only by expired versions must go")
      assert(v3segs.forall(left),
        "survivor-referenced segments must stay")
      val (scan, _, _) = SnapshotTable.scanAt(spark, path, 3)
      assert(scan.count() === 110)
      // orphan sweep: a segment no header references
      val orphan = Paths.get(path, "log", "seg-orphan00.json")
      Files.writeString(orphan,
        """{"files":[],"file_rows":[],"file_bytes":[]}""")
      SnapshotTable.vacuum(spark, path, olderThanMs = 0)
      assert(!Files.exists(orphan), "orphan segment must be swept")
      assert(v3segs.forall(segNames(path).toSet),
        "vacuum must never touch referenced segments")
    }
  }

  test("restore to a segmented version re-references its segments; " +
      "clone materializes its own (cross-root references never leak)") {
    withSegConf(2) {
      val path = freshPath()
      SnapshotTable.append(df(0, 100), path, 3, statsCol = Some("k"))
      SnapshotTable.deleteStatsRange(spark, path, 0, 49)
      val v1segs = SnapshotTable.readVersion(spark, path, 1)
        .segRefs.get.map(_.name).toSet
      SnapshotTable.restore(spark, path, 1)
      val v3 = SnapshotTable.readVersion(spark, path, 3)
      assert(v3.segRefs.get.map(_.name).toSet === v1segs,
        "restore must re-reference the restored version's segments")
      assert(v3.rows === 100)
      val clonePath = freshPath()
      SnapshotTable.cloneAt(spark, path, clonePath)
      val c1 = SnapshotTable.readVersion(spark, clonePath, 1)
      assert(c1.segRefs.exists(_.nonEmpty))
      assert(c1.segRefs.get.map(_.name).toSet
        .intersect(segNames(path).toSet).isEmpty ||
        segNames(clonePath).nonEmpty,
        "clone segments live under the clone's own log")
      assert(segNames(clonePath).toSet
        === c1.segRefs.get.map(_.name).toSet)
      val (cs, _, _) = SnapshotTable.scanAt(spark, clonePath, 1)
      assert(cs.count() === 100)
    }
  }

  test("t.segments metadata table + CALL graft.system.analyze: the " +
      "O(Δ) structure and the stats index are SQL-reachable") {
    withSegConf(3) {
      val root = Files.createTempDirectory("segsql").toString
      spark.conf.set("spark.sql.catalog.graft_segq",
        "graft.source.v2.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft_segq.root", root)
      val path = s"$root/db/t"
      import spark.implicits._
      SnapshotTable.append((0 until 400).map(i =>
        (i.toLong, i / 9.0)).toDF("k", "score"), path, 8,
        statsCol = Some("k"))
      SnapshotTable.append((400 until 500).map(i =>
        (i.toLong, i / 9.0)).toDF("k", "score"), path, 2,
        statsCol = Some("k"))
      val segs = spark.sql("SELECT * FROM graft_segq.db.t.segments")
        .collect()
      val ver = SnapshotTable.readVersion(spark, path, 2)
      assert(segs.map(_.getString(0)).toSet
        === ver.segRefs.get.map(_.name).toSet)
      assert(segs.map(_.getLong(2)).sum === 10L, "live files must sum")
      // ANALYZE from SQL declares the typed index over existing data
      val r = spark.sql(
        "CALL graft_segq.system.analyze('db.t', 'score')").collect().head
      assert(r.getLong(0) === 3L && r.getInt(1) === 1)
      val v3 = SnapshotTable.readVersion(spark, path, 3)
      assert(v3.colStats.map(_.col) === Seq("score"))
      assert(v3.colStats.head.mins.length === v3.files.length)
      val (cr, sc) = withScan(spark.sql(
        "SELECT count(*) FROM graft_segq.db.t WHERE score >= 54.0"))
      assert(cr.getLong(0) === 14L)
      val (p, tot) = (sc.filesPlanned, sc.filesTotal)
      assert(p > 0 && p < tot,
        s"SQL-declared stats must prune: planned $p of $tot")
    }
  }

  test("typed stats survive segmentation end to end: pruning, " +
      "manifest-served aggregates, ANALYZE re-declaration") {
    withSegConf(3) {
      import spark.implicits._
      val path = freshPath()
      val data = (0 until 400).map(i =>
        (i.toLong, f"n-$i%04d", i / 7.0)).toDF("k", "name", "score")
      SnapshotTable.append(data, path, 8, statsCol = Some("k"),
        statsCols = Seq("name", "score"))
      val v1 = SnapshotTable.readVersion(spark, path, 1)
      assert(v1.segRefs.exists(_.nonEmpty))
      val t = spark.read.format("graft_table").option("path", path).load()
      val (n, sc) = ScanMetrics.rowCount(t.filter(col("name") < "n-0050"))
      assert(n === 50)
      val (p, tot) = (sc.filesPlanned, sc.filesTotal)
      assert(p > 0 && p < tot, s"typed pruning failed: $p of $tot")
      val (mr, sm) = withScan(t.agg(max("name")))
      val mx = mr.getString(0)
      assert(mx === "n-0399")
      assert(sm.manifestAgg,
        "typed MAX must serve from the segmented manifest")
      // ANALYZE re-declaration cannot carry (bounds change shape):
      // self-verification falls back to a fresh full segment
      SnapshotTable.analyzeStats(spark, path, Seq("score"))
      val v2 = SnapshotTable.readVersion(spark, path,
        SnapshotTable.latestVersion(path))
      assert(v2.colStats.map(_.col) === Seq("score"))
      assert(v2.colStats.head.mins.length === v2.files.length)
    }
  }
}
