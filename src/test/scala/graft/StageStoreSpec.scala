package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.etl.ManifestParquet
import graft.operators.Components
import graft.queries.{DedupStage, GraphStage, LmStage, StageStore}

/** The persisted-staged-artifact contract: with a warehouse root
  * configured, [[graft.queries.StageCache]] commits each artifact as
  * a [[ManifestParquet]] table on first build and every later
  * request — including a COLD session — reads the committed version
  * instead of rebuilding, bit-equal to the in-process path. The
  * suite uses its own snapshot dir (symlinked at the source tables),
  * because [[StageStore]] overrides are dir-scoped — concurrent
  * suites on the shared testdata dirs keep the default in-process
  * behavior. */
class StageStoreSpec extends SparkSpec {

  private val src = "/root/testdata/sf0.001"

  /** A snapshot dir distinct from the shared testdata paths, holding
    * symlinks to the same parquet — same data, different StageStore
    * scope. */
  private def snapshotDir(tag: String): String = {
    val dir = Files.createTempDirectory(s"graft_snap_$tag")
    for (t <- Seq("documents", "lineitem", "orders", "customer", "embeddings")) {
      Files.createSymbolicLink(
        dir.resolve(s"$t.parquet"), Paths.get(s"$src/$t.parquet"))
    }
    dir.toString
  }

  private def warehouse(tag: String): String =
    Files.createTempDirectory(s"graft_wh_$tag").toString

  test("cold session reads the committed artifact instead of rebuilding") {
    val dir = snapshotDir("cold")
    val wh = warehouse("cold")
    StageStore.setForTesting(dir, wh)
    try {
      val before = DedupStage.buildCount
      val first = DedupStage.components(spark, dir)
        .orderBy("node").collect().toSeq
      // TWO builds: components resolves its minhashPairs dependency
      // (the shared pair artifact, round 11) and then itself
      assert(DedupStage.buildCount == before + 2)
      // the artifact is now a committed version-1 table in the warehouse
      val fmt = new ManifestParquet(spark, wh)
      val tbl = StageStore.tableName(dir,
        s"components|n=${graft.queries.CorpusQueries.ShingleN}" +
          s"|k=${graft.queries.CorpusQueries.MinhashK}" +
          s"|b=${graft.queries.CorpusQueries.MinhashBands}" +
          s"|t=${graft.queries.CorpusQueries.JaccardThreshold}")
      assert(fmt.currentVersion(tbl) == 1L)
      // drop the session memo — exactly the state a new driver JVM
      // starts without — and re-request: the store must serve it
      // with NO second build, bit-equal
      DedupStage.clearForTesting()
      val again = DedupStage.components(spark, dir)
        .orderBy("node").collect().toSeq
      // the cold read serves the committed components table WITHOUT
      // invoking the builder body — so the pair dependency isn't
      // touched either; the count must not move at all
      assert(DedupStage.buildCount == before + 2, "artifact was rebuilt")
      assert(again == first)
    } finally {
      StageStore.clearForTesting(dir)
      DedupStage.clearForTesting()
    }
  }

  test("store-backed artifacts are bit-equal to the in-process path, arrays included") {
    val stored = snapshotDir("ab")
    StageStore.setForTesting(stored, warehouse("ab"))
    try {
      // same underlying parquet through two snapshot dirs: one
      // store-backed, one default in-process. EVERY persistable
      // artifact from the shared registry is swept — a new stage
      // artifact is covered here (and by Bench's warehouse resolve)
      // without touching this test. Rows are totally ordered by all
      // columns (artifact tables are distinct-by-construction).
      def rows(dir: String) = graft.queries.Stages.persistableArtifacts
        .map { case (name, build) =>
          val df = build(spark, dir)
          name -> df.orderBy(df.columns.sorted.map(col).toIndexedSeq: _*)
            .collect().toSeq
        }
      assert(rows(stored) == rows(src))
    } finally {
      StageStore.clearForTesting(stored)
      graft.queries.Stages.clearAllForTesting()
    }
  }

  test("every persistable artifact's display suffix selects its memo cell (the warm/cold sample contract)") {
    // Stages.warmReadSample / coldBuildSample address an artifact by
    // its display-name suffix and match it against the memo key's
    // artifact-id segment — a stage() id that drifts from the display
    // suffix (five did before round 12: bigrams/bigramCounts,
    // trussThreshold_30, …) makes both samples silently report the -1
    // "not resolved" sentinel instead of failing loudly. Pin the
    // correspondence for every registered artifact.
    import graft.queries.VectorStage
    for ((name, build) <- graft.queries.Stages.persistableArtifacts) {
      build(spark, src).count() // resolve (memo hit if already built)
      val sub = name.split("\\.", 2)(1)
      val dropped = GraphStage.dropMatchingAndFree(sub) +
        DedupStage.dropMatchingAndFree(sub) +
        LmStage.dropMatchingAndFree(sub) +
        VectorStage.dropMatchingAndFree(sub)
      assert(dropped >= 1,
        s"$name: display suffix '$sub' selects no memo cell — the " +
          "warm/cold samples would silently report -1 for it")
    }
  }

  test("persisted cluster table folds a batch via foldInto, equal to full recompute") {
    import spark.implicits._
    // two old components {1,2,3} and {10,11}; the batch bridges them
    // (3,10) and adds a brand-new pair (20,21)
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val batch = Seq((3L, 10L), (20L, 21L)).toDF("a", "b")
    val fmt = new ManifestParquet(spark, warehouse("fold"))
    fmt.overwrite("clusters", Components.connectedComponents(oldPairs))
    val v = Components.foldInto(fmt, "clusters", batch)
    assert(v == 2L)
    val maintained = fmt.read("clusters")
      .orderBy("node").collect().toSeq
    val fromScratch = Components
      .connectedComponents(oldPairs.unionByName(batch))
      .orderBy("node").collect().toSeq
    assert(maintained == fromScratch)
    // an empty batch must not mint a version (idle-stream discipline)
    val v2 = Components.foldInto(fmt, "clusters", batch.where(lit(false)))
    assert(v2 == 2L && fmt.currentVersion("clusters") == 2L)
  }

  test("foldInto bootstraps an absent table from scratch") {
    import spark.implicits._
    val fmt = new ManifestParquet(spark, warehouse("boot"))
    val v = Components.foldInto(
      fmt, "boot", Seq((5L, 6L), (6L, 7L)).toDF("a", "b"))
    assert(v == 1L)
    assert(fmt.read("boot").orderBy("node").collect().toSeq ==
      Components.connectedComponents(
        Seq((5L, 6L), (6L, 7L)).toDF("a", "b")).orderBy("node").collect().toSeq)
  }

  test("bucketed positioned layout: cold session reads committed buckets, probe is exchange-free, bit-equal") {
    val dir = snapshotDir("bkt")
    val wh = warehouse("bkt")
    // in-process reference FIRST (no store): the r12 positioned cache
    val reference = graft.queries.PipelineQueries
      .q_fuzzy_join(spark, dir).collect().toSeq
    graft.queries.Stages.clearAllForTesting()
    StageStore.setForTesting(dir, wh)
    try {
      val before = DedupStage.buildCount
      val viaStore = graft.queries.PipelineQueries.q_fuzzy_join(spark, dir)
      assert(viaStore.collect().toSeq == reference && reference.nonEmpty)
      val builds = DedupStage.buildCount - before
      // the bucketed files + DDL marker are committed under the root
      val bktRoot = new java.io.File(wh, "bucketed")
      val tables = Option(bktRoot.listFiles).getOrElse(Array.empty)
        .filter(_.getName.contains("fuzzyIdxBkt"))
      assert(tables.length == 1, tables.mkString(","))
      assert(new java.io.File(tables.head, "_graft_bucketed.json").exists)
      // cold session: drop every memo AND the catalog entry — exactly
      // what a fresh driver JVM starts without — and re-request. The
      // committed buckets must serve the layout with no index rebuild.
      graft.queries.Stages.clearAllForTesting()
      spark.sql(s"DROP TABLE IF EXISTS `${graft.queries.BucketedStage
        .catalogName(wh, tables.head.getName)}`")
      val before2 = DedupStage.buildCount
      val cold = graft.queries.PipelineQueries.q_fuzzy_join(spark, dir)
      assert(cold.collect().toSeq == reference)
      // the plain keys-index builder must NOT have run again (the
      // bucketed table feeds the probe); store reads aren't builds
      assert(DedupStage.buildCount - before2 < builds,
        s"cold session rebuilt the index (builds: $builds then " +
          s"${DedupStage.buildCount - before2})")
      // the committed scan arrives hash-partitioned on the variant
      // key: the candidate self-join must not re-exchange the index
      // side (buckets ARE the positioning — the verdict's zero-
      // Exchange probe shape). The only exchanges left are the pair
      // dedup, the verify width repartition, and the contract sort.
      val idx = DedupStage.customerNameIndexPartitioned(spark, dir)
      val probe = idx.as("x").join(idx.as("y"), Seq("bkey"))
      val shuffles = countShuffles(probe.queryExecution.executedPlan)
      assert(shuffles == 0,
        s"$shuffles exchanges:\n${probe.queryExecution.executedPlan}")
    } finally {
      StageStore.clearForTesting(dir)
      graft.queries.Stages.clearAllForTesting()
    }
  }

  test("a bucketed marker cut off at any byte rebuilds with the same rows") {
    import spark.implicits._
    val wh = warehouse("bkt_cut")
    val rows = (0 until 50).map(i => (i % 7, s"v$i"))
    var builds = 0
    def resolve(): Seq[(Int, String)] =
      graft.queries.BucketedStage.resolve(spark, wh, "cut", Seq("k")) {
        builds += 1
        rows.toDF("k", "v")
      }.as[(Int, String)].collect().toSeq.sorted
    def dropCatalogEntry(): Unit = spark.sql(s"DROP TABLE IF EXISTS `${
      graft.queries.BucketedStage.catalogName(wh, "cut")}`")
    assert(resolve() == rows.sorted && builds == 1)
    val dir = Paths.get(wh, "bucketed", "cut")
    val marker = dir.resolve("_graft_bucketed.json")
    val whole = Files.readAllBytes(marker)
    for (k <- Seq(0, 1, whole.length / 2, whole.length - 1)) {
      // a crash k bytes into the marker: drop its checksum too, so the
      // cut bytes themselves reach the reader
      Files.write(marker, whole.take(k))
      Files.deleteIfExists(dir.resolve("._graft_bucketed.json.crc"))
      dropCatalogEntry()
      val before = builds
      assert(resolve() == rows.sorted, s"cut at byte $k")
      assert(builds == before + 1, s"cut at byte $k did not rebuild")
      assert(Files.readAllBytes(marker).sameElements(whole), s"cut at byte $k")
    }
    // the rewritten marker serves a cold session again, with no build,
    // and the commit leaves no temp file behind
    dropCatalogEntry()
    val before = builds
    assert(resolve() == rows.sorted && builds == before)
    val leftovers = Option(dir.toFile.list).getOrElse(Array.empty[String])
      .filter(_.contains(".tmp"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
    dropCatalogEntry()
  }

  test("erasure epoch: a damaged file fails every call and never reads as 0; a leftover temp file is ignored") {
    val wh = warehouse("epoch")
    def epochName(dir: String) =
      "_erasure_epoch_" + dir.replaceAll("[^A-Za-z0-9._-]", "_")
    // a committed epoch file cut at byte 0, or a single-layout file
    // whose bytes are no epoch: the session must not fall back to
    // epoch 0 on a later call (that would resolve the artifacts built
    // before the erasure), and a bump must not start over from 1
    for ((tag, suffix, damaged) <- Seq(("empty", "=1", ""), ("garbage", "", "x7"))) {
      val dir = s"$wh/snap_$tag"
      val file = Paths.get(wh, epochName(dir) + suffix)
      StageStore.setForTesting(dir, wh)
      try {
        Files.write(file, damaged.getBytes("UTF-8"))
        for (_ <- 1 to 3)
          intercept[IllegalStateException](StageStore.erasureEpoch(spark, dir))
        intercept[IllegalStateException](StageStore.bumpErasureEpoch(spark, dir))
        // once repaired, the same session reads the file's epoch
        Files.write(file, "4".getBytes("UTF-8"))
        assert(StageStore.erasureEpoch(spark, dir) == 4L)
      } finally StageStore.clearForTesting(dir)
    }
    // a bump that crashed before its rename leaves a temp file beside
    // the committed epoch: readers see the committed epoch, and the
    // next bump publishes a whole new epoch file, prunes the old one
    // and leaves no temp file of its own
    val dir = s"$wh/snap_tmp"
    StageStore.setForTesting(dir, wh)
    try {
      Files.write(Paths.get(wh, epochName(dir)), "2".getBytes("UTF-8"))
      val leftover = s"_crashed${epochName(dir)}.tmp"
      Files.write(Paths.get(wh, leftover), "9".getBytes("UTF-8"))
      assert(StageStore.erasureEpoch(spark, dir) == 2L)
      assert(StageStore.bumpErasureEpoch(spark, dir) == 3L)
      val names = Option(new java.io.File(wh).list).getOrElse(Array.empty[String])
        .filter(n => n.contains("snap_tmp") && !n.endsWith(".crc")).toSet
      assert(names == Set(leftover, epochName(dir) + "=3"), names.mkString(","))
      assert(new String(Files.readAllBytes(Paths.get(wh, epochName(dir) + "=3")),
        "UTF-8") == "3")
    } finally StageStore.clearForTesting(dir)
  }

  test("an interrupted artifact commit (data staged, no manifest published) rebuilds once with the same rows") {
    import spark.implicits._
    val dir = snapshotDir("interrupted")
    val wh = warehouse("interrupted")
    val stage = new graft.queries.StageCache
    val rows = (0L until 20L).map(i => (i, s"v$i"))
    def resolve(): Seq[(Long, String)] =
      stage(spark, dir, "interrupted")(rows.toDF("id", "v"))
        .as[(Long, String)].collect().toSeq.sorted
    StageStore.setForTesting(dir, wh)
    try {
      assert(resolve() == rows && stage.buildCount == 1L)
      // rewind the committed table to the state a crash between the
      // data write and the manifest rename leaves: the staged data dir
      // is there, version 1's manifest is not, and a torn temp manifest
      // sits in the log
      val table = Paths.get(wh, StageStore.tableName(dir, "interrupted"))
      val log = table.resolve("_log")
      val manifest = log.resolve(f"${1L}%020d.manifest")
      val whole = Files.readAllBytes(manifest)
      Files.delete(manifest)
      Files.deleteIfExists(log.resolve(s".${manifest.getFileName}.crc"))
      Files.write(log.resolve("_0badc0de_1.manifest.tmp"), whole.take(whole.length / 2))
      val staged = Option(table.toFile.list).getOrElse(Array.empty[String])
        .filter(_.startsWith("d-"))
      assert(staged.length == 1, staged.mkString(","))
      assert(new ManifestParquet(spark, wh)
        .currentVersion(StageStore.tableName(dir, "interrupted")) == 0L)
      // a cold session: no memo; the resolve must rebuild exactly once
      stage.clear()
      assert(resolve() == rows)
      assert(stage.buildCount == 2L, "an unpublished commit must rebuild once")
      // and the rebuild's commit serves the next cold session unbuilt
      stage.clear()
      assert(resolve() == rows && stage.buildCount == 2L)
    } finally {
      StageStore.clearForTesting(dir)
      stage.clearAndFree()
    }
  }
}
