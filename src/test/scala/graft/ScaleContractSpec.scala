package graft

import org.apache.spark.sql.functions._

/** Executable forms of the contracts the 100 TB posture depends on but
  * that no value-oracle can see: estimator accuracy bands for the
  * declared rows-only queries, storage reclamation of the CC family's
  * per-round reliable checkpoints, and the loud-failure guards on the
  * deliberately-bounded kernels.
  */
class ScaleContractSpec extends SparkSpec {
  import spark.implicits._

  // ---- rows-only queries get quantitative pins (VERDICT r6 item 4) ----

  test("q_approx_distinct: HLL estimate within ±5% of the exact twin per year") {
    val approx = SparkEntry.queries("q_approx_distinct")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = SparkEntry.queries("q_distinct_count")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet, "year frames must agree")
    exact.foreach { case (year, n) =>
      val est = approx(year)
      // Spark's HLL++ at default rsd 0.05; a silently-degraded sketch
      // (wrong column, broken merge, truncated register state) lands far
      // outside this band long before rows-only checks would notice
      assert(math.abs(est - n) <= math.max(1L, math.ceil(n * 0.05).toLong),
        s"year $year: HLL estimate $est outside ±5% of exact $n")
    }
  }

  test("multimodal_image_neardup: pair set equals the brute-force hamming " +
    "oracle and contains every constructed twin pair") {
    import graft.multimodal.Multimodal
    val docs = Tables.load(spark, sfDir, "documents")
    val media = Multimodal.mediaFromDocumentsPngTwins(docs, 16, 12)
    val got = Multimodal.imageNearDup(media, Params.SimhashMaxDist)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force oracle over the aHash signatures: ALL pairs within
    // maxDist — pins the pigeonhole banding to exact recall AND precision
    val sigs = Multimodal.imageAHash(media).collect()
      .map(r => (r.getAs[Long]("media_id"),
        r.getAs[Long]("sim_lo"), r.getAs[Long]("sim_hi")))
    val expect = (for {
      (ia, la, ha) <- sigs; (ib, lb, hb) <- sigs
      if ia < ib &&
        java.lang.Long.bitCount(la ^ lb) + java.lang.Long.bitCount(ha ^ hb) <=
          Params.SimhashMaxDist
    } yield (ia, ib)).toSet
    assert(got === expect,
      s"banding vs brute force: missing=${(expect -- got).take(5)} " +
        s"extra=${(got -- expect).take(5)}")
    // ground truth from construction: every doc's one-pixel twin
    // (media ids 2·doc, 2·doc+1) must be recovered
    val twins = docs.select(col("doc_id")).collect()
      .map(r => (r.getLong(0) * 2, r.getLong(0) * 2 + 1)).toSet
    assert(twins.subsetOf(got),
      s"missing twin pairs: ${(twins -- got).take(5)}")
  }

  // the driver gate for q_msf is rows-only; this pins the actual
  // forest: same edge count and same TOTAL weight as a local Kruskal
  // union-find over the same (deterministic md5-weighted) graph.
  // Checked at TWO scales: sf0.01's merge graphs run several Borůvka
  // rounds with multi-batch pointer doubling — the regime where a
  // contraction bug (cycle break, horizon batching) would first show.
  for (sf <- Seq(sfDir, "/root/testdata/sf0.01"))
    test(s"q_msf: forest weight and shape match Kruskal ($sf)") {
      val forest = SparkEntry.queries("q_msf")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val edges = {
        val pairs = Tables.load(spark, sf, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
        pairs.as("x").join(pairs.as("y"),
            col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
          .select(col("x.p").as("src"), col("y.p").as("dst")).distinct()
          .withColumn("w", graft.functions.HashFunctions.hash32(
            concat(col("src").cast("string"), lit(":"), col("dst").cast("string")),
            "msf"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      }
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      var kruskalW = 0L; var kruskalN = 0
      edges.sortBy { case (u, v, w) => (w, math.min(u, v), math.max(u, v)) }
        .foreach { case (u, v, w) =>
          val (ru, rv) = (find(u), find(v))
          if (ru != rv) { parent(ru) = rv; kruskalW += w; kruskalN += 1 }
        }
      assert(forest.length === kruskalN, "forest edge count vs Kruskal")
      assert(forest.map(_._3).sum === kruskalW, "forest total weight vs Kruskal")
    }

  // the champion-M calibration contract (r12 §5.14: M is per-scale —
  // the sf0.01-only M=40 evidence collapsed to 25% recall at sf1):
  // at TWO scale fixtures a decade apart (500 docs → derived M=40,
  // 5000 docs → M=80) the derived M must reach 100% recall@k of the
  // exact BM25 top-k on the audit query budget — the spec half of the
  // text_champ_recall_floor driver gate, so a calibration break is a
  // red spec as well as a hash FAIL.
  for (sf <- Seq(sfDir, "/root/testdata/sf0.1"))
    test(s"champion recall floor: derived M reaches 100% recall@k ($sf)") {
      import graft.operators.TextOps
      val docs = Tables.load(spark, sf, "documents")
      val m = Params.bm25ChampM(docs.count())
      val r = SparkEntry.recallAtK(
        TextOps.bm25TopK(docs, "doc_id", "text", Params.Bm25QueryMod,
          Params.Bm25K, queryBudget = Params.AuditQueryBudget),
        TextOps.bm25TopK(docs, "doc_id", "text", Params.Bm25QueryMod,
          Params.Bm25K, champM = m, queryBudget = Params.AuditQueryBudget))
        .collect()(0)
      assert(r.getLong(0) > 0, "audit query set must be non-empty")
      assert(r.getLong(2) >= Params.ChampRecallFloorPpm,
        s"derived M=$m misses the recall floor at $sf: " +
          s"mean=${r.getLong(1)}ppm min=${r.getLong(2)}ppm — " +
          "re-run RecallSweep and re-calibrate Params.bm25ChampM")
    }

  // the Jaccard side of the same contract (VERDICT r13 task #1: M was
  // fitted on BM25 sweeps and applied to Jaccard BY ANALOGY — the exact
  // silent-collapse class that broke M twice, and the r14 sweeps showed
  // it broken for real: bm25ChampM read min recall 10% at sf1, 0% at
  // sf10). Jaccard now derives its OWN M (Params.jaccardChampM, ∝N,
  // uncapped); the floor is pinned on the Jaccard ranking itself at two
  // fixtures a decade apart — the spec half of text_jaccard_recall_floor.
  for (sf <- Seq(sfDir, "/root/testdata/sf0.1"))
    test(s"jaccard champion recall floor: derived M reaches 100% recall@k ($sf)") {
      import graft.operators.TextOps
      val docs = Tables.load(spark, sf, "documents")
      val m = Params.jaccardChampM(docs.count())
      val r = SparkEntry.recallAtK(
        TextOps.jaccardTopK(docs, "doc_id", "text", Params.Bm25QueryMod,
          Params.Bm25K, queryBudget = Params.AuditQueryBudget),
        TextOps.jaccardTopK(docs, "doc_id", "text", Params.Bm25QueryMod,
          Params.Bm25K, champM = m, queryBudget = Params.AuditQueryBudget))
        .collect()(0)
      assert(r.getLong(0) > 0, "audit query set must be non-empty")
      assert(r.getLong(2) >= Params.ChampRecallFloorPpm,
        s"derived M=$m misses the JACCARD recall floor at $sf: " +
          s"mean=${r.getLong(1)}ppm min=${r.getLong(2)}ppm — " +
          "re-run `RecallSweep <dir> <ms> jaccard` and split jaccardChampM " +
          "from bm25ChampM in Params")
    }

  // ---- storage contract: CC per-round checkpoints are reclaimed ----

  test("Dedup.clusters reclaims per-round reliable checkpoint dirs via the " +
    "context cleaner") {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_spec")
    val prev = sc.getCheckpointDir
    sc.setCheckpointDir(dir.toString)
    try {
      assert(spark.conf.get("spark.cleaner.referenceTracking.cleanCheckpoints")
        === "true", "session must opt into checkpoint cleaning")
      def rddDirs(): Set[String] = {
        val walk = java.nio.file.Files.walk(dir)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala
            .filter(p => p.getFileName.toString.startsWith("rdd-"))
            .map(_.toString).toSet
        } finally walk.close()
      }
      // scope the result so no spec-level reference pins the final RDD.
      // The cleaner races the job (a GC between rounds can reclaim an
      // early round's dir before the job even finishes — observed under
      // suite load), so the "multiple rounds wrote dirs" precondition is
      // sampled CONCURRENTLY and unioned, never from one post-hoc snapshot.
      val seen = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
      @volatile var sampling = true
      val sampler = new Thread(() => {
        while (sampling) { rddDirs().foreach(seen.put(_, true)); Thread.sleep(50) }
      })
      sampler.setDaemon(true)
      sampler.start()
      def run(): Unit = {
        // a 9-node path needs several doubling rounds => several
        // per-round checkpoint dirs (on the distributed path: the size
        // rule would finish a graph this small on the driver)
        val pairs = (1L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
        val out = operators.Dedup.clusters(pairs, doubling = true)
        assert(out.collect().forall(_.getLong(1) == 1L))
        rddDirs().foreach(seen.put(_, true))
      }
      distributedCC(run())
      sampling = false
      sampler.join(2000)
      assert(seen.size >= 2,
        s"expected multiple per-round checkpoint dirs, saw ${seen.keySet}")
      // reclamation is asynchronous: the cleaner acts on GC'd RDD refs;
      // generous deadline — under a loaded suite JVM one GC cycle can
      // lag tens of seconds, and a slow pass must not read as a leak
      val deadline = System.currentTimeMillis() + 120000
      var left = rddDirs()
      while (left.nonEmpty && System.currentTimeMillis() < deadline) {
        System.gc()
        Thread.sleep(250)
        left = rddDirs()
      }
      assert(left.isEmpty,
        s"per-round checkpoint dirs not reclaimed within 60s: $left")
    } finally {
      // never leave the context pointing at the deleted temp dir
      sc.setCheckpointDir(prev.getOrElse(
        java.nio.file.Files.createTempDirectory("graft_ckpt_rest").toString))
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  // ---- iterated-barrier stats contract ----

  test("Barrier keeps plan-size statistics flat across self-join batches; " +
    "raw localCheckpoint compounds them geometrically") {
    import org.apache.spark.sql.graft.DatasetBridge
    def batch(df: org.apache.spark.sql.DataFrame) = {
      var cur = df
      for (_ <- 1 to 3)
        cur = cur.as("x")
          .join(cur.select(col("c").as("__lc"), col("l").as("__ll")),
            col("x.l") === col("__lc"))
          .select(col("x.c").as("c"), col("__ll").as("l"))
      cur
    }
    var good = (1L to 50L).map(i => (i, i % 7)).toDF("c", "l")
      .localCheckpoint(true)
    var bad = good
    for (_ <- 1 to 4) {
      good = operators.Barrier.local(batch(good), eager = true)
      bad = batch(bad).localCheckpoint(true)
    }
    // checkpoint carries origin sizeInBytes; 8 self-join leaves per
    // batch multiply it → ~8^k-bit BigInts that stall the driver in
    // Catalyst stats arithmetic (the measured q_msf 23 s → 1235 s
    // regression). The Barrier re-leaf resets to defaultSizeInBytes.
    val goodBits = DatasetBridge.statsBits(good)
    val badBits = DatasetBridge.statsBits(bad)
    assert(goodBits < 128,
      s"Barrier must reset carried statistics, got $goodBits bits")
    assert(badBits > 10000,
      s"negative control: raw localCheckpoint should compound stats " +
        s"(got only $badBits bits — if Spark stopped carrying origin " +
        s"stats, Barrier's re-leaf may no longer be needed)")
  }

  // ---- champion work advisory: binding raise/override (r14) ----

  test("championAdvisory is BINDING by default: over-budget rescore bound " +
    "raises with the forecast, override or in-budget proceeds") {
    import graft.operators.TextOps
    val docs = Tables.load(spark, sfDir, "documents")
    // a tiny work budget forces the raise on any real corpus
    val ex = intercept[IllegalStateException] {
      TextOps.championAdvisory(docs, "doc_id", "text", Params.Bm25QueryMod,
        champM = 1000, queryBudget = Params.AuditQueryBudget,
        maxRescoreRows = 10L, queryTag = "spec-champ-over")
    }
    assert(ex.getMessage.contains("REFUSED") &&
      ex.getMessage.contains("rescore") &&
      ex.getMessage.contains("MinHash-LSH") &&
      ex.getMessage.contains("overrideWork"),
      s"refusal must carry the forecast and the alternatives: ${ex.getMessage}")
    // explicit override proceeds (advisory only)
    TextOps.championAdvisory(docs, "doc_id", "text", Params.Bm25QueryMod,
      champM = 1000, queryBudget = Params.AuditQueryBudget,
      maxRescoreRows = 10L, queryTag = "spec-champ-override",
      overrideWork = true)
    // generous budget proceeds with no override
    TextOps.championAdvisory(docs, "doc_id", "text", Params.Bm25QueryMod,
      champM = 1000, queryBudget = Params.AuditQueryBudget,
      maxRescoreRows = Long.MaxValue / 4, queryTag = "spec-champ-in-budget")
  }

  // ---- exact-audit work advisory: binding raise/override (r15) ----

  test("exactAuditAdvisory is BINDING by default: over-budget candidate " +
    "stream raises with the reduced-budget recommendation, override or " +
    "in-budget proceeds") {
    import graft.operators.TextOps
    val docs = Tables.load(spark, sfDir, "documents")
    // a tiny candidate budget forces the raise on any real corpus
    val ex = intercept[IllegalStateException] {
      TextOps.exactAuditAdvisory(docs, "doc_id", "text",
        Params.Bm25QueryMod, Params.AuditQueryBudget, maxCandRows = 10L,
        queryTag = "spec-audit-over")
    }
    assert(ex.getMessage.contains("REFUSED") &&
      ex.getMessage.contains("Reduce the audit budget") &&
      ex.getMessage.contains("overrideWork"),
      s"refusal must carry the forecast and the budget knob: ${ex.getMessage}")
    // the recommendation scales the budget by max/bound — a 10-row cap
    // on a >>10-row stream must recommend the floor budget of 1
    assert(ex.getMessage.contains("~1"),
      s"reduced-budget recommendation missing: ${ex.getMessage}")
    // explicit override proceeds (advisory only)
    TextOps.exactAuditAdvisory(docs, "doc_id", "text",
      Params.Bm25QueryMod, Params.AuditQueryBudget, maxCandRows = 10L,
      queryTag = "spec-audit-override", overrideWork = true)
    // generous budget proceeds with no override, both rankers
    TextOps.exactAuditAdvisory(docs, "doc_id", "text",
      Params.Bm25QueryMod, Params.AuditQueryBudget,
      maxCandRows = Long.MaxValue / 4, queryTag = "spec-audit-in-budget")
    TextOps.exactAuditAdvisory(docs, "doc_id", "text",
      Params.Bm25QueryMod, Params.AuditQueryBudget,
      maxCandRows = Long.MaxValue / 4, queryTag = "spec-audit-bm25",
      ranker = "bm25")
  }

  test("champion work gate is wired into the champion paths: an " +
    "over-budget champM run refuses from inside jaccardTopK/bm25TopK") {
    import graft.operators.TextOps
    val docs = Tables.load(spark, sfDir, "documents")
    // rescoreBudget=1 forces the raise before any posting list is built
    val exJ = intercept[IllegalStateException] {
      TextOps.jaccardTopK(docs, "doc_id", "text", Params.Bm25QueryMod,
        Params.Bm25K, champM = 1000,
        queryBudget = Params.AuditQueryBudget, rescoreBudget = 1L)
    }
    assert(exJ.getMessage.contains("champion-advisory") &&
      exJ.getMessage.contains("jaccardTopK"))
    val exB = intercept[IllegalStateException] {
      TextOps.bm25TopK(docs, "doc_id", "text", Params.Bm25QueryMod,
        Params.Bm25K, champM = 1000,
        queryBudget = Params.AuditQueryBudget, rescoreBudget = 1L)
    }
    assert(exB.getMessage.contains("champion-advisory") &&
      exB.getMessage.contains("bm25TopK"))
    // overrideWork threads through: the same over-budget run proceeds
    // to a plan (composition only — no action executed here)
    TextOps.jaccardTopK(docs, "doc_id", "text", Params.Bm25QueryMod,
      Params.Bm25K, champM = 1000, queryBudget = Params.AuditQueryBudget,
      rescoreBudget = 1L, overrideWork = true)
  }

  // ---- loud-failure guard on the bounded series folds ----

  test("boundedSeries: an over-long series fails loudly, a bounded one passes") {
    val series = (1L to 50L).map(i => (i, i * 10)).toDF("k", "v")
    // within bound: normal result
    assert(operators.TimeSeries.holtSmooth(series, "k", "v").count() === 50)
    // past bound: the plan itself raises at execution (not at compose time)
    val guarded = operators.TimeSeries.holtSmooth(series, "k", "v",
      maxSeriesLen = 10)
    val e = intercept[Exception] { guarded.collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("maxSeriesLen")),
      s"expected the boundedSeries raise_error, got: ${messages(e)}")
  }
}
