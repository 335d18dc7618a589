package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{Success, TaskKilled}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{udf, when}

import graft.etl.{ImdbPipeline, Marts}
import graft.operators.{Dedup, Joins, Msf, PageRank, Similarity, Sssp}

/** The dedup pass, the ETL pipeline, the spanning forest, IVF search,
  * the one-task marts, the salted join, the PageRank family and weighted
  * shortest paths return the same rows when
  * task attempts are killed and re-run: a listener kills
  * the first attempt of every 3rd task, and each operator's rows must
  * equal a clean run's. Each case also asserts that some attempt really
  * ended `TaskKilled` and its task then succeeded on a later attempt —
  * otherwise the comparison proves nothing.
  */
class RetryDeterminismSpec extends SparkSpec {
  import spark.implicits._

  /** Kills attempt 0 of every task whose id is a multiple of 3; counts
    * tasks that ended killed and later succeeded on a re-run.
    */
  private class KillEveryThirdTask extends SparkListener {
    val killed = ConcurrentHashMap.newKeySet[(Int, Int, Int)]()
    val rerun = new AtomicInteger()
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      if (e.taskInfo.attemptNumber == 0 && e.taskInfo.taskId % 3 == 0)
        spark.sparkContext.killTaskAttempt(e.taskInfo.taskId, interruptThread = false,
          "retry-determinism spec")
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val k = (e.stageId, e.stageAttemptId, e.taskInfo.index)
      e.reason match {
        case _: TaskKilled => killed.add(k)
        case Success if e.taskInfo.attemptNumber > 0 && killed.contains(k) => rerun.incrementAndGet()
        case _ =>
      }
    }
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Rows of each of `build()`'s outputs on a clean run, then under the
    * kill listener.
    */
  private def sameUnderRetries(build: () => Seq[DataFrame]): Unit = {
    val clean = build().map(rows)
    assert(clean.forall(_.nonEmpty), "an output with no rows compares nothing")
    val sc = spark.sparkContext
    val killer = new KillEveryThirdTask
    sc.addSparkListener(killer)
    val retried =
      try build().map(rows)
      finally {
        org.apache.spark.graft.ListenerBusDrain.drain(sc, 10000L)
        sc.removeSparkListener(killer)
      }
    info(s"${killer.killed.size} attempts killed, ${killer.rerun.get()} re-run")
    assert(killer.rerun.get() > 0, "no killed attempt was re-run")
    assert(retried === clean)
  }

  // deterministic identities that hold each input row 1 ms, so a first
  // attempt is still running when its kill arrives over the listener bus
  private val heldText = udf((s: String) => { Thread.sleep(1); s })
  private val heldId = udf((x: Long) => { Thread.sleep(1); x })
  // the pipeline fixture has 6 titles: hold each 50 ms instead
  private val heldKey = udf((s: String) => { Thread.sleep(50); s })

  private def docs = Tables.load(spark, sfDir, "documents").repartition(4, $"doc_id")
    .withColumn("text", heldText($"text"))

  // a 2000-node graph of 200 ten-node chains, over 8 partitions
  private def chains = spark.range(0L, 2000L, 1L, 8).where($"id" % 10 =!= 9L)
    .select(heldId($"id").as("doc_a"), ($"id" + 1L).as("doc_b"))

  // the same chains as a weighted graph, weights distinct per edge
  private def weightedChains = chains
    .select($"doc_a".as("src"), $"doc_b".as("dst"), ($"doc_a" * 7919L % 10007L).as("w"))

  // every 10th chain node is a sink (no outbound edge)
  private def chainEdges = chains.select($"doc_a".as("src"), $"doc_b".as("dst"))
  private def chainSeeds = spark.range(0L, 2000L, 50L).select($"id".as("node"))

  test("pageRank on a graph with sinks is identical under killed and re-run task attempts") {
    sameUnderRetries(() => Seq(PageRank.pageRank(chainEdges, 3)))
  }

  test("pageRankWeighted is identical under killed and re-run task attempts") {
    // pageRankWeighted takes strictly positive weights; node 0's is 0
    sameUnderRetries(() => Seq(PageRank.pageRankWeighted(weightedChains.withColumn("w", $"w" + 1L), 3)))
  }

  test("personalizedPageRank is identical under killed and re-run task attempts") {
    sameUnderRetries(() => Seq(PageRank.personalizedPageRank(chainEdges, chainSeeds, 3)))
  }

  test("Sssp.weightedDistances is identical under killed and re-run task attempts") {
    sameUnderRetries(() => Seq(Sssp.weightedDistances(weightedChains, chainSeeds, 4)))
  }

  test("minhashCandidates is identical under killed and re-run task attempts") {
    sameUnderRetries(() => Seq(Dedup.minhashCandidates(docs, "doc_id", "text")))
  }

  test("ngramJaccard is identical under killed and re-run task attempts") {
    sameUnderRetries(() => Seq(Dedup.ngramJaccard(docs, "doc_id", "text", Params.JaccardMin)))
  }

  test("clusters (driver path) is identical under killed and re-run task attempts") {
    sameUnderRetries(() => Seq(Dedup.clusters(chains)))
  }

  test("clusters (distributed rounds) is identical under killed and re-run task attempts") {
    distributedCC(sameUnderRetries(() => Seq(Dedup.clusters(chains))))
  }

  test("cleanCorpus is identical under killed and re-run task attempts") {
    sameUnderRetries(() => Seq(Dedup.cleanCorpus(docs, "doc_id", "text", Params.JaccardMin, 0.3)))
  }

  test("ImdbPipeline.run: all 9 outputs are identical under killed and re-run task attempts") {
    val titles = ImdbPipelineSpec.titles(spark).repartition(3)
      .withColumn("tconst", heldKey($"tconst"))
    val ratings = ImdbPipelineSpec.ratings(spark).repartition(2)
      .withColumn("tconst", heldKey($"tconst"))
    sameUnderRetries(() => ImdbPipeline.run(titles, ratings, minVotes = 1000, topN = 10)
      .productIterator.map(_.asInstanceOf[DataFrame]).toSeq)
  }

  // the embeddings with each id held 1 ms, read from parquet so the
  // optimizer cannot fold the hold into a local relation
  private def heldEmb = Tables.load(spark, sfDir, "embeddings").withColumn("vec_id", heldId($"vec_id"))

  /** Three IVF searches, one per nprobe: on the driver tier each runs one
    * single-task collect, and of three consecutive task ids one is killed.
    */
  private def ivfSearches() = Seq(1, Params.IvfNprobe, Params.IvfCells).map { np =>
    val emb = heldEmb
    Similarity.ivfTopK(emb.filter($"vec_id" % Params.AnnQueryMod === 0), emb, "vec_id",
      "embedding", Params.AnnK, Params.IvfCells, Params.EmbDims, np)
  }

  test("ivfTopK (driver tier) is identical under killed and re-run task attempts") {
    sameUnderRetries { () =>
      val out = ivfSearches()
      assert(out.forall(_.queryExecution.analyzed.collectFirst {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.isEmpty))
      out
    }
  }

  test("ivfTopK (distributed tier) is identical under killed and re-run task attempts") {
    distributedCC(sameUnderRetries(() => ivfSearches()))
  }

  test("topNPerGroup over a joined input in one task is identical under killed and re-run task attempts") {
    // parquet copies of the pipeline fixture: a scan, not a local relation
    // the optimizer would evaluate on the driver, so the hold runs in a task
    val dir = java.nio.file.Files.createTempDirectory("graft-retry-marts").toString
    ImdbPipelineSpec.titles(spark).write.parquet(s"$dir/titles")
    ImdbPipelineSpec.ratings(spark).write.parquet(s"$dir/ratings")
    val titles = spark.read.parquet(s"$dir/titles").withColumn("tconst", heldKey($"tconst"))
    val ratings = spark.read.parquet(s"$dir/ratings")
    // three single-task lookups (one per vote floor), so one is killed
    sameUnderRetries(() => Seq(0L, 1000L, 5000L).map { floor =>
      val out = Marts.topNPerGroup(titles.join(ratings, "tconst"), Seq($"titleType"),
        Seq($"numVotes".desc, $"tconst".asc), 2, Some($"numVotes" >= floor))
      assert(out.queryExecution.analyzed.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.hint.leftHint }.flatten.nonEmpty,
        "the small path hints its join")
      out
    })
  }

  test("saltedJoin with its default salt over a skewed key is identical under killed and re-run task attempts") {
    // 90% of the big side on key 0, hash-shuffled before the join so the
    // default salt (monotonically_increasing_id) numbers rows in the
    // order a re-run task reads them
    sameUnderRetries { () =>
      val big = spark.range(0L, 4000L, 1L, 8)
        .select(heldId($"id").as("id"), when($"id" % 10 === 0, $"id").otherwise(0L).as("k"))
        .repartition(4, $"id")
      val small = spark.range(0L, 4000L, 10L, 2).select($"id".as("k"), ($"id" * 3).as("v"))
      Seq(Joins.saltedJoin(big, small, Seq("k"), saltFactor = 8))
    }
  }

  test("msf (driver tail) is identical under killed and re-run task attempts") {
    sameUnderRetries { () =>
      val forest = Msf.msf(weightedChains)
      assert(msfSides(forest) === ((false, true)))
      Seq(forest)
    }
  }

  test("msf (distributed rounds) is identical under killed and re-run task attempts") {
    distributedCC(sameUnderRetries { () =>
      val forest = Msf.msf(weightedChains)
      assert(msfSides(forest) === ((true, false)))
      Seq(forest)
    })
  }
}
