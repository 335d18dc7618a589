package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Plan-quality audit: the properties that decide 100 TB behavior —
  * parquet pushdown/pruning, broadcast joins on dims, partial aggregation
  * — asserted on the actual optimized plans, so a regression that silently
  * degrades the plan fails CI even while results stay correct.
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private def explain(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("q1 pushes the shipdate filter and prunes columns at the scan") {
    val plan = explain("q1_pricing_summary")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushdown in:\n$plan")
    assert(!plan.contains("l_orderkey"), "scan should prune unused lineitem columns")
  }

  test("fact_join broadcasts the customer dim") {
    val plan = explain("fact_join")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("q5 star join broadcasts all dims (single big-table pass)") {
    val plan = explain("q5_local_supplier")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts:\n$plan")
    assert(!plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"))
  }

  test("kpi aggregate does map-side partial aggregation") {
    val plan = explain("mart_kpi_year")
    assert(plan.contains("partial_"), s"expected partial aggregation:\n$plan")
  }

  test("aggregations run inside whole-stage codegen") {
    // AQE: codegen spans only appear in the *final* adaptive plan, so
    // execute first and then inspect.
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // codegen stages render as "*(n) Operator" in the final adaptive plan
    assert(plan.contains("*(1)"), s"expected codegen spans:\n$plan")
  }

  test("minhash signatures need no exchange: one map-side kernel per row") {
    val df = graft.operators.Dedup.minhashBands(
      Tables.load(spark, sfDir, "documents"), "doc_id", "text", 16, 4)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges === 0, s"signature stage must not shuffle, got $exchanges:\n$plan")
    assert(plan.contains("graft_minhash_band_keys"), s"expected the signature kernel:\n$plan")
  }

  test("connected-components round is one join + one aggregate, no probe join") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v"))).distinct()
    val labels = edges.select(col("u")).distinct().withColumn("label", col("u"))
    val plan = graft.operators.Dedup.ccRound(edges, labels)
      .queryExecution.executedPlan.toString
    val joins = "Join".r.findAllIn(plan).length
    assert(joins === 1, s"CC round must plan exactly one join, got $joins:\n$plan")
  }

  test("distributed IVF evaluates the cell argmax once per corpus row") {
    // a nullable cell join key gets an inferred isnotnull(cell) filter
    // pushed below the projection that computes it: every centroid dot
    // would then run twice per corpus row
    import Params._
    import org.apache.spark.sql.catalyst.expressions.ArrayMax
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val emb = Tables.load(spark, sfDir, "embeddings")
    val df = distributedCC {
      val d = graft.operators.Similarity.ivfTopK(emb.filter($"vec_id" % AnnQueryMod === 0), emb,
        "vec_id", "embedding", AnnK, IvfCells, EmbDims, IvfNprobe)
      d.collect()
      d
    }
    val plan = df.queryExecution.executedPlan
    val argmaxes = new AdaptiveSparkPlanHelper {}.collectWithSubqueries(plan) { case p =>
      p.expressions.map(_.collect { case a: ArrayMax => a }.size).sum
    }.sum
    assert(argmaxes === 1, s"one cell argmax per corpus row, got $argmaxes:\n$plan")
  }

  test("brute-force ANN broadcasts the query side and rejects unbounded query sets") {
    val plan = explain("ann_brute_topk")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"query side must broadcast (corpus never shuffles for the product):\n$plan")
    val emb = Tables.load(spark, sfDir, "embeddings")
    // composition is LAZY: building + explaining the over-limit plan must
    // not throw (and must not launch the probe job); the in-plan guard
    // fires at execution
    val over = graft.operators.Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 5,
      maxQueries = 2)
    over.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val e = intercept[Exception] { over.collect() }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + messages(t.getCause)
    assert(messages(e).contains("maxQueries"), s"guard should fire at execution: ${messages(e)}")
  }

  test("anti join resolves to a broadcast anti join at this scale") {
    val plan = explain("q_anti_join")
    assert(plan.contains("LeftAnti"), s"expected anti join:\n$plan")
  }

  test("TopK aggregator partial-aggregates map-side (no full group sort)") {
    val df = SparkEntry.queries("mart_top_agg")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_topkaggregator"),
      s"expected map-side partial TopK aggregation:\n$plan")
    assert(!plan.contains("Window"), s"aggregate path must not fall back to a window:\n$plan")
  }

  test("salted top-N returns exactly the plain top-N rows") {
    val a = SparkEntry.queries("mart_top_salted")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val b = SparkEntry.queries("mart_top_per_group")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(a === b)
  }

  test("decontamination broadcasts the benchmark band set; upsert never sorts") {
    val plan = explain("dedup_decontaminate")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"benchmark bands must broadcast into the semi-join:\n$plan")
    val up = explain("etl_upsert")
    assert(!up.contains("Window"),
      s"anti-join merge must not plan a window sort over the snapshot:\n$up")
  }

  test("bernoulli sampling is map-side only (no exchange)") {
    val plan = explain("sample_bernoulli")
    assert(!plan.contains("Exchange"),
      s"hash-threshold sampling must not shuffle:\n$plan")
  }

  test("range join plans as a bucket equi-join, never a nested loop") {
    val plan = explain("q_range_join")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"point-in-interval join must bucket into an equi-join:\n$plan")
    assert(plan.contains("Join"), s"expected a hash/broadcast equi-join on the bucket id:\n$plan")
  }

  test("ADC scoring does map-side partial aggregation and no cartesian product") {
    for (q <- Seq("emb_pq_adc", "emb_ivf_pq_adc")) {
      val plan = explain(q)
      assert(plan.contains("partial_min"),
        s"$q: the per-subspace pivot must partially aggregate map-side:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$q: code/LUT joins must stay equi-joins:\n$plan")
    }
  }

  test("scd2 point-in-time lookup stays a hash equi-join on (bucket, key)") {
    val plan = explain("etl_scd2_lookup")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"keyed range join must not degrade to a nested loop:\n$plan")
  }

  test("scd2 costs exactly one shuffle: prune-lag and version-lead share it") {
    val plan = explain("etl_scd2")
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges === 1,
      s"both windows partition on the key and must reuse one exchange, got $exchanges:\n$plan")
  }

  test("spatial grid join and DBSCAN plan as cell equi-joins, never a nested loop") {
    for (q <- Seq("q_spatial_join", "q_dbscan_core", "q_dbscan_cluster",
        "q_dbscan_capped")) {
      val plan = explain(q)
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$q: the 3x3 grid block must make proximity an equi-join on (cx, cy):\n$plan")
      assert(plan.contains("Join"), s"$q: expected an equi-join on the cell id:\n$plan")
    }
  }

  test("link prediction wedge join is an equi-join with map-side pair counts") {
    val plan = explain("q_link_predict")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"hub-capped wedge enumeration must stay an equi-join on the center key:\n$plan")
    assert(plan.contains("partial_count"),
      s"pair counting must partially aggregate map-side before the pair shuffle:\n$plan")
  }

  test("interval overlap join plans as a bucket equi-join, never a nested loop") {
    val plan = explain("q_interval_join")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval overlap join must bucket into an equi-join:\n$plan")
    assert(plan.contains("Join"), s"expected a hash/broadcast equi-join on the bucket id:\n$plan")
  }

  test("AQE splits a deliberately skewed join partition at runtime") {
    // SURVEY §5 claims AQE skew-join absorbs hot keys; prove it: one key
    // holds 50% of the left side, thresholds lowered to test scale, and
    // the FINAL adaptive plan must carry the skew=true SMJ marker.
    val tuned = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = tuned.keys.map(k => k -> spark.conf.getOption(k)).toMap
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(200000).select(
        when(col("id") % 2 === 0, lit(7L)).otherwise(col("id")).as("k"),
        concat(lit("pad-payload-pad-payload-"), col("id")).as("payload"))
      val right = spark.range(2000).select(col("id").as("k"), (col("id") * 2).as("v"))
      val joined = left.join(right, "k")
      // execute THIS Dataset's QueryExecution (a write would plan a fresh
      // one and leave this plan un-finalized), then read the final plan
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"expected AQE to split the hot partition:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("a selective dim filter injects a runtime bloom filter into the fact scan side") {
    // Row-level runtime filtering — DPP's sibling for NON-partition join
    // keys: a selective filter on the build side makes the optimizer
    // inject might_contain(bloom_filter_agg(...)) ahead of the probe
    // side's shuffle, so at 100 TB the fact rows that cannot join die
    // before the exchange instead of shuffling. Thresholds lowered to
    // test scale; SMJ forced so the filter is worth injecting.
    val tuned = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = tuned.keys.map(k => k -> spark.conf.getOption(k)).toMap
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft_bloom").toString
      Tables.load(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity")).write.mode("overwrite")
        .parquet(s"$tmp/fact")
      Tables.load(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority")).write.mode("overwrite")
        .parquet(s"$tmp/dim")
      val fact = spark.read.parquet(s"$tmp/fact")
      val dim = spark.read.parquet(s"$tmp/dim").where(col("o_orderpriority") === "1-URGENT")
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(sum(col("l_quantity")).as("q"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("bloom_filter"),
        s"expected an injected runtime bloom filter on the fact side:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("partitioned fact scan gets dynamic partition pruning from a dim filter") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    SparkEntry.queries("fact_join")(spark, sfDir)
      .write.mode("overwrite").partitionBy("yearkey").parquet(tmp)
    val fact = spark.read.parquet(tmp)
    // DPP preconditions worth knowing: the join key must be cast-free
    // (ints — partition dirs infer as int), the dim must be a real scan
    // (a LocalRelation constant-folds its filter away and the rule sees
    // no selective predicate), the predicate must be a comparison (a
    // bare boolean attribute is not "likely selective"), and the fact
    // side must read a data column (a partition-key-only scan estimates
    // ~0 bytes, so pruning shows no benefit)
    (1992 to 1998).map(y => (y, if (y >= 1997) "hot" else "cold")).toDF("yk", "grp")
      .write.mode("overwrite").parquet(s"${tmp}_dim")
    val dim = spark.read.parquet(s"${tmp}_dim")
    val joined = fact.join(broadcast(dim), col("yearkey") === col("yk"))
      .where(col("grp") === "hot")
      .groupBy(col("yearkey")).agg(sum(col("price_cents")).as("total"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic partition pruning subquery on the fact scan:\n$plan")
  }

  test("heavy hitters: candidate generation is map-side (no exchange feeds the sketch)") {
    // phase 1 (MapPartitions running Misra-Gries) must consume the scan
    // directly. The full query hides the sketch behind a localCheckpoint,
    // so pin the property on the sketch stage built standalone — the
    // identical shape heavyHitters composes internally.
    import spark.implicits._
    val flat = Tables.load(spark, sfDir, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("item"))
    val sk = flat.as[String]
      .mapPartitions(it => graft.operators.Frequency.misraGries(it, 100)).toDF("item")
    val plan = sk.queryExecution.executedPlan.toString
    val idx = plan.indexOf("MapPartitions")
    assert(idx >= 0, s"expected a MapPartitions sketch stage:\n$plan")
    val scanAt = plan.indexOf("FileScan", idx)
    assert(scanAt >= 0, s"expected the sketch to sit directly on the file scan:\n$plan")
    assert(!plan.substring(idx, scanAt).contains("Exchange"),
      s"the sketch must read the source without a shuffle:\n$plan")
    // the full query's candidate set reaches the exact pass as a broadcast
    val full = SparkEntry.queries("q_heavy_hitters")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(full.contains("BroadcastHashJoin"),
      s"candidates must broadcast into the exact count pass:\n$full")
  }

  test("pagerank plan: keyed joins only, no cartesian or nested loop on edges") {
    // each round ends in a lazy localCheckpoint (the round's ranks are
    // consumed by BOTH the contribution join and the dangling-mass
    // aggregate, and the checkpoint keeps the iterated plan from
    // nesting), so the final executedPlan shows ONE round's shape with
    // prior rounds behind an RDD scan: the edges⋈ranks join, the
    // nodes⋈contribs assembly join, the ranks⋈dangling semi join — all
    // keyed — plus exactly the two 1-row broadcast scalars (node count,
    // dangling mass) as nested-loop attachments
    // the bench graph is sink-free, so the probe picks the pipelined
    // path: no per-round checkpoint, every round visible in ONE plan —
    // keyed joins only, nested-loop only for the 1-row scalars
    val df = SparkEntry.queries("q_pagerank")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"pagerank must never plan a cartesian:\n$plan")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    val keyed = ("SortMergeJoin".r.findAllIn(plan).length
      + "BroadcastHashJoin".r.findAllIn(plan).length
      + "ShuffledHashJoin".r.findAllIn(plan).length)
    assert(keyed >= graft.Params.PrIters * 2,
      s"expected >=${graft.Params.PrIters * 2} keyed joins (got $keyed):\n$plan")
    assert(bnlj <= graft.Params.PrIters + 1,
      s"only the 1-row scalar joins may be nested-loop (got $bnlj):\n$plan")
    // a graph WITH sinks takes the dangling-redistribution path whose
    // rounds normally hide behind checkpoints; unroll two rounds without
    // them to pin that the edges⋈ranks join stays keyed there too (two
    // keyed joins per round, nested-loop only for the two scalars/round)
    import org.apache.spark.sql.functions.col
    val edges = Tables.load(spark, sfDir, "orders").limit(200)
      .select((col("o_orderkey") % 50L).as("src"), (col("o_custkey") % 50L).as("dst"))
    val unrolled = graft.operators.PageRank.pageRank(edges, 2, checkpointRounds = false)
      .queryExecution.executedPlan.toString
    assert(!unrolled.contains("CartesianProduct"),
      s"unrolled pagerank must never plan a cartesian:\n$unrolled")
    val uk = ("SortMergeJoin".r.findAllIn(unrolled).length
      + "BroadcastHashJoin".r.findAllIn(unrolled).length
      + "ShuffledHashJoin".r.findAllIn(unrolled).length)
    assert(uk >= 4,
      s"expected >=2 keyed joins per unrolled round (got $uk):\n$unrolled")
  }

  test("prefix-filter join plans no cartesian and verifies candidates with keyed joins") {
    val df = SparkEntry.queries("dedup_prefix_filter")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"exact similarity join must stay keyed end to end:\n$plan")
    assert(plan.contains("partial_min"),
      s"candidate aggregate should do map-side partial min of positions:\n$plan")
    // the fan-out join on the prefix token builds the index side in the
    // shuffle, run after run: AQE may not broadcast whichever side's
    // stage happened to finish first
    df.collect()
    val joins = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.HashJoin
          if j.leftKeys.exists(_.references.exists(_.name == "h")) => j
    }
    assert(joins.map(j => (j.getClass.getSimpleName, j.buildSide.toString)) ===
      Seq(("ShuffledHashJoinExec", "BuildRight")), s"${df.queryExecution.executedPlan}")
  }

  test("quantile sketch partial-aggregates map-side; union never rescans the base") {
    val plan = explain("q_kll_quantiles")
    assert(plan.contains("partial_bottomksampleaggregator"),
      s"expected map-side partial sketch aggregation:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Sort "),
      s"bounded-buffer sketch must not fall back to a sort/window:\n$plan")
    // union path: exactly one scan of the orders parquet — the merge
    // re-feeds sketch STATE, it must not read the base table again
    val up = explain("q_kll_union")
    val scans = "Scan parquet".r.findAllIn(up).length
    assert(scans <= 1, s"sketch union must not rescan the base table:\n$up")
  }

  test("sssp round: frontier join keyed, relax min partial-aggregated, no cartesian") {
    // the production path checkpoints each round (the final plan is an
    // RDD scan); unroll two rounds without checkpoints to pin the
    // per-round shape, the pagerank-audit pattern
    val edges = Tables.load(spark, sfDir, "orders").limit(200)
      .select((col("o_orderkey") % 50L).as("src"), (col("o_custkey") % 50L).as("dst"),
        (col("o_orderkey") % 5L + 1L).as("w"))
    val seeds = Seq(0L, 1L).toDF("node")
    val plan = graft.operators.Sssp
      .weightedDistances(edges, seeds, 2, checkpointRounds = false)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"min-plus rounds must stay keyed equi-joins:\n$plan")
    assert(plan.contains("partial_min"),
      s"relaxation must pre-aggregate candidate distances map-side:\n$plan")
  }

  test("semantic dedup: within-cell pairs and keep-rank stay keyed, no nested loop") {
    val plan = explain("dedup_semantic")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"SemDeDup's pair stage must be a cell equi-join:\n$plan")
  }

  test("domain stats: per-domain aggregate partial map-side, join back keyed") {
    val plan = explain("text_domain_stats")
    assert(!plan.contains("CartesianProduct"),
      s"domain stats must never plan a cartesian:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"per-domain aggregate should combine map-side:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
        || plan.contains("ShuffledHashJoin"),
      s"stats join back must be keyed:\n$plan")
  }

  test("dataset fingerprint: one constant-state shuffle with map-side partials") {
    val plan = explain("q_dataset_fingerprint")
    assert("Exchange".r.findAllIn(plan).length === 1,
      s"fingerprint should shuffle once (the rollup agg), state is constant-size:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"fingerprint combiners must partial-aggregate map-side:\n$plan")
  }

  test("join-size audit: count tables join keyed, raw payload never joins") {
    val plan = explain("q_join_size_audit")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"audit must never plan a cartesian:\n$plan")
    assert(plan.contains("partial_count"),
      s"per-key counts must combine map-side BEFORE any join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
        || plan.contains("ShuffledHashJoin"),
      s"count⋈count must be a keyed join:\n$plan")
  }

  test("entity resolution: label and survivorship joins keyed, no cartesian") {
    val plan = explain("er_resolve")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"er_resolve must never plan a cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
        || plan.contains("ShuffledHashJoin"),
      s"record→entity label join must be keyed:\n$plan")
  }

  test("correlation matrix: one constant-row shuffle, moments partial map-side") {
    val plan = explain("q_corr_matrix")
    assert("Exchange".r.findAllIn(plan).length === 1,
      s"corr matrix should shuffle exactly one constant-size row:\n$plan")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"moment sums must combine map-side:\n$plan")
  }

  test("count-min build shuffles only sketch-sized state (map-side partial counts)") {
    val items = Tables.load(spark, sfDir, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
    val df = graft.operators.Sketches.countMin(items, col("tok"), 4, 256)
    // pre-execution plan: the adaptive final+initial double print would
    // double-count the single Exchange
    val plan = df.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length === 1,
      s"sketch build should shuffle once, on (j,h):\n$plan")
    assert(plan.contains("partial_count"),
      s"partial aggregation must collapse each partition to <= d*w rows pre-shuffle:\n$plan")
  }

  test("bloom anti join: might_contain routes rows, the anti join sees only the sliver") {
    val big = Tables.load(spark, sfDir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val small = Tables.load(spark, sfDir, "customer")
      .where(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("o_custkey"))
    val df = graft.operators.Joins.bloomAntiJoin(big, small, "o_custkey", 10000L)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"routing must be the bloom predicate, not a join:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"false-positive eviction needs the exact anti join:\n$plan")
  }

  test("containment: benchmark postings broadcast, corpus side never sort-merges") {
    val docs = Tables.load(spark, sfDir, "documents")
    val df = graft.operators.Dedup.containmentScores(
      docs.filter(col("doc_id") % 50 =!= 0), docs.filter(col("doc_id") % 50 === 0),
      "doc_id", "text", 1L, 2L)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark postings and sizes must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the huge corpus side must never shuffle for a join:\n$plan")
  }

  test("orc scan pushes filters and prunes columns like parquet") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_orc_plan").toString
    Tables.load(spark, sfDir, "orders").write.mode("overwrite").orc(tmp)
    val df = spark.read.orc(tmp).filter(col("o_totalprice") > 100000.0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice"),
      s"orc scan must push the price filter:\n$plan")
    assert(!plan.contains("o_orderdate"), s"orc scan must prune unused columns:\n$plan")
  }

  test("mixture sampling: the corpus-side keep decision never shuffles the corpus") {
    // rates are a per-source aggregate broadcast BACK; the keep filter is
    // then a broadcast-join + map-side hash compare. The only exchanges
    // allowed are inside the (tiny) rate derivation — the corpus scan
    // that feeds the final filter must reach it through broadcast joins,
    // never a corpus-keyed exchange, or the sampler costs a full shuffle
    // at 100 TB.
    val df = SparkEntry.queries("sample_mixture")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"rate table must broadcast to the corpus:\n$plan")
    // exchanges: the rate aggregate's (hash + single-partition) and the
    // broadcasts; none may be a corpus-row hashpartitioning feeding the
    // probe side of the final join
    val nEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nEx <= 1,
      s"only the rate aggregate may hash-shuffle (got $nEx):\n$plan")
  }

  test("sliding windows pre-aggregate map-side before the single shuffle") {
    val df = SparkEntry.queries("events_sliding_window")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"),
      s"window counts must combine map-side before shuffling:\n$plan")
    val nEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nEx === 1, s"exactly one shuffle on the window key (got $nEx):\n$plan")
  }

  test("gap fill runs entirely over the aggregated series, one fact shuffle") {
    // the raw orders scan feeds ONE aggregate (the obs table); densify,
    // bounds, and LOCF all consume the checkpointed obs — so the plan
    // holds exactly one scan-sized exchange (the obs groupBy; the rest
    // key on the sketch-sized series)
    val df = SparkEntry.queries("q_gap_fill")(spark, sfDir)
    df.collect() // materialize through the lazy checkpoint
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("partial_count") || plan.contains("Scan ExistingRDD"),
      s"obs must be the aggregated series:\n$plan")
  }

  test("bucketed tables join without an exchange on the bucketed side") {
    val wh = java.nio.file.Files.createTempDirectory("graft_buckets").toString
    val orders = Tables.load(spark, sfDir, "orders")
    val customer = Tables.load(spark, sfDir, "customer")
    orders.write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", s"$wh/orders_b").saveAsTable("orders_b")
    customer.write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", s"$wh/customer_b").saveAsTable("customer_b")
    try {
      // disable broadcast so the co-located join path is what's planned
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"), col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucket-aligned join must not shuffle either side:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected sort-merge over buckets:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("k-anonymity suppression broadcasts the census; rows never sort-merge") {
    val plan = explain("q_kanon")
    assert(plan.contains("BroadcastHashJoin"), s"census must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"released rows must not shuffle:\n$plan")
  }

  test("transition matrix: one window pass, map-side partial counts") {
    val plan = explain("events_transitions")
    assert(plan.contains("partial_count"),
      s"pair counts must combine map-side:\n$plan")
    val nWin = "Window".r.findAllIn(plan).length
    assert(nWin === 1, s"exactly one window pass (got $nWin):\n$plan")
  }

  test("interval coverage: both windows share one exchange + one sort") {
    // the island sweep needs a per-group ordered pass twice (running
    // max-end, then running island-sum); same partition key and
    // ordering means Spark must reuse a single Exchange + a single
    // data-sized Sort — a second sort would double the operator's cost
    val plan = explain("q_interval_coverage")
    val nEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    // one window exchange + the two aggregate exchanges downstream
    assert(plan.contains("Window"), s"sweep must plan as windows:\n$plan")
    val nSort = "^\\s*[+:]?-* ?\\*?\\(?\\d*\\)? ?Sort ".r.findAllIn(plan).length
    assert(nSort <= 1, s"windows must share one sort (got $nSort):\n$plan")
    assert(nEx <= 3, s"expected <= 3 exchanges (window + 2 aggs), got $nEx:\n$plan")
  }

  test("skew audit: top-k is TakeOrdered, never a global sort") {
    val plan = explain("q_skew_audit")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must plan as per-partition heaps + driver merge:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"1-row totals must broadcast:\n$plan")
  }

  test("BPE vocab aggregate partial-aggregates over the checkpointed state") {
    // the per-round internals sit behind lazy checkpoints (each round
    // plans as Scan ExistingRDD — exactly the O(1)-lineage contract),
    // so the observable pin is the state-consuming aggregate: one
    // shuffle, combined map-side
    val df = SparkEntry.queries("text_bpe_vocab")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum"),
      s"symbol histogram must combine map-side:\n$plan")
    val nEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nEx === 1, s"one shuffle on the symbol key (got $nEx):\n$plan")
  }

  test("bm25: query terms broadcast; postings pruned before the df join") {
    val plan = explain("text_bm25")
    assert(plan.contains("BroadcastHashJoin"),
      s"query-term set must broadcast:\n$plan")
    // the scoring side reads the checkpointed postings (Scan ExistingRDD),
    // never re-tokenizes the corpus per consumer
    assert(plan.contains("Scan ExistingRDD"),
      s"postings must come from the shared checkpoint:\n$plan")
  }

  test("span audit: census and membership join read the checkpointed pair table") {
    val plan = explain("dedup_span_audit")
    // both consumers read the materialized (doc, digest, cnt) state —
    // exactly one shingle explode ever runs
    val nGen = "Generate explode".r.findAllIn(plan).length
    assert(nGen === 0 && plan.contains("Scan ExistingRDD"),
      s"pair table must come from the shared checkpoint (explodes=$nGen):\n$plan")
  }

  test("train/val/test split is map-side only (no exchange)") {
    val plan = explain("sample_split")
    assert(!plan.contains("Exchange"),
      s"split assignment must not shuffle:\n$plan")
  }

  test("GDPR purge broadcasts the forget set; facts never sort-merge") {
    val plan = explain("etl_forget")
    assert(plan.contains("BroadcastHashJoin"),
      s"forget sets must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no fact-table shuffle for key-only forget sets:\n$plan")
  }

  test("winsorize broadcasts the bounds back; one rank shuffle total") {
    val plan = explain("q_winsorize")
    assert(plan.contains("BroadcastHashJoin"),
      s"bounds table must broadcast:\n$plan")
  }

  test("chi2 drift: bucket-count tables only — the order payload never shuffles") {
    val plan = explain("q_drift_chi2")
    // both snapshot scans partial-aggregate to (bucket, count) map-side
    // before their exchange; totals come back as a 1-row broadcast
    assert(plan.contains("partial_count"),
      s"expected map-side partial counts:\n$plan")
    assert(!plan.contains("SortMergeJoin") || plan.contains("bucket"),
      s"only bucket-keyed joins allowed:\n$plan")
    assert(!plan.contains("o_totalprice], Exchange") &&
      !plan.contains("CartesianProduct"),
      s"payload must not shuffle and no cartesian:\n$plan")
  }

  test("image near-dup: pigeonhole equi-join, never a nested-loop pair product") {
    val plan = explain("multimodal_image_neardup")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"pair generation must stay an equi-join on (blk, bv):\n$plan")
  }

  test("temperature sampling: rate table broadcasts; the corpus never shuffles") {
    val plan = explain("sample_temperature")
    assert(plan.contains("BroadcastHashJoin"),
      s"rate table must broadcast back onto the corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must not sort-merge for a 20-row rate table:\n$plan")
  }

  test("trend fit: one group shuffle with map-side partial moments") {
    val plan = explain("q_trend_fit")
    assert(plan.contains("partial_"),
      s"moments must partial-aggregate map-side:\n$plan")
    // series prep (priority×month) + trend fit = the only exchanges;
    // a mean-centering implementation would need a third pass
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 2,
      s"expected <=2 key exchanges (series, fit), got $exchanges:\n$plan")
  }

  test("epoch shuffle: exactly one exchange (the epoch-shard window)") {
    val df = graft.operators.Sampling.epochShuffle(
      Tables.load(spark, sfDir, "documents"), col("doc_id"), 2, 8, "pin")
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges === 1,
      s"hash + shard + rank should need ONE shuffle, got $exchanges:\n$plan")
    assert(!plan.contains("rangepartitioning(epoch"),
      "per-shard ranks must not trigger a global sort")
  }

  test("partition overwrite: broadcast anti join, snapshot never sorts") {
    val plan = explain("etl_overwrite_partitions")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"partition list must broadcast into the anti join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the snapshot must not shuffle for the partition filter:\n$plan")
  }

  test("phrase search: postings prune to phrase terms before keyed joins") {
    val plan = explain("text_phrase_search")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"positional joins must stay equi-joins:\n$plan")
    assert(plan.contains("INSET") || plan.contains(" IN ("),
      s"the phrase-term prune must appear as a filter:\n$plan")
  }

  test("equi-depth ranks are pre-materialized two-pass, no window survives") {
    // globalRank materializes ranks behind an eager localCheckpoint
    // (range partition + per-partition offsets INSIDE it), so the
    // consuming plan must read the checkpoint and contain NO Window at
    // all — a Window here would mean someone reintroduced the global
    // sort the two-pass exists to avoid
    val plan = explain("q_equidepth_hist")
    assert(plan.contains("Scan ExistingRDD"),
      s"ranks must come from the checkpointed two-pass:\n$plan")
    assert(!plan.contains("Window"),
      s"no window may survive into the consuming plan:\n$plan")
  }

  test("rfm: three rank passes read the checkpointed census, all keyed joins") {
    val plan = explain("events_rfm")
    assert(!plan.contains("CartesianProduct"),
      s"rfm joins must stay keyed:\n$plan")
    assert(plan.contains("Scan ExistingRDD"),
      s"quintile ranks must come from the checkpointed two-pass:\n$plan")
    assert(!plan.contains("Window"),
      s"no global-ntile window may appear:\n$plan")
  }

  /** Analyzed-plan Window nodes whose partitionSpec is EMPTY — each one
    * becomes "WindowExec: No Partition Defined" at runtime, i.e. the
    * whole input moves to ONE task. Counted on the ANALYZED plan, not
    * the optimized one, deliberately: the repo's convention for a
    * window that is single-partition ON PURPOSE (bounded post-aggregate
    * frames — bucket tables, week tables, top-N vocab) is an explicit
    * `Window.partitionBy(lit(0))` marker. The optimizer constant-folds
    * that marker away, so at the analyzed level marked windows are
    * distinguishable from accidental `Window.orderBy(...)` globals —
    * which is exactly the distinction this budget polices.
    */
  private def globalWindows(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }.size

  /** Nested-loop joins whose BROADCAST side is NOT one of the three
    * shapes this library sanctions: (a) a global (groupless) aggregate —
    * the 1-row scalar-stats injection idiom; (b) a literal local table
    * of ≤ 64 rows (percentile lists, constant calendars); (c) a
    * broadcast semi/anti lookup (the small side is the lookup set by
    * construction — GDPR forget sets, decontamination benchmarks).
    * Anything else is a fact×fact nested loop: quadratic at scale.
    */
  private def unsanctionedBnlj(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.LocalTableScanExec
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.catalyst.plans.{LeftSemi, LeftAnti, ExistenceJoin}
    df.queryExecution.sparkPlan.collect {
      case b: BroadcastNestedLoopJoinExec =>
        val build = if (b.buildSide == BuildLeft) b.left else b.right
        val scalarAgg = build.collectFirst {
          case a: BaseAggregateExec if a.groupingExpressions.isEmpty => a
        }.nonEmpty
        val smallLiteral = build.collectFirst {
          case l: LocalTableScanExec if l.rows.lengthCompare(64) <= 0 => l
        }.nonEmpty
        val semiAnti = b.joinType match {
          case LeftSemi | LeftAnti | _: ExistenceJoin => true
          case _ => false
        }
        if (scalarAgg || smallLiteral || semiAnti) 0 else 1
    }.sum
  }

  test("global-window + nested-loop budget: one sweep over every driver query") {
    // Zero budget on BOTH anti-patterns. Windows: every deliberate
    // bounded-frame window carries the partitionBy(lit(0)) marker
    // (greppable + reviewable), fact-sized total orders go through
    // GlobalRank's two-pass, and an operator that accidentally writes
    // row_number().over(Window.orderBy(...)) on data-sized input fails
    // HERE instead of shipping as a runtime warning. Nested loops:
    // every BroadcastNestedLoopJoin must be a sanctioned scalar-inject /
    // literal-table / semi-anti-lookup shape ([[unsanctionedBnlj]]) —
    // a new operator that accidentally thetas two fact tables fails
    // here instead of going quadratic at scale.
    // Three BNLJs are bounded by CONSTRUCTION, not by a plan shape the
    // classifier can see: the KMV set-algebra queries pair per-GROUP
    // sketches (groups = order years, each a 64-long array — the whole
    // point of sketch algebra is that this table is tiny), and
    // t-closeness crosses in its ≤BalanceBands-row band distribution.
    // dedup_overlap_matrix crosses the per-SOURCE size table with
    // itself (src_a < src_b) — sources are a handful by definition,
    // same group-level-tiny contract as the KMV pair algebra.
    // text_nb_classify crosses tf with the per-CLASS totals table —
    // classes are bounded by definition (a label column), and scoring
    // every (doc, class) pair IS the classifier's contract.
    val bnljWhitelist = Map("q_kmv_diff" -> 1, "q_kmv_intersect" -> 1,
      "q_tcloseness" -> 1, "dedup_overlap_matrix" -> 1,
      "text_nb_classify" -> 1)
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val df = fn(spark, sfDir)
        val w = globalWindows(df)
        val b = unsanctionedBnlj(df) - bnljWhitelist.getOrElse(name, 0)
        if (w > 0 || b > 0) Some(name -> ((w, b))) else None
    }.toMap
    assert(offenders === Map.empty[String, (Int, Int)],
      s"(unmarked-global-windows, unsanctioned-nested-loops) per query: " +
        s"${offenders.toSeq.sortBy(_._1)}")
  }

  test("CpuStage.fanOut: identity on plans carrying a scalar subquery (no eager exec)") {
    // ADVICE r10: a Project/Filter over a leaf scan whose EXPRESSIONS
    // hold a scalar subquery over a join/aggregate used to pass the
    // narrow-node walk, and the `.rdd` width probe would eagerly run
    // that subquery. The gate must treat such plans as non-narrow and
    // return them untouched (no repartition appended, no job run).
    val li = Tables.load(spark, sfDir, "lineitem")
    Tables.load(spark, sfDir, "orders").createOrReplaceTempView("orders")
    val df = li.select(col("l_orderkey"),
      expr("(SELECT max(o_orderkey) FROM orders)").as("mx"))
    val out = graft.operators.CpuStage.fanOut(df)
    assert(out eq df, "plan with a subquery expression must be returned as-is")
    // and a plain narrow projection still gets the width floor applied
    // (or identity if already wide) — the normal path keeps working
    val narrow = li.select(col("l_orderkey"))
    val widened = graft.operators.CpuStage.fanOut(narrow)
    assert(widened.rdd.getNumPartitions >=
      math.min(narrow.rdd.getNumPartitions,
        spark.sessionState.conf.numShufflePartitions))
  }

  test("global-window detector catches a deliberately global fact-sized window") {
    // negative control: the detector the budget test relies on must
    // actually fire on the anti-pattern it polices
    import org.apache.spark.sql.expressions.Window
    val broken = Tables.load(spark, sfDir, "lineitem")
      .withColumn("rk", row_number().over(Window.orderBy(col("l_extendedprice"))))
    assert(globalWindows(broken) === 1)
    // and GlobalRank — the sanctioned replacement — plans zero
    val ok = graft.operators.GlobalRank.globalRank(
      Tables.load(spark, sfDir, "lineitem").select(col("l_extendedprice")),
      Seq(col("l_extendedprice").asc), "rk")
    assert(globalWindows(ok) === 0)
  }
}
