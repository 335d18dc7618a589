package graft

import org.apache.spark.sql.SparkSession

/** Worst-case scale probes that the sf-scaled testdata cannot exercise —
  * synthetic inputs sized to the property under test (the oracle gate
  * never reads these; they exist to measure, not to verify).
  *
  * `probe=bpe`: the testdata corpus has a 31-word vocabulary, so the
  * bench BPE numbers are pure overhead measurements. This probe trains
  * on an n-word md5-derived vocabulary with a Zipf-ish frequency ramp —
  * the shape of a real web-corpus word count — to show the per-round
  * cost is vocabulary-bounded and the argmax/merge machinery holds at
  * realistic vocabulary sizes.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    if (args.headOption.contains("explain")) { explainAudit(spark, args); spark.stop(); return }
    if (args.headOption.contains("jse")) { jseProbe(spark, args); spark.stop(); return }
    if (args.headOption.contains("retrieval")) { retrieval(spark, args); spark.stop(); return }
    if (args.headOption.contains("prefix")) { prefixProbe(spark, args); spark.stop(); return }
    if (args.headOption.contains("er")) { erProbe(spark); spark.stop(); return }
    if (args.headOption.contains("sliding")) { slidingProbe(spark, args); spark.stop(); return }
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val iters = args.lift(1).map(_.toInt).getOrElse(graft.Params.BpeMerges)
    // n pseudo-words, 4–12 chars of hex (truncation collisions collapse
    // in the groupBy, like a real word count), Zipf-ish frequencies
    val words = spark.range(n).selectExpr(
        "substring(md5(cast(id as string)), 1, 4 + cast(id % 9 as int)) as word",
        "cast(1 + 1000000 / (id + 1) as long) as freq")
      .groupBy("word").agg(org.apache.spark.sql.functions.sum("freq").as("freq"))
    val t0 = System.nanoTime()
    val (merges, state) = operators.TextOps.bpeTrainWords(words, iters)
    val m = merges.collect()
    val vocab = state.selectExpr("sum(size(syms))").collect()(0).getLong(0)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"""{"probe":"bpe","n_words":$n,"iters":$iters,"merges":${m.length},"sym_rows":$vocab,"secs":$secs%.2f}""")
    spark.stop()
  }

  /** `probe=explain <sfDir> <key...>`: compile the named registry
    * queries and flag any physical plan containing a CartesianProduct
    * or BroadcastNestedLoopJoin — the two shapes that mean an equi-join
    * degenerated. Eyeball SUSPECT lines before trusting them: 1-row
    * broadcast scalars (corpus totals crossJoined back) legitimately
    * plan as BNLJ and are fine; a fact-×-fact product is not.
    */
  private def explainAudit(spark: SparkSession, args: Array[String]): Unit = {
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val keys = if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    var suspect = 0
    keys.foreach { k =>
      val plan = SparkEntry.queries(k)(spark, dir)
        .queryExecution.executedPlan.toString
      val bad = Seq("CartesianProduct", "BroadcastNestedLoopJoin").filter(plan.contains)
      if (bad.nonEmpty) { suspect += 1; println(s"SUSPECT $k: ${bad.mkString(",")}") }
    }
    println(s"""{"probe":"explain","n_queries":${keys.size},"suspect":$suspect}""")
  }

  /** `probe=jse <sfDir>`: sampled join-size estimate vs the exact audit
    * on the lineitem l_partkey self-join — accuracy (est/exact ppm
    * error) and wall time for both, the measured basis for "the probe
    * you can afford".
    */
  private def jseProbe(spark: SparkSession, args: Array[String]): Unit = {
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val li = Tables.load(spark, dir, "lineitem")
    val t0 = System.nanoTime()
    val exact = operators.Audit.joinSizeAudit(li, "l_partkey", li, "l_partkey", 1)
      .where(org.apache.spark.sql.functions.col("join_key").isNull)
      .collect()(0).getAs[Long]("out_rows")
    val tExact = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val est = operators.Audit.joinSizeEst(li, "l_partkey", li, "l_partkey",
      Params.JseRatePpm, Params.JseSalt).collect()(0).getAs[Long]("est_rows")
    val tEst = (System.nanoTime() - t1) / 1e9
    val errPpm = math.abs(est - exact) * 1000000L / exact
    println(f"""{"probe":"jse","exact_rows":$exact,"est_rows":$est,"err_ppm":$errPpm,"exact_secs":$tExact%.2f,"est_secs":$tEst%.2f}""")
  }

  /** `probe=prefix [vocabWords]`: the dedup_prefix_filter bench cost has
    * twice been argued (r4, r5 plan audits) to be DENSITY-bound — the
    * testdata's 931-shingle vocabulary keeps prefix postings ~140 docs
    * long, so the candidate join explodes; a realistic Zipf vocabulary
    * should collapse it. This probe DEMONSTRATES that: same doc count
    * and doc length, one corpus with the testdata's dense vocabulary and
    * one with a `vocabWords`-word Zipf(1) vocabulary (rank = V^u, u an
    * md5 uniform — the web-corpus rank-frequency shape), then for each:
    * the exact candidate-row census Σ_h C(prefix_df(h), 2) (the size of
    * the candidate join before any positional filtering) and the
    * end-to-end runtime/pairs of the real operator.
    */
  private def prefixProbe(spark: SparkSession, args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.GlobalRank
    val vocabN = args.lift(1).map(_.toInt).getOrElse(50000)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val uniform = Tables.load(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val nDocs = uniform.count()
    val docLen = 40
    val zipf = spark.range(nDocs).select(col("id").as("doc_id"),
      expr(s"""array_join(transform(sequence(1, $docLen), j ->
        concat('w', cast(pow($vocabN, cast(conv(substring(md5(concat(cast(id as string), ':', cast(j as string))), 1, 8), 16, 10) as double) / 4294967296.0) as long))), ' ')""")
        .as("text"))
    val (num, den) = (Params.JaccardMinNum, Params.JaccardMinDen)
    for ((name, d) <- Seq(("uniform", uniform), ("zipf", zipf))) {
      // candidate census replicates the operator's prefix construction:
      // distinct shingles → global rarity rank → per-doc sorted set →
      // prefix slice; candidates before positional filtering = Σ C(p,2)
      val toks = d.select(col("doc_id"),
        explode(array_distinct(functions.TextFunctions.shingles(col("text"), 2))).as("tok"))
      val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val vocabSize = dfreq.count()
      val vocab = GlobalRank.globalRank(dfreq, Seq(col("df").asc, col("tok").asc))
        .select(col("tok"), col("grank").as("r"))
      val prefix = toks.join(vocab, "tok")
        .groupBy(col("doc_id")).agg(array_sort(collect_list(col("r"))).as("rs"))
        .select(col("doc_id"), col("rs"), size(col("rs")).cast("long").as("sz"))
        .select(explode(slice(col("rs"), lit(1),
          (col("sz") - expr(s"(sz * $num + ${den - 1}) div $den") + lit(1)).cast("int")))
          .as("h"))
      val candRows = prefix.groupBy(col("h")).agg(count(lit(1)).as("p"))
        .agg(coalesce(sum(expr("p * (p - 1) div 2")), lit(0L))).collect()(0).getLong(0)
      val t0 = System.nanoTime()
      val pairs = operators.Dedup.prefixFilterJaccard(d, "doc_id", "text", num, den).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"""{"probe":"prefix","corpus":"$name","n_docs":$nDocs,"vocab_shingles":$vocabSize,"cand_rows":$candRows,"pairs":$pairs,"secs":$secs%.2f}""")
    }
  }

  /** `probe=er`: measure WHY entity resolution collapses exact
    * duplicates before fuzzy matching. On the er_resolve registry
    * (part names + truncated twins) at the env SF dir, count the
    * blocked candidate pairs and the levenshtein edges at RECORD level
    * (what a naive blocked matcher joins) vs NAME level (what
    * [[operators.Linkage.resolveEntities]] joins after the collapse).
    * Power-law name multiplicity means record-level edge counts grow as
    * Σ C(m_i, 2) cliques — quadratic in per-name multiplicity — while
    * the name level is bounded by distinct names alone.
    */
  private def erProbe(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val part = Tables.load(spark, sfDir, "part")
    val recs = part.select((col("p_partkey") * 2).as("rid"), col("p_name").as("name"))
      .unionByName(part.where(col("p_partkey") % Params.ErTwinMod === 0)
        .select((col("p_partkey") * 2 + 1).as("rid"),
          expr("substring(p_name, 1, length(p_name) - 1)").as("name")))
      .localCheckpoint(true)
    val names = recs.groupBy(col("name")).agg(min(col("rid")).as("rid"))
      .select(col("rid"), col("name")).localCheckpoint(true)
    def counts(d: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val b = d.select(col("rid"), col("name"),
        substring_index(col("name"), " ", 1).as("bk"))
      val cand = b.as("a").join(b.as("b"),
        col("a.bk") === col("b.bk") && col("a.rid") < col("b.rid") &&
          abs(length(col("a.name")) - length(col("b.name"))) <= Params.ErMaxDist)
      (cand.count(),
        cand.where(levenshtein(col("a.name"), col("b.name")) <= Params.ErMaxDist).count())
    }
    val (rc, re) = counts(recs)
    val (nc, ne) = counts(names)
    val t0 = System.nanoTime()
    val ents = operators.Linkage.resolveEntities(recs, "rid", "name",
      Params.ErMaxDist).count()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"""{"probe":"er","n_records":${recs.count()},"n_names":${names.count()},"record_cand":$rc,"record_edges":$re,"name_cand":$nc,"name_edges":$ne,"entities":$ents,"resolve_secs":$secs%.2f}""")
  }

  /** `probe=sliding [windowDays...]`: the exact rolling-distinct's
    * shuffle volume grows ×window (every event replicated into each
    * window it belongs to, then per-window distinct state), while the
    * KMV form's post-sketch volume is k longs per DAY regardless of
    * window width. The sf events (100k rows / 30 days) can't show the
    * runtime divergence, so the probe synthesizes a year of events —
    * 2M rows, 365 days, ~200k users, md5-placed so day×user incidence
    * is realistic — and measures both forms at growing windows:
    * exploded-row count + runtime (exact) vs sketch-row count +
    * runtime (KMV), plus the max estimate error — the evidence for
    * when to switch forms.
    */
  private def slidingProbe(spark: SparkSession, args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val windows = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(7, 30, 90)
    val nEvents = 2000000L
    val ev = spark.range(nEvents).select(
        expr("cast(conv(substring(md5(concat('d:', cast(id as string))), 1, 8), 16, 10) as long) % 365")
          .as("day"),
        expr("cast(conv(substring(md5(concat('u:', cast(id as string))), 1, 8), 16, 10) as long) % 200000")
          .as("user_id"))
      .localCheckpoint(true)
    val day = col("day")
    // untimed warmup (also materializes the checkpoint)
    operators.EventOps.slidingDistinct(ev, day, col("user_id"), 2).count()
    operators.Sketches.kmvSlidingDistinct(ev, day, col("user_id"), 2,
      Params.KmvK, Params.KmvSalt).count()
    for (w <- windows) {
      val t0 = System.nanoTime()
      val exact = operators.EventOps.slidingDistinct(ev, day, col("user_id"), w)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exactSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val est = operators.Sketches.kmvSlidingDistinct(ev, day, col("user_id"), w,
          Params.KmvK, Params.KmvSalt)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val kmvSec = (System.nanoTime() - t1) / 1e9
      def maxErr(e: Map[Long, Long]): Long = exact.keys.map { p =>
        math.abs(e(p) - exact(p)) * 1000000L / math.max(exact(p), 1L)
      }.max
      // error at a production-sized k too: state is still only
      // n_days×k longs, and the 1/√k error shrinks 4×
      val est1k = operators.Sketches.kmvSlidingDistinct(ev, day,
          col("user_id"), w, 1024, Params.KmvSalt)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val days = exact.size
      println(f"""{"probe":"sliding","window":$w,"n_events":$nEvents,"n_days":$days,"exact_exploded_rows":${nEvents * w},"kmv_sketch_rows":$days,"exact_secs":$exactSec%.2f,"kmv_secs":$kmvSec%.2f,"max_err_ppm_k64":${maxErr(est)},"max_err_ppm_k1024":${maxErr(est1k)}}""")
    }
  }

  /** `probe=retrieval [r]`: replicate the sf0.01 documents r× (worst-case
    * duplicate skew: EVERY span becomes cross-doc duplicated, every doc
    * gains r−1 exact near-dups) and measure the span audit and BM25.
    * For query-by-document retrieval both sides grow with the corpus, so
    * the honest scaling statement is PER-QUERY cost ∝ corpus size; the
    * span audit total should stay ≈ linear in r.
    */
  private def retrieval(spark: SparkSession, args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val r = args.lift(1).map(_.toInt).getOrElse(8)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val docs = Tables.load(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    def rep(k: Int) = (0 until k).map(i => docs.select(
        (col("doc_id") + lit(i.toLong * 1000000L)).as("doc_id"), col("text")))
      .reduce(_ unionByName _)
    def time(f: => org.apache.spark.sql.DataFrame): (Double, Long) = {
      val t0 = System.nanoTime(); val n = f.count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    // untimed warmup: first-touch scan/codegen/JVM costs would otherwise
    // land entirely on the rep=1 measurement
    operators.Dedup.dupSpans(docs, "doc_id", "text", Params.DupSpanN).count()
    operators.TextOps.bm25TopK(docs, "doc_id", "text",
      Params.Bm25QueryMod, Params.Bm25K).count()
    for (k <- Seq(1, r)) {
      val d = rep(k)
      val (sSec, sRows) = time(operators.Dedup.dupSpans(d, "doc_id", "text", Params.DupSpanN))
      val (bSec, bRows) = time(operators.TextOps.bm25TopK(d, "doc_id", "text",
        Params.Bm25QueryMod, Params.Bm25K))
      val nq = bRows / Params.Bm25K
      println(f"""{"probe":"retrieval","rep":$k,"span_secs":$sSec%.2f,"span_rows":$sRows,"bm25_secs":$bSec%.2f,"bm25_queries":$nq,"bm25_secs_per_query":${bSec / math.max(nq, 1)}%.4f}""")
    }
  }
}
