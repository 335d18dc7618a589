package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}

/** Corpus-level text operators (beyond the per-row Column functions in
  * [[graft.functions.TextFunctions]]): vocabulary building, TF-IDF
  * weighting, context-window chunking — the relative-frequency and
  * windowing stages an LLM data pipeline runs over the whole corpus.
  */
object TextOps {

  /** Corpus vocabulary: top-N terms by frequency with a dense rank.
    * One partial-agg shuffle on the term; the global top-N is a
    * TakeOrdered (no full sort), and the rank window runs on N rows.
    */
  def vocabulary(docs: DataFrame, textCol: String, topN: Int): DataFrame = {
    val counts = docs
      .select(explode(T.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc)
      .limit(topN)
    // rank over the already-bounded top-N (constant partition: N rows)
    counts.withColumn("rank",
      row_number().over(Window.partitionBy(lit(0))
        .orderBy(col("n").desc, col("term").asc)).cast("long"))
  }

  /** Per-document top-K terms by TF-IDF (tf · ln(N/df)). tf and df are
    * exact integers; the only float is the final score, rounded to 4dp
    * BEFORE ranking so rank order is identical across engines. Two
    * shuffles: (doc, term) tf aggregate and term df aggregate; N arrives
    * as a broadcast 1-row aggregate, never a driver round-trip.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val tf = CpuStage.fanOut(docs)
      .select(col(idCol), explode(T.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .select(col(idCol), col("term"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df").cast("double")), 4)
          .as("tfidf"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w).cast("long")).where(col("rk") <= k)
  }

  /** Per-document out-of-vocabulary rate against the corpus top-N
    * vocabulary — the standard tokenizer-coverage / data-quality metric
    * before training. The tiny vocab broadcasts (top-N is bounded by
    * construction), so the only shuffle is the per-doc aggregate; docs
    * with zero tokens have no OOV rate and drop out, like the tokenizer
    * would drop them.
    */
  def oovRate(docs: DataFrame, idCol: String, textCol: String, topN: Int): DataFrame = {
    val vocab = vocabulary(docs, textCol, topN).select(col("term"), lit(1).as("__in"))
    docs.select(col(idCol), explode(T.tokens(col(textCol))).as("term"))
      .join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("__in").isNull, lit(1))).as("n_oov"))
      .select(col(idCol), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 4).as("oov_rate"))
  }

  /** C4-style GLOBAL line-level dedup: split each document into
    * fixed-size token "lines" (the line analog for the un-newlined
    * corpus; real text would split on '\n'), keep only each line's
    * FIRST occurrence corpus-wide — first = smallest (doc, position),
    * the deterministic tie-break — and stitch surviving lines back into
    * the document. Documents whose every line is a duplicate drop out,
    * like C4's empty-doc filter.
    *
    * Two shuffles, both on compact keys: the first-occurrence window
    * partitions on md5(line) (16-byte digest, never the line text), and
    * the reassembly groups on the doc id. Reassembly order is made
    * deterministic by sorting (line_idx, line) structs inside the
    * aggregate, not by relying on collect order.
    */
  /** Pseudo-lines of `lineTokens` whitespace tokens (ceil division; empty
    * array for empty/NULL text) — the ONE construction `dedupLines`, the
    * repetition signals, and the oracle line CTEs must all agree on.
    */
  private def pseudoLines(textCol: String, lineTokens: Int): org.apache.spark.sql.Column = {
    require(lineTokens > 0)
    val ts = T.tokens(col(textCol))
    val n = size(ts)
    val nLines = when(n === 0, lit(0)).otherwise(((n - 1) / lit(lineTokens)).cast("int") + 1)
    coalesce(
      when(n === 0, array().cast("array<string>")).otherwise(
        transform(sequence(lit(0), nLines - 1),
          i => array_join(slice(ts, i * lineTokens + 1, lit(lineTokens)), " "))),
      array().cast("array<string>"))
  }

  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
                 lineTokens: Int): DataFrame = {
    val lineArr = pseudoLines(textCol, lineTokens)
    val lines = docs.select(col(idCol), posexplode(lineArr).as(Seq("line_idx", "line")))
    val w = Window.partitionBy(unhex(md5(col("line"))))
      .orderBy(col(idCol).asc, col("line_idx").asc)
    val kept = lines.withColumn("__occ", row_number().over(w))
      .filter(col("__occ") === 1)
    kept.groupBy(col(idCol))
      .agg(collect_list(struct(col("line_idx"), col("line"))).as("__ls"),
        count(lit(1)).as("n_lines_kept"))
      .select(col(idCol),
        array_join(transform(array_sort(col("__ls")), s => s.getField("line")), " ")
          .as("clean_text"),
        col("n_lines_kept"))
  }

  /** Gopher-style within-document repetition signals — the quality
    * filters that catch boilerplate/spam documents BEFORE training:
    * `dup_line_ppm` (fraction of pseudo-lines that repeat inside the
    * doc) and `top_bigram_ppm` (share of the most frequent bigram among
    * all bigram occurrences). Both integer ppm.
    *
    * The line signal is pure per-row array work (build lines, compare
    * sizes — no shuffle). The bigram signal needs the per-(doc, gram)
    * multiplicity, which no HOF computes without a quadratic per-row
    * scan, so it pays the standard keyed explode→count→max aggregate —
    * two narrow shuffles on (doc, gram) then (doc), partial-agg friendly.
    */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String,
                        lineTokens: Int): DataFrame = {
    val lineArr = pseudoLines(textCol, lineTokens)
    val lineStats = docs.select(col(idCol),
      size(lineArr).cast("long").as("n_lines"),
      size(array_distinct(lineArr)).cast("long").as("n_uniq"))
    val bg = docs.select(col(idCol), explode(T.shingles(col(textCol), 2)).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(max(col("c")).as("top_bg"), sum(col("c")).as("n_bg"))
    lineStats.join(bg, Seq(idCol), "left")
      .select(col(idCol),
        // both guards null-safe: a NULL text must score (0, 0) like the
        // oracle's coalesce(...)=0 branches, not propagate NULL ppm
        when(coalesce(col("n_lines"), lit(0L)) === 0, lit(0L))
          .otherwise(expr("((n_lines - n_uniq) * 1000000L) div n_lines"))
          .as("dup_line_ppm"),
        when(coalesce(col("n_bg"), lit(0L)) === 0, lit(0L))
          .otherwise(expr("(top_bg * 1000000L) div n_bg"))
          .as("top_bigram_ppm"))
  }

  /** Context-window chunking: overlapping token windows of `size` tokens
    * every `stride` tokens — the standard shaping step before tokenizer/
    * embedding stages. Pure per-row array work (no shuffle); chunk rows
    * stay colocated with their document partition.
    */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
            size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size)
    val ts = T.tokens(col(textCol))
    val n = org.apache.spark.sql.functions.size(ts)
    // chunks start at 0, stride, 2·stride, … while start < n; empty docs
    // yield no chunks (sequence(0,-1) would count DOWN, hence the guard)
    val nChunks = when(n === 0, lit(0)).otherwise(((n - 1) / lit(stride)).cast("int") + 1)
    val chunks = when(n === 0, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), nChunks - 1),
        i => array_join(slice(ts, i * stride + 1, lit(size)), " ")))
    docs.select(col(idCol), posexplode(chunks).as(Seq("chunk_idx", "chunk_text")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk_text"),
        T.tokenCount(col("chunk_text")).as("n_tokens"))
  }

  /** Pointwise mutual information for the corpus's top-N adjacent token
    * pairs — the collocation/phrase-detection statistic (à la word2vec's
    * phrase pass): pmi = ln(n_ab · N_tok² / (N_bg · c_a · c_b)), counts
    * exact integers, the single float is the final ln, rounded to 4dp.
    * Two partial-agg shuffles (unigrams, bigrams); the top-N selection
    * is a TakeOrdered on (count desc, gram) BEFORE scoring, so only N
    * rows ever join the (broadcast, vocabulary-sized) unigram table and
    * the two 1-row totals.
    */
  def pmiBigrams(docs: DataFrame, textCol: String, topN: Int): DataFrame = {
    require(topN > 0)
    val uni = docs.select(explode(T.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nTok = uni.agg(sum(col("c")).as("n_tok"))
    val bgAll = docs.select(explode(T.shingles(col(textCol), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("n_ab"))
    val nBg = bgAll.agg(sum(col("n_ab")).as("n_bg"))
    val top = bgAll.orderBy(col("n_ab").desc, col("g").asc).limit(topN)
      .select(substring_index(col("g"), " ", 1).as("w1"),
        substring_index(col("g"), " ", -1).as("w2"), col("n_ab"))
    top
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))), "w2")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBg))
      .select(col("w1"), col("w2"), col("n_ab"),
        // each factor cast to double BEFORE multiplying: n_tok² would
        // overflow int64 at corpus scale; fixed left-to-right order
        // keeps the IEEE result engine-identical
        round(log(
          (col("n_ab").cast("double") * col("n_tok").cast("double")
            * col("n_tok").cast("double")) /
            (col("n_bg").cast("double") * col("c1").cast("double")
              * col("c2").cast("double"))), 4).as("pmi"))
  }

  /** Distributed BPE-merge training (the Sennrich et al. 2016 tokenizer
    * algorithm): start from characters plus an end-of-word marker over
    * the corpus WORD-FREQUENCY table, then `iters` times (a) count
    * adjacent symbol pairs weighted by word frequency, (b) take the
    * globally most frequent pair (count desc, then lexicographic — fully
    * deterministic), (c) merge its non-overlapping occurrences
    * left-to-right in every word. Returns the merge table
    * `(step, merge_left, merge_right, pair_count)` — the trained
    * tokenizer artifact — and the final per-word symbol state
    * `(word, freq, syms)` (whose frequency-weighted symbol histogram is
    * the trained vocabulary).
    *
    * Scale design: the looped state is the vocabulary as (word, freq,
    * symbol ARRAY) rows — O(distinct words), millions of rows at 100 TB,
    * never the corpus (touched exactly once, for the word count). Per
    * round only TWO distributed steps touch the state: a pair-keyed
    * partial aggregate over the zip_with-formed adjacent pairs (the one
    * shuffle), and a TakeOrdered(1) for the best pair, broadcast back
    * into the plan (never a driver round-trip). The greedy left-to-right
    * merge is a pure MAP-SIDE aggregate() fold per word — sequential
    * within a row is exactly what greedy-left-to-right means, and a
    * just-merged symbol can never re-match as merge_left (concat strictly
    * lengthens), so the fold equals the positional run-parity rule the
    * oracle replays. State is lazily localCheckpoint-ed per round so
    * lineage stays O(1). (The first formulation kept the state EXPLODED
    * to one row per symbol and did the merge with three window passes —
    * ~6 stages/round of pure overhead; see §5.5.)
    */
  def bpeTrain(docs: DataFrame, textCol: String, iters: Int): (DataFrame, DataFrame) = {
    val words = docs.select(explode(T.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    bpeTrainWords(words, iters)
  }

  /** [[bpeTrain]] from a pre-computed `(word, freq)` table — the entry
    * point when the corpus word count already exists (it usually does in
    * a real pipeline), and the one the scale probe drives with a
    * realistic-size synthetic vocabulary.
    */
  def bpeTrainWords(words: DataFrame, iters: Int): (DataFrame, DataFrame) = {
    require(iters >= 1, "need at least one merge round")
    // chars + '</w>': split("") keeps zero-width edge matches as empty
    // strings in some regex corners — filter defensively, like tokens()
    var state = words
      .select(col("word"), col("freq"),
        concat(filter(split(col("word"), ""), c => c =!= lit("")),
          array(lit("</w>"))).as("syms"))
      .localCheckpoint(false)
    val bests = (1 to iters).map { step =>
      val n1 = greatest(size(col("syms")) - 1, lit(0))
      val best = state
        .select(col("freq"), explode(zip_with(
          slice(col("syms"), lit(1), n1), slice(col("syms"), lit(2), n1),
          (x, y) => struct(x.as("l"), y.as("r")))).as("pr"))
        .groupBy(col("pr.l").as("merge_left"), col("pr.r").as("merge_right"))
        .agg(sum(col("freq")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("merge_left").asc, col("merge_right").asc)
        .limit(1)
        .localCheckpoint(false) // two consumers: merge fold + output row
      // left join on true (not crossJoin): an EMPTY best — a fully
      // merged vocabulary — must leave the state intact, not empty it;
      // null merge columns make the fold condition null → no-op append
      state = state.join(broadcast(best), lit(true), "left")
        .select(col("word"), col("freq"),
          aggregate(col("syms"), array().cast("array<string>"),
            (acc, s) => when(
              size(acc) > 0 &&
                try_element_at(acc, lit(-1)) === col("merge_left") &&
                s === col("merge_right"),
              concat(slice(acc, lit(1), size(acc) - 1),
                array(concat(col("merge_left"), s))))
              .otherwise(concat(acc, array(s)))).as("syms"))
        .localCheckpoint(false)
      best.select(lit(step.toLong).as("step"), col("merge_left"), col("merge_right"),
        col("pair_count"))
    }
    (bests.reduce(_.unionByName(_)), state)
  }

  /** Apply a trained BPE segmentation to the corpus: per document, the
    * encoded sequence length (BPE token count) and the whitespace token
    * count it compressed from. The per-word symbol counts come from
    * [[bpeTrain]]'s final state — vocabulary-sized, so they BROADCAST
    * back onto the corpus explode; the corpus shuffles once, for the
    * per-doc aggregate. This is the "tokenize the corpus" cost model
    * every pretraining budget estimate runs.
    */
  def bpeEncodedLength(docs: DataFrame, idCol: String, textCol: String,
                       finalState: DataFrame): DataFrame = {
    val perWord = finalState
      .select(col("word"), size(col("syms")).cast("long").as("__n_syms"))
    docs.select(col(idCol), explode(T.tokens(col(textCol))).as("word"))
      .join(broadcast(perWord), Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("__n_syms")).as("n_bpe"))
  }

  /** Winnowing fingerprints (the MOSS algorithm): hash every k-token
    * gram, slide a window of `w` consecutive gram hashes, and keep each
    * window's minimum (rightmost on hash ties — the paper's rule). The
    * guarantee: any shared run of ≥ w+k−1 tokens between two documents
    * shares at least one selected fingerprint, at ~2/(w+1) the density
    * of the full gram set — the local substring-match detector that
    * position-free minhash can't express (minhash answers "how similar
    * are the SETS"; winnowing answers "do these documents share a
    * literal run, and where").
    *
    * The hash and the tie-break are packed into ONE int64
    * (`h·2²⁰ + (2²⁰−1−pos)`) so the whole selection is a single
    * `min` over a ROWS window — exact integer arithmetic any engine
    * replays bit-for-bit. Documents shorter than w grams contribute
    * their overall minimum (one fingerprint), not nothing. Positions
    * must stay below 2²⁰ grams per document — chunk longer documents
    * first ([[chunk]]).
    *
    * One shuffle (doc-keyed window); output (id, h, pos) distinct.
    */
  def winnow(docs: DataFrame, idCol: String, textCol: String, k: Int, w: Int,
             salt: String): DataFrame = {
    require(k > 0 && w > 0, "gram size and window must be positive")
    import graft.functions.{HashFunctions => H}
    val base = CpuStage.fanOut(docs).select(col(idCol), T.tokens(col(textCol)).as("__ts"))
    // sequence(a,b) counts DOWN when b<a — guard the short-doc case to
    // an empty gram list explicitly
    val grams = when(size(col("__ts")) < k, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(col("__ts")) - lit(k)),
        i => concat_ws(" ", slice(col("__ts"), i + 1, lit(k)))))
    val packed = base
      .select(col(idCol), posexplode(grams).as(Seq("pos", "g")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        (H.hash32(col("g"), salt) * lit(1048576L)
          + (lit(1048575L) - col("pos"))).as("pk"))
    val byDoc = Window.partitionBy(col(idCol))
    val sel = packed
      .withColumn("__cnt", count(lit(1)).over(byDoc))
      .withColumn("__wmin", min(col("pk")).over(
        byDoc.orderBy(col("pos")).rowsBetween(-(w - 1), 0)))
      .where(col("pos") >= least(lit(w.toLong), col("__cnt")) - 1)
    sel.select(col(idCol), expr("__wmin div 1048576").as("h"),
        (lit(1048575L) - pmod(col("__wmin"), lit(1048576L))).as("pos"))
      .distinct()
  }

  /** Feature hashing (the hashing trick): project each document's token
    * counts onto a FIXED F-bucket space via a salted hash — the
    * vocabulary-free featurization that needs no fitted dictionary, no
    * second pass, and no vocabulary-sized state; collisions are the
    * accepted tradeoff (Weinberger et al. 2009). Output is the sparse
    * form `(doc_id, bucket, n)` — one explode + one keyed aggregate;
    * the dense F-vector is a groupBy-collect away when a trainer wants
    * it. Deterministic md5 bucketing, so feature ids are stable across
    * runs, engines, and corpus growth — the same stability argument as
    * [[graft.operators.Sampling.split]].
    */
  def featureHash(docs: DataFrame, idCol: String, textCol: String,
                  buckets: Int, salt: String): DataFrame = {
    require(buckets >= 2)
    docs.select(col(idCol).as("doc_id"), explode(T.tokens(col(textCol))).as("t"))
      .groupBy(col("doc_id"),
        pmod(graft.functions.HashFunctions.hash32(col("t"), salt),
          lit(buckets.toLong)).as("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-doc bigram predictability under the corpus bigram model: the
    * mean of P(w₂|w₁) = c(w₁w₂)/c(w₁·) over the doc's adjacent pairs,
    * in exact ppm — a language-model-shaped fluency signal with NO
    * floating point: templated/repetitive docs score high, shuffled or
    * OOV-heavy text scores low. (The log-perplexity variant needs ln,
    * which is not bit-portable across engines; the mean-probability form
    * ranks the same direction and stays exact.)
    *
    * `c(w₁·)` counts bigram STARTS (not raw unigrams), so probabilities
    * are a true conditional distribution that sums to 1 per context.
    * Two corpus aggregates (bigram + context counts, each one keyed
    * shuffle) join the doc's pairs on the bigram key; per-pair ppm is
    * one int64 division, per-doc mean another.
    */
  def bigramPredictability(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pairs = docs.select(col(idCol).as("doc_id"),
      explode(T.shingles(col(textCol), 2)).as("g"))
    val bg = pairs.groupBy(col("g")).agg(count(lit(1)).as("c_ab"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
    val ctx = bg.groupBy(col("w1")).agg(sum(col("c_ab")).as("c_a"))
    val scored = pairs
      .join(bg.join(ctx, "w1").select(col("g"), col("c_ab"), col("c_a")), "g")
      .select(col("doc_id"), expr("(c_ab * 1000000L) div c_a").as("p_ppm"))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(p_ppm) div count(1)").as("pred_ppm"))
  }

  /** Work advisory for a champion-list retrieval run (the r14
    * [[graft.operators.Spatial.spatialAdvisory]] pattern on the text
    * side): the champion path's candidate-generation work is bounded by
    * `n_queries × mean-terms-per-query × M` and its exact rescore by
    * that × mean doc length — a closed-form forecast available from two
    * tiny aggregates BEFORE any posting list is built. Measured
    * motivation: the Jaccard champion's derived M grows ∝N
    * ([[graft.Params.jaccardChampM]]), so at sf100 the certified-recall
    * run costs ~20 min on one node — a 100 TB caller must get that
    * number from a forecast, not from the wall. RAISES when the rescore
    * bound exceeds `maxRescoreRows` unless overridden (declared
    * baselines / gates override; production callers inherit the
    * refusal with the MinHash-LSH recommendation — the asymptotic
    * near-dup path when champion work stops being bounded).
    */
  def championAdvisory(docs: DataFrame, idCol: String, textCol: String,
                       queryMod: Int, champM: Int, queryBudget: Int,
                       maxRescoreRows: Long, queryTag: String,
                       overrideWork: Boolean = false,
                       shingleN: Int = 2): Unit = {
    require(queryMod > 1 && champM > 0 && maxRescoreRows >= 1)
    // shingleN = 1 → forecast over distinct TERMS (the BM25 candidate
    // unit; TextFunctions.shingles starts at n = 2)
    val feat = if (shingleN <= 1) T.tokens(col(textCol))
      else T.shingles(col(textCol), shingleN)
    val row = docs
      .select(col(idCol).as("id"),
        size(array_distinct(feat)).as("n_sh"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_sh")).as("sum_sh"),
        sum(when(col("id") % queryMod === 0, col("n_sh"))).as("q_sh"),
        count(when(col("id") % queryMod === 0, lit(1))).as("q_n"))
      .collect()(0)
    val nDocs = row.getLong(0)
    val meanSh = if (nDocs == 0) 0L else row.getLong(1) / math.max(1L, nDocs)
    val qPop = row.getLong(3)
    val nQueries = if (queryBudget > 0) math.min(queryBudget.toLong, qPop) else qPop
    val meanQSh =
      if (qPop == 0) 0L
      else (if (row.isNullAt(2)) 0L else row.getLong(2)) / math.max(1L, qPop)
    val candBound = nQueries * meanQSh * champM
    val rescoreBound = candBound * math.max(1L, meanSh)
    System.err.println(s"[graft][champion-advisory] $queryTag M=$champM " +
      s"queries=$nQueries mean_q_shingles=$meanQSh mean_doc_shingles=$meanSh " +
      s"cand_bound=$candBound rescore_bound=$rescoreBound " +
      s"budget=$maxRescoreRows -> " +
      (if (rescoreBound <= maxRescoreRows) "within work budget"
       else "OVER work budget"))
    if (rescoreBound > maxRescoreRows && !overrideWork)
      throw new IllegalStateException(
        s"[graft][champion-advisory] $queryTag REFUSED: champion rescore " +
          s"bound $rescoreBound rows (= $nQueries queries × $meanQSh " +
          s"shingles × M=$champM × ~$meanSh-shingle rescores) exceeds the " +
          s"$maxRescoreRows budget. Lower the query budget, accept a " +
          "smaller M with a measured recall floor (RecallSweep), use " +
          "MinHash-LSH for HIGH-band near-dup retrieval at this scale " +
          "(jaccardLshTopK — bucketed per-query top-k, certified at " +
          "its τ), use the EXACT prefix-filter retrieval at the design " +
          "τ (jaccardPrefixTopK — 100% recall by construction, " +
          "df-bounded work), or pass overrideWork=true to run anyway.")
  }

  /** Work advisory for the EXACT query×corpus half of a recall audit
    * (VERDICT r14 #3): the exact path streams one candidate row per
    * (query feature, posting) — exactly `Σ_{q} Σ_{feature∈q} df(feature)`
    * rows before the per-pair aggregate — so the spill forecast is a
    * closed form over the document-frequency table and the (budgeted)
    * query features, available BEFORE any wide join runs. Measured
    * motivation: the r14 sf100 budget-100 Jaccard sweep spilled past
    * this class of box's disk headroom TWICE (>55 GB ≈ 1.4e9 candidate
    * rows × ~40 B) before a human reduced the budget — the repo's own
    * advisory pattern ([[championAdvisory]], `probeAdvisory`,
    * `spatialAdvisory`) says that discovery belongs in a forecast, not
    * on the disk. RAISES when the bound exceeds `maxCandRows` with the
    * REDUCED-BUDGET recommendation (bound scales linearly in the query
    * budget, so `budget × max/bound` is the right knob), unless the
    * caller overrides as a declared ground-truth run.
    *
    * `ranker = "bm25"` forecasts over distinct TERMS (the postings the
    * exact BM25 join streams); anything else over distinct `shingleN`-
    * gram shingles (the Jaccard intersection stream).
    */
  def exactAuditAdvisory(docs: DataFrame, idCol: String, textCol: String,
                         queryMod: Int, queryBudget: Int,
                         maxCandRows: Long, queryTag: String,
                         overrideWork: Boolean = false,
                         ranker: String = "jaccard",
                         shingleN: Int = 2): Unit = {
    require(queryMod > 1 && maxCandRows >= 1)
    val feats = (if (ranker == "bm25")
        docs.select(col(idCol).as("doc_id"),
          explode(T.tokens(col(textCol))).as("g")).distinct()
      else
        docs.select(col(idCol).as("doc_id"),
          explode(array_distinct(T.shingles(col(textCol), shingleN))).as("g")))
      .localCheckpoint(false) // two consumers: df table + query side
    val dfr = feats.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val qf0 = feats.where(col("doc_id") % queryMod === 0)
    val qf = if (queryBudget <= 0) qf0
      else qf0.join(broadcast(Sampling.hashOrderIds(
        docs.where(col(idCol) % queryMod === 0), idCol, queryBudget,
        "doc_id")), "doc_id")
    val row = qf.join(dfr, "g")
      .agg(count(lit(1)).as("q_feats"), sum(col("df")).as("cand_bound"))
      .collect()(0)
    val qFeats = row.getLong(0)
    val bound = if (row.isNullAt(1)) 0L else row.getLong(1)
    val recBudget =
      if (bound <= maxCandRows || queryBudget <= 0) queryBudget.toLong
      else math.max(1L, queryBudget * maxCandRows / bound)
    System.err.println(s"[graft][exact-audit-advisory] $queryTag " +
      s"ranker=$ranker budget=$queryBudget query_features=$qFeats " +
      s"cand_bound=$bound max=$maxCandRows -> " +
      (if (bound <= maxCandRows) "within work budget"
       else s"OVER work budget; reduce the audit budget to ~$recBudget"))
    if (bound > maxCandRows && !overrideWork)
      throw new IllegalStateException(
        s"[graft][exact-audit-advisory] $queryTag REFUSED: the exact " +
          s"query×corpus half would stream ~$bound candidate rows (Σ df " +
          s"over the ${if (queryBudget > 0) s"$queryBudget-query budget's"
            else "full query set's"} features), over the $maxCandRows " +
          "budget — at ~40 bytes/row that is the shuffle-spill forecast " +
          "(r14: the sf100 budget-100 sweep spilled >55 GB at ~1.4e9 " +
          s"rows). Reduce the audit budget to ~$recBudget, or pass " +
          "overrideWork=true to run anyway.")
  }

  /** Shingle-Jaccard top-k retrieval: rank corpus docs per query doc by
    * exact Jaccard similarity of their distinct shingle sets, computed
    * through the inverted shingle index — only docs SHARING a shingle are
    * ever paired, so the candidate space is sparse (no cartesian). The
    * set-overlap counterpart to [[bm25TopK]]'s lexical ranking; the two
    * fuse in [[rrfFuse]].
    *
    * Shingles travel as 16-byte md5 digests; the intersection aggregate
    * and the (broadcast) query-side join share the digest key. Sizes join
    * back on doc ids; similarity is exact floor-ppm (no doubles).
    */
  /** Materialized (doc_id, h) distinct-shingle digest table — the
    * shared prefix of every Jaccard ranker. Public so a caller running
    * SEVERAL rankings over one corpus in one action (the recall audits:
    * exact + champion, exact + LSH) can tokenize/shingle/digest ONCE
    * and pass the table to each ranker via their `digests` parameter —
    * measured r15: each audit query paid the full shingle build twice
    * (two separate localCheckpoints of an identical subtree; lazy
    * checkpoints are opaque to Catalyst subtree reuse).
    */
  def shingleDigests(docs: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 2): DataFrame =
    CpuStage.fanOut(docs).select(col(idCol).as("doc_id"),
        explode(array_distinct(T.shingles(col(textCol), shingleN))).as("g"))
      // unhex: the digest travels as the TRUE 16-byte binary, not the
      // 32-char hex string md5() returns — h is only ever a join/group
      // key (never output), and unhex is a bijection on md5's range, so
      // every equality downstream is unchanged while the key column
      // halves in the candidate shuffles and the query-side broadcast
      // (r16; the scaladoc always promised 16 bytes)
      .select(col("doc_id"), unhex(md5(col("g"))).as("h"))
      .localCheckpoint(false)

  def jaccardTopK(docs: DataFrame, idCol: String, textCol: String,
                  queryMod: Int, k: Int, shingleN: Int = 2,
                  champM: Int = 0, queryBudget: Int = 0,
                  overrideWork: Boolean = false,
                  rescoreBudget: Long = graft.Params.ChampRescoreBudget,
                  digests: Option[DataFrame] = None): DataFrame = {
    require(queryMod > 1 && k > 0)
    // champion runs are work-bounded by a BINDING advisory (ADVICE r14:
    // previously only spec-exercised — production callers now inherit
    // the refusal; declared gates/baselines pass overrideWork = true)
    if (champM > 0)
      championAdvisory(docs, idCol, textCol, queryMod, champM, queryBudget,
        rescoreBudget, "jaccardTopK", overrideWork, shingleN)
    // three consumers (sizes, query side, corpus side) — materialize the
    // shingle digests once per action, as in bm25TopK/prefixFilter;
    // audit callers pass one [[shingleDigests]] table for BOTH rankings
    val sh = digests.getOrElse(shingleDigests(docs, idCol, textCol, shingleN))
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    // fixed-count audit sampling — same contract as [[bm25TopK]]'s
    // queryBudget: a deterministic hash-order SUBSET of the mod-selected
    // query ids, turning the exact query×corpus half linear
    val q0 = sh.where(col("doc_id") % queryMod === 0)
      .select(col("doc_id").as("query_id"), col("h"))
    val q =
      if (queryBudget <= 0) q0
      else q0.join(broadcast(
        Sampling.hashOrderIds(docs.where(col(idCol) % queryMod === 0),
          idCol, queryBudget, "query_id")), "query_id")
    // champM > 0 = champion-list candidate generation (the bm25TopK
    // pattern, set-overlap flavor): per shingle only the top-champM
    // docs in exact impact order survive into candidate generation —
    // for Jaccard a shared shingle is worth most to the SMALLEST doc
    // (J = inter/(sza+szb−inter) is decreasing in szb at fixed inter),
    // so the impact order is (sz asc, doc_id asc). Candidates are then
    // rescored on their FULL shingle sets (exact intersection), so a
    // candidate's score is its true Jaccard — the cap only bounds WHO
    // gets scored: ≤ |q-shingles|·champM candidates × their set sizes
    // per query, vs the exact path's Σ_shingle (q-postings × postings)
    // which is quadratic under shared vocabulary.
    val inter =
      if (champM <= 0)
        broadcast(q).join(sh, "h")
          .where(col("doc_id") =!= col("query_id"))
          .groupBy(col("query_id"), col("doc_id"))
          .agg(count(lit(1)).as("inter"))
      else {
        val champ = sh.join(sz, "doc_id")
          .withColumn("crk", row_number().over(
            Window.partitionBy(col("h"))
              .orderBy(col("sz").asc, col("doc_id").asc)))
          .where(col("crk") <= champM)
          .select(col("doc_id"), col("h"))
        val cands = broadcast(q).join(champ, "h")
          .where(col("doc_id") =!= col("query_id"))
          .select(col("query_id"), col("doc_id")).distinct()
        cands.join(sh, "doc_id")
          .join(broadcast(q), Seq("query_id", "h"))
          .groupBy(col("query_id"), col("doc_id"))
          .agg(count(lit(1)).as("inter"))
      }
    // query-side sizes come from the QUERY table itself — q holds each
    // query's distinct shingle digests, so a count per query_id IS sza.
    // The original form broadcast the full per-doc size table keyed as
    // query_id: a CORPUS-sized broadcast (5M rows at sf100; measured
    // r14: execution-memory OOM at 56 g), and restricting it via a
    // broadcast-subquery join re-ran the 5M-row size aggregate
    // concurrently with the main stages — also OOM. The query-side
    // count touches only the (budgeted) query shingles.
    val qsz = q.groupBy(col("query_id")).agg(count(lit(1)).as("sza"))
    inter
      .join(broadcast(qsz), "query_id")
      .join(sz.select(col("doc_id"), col("sz").as("szb")), "doc_id")
      .select(col("query_id"), col("doc_id"),
        expr("inter * 1000000L div (sza + szb - inter)").as("jac_ppm"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("jac_ppm").desc, col("doc_id").asc)).cast("long"))
      .where(col("rnk") <= k)
  }

  /** LSH-bucketed shingle-Jaccard top-k RETRIEVAL (VERDICT r14 #1): the
    * asymptotic near-dup retrieval path the binding [[championAdvisory]]
    * recommends when champion rescore work goes over budget — before
    * this operator existed, a refused caller had only the PAIR/dedup
    * form ([[Dedup.minhashCandidates]]) to switch to, not a per-query
    * top-k. MinHash band signatures ([[Dedup.bandTable]], the §2.3
    * machinery with its own recall-tuned scheme) bucket the corpus
    * once; each query doc probes ONLY its own bands' buckets, and the
    * bucket candidates are rescored on their FULL shingle sets (exact
    * integer Jaccard — a candidate's score is its true similarity),
    * thresholded at `minJacPpm`, and ranked per query.
    *
    * The contract is HIGH-BAND near-dup retrieval, not full ranking: a
    * pair shares a band bucket with probability 1−(1−j^r)^b, and the
    * scheme must put that S-curve's certifiable region AT τ. The r15
    * `RecallSweep jaccardlsh` decade sweeps caught the first scheme
    * (r=4, b=8, τ=0.5) reading MIN RECALL 0% at sf10 — the scaled
    * corpus has a sibling band at j=0.50–0.59, below that scheme's
    * S-curve midpoint ≈0.595, so those truth pairs were coin flips;
    * see [[graft.Params]] (LshTopk*) for why no k=32 rescheme fixes
    * mid-τ over a j≈0.1 background and the shipped answer: r=4, b=24,
    * τ=0.8 (per-pair miss 3.2e-6 at exactly τ, background candidate
    * rate ≈2.4e-3 of the corpus per query), with the mid-τ contract on
    * the EXACT [[jaccardPrefixTopK]]. Work per query is Σ|bucket| over
    * its b bands — at 10× data the buckets grow ~10× but the per-query
    * candidate RATE stays the background collision rate, vs the
    * champion's M ∝ N rescore ([[graft.Params.jaccardChampM]] — a
    * constant-factor path, 1202 s at sf100 where MinHash-LSH dedup
    * runs 49.7 s). `text_jaccard_lsh_recall` / the
    * `text_jaccard_lsh_floor` gate measure and PIN what the bucketing
    * costs vs the exact thresholded truth (the dedup_lsh_recall
    * pattern, retrieval-shaped; the [[graft.Params]] floor is
    * calibrated per decade, never assumed — the
    * [[graft.Params.jaccardChampM]] lesson).
    *
    * Scale shape: signatures map-side; the band table localCheckpoints
    * once for its two consumers (query probes, corpus buckets); the
    * probe join keys on (band_id, bk) — compact ints, AQE splits the
    * rare hot bucket; the rescore join keys on doc_id and the
    * query-shingle join on (query_id, 16-byte digest). Query-side
    * tables broadcast ONLY under a fixed budget — the unbudgeted query
    * side is a corpus fraction and rides the shuffle (the r14
    * jaccardTopK corpus-broadcast OOM class).
    */
  def jaccardLshTopK(docs: DataFrame, idCol: String, textCol: String,
                     queryMod: Int, k: Int, minJacPpm: Long,
                     lshK: Int, lshBands: Int,
                     shingleN: Int = 2, queryBudget: Int = 0,
                     digests: Option[DataFrame] = None): DataFrame = {
    require(queryMod > 1 && k > 0 && minJacPpm >= 0 && lshK % lshBands == 0)
    val bounded = queryBudget > 0
    def bcast(df: DataFrame): DataFrame = if (bounded) broadcast(df) else df
    // fixed-count audit sampling — same contract as [[jaccardTopK]]'s
    // queryBudget: a deterministic hash-order SUBSET of the mod-selected
    // query ids (per-query output identical to the unbudgeted run)
    lazy val qids = broadcast(Sampling.hashOrderIds(
      docs.where(col(idCol) % queryMod === 0), idCol, queryBudget,
      "query_id"))
    def budgeted(df: DataFrame): DataFrame =
      if (bounded) df.join(qids, "query_id") else df
    // shingle digests feed three consumers (corpus rescore side, query
    // rescore side, sizes) — materialize once per action; audit callers
    // share one [[shingleDigests]] table with the exact ranker
    val sh = digests.getOrElse(shingleDigests(docs, idCol, textCol, shingleN))
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    // band table computed once, consumed twice (query probes + corpus
    // buckets) — the checkpoint saves a second shingle + md5 pass of
    // the signature kernel on the other side of the probe join
    val bt = Dedup.bandTable(docs, idCol, textCol, lshK, lshBands, shingleN)
      .select(col(idCol).as("doc_id"), col("band_id"), col("bk"))
      .localCheckpoint(false)
    val qb = budgeted(bt.where(col("doc_id") % queryMod === 0)
      .select(col("doc_id").as("query_id"), col("band_id"), col("bk")))
    val cands = bcast(qb).join(bt, Seq("band_id", "bk"))
      .where(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id")).distinct()
    // exact full-set rescore of the bucket candidates (the jaccardTopK
    // champion-branch shape): intersection via the corpus digests ⋈
    // query digests, sizes from each side's own table — query sza from
    // the (budgeted) query shingles, never a corpus-sized broadcast
    val q = budgeted(sh.where(col("doc_id") % queryMod === 0)
      .select(col("doc_id").as("query_id"), col("h")))
    val inter = cands.join(sh, "doc_id")
      .join(bcast(q), Seq("query_id", "h"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("inter"))
    val qsz = q.groupBy(col("query_id")).agg(count(lit(1)).as("sza"))
    inter
      .join(broadcast(qsz), "query_id")
      .join(sz.select(col("doc_id"), col("sz").as("szb")), "doc_id")
      .select(col("query_id"), col("doc_id"),
        expr("inter * 1000000L div (sza + szb - inter)").as("jac_ppm"))
      .where(col("jac_ppm") >= minJacPpm)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("jac_ppm").desc, col("doc_id").asc)).cast("long"))
      .where(col("rnk") <= k)
  }

  /** EXACT prefix-filter per-query Jaccard retrieval (the mid-τ
    * contract [[jaccardLshTopK]] cannot certify): top-k corpus docs per
    * query doc at jac ≥ minNum/minDen, computed through the PPJoin
    * prefix-filter pair kernel ([[Dedup.prefixFilterJaccard]]) with the
    * budgeted query set as `touchIds` — candidates are every pair
    * sharing at least one rarity-prefix token with a query, verified on
    * full rank-encoded sets, so recall is 100% BY CONSTRUCTION at any
    * τ: no band scheme, no floor to calibrate, no probabilistic tail.
    * The r15 decade sweeps proved why this operator must exist: over a
    * j≈0.1 background no LSH scheme holds a ~100% min-recall floor at
    * the 0.5 design τ at sub-champion candidate rates (the S-curve
    * midpoint lands ON the truth band), while the champion's certified
    * M grows ∝N — the exact prefix path is the asymptotic mid-τ
    * answer, work-bounded by prefix-token document frequencies instead
    * of N·|q|.
    *
    * Scale shape: one corpus-linear shingle→rank-encode pipeline (the
    * PPJoin kernel's own stages), a prefix join on the rank key where
    * the query side is budget-bounded and the corpus side streams
    * shuffle-partitioned (never a corpus broadcast), positional + size
    * filters cut candidates before the sorted-intersect verify. Output
    * orientation: a surviving pair feeds EVERY query side it touches
    * (a pair of two query docs ranks in both lists).
    */
  def jaccardPrefixTopK(docs: DataFrame, idCol: String, textCol: String,
                        queryMod: Int, k: Int, minNum: Long, minDen: Long,
                        shingleN: Int = 2, queryBudget: Int = 0): DataFrame = {
    require(queryMod > 1 && k > 0)
    val qids =
      if (queryBudget > 0)
        Sampling.hashOrderIds(docs.where(col(idCol) % queryMod === 0),
          idCol, queryBudget, "doc_id")
      else docs.where(col(idCol) % queryMod === 0)
        .select(col(idCol).as("doc_id"))
    val pairs = Dedup.prefixFilterJaccard(docs, idCol, textCol,
      minNum, minDen, shingleN, touchIds = Some(qids))
      .localCheckpoint(false) // two consumers: the two orientations
    val q = broadcast(qids)
    val oriented = pairs
      .join(q.select(col("doc_id").as("doc_a")), "doc_a")
      .select(col("doc_a").as("query_id"), col("doc_b").as("doc_id"),
        col("jac_ppm"))
      .unionByName(pairs
        .join(q.select(col("doc_id").as("doc_b")), "doc_b")
        .select(col("doc_b").as("query_id"), col("doc_a").as("doc_id"),
          col("jac_ppm")))
    oriented
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("jac_ppm").desc, col("doc_id").asc)).cast("long"))
      .where(col("rnk") <= k)
  }

  /** Reciprocal-rank fusion (Cormack et al.): merge any number of
    * per-query rankings into one hybrid ranking by summing 1/(c + rank)
    * per candidate — the standard lexical+semantic fusion step, here in
    * exact integer ppm (`1e6 div (c + rnk)`) so the fused order is
    * engine-identical. Inputs need only (query_id, doc_id, rnk) columns;
    * a candidate missing from a ranking simply contributes nothing.
    * One union + one keyed aggregate + a per-query window — the fusion
    * itself never touches the corpus.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Long = 60L): DataFrame = {
    require(rankings.nonEmpty && k > 0 && c >= 0)
    val u = rankings.map(_.select(col("query_id"), col("doc_id"), col("rnk")))
      .reduce(_ unionByName _)
    u.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(expr(s"1000000L div ($c + rnk)")).as("rrf_ppm"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf_ppm").desc, col("doc_id").asc)).cast("long"))
      .where(col("rnk") <= k)
  }

  /** BM25 query-by-document retrieval: score every corpus doc against each
    * query doc (the distinct terms of docs with id % queryMod == 0) and
    * return the top-k per query — the retrieval shape behind contamination
    * probes, near-dup triage, and RAG-corpus self-search.
    *
    * Scoring is Okapi BM25 with k1 = 6/5, b = 3/4 and the Robertson idf
    * ratio (N − df + ½)/(df + ½) kept as an exact rational: with those
    * constants every numerator/denominator is a pure integer product
    * (`num = 44·tf·Σdl·(2N−2df+1)`, `den = (20·tf·Σdl + 6·Σdl +
    * 18·dl·N)·(2df+1)`), and the per-(term,doc) score becomes ONE
    * correctly-rounded IEEE divide floored to ppm. The products pick
    * their arithmetic ADAPTIVELY: collected corpus stats (N, Σdl,
    * max dl) bound the worst-case product, and the plan uses fast
    * codegen int64 whenever that bound fits — at ~10M docs / 10¹⁰
    * tokens `num ≈ 44·tf·Σdl·2N ≈ 10²⁹` would wrap a silent int64
    * under non-ANSI Spark, so past the bound the products switch to
    * DECIMAL(38,0) (exact to 10³⁸, unreachable for any real corpus;
    * non-ANSI decimal overflow past that yields NULL scores — a loud
    * failure in the top-k, never a wrong ranking). Both paths produce
    * identical ppm. Per-doc totals are then
    * INTEGER sums — no double summation anywhere, so results are
    * engine-identical regardless of partitioning (the q_stats_suite
    * lesson). The log-idf variant is a one-expression swap; the rational
    * idf keeps the same rarity ordering per term.
    *
    * Scale: postings/df/dl are the standard inverted-index aggregates (one
    * shuffle each, partial-agg map-side). The scoring join shuffles
    * postings once on the term — the SAME key the df join needs, so the
    * exchange is reused — and the doc-length join keys on doc_id. The
    * corpus stats are eagerly collected scalars inlined as literals (the
    * collect doubles as the postings-checkpoint materializer); the
    * query-term set (N/queryMod docs) broadcasts. Top-k per query is a
    * window over per-query groups, never a global sort.
    */
  /** Materialized (doc_id, term, tf) inverted index — the shared prefix
    * of the BM25 rankers. The explicit doc_id repartition matters twice
    * over: a checkpoint FREEZES whatever layout AQE left (coalescing a
    * small aggregate to one partition serializes every downstream
    * fan-out that reads the checkpointed RDD — measured 2.7 s
    * single-task scoring on text_rrf_fuse), and hash(doc_id) is exactly
    * the distribution the `dl` aggregate needs, so that consumer adds
    * no exchange at all. Public for the same reason as
    * [[shingleDigests]]: the recall audits run exact + champion BM25
    * over one corpus in one action and should tokenize once.
    */
  def bm25Postings(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = CpuStage.fanOut(docs).select(col(idCol).as("doc_id"),
      explode(T.tokens(col(textCol))).as("term"))
    val nPart = docs.sparkSession.sessionState.conf.numShufflePartitions
    toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .repartition(nPart, col("doc_id"))
      .localCheckpoint(false)
  }

  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryMod: Int, k: Int, champM: Int = 0,
               queryBudget: Int = 0, overrideWork: Boolean = false,
               rescoreBudget: Long = graft.Params.ChampRescoreBudget,
               index: Option[DataFrame] = None): DataFrame = {
    require(queryMod > 1 && k > 0)
    // binding champion-work gate (see [[jaccardTopK]]); shingleN = 1
    // forecasts over distinct TERMS — the BM25 candidate unit
    if (champM > 0)
      championAdvisory(docs, idCol, textCol, queryMod, champM, queryBudget,
        rescoreBudget, "bm25TopK", overrideWork, shingleN = 1)
    // the inverted index feeds FOUR consumers (scoring side, doc
    // lengths, document frequencies, query terms) — a lazy
    // localCheckpoint materializes the tokenize+count once per action
    // instead of four times (the prefixFilter `sets` pattern); audit
    // callers pass one [[bm25Postings]] table for BOTH rankings
    val postings = index.getOrElse(bm25Postings(docs, idCol, textCol))
    val dl = postings.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // corpus stats collected EAGERLY (one tiny aggregate; it doubles as
    // the materializer of the postings checkpoint every later stage
    // reuses) and inlined as codegen literals — and max(dl) bounds the
    // worst-case score products, which picks the arithmetic path below
    val statsRow = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"),
      max(col("dl")).as("max_dl")).collect()(0)
    val nDocs = statsRow.getLong(0)
    val sumDl = if (statsRow.isNullAt(1)) 0L else statsRow.getLong(1)
    val maxDl = if (statsRow.isNullAt(2)) 0L else statsRow.getLong(2)
    // queryBudget > 0 = FIXED-COUNT query sampling for audit callers:
    // queries are a corpus fraction, so the exact path's query×corpus
    // work is ∝ N² — a deterministic hash-order budget (the smallest
    // (md5(id), id) among the mod-selected ids, a SUBSET of the full
    // query set, so per-query results are bit-identical to the full
    // run) caps the exact half at budget×corpus = linear. The sample
    // broadcasts; budget ≥ population degrades to the unsampled path.
    val qterms0 = postings.where(col("doc_id") % queryMod === 0)
      .select(col("doc_id").as("query_id"), col("term"))
    val qterms =
      if (queryBudget <= 0) qterms0
      else qterms0.join(broadcast(
        Sampling.hashOrderIds(docs.where(col(idCol) % queryMod === 0),
          idCol, queryBudget, "query_id")), "query_id")
    // ADAPTIVE exact arithmetic: int64 products (fast, codegen longs)
    // whenever the worst case provably fits — tf ≤ max_dl and df ≤ N
    // bound num by 44·maxdl·Σdl·(2N+1) and den by
    // (20·maxdl·Σdl + 6·Σdl + 18·maxdl·N)·(2N+1) — else DECIMAL(38,0)
    // (exact to 10³⁸, unreachable; non-ANSI overflow past that yields
    // NULL scores — loud, never a wrong ranking). The int64 bound trips
    // around ~10M docs / 10¹⁰ tokens; both paths produce identical ppm
    // (same exact integers, one IEEE divide), so the switch is
    // invisible to results — only to speed.
    val numBound = BigInt(44) * maxDl * sumDl * (2 * BigInt(nDocs) + 1)
    val denBound = (BigInt(20) * maxDl * sumDl + BigInt(6) * sumDl +
      BigInt(18) * maxDl * nDocs) * (2 * BigInt(nDocs) + 1)
    val fitsInt64 = numBound < BigInt(Long.MaxValue) && denBound < BigInt(Long.MaxValue)
    val (num, den) =
      if (fitsInt64) (
        lit(44L) * col("tf") * lit(sumDl) *
          (lit(2L * nDocs + 1L) - lit(2L) * col("df")),
        (lit(20L) * col("tf") * lit(sumDl) + lit(6L * sumDl)
          + lit(18L * nDocs) * col("dl")) * (lit(2L) * col("df") + lit(1L)))
      else {
        val d38 = "decimal(38,0)"
        (lit(44L).cast(d38) * col("tf") * lit(sumDl) *
          (lit(2L * nDocs + 1L) - lit(2L) * col("df")),
         (lit(20L).cast(d38) * col("tf") * lit(sumDl) +
           lit(6L).cast(d38) * lit(sumDl) +
           lit(18L).cast(d38) * col("dl") * lit(nDocs)) *
           (lit(2L) * col("df") + lit(1L)))
      }
    // champM > 0 = CHAMPION-LIST retrieval (Manning/Raghavan/Schütze
    // §7.1.3): per term, only the top-champM docs in EXACT per-term
    // impact order enter CANDIDATE GENERATION — with these BM25
    // constants the per-term score is strictly increasing in tf and
    // strictly decreasing in dl (num ∝ tf; den = a·tf + b with a,b > 0
    // and b increasing in dl), so (tf desc, dl asc, doc_id asc) IS the
    // impact order and the cap keeps each term's provably best champM
    // docs, deterministically. Candidates are then scored on their FULL
    // query-term profile (the textbook design — scoring only surviving
    // champion postings would hand a candidate a partial score and
    // wreck the ranking; measured 12% recall@10 on the degenerate
    // ~31-term test vocabulary vs full-profile rescoring below).
    // This is the LINEAR-SCALE twin of the exact path: exact
    // query-by-document self-retrieval joins every query term against
    // its FULL posting list, so with queries a corpus fraction the
    // candidate volume grows ∝ N·df ~ N² (measured 19–21× wall on 10×
    // data — work-bound, not an engine defect); the champion cap bounds
    // work at |qterms|·champM candidates × their doc lengths per query,
    // restoring ~K× wall on K× data, and `text_bm25_champ_recall`
    // measures what the cap costs in top-k recall against the exact
    // ranking (the dedup_lsh_recall pattern: ship the bounded path,
    // keep the exact path as the truth harness). Rare terms — the ones
    // that decide near-dup-style top-k — have postings shorter than
    // champM and are never cut; only stopword-grade postings lose
    // their candidate tail. The per-term window is one extra shuffle of
    // postings on the term key at INDEX-BUILD time (linear); query-time
    // work then never touches a full posting list.
    val scored =
      if (champM <= 0)
        // exact path — prune FIRST: the broadcast query-term
        // semi-restriction cuts the postings to the query vocabulary
        // before any wide join runs — at corpus scale the df join then
        // moves only the pruned slice
        postings
          .join(broadcast(qterms), Seq("term"))
          .where(col("doc_id") =!= col("query_id"))
          .join(dfreq, "term")
          .join(dl, "doc_id")
          .select(col("query_id"), col("doc_id"),
            floor(lit(1000000.0) * (num.cast("double") / den.cast("double")))
              .cast("long").as("ppm"))
      else {
        val cpost = postings.join(dl, "doc_id")
          .withColumn("crk", row_number().over(
            Window.partitionBy(col("term"))
              .orderBy(col("tf").desc, col("dl").asc, col("doc_id").asc)))
          .where(col("crk") <= champM)
          .select(col("doc_id"), col("term"))
        val cands = cpost.join(broadcast(qterms), Seq("term"))
          .where(col("doc_id") =!= col("query_id"))
          .select(col("query_id"), col("doc_id")).distinct()
        // full-profile exact rescore of the bounded candidate set: pull
        // each candidate doc's postings (doc_id-keyed — the layout the
        // postings checkpoint already has) and keep its query terms
        cands.join(postings, "doc_id")
          .join(broadcast(qterms), Seq("query_id", "term"))
          .join(dfreq, "term")
          .join(dl, "doc_id")
          .select(col("query_id"), col("doc_id"),
            floor(lit(1000000.0) * (num.cast("double") / den.cast("double")))
              .cast("long").as("ppm"))
      }
    val agg = scored.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("ppm")).as("score_ppm"))
    agg.withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score_ppm").desc, col("doc_id").asc)).cast("long"))
      .where(col("rnk") <= k)
  }

  /** Exact phrase search over a positional index: docs containing the
    * token sequence `phrase` contiguously, with the occurrence count
    * (overlapping occurrences each count — position-defined, no
    * regex ambiguity). The positional-postings intersection every
    * search engine runs: anchor on the first term's (doc, pos)
    * postings, then for the i-th term equi-join (doc, pos+i) — k−1
    * joins for a k-token phrase, each keyed on (doc_id, pos).
    *
    * Scale: the index is pruned to the PHRASE'S terms before any join
    * (`isin` pushes into the scan), so candidate volume is those
    * terms' postings — never the corpus token table. A stopword-only
    * phrase degrades to the stopwords' postings size, exactly as in
    * any positional index; phrase terms are deduped before the prune
    * so repeated-token phrases ("the the") scan once.
    */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one token")
    val toks = docs.select(col(idCol).as("doc_id"),
        posexplode(T.tokens(col(textCol))).as(Seq("pos", "term")))
      .where(col("term").isin(phrase.distinct: _*))
    val anchors = toks.where(col("term") === phrase.head)
      .select(col("doc_id"), col("pos"))
    val matched = phrase.zipWithIndex.drop(1).foldLeft(anchors) {
      case (acc, (t, i)) =>
        acc.join(toks.where(col("term") === t)
          .select(col("doc_id"), (col("pos") - i).as("pos")), Seq("doc_id", "pos"))
    }
    matched.groupBy(col("doc_id")).agg(count(lit(1)).as("n_matches"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021, §A1.1 —
    * the published heuristic battery most LLM curation stacks start
    * from): word-count band, mean-word-length band, minimum distinct
    * stopwords, minimum alphabetic-word share. Emits the underlying
    * exact-integer measurements next to per-rule booleans plus the
    * composite gate — keep the evidence, not just the verdict, so a
    * threshold change replays from this table without re-tokenizing
    * the corpus.
    *
    * All measurements are exact integers (mean length ×100, alpha
    * share in ppm, both trunc-div) — no doubles anywhere, so any
    * engine replays the flags bit-identically. Entirely map-side: one
    * tokenize + array folds per row, no shuffle, composes with
    * pushdown.
    */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  minWords: Long, maxWords: Long,
                  minMeanLenX100: Long, maxMeanLenX100: Long,
                  stopwords: Seq[String], minStop: Long,
                  minAlphaPpm: Long): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords)
    require(stopwords.nonEmpty && minStop >= 0)
    val measured = docs
      .select(col(idCol).as("doc_id"), T.tokens(col(textCol)).as("__ts"))
      .select(col("doc_id"),
        size(col("__ts")).cast("long").as("n_words"),
        aggregate(col("__ts"), lit(0L), (acc, t) => acc + length(t)).as("__sumlen"),
        size(array_intersect(array_distinct(col("__ts")),
          lit(stopwords.toArray))).cast("long").as("n_stop"),
        size(filter(col("__ts"), t => t.rlike("[a-z]"))).cast("long").as("__n_alpha"))
      .select(col("doc_id"), col("n_words"),
        when(col("n_words") > 0, expr("(100 * __sumlen) div n_words"))
          .as("mean_len_x100"),
        col("n_stop"),
        when(col("n_words") > 0, expr("(1000000 * __n_alpha) div n_words"))
          .as("alpha_ppm"))
    measured
      .withColumn("pass_words",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("pass_len", coalesce(
        col("mean_len_x100") >= minMeanLenX100 &&
          col("mean_len_x100") <= maxMeanLenX100, lit(false)))
      .withColumn("pass_stop", col("n_stop") >= minStop)
      .withColumn("pass_alpha",
        coalesce(col("alpha_ppm") >= minAlphaPpm, lit(false)))
      .withColumn("pass_all",
        col("pass_words") && col("pass_len") && col("pass_stop") && col("pass_alpha"))
  }

  /** Per-document n-gram novelty vs everything before it (by doc id):
    * the share of a doc's distinct shingles whose FIRST corpus
    * occurrence is this doc — the per-doc face of [[heapsLaw]]'s
    * corpus curve, and the streaming-ingest dedup smell: a feed whose
    * novelty collapses is re-crawling what the corpus already holds.
    * Same first-occurrence trick (one min-aggregate decides every
    * membership), shingles travel as 16-byte digests, and the
    * first-doc join reuses the digest-keyed exchange the aggregate
    * already built. Emits (doc_id, n_grams, n_novel, novelty_ppm).
    */
  def noveltyPerDoc(docs: DataFrame, idCol: String, textCol: String,
                    shingleN: Int = 2): DataFrame = {
    val sh = CpuStage.fanOut(docs).select(col(idCol).as("doc_id"),
        explode(array_distinct(T.shingles(col(textCol), shingleN))).as("g"))
      // 16-byte binary digest (key-only column; see shingleDigests)
      .select(col("doc_id"), unhex(md5(col("g"))).as("h"))
      .localCheckpoint(false) // two consumers: first-doc agg + join back
    val first = sh.groupBy(col("h")).agg(min(col("doc_id")).as("fd"))
    sh.join(first, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("n_novel * 1000000L div n_grams"))
  }

  /** Heaps-law vocabulary-growth audit: distinct-term count vs tokens
    * seen at fixed corpus prefixes (by doc id) — the curve that says
    * whether a corpus is still contributing new vocabulary or has gone
    * repetitive (its flattening is an early near-dup smell the dedup
    * family then confirms). The trick that makes it ONE pass instead of
    * a count-distinct per checkpoint: a term's contribution to every
    * prefix is determined by its FIRST document — vocab(cut) = #terms
    * with min(doc) ≤ cut — so one (term → min doc, count) aggregate +
    * one (doc → tokens) aggregate answer all checkpoints via
    * conditional sums against the broadcast cutoff list.
    * Emits one row per checkpoint: (cut_pct, cut_doc, n_tokens, n_vocab).
    */
  def heapsLaw(docs: DataFrame, idCol: String, textCol: String,
               cutPcts: Seq[Int]): DataFrame = {
    require(cutPcts.nonEmpty && cutPcts.forall(p => p > 0 && p <= 100))
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(T.tokens(col(textCol))).as("term"))
    val perDoc = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tok"))
    val firstDoc = toks.groupBy(col("term")).agg(min(col("doc_id")).as("fd"))
    val maxId = docs.agg(max(col(idCol)).as("max_id"))
    val cuts = maxId.select(explode(array(
        cutPcts.map(p => struct(lit(p.toLong).as("cut_pct"),
          expr(s"max_id * $p div 100").as("cut_doc"))): _*)).as("c"))
      .select(col("c.cut_pct"), col("c.cut_doc"))
    val tokensAt = cuts.join(perDoc, perDoc("doc_id") <= cuts("cut_doc"))
      .groupBy(col("cut_pct"), col("cut_doc"))
      .agg(sum(col("n_tok")).as("n_tokens"))
    val vocabAt = cuts.join(firstDoc, firstDoc("fd") <= cuts("cut_doc"))
      .groupBy(col("cut_pct"), col("cut_doc"))
      .agg(count(lit(1)).as("n_vocab"))
    tokensAt.join(vocabAt, Seq("cut_pct", "cut_doc"))
  }

  /** Zipf rank–frequency fit over the top-N vocabulary: OLS slope of
    * ln(freq) on ln(rank) — a healthy natural-language corpus sits near
    * −1; a template/boilerplate-heavy crawl flattens, a truncated or
    * over-dedup'd one steepens. Engine parity: each ln is rounded to
    * integer e4 AT ITS RANK (the PMI discipline), the OLS moments are
    * then exact int64 sums, and the slope/intercept are truncating
    * DECIMAL(38,0) ratios — no float accumulates across rows. One
    * frequency aggregate + TakeOrdered top-N + a marked bounded window
    * for ranks; emits a single summary row
    * (n_terms, slope_e6, intercept_e4).
    */
  def zipfFit(docs: DataFrame, textCol: String, topN: Int): DataFrame = {
    require(topN > 1)
    val freqs = docs.select(explode(T.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w").asc).limit(topN)
      // declared-bounded: topN rows by construction
      .withColumn("rnk", row_number().over(Window.partitionBy(lit(0))
        .orderBy(col("f").desc, col("w").asc)).cast("long"))
      .select(
        expr("cast(round(ln(cast(rnk as double)) * 1e4, 0) as long)").as("x"),
        expr("cast(round(ln(cast(f as double)) * 1e4, 0) as long)").as("y"))
    freqs.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("n").as("n_terms"),
        // moment diffs fit int64 (topN ≤ thousands, e4 lns ≤ ~1.4e5);
        // only the ×1e6 scale-up needs DECIMAL — its DuckDB twin is
        // HUGEINT, the pairing with trunc-toward-zero parity on
        // negatives (the DECIMAL// floor trap caught in qStratifiedAte)
        expr("CAST(CAST(n*sxy - sx*sy AS DECIMAL(38,0)) * 1000000" +
          " div (n*sxx - sx*sx) AS BIGINT)").as("slope_e6"),
        // intercept folds the already-truncated slope back in — chained
        // truncation, deterministic in both engines
        expr("CAST((CAST(sy AS DECIMAL(38,0)) * 1000000 - " +
          "CAST(n*sxy - sx*sy AS DECIMAL(38,0)) * 1000000" +
          " div (n*sxx - sx*sx) * sx) div (n * 1000000) AS BIGINT)")
          .as("intercept_e4"))
  }

  /** Retrieval-quality readout: score a per-query ranking against a
    * binary relevance set with the standard IR metrics — P@k, R@k,
    * MRR, AP and nDCG@k — the evaluation loop that decides which
    * ranker ([[bm25TopK]], [[jaccardTopK]], [[rrfFuse]]) actually
    * retrieves. `system` needs (query_id, doc_id, rnk) — rnk 1-based,
    * ties already broken; `relevant` needs (query_id, doc_id).
    *
    * Exact-integer discipline: hit counts and ranks are integers; the
    * only doubles are the per-rank DCG discounts floor(10⁶/log2(r+1)),
    * each floored INDIVIDUALLY at its small-integer rank before any
    * summation — so DCG/IDCG are integer sums and every ratio is a
    * truncating div, engine-identical regardless of partitioning.
    * IDCG folds the ideal prefix r = 1..min(n_rel, k) with
    * `aggregate(sequence(...))` — no join against a rank table.
    *
    * Queries with an empty relevant set emit zeroed metrics (they
    * score nothing but stay visible — silently dropping them inflates
    * every mean). Scale shape: one broadcast-able label join (the
    * relevant set is ≤ queries × k_rel), one per-query window over ≤ k
    * rows, one aggregate.
    */
  def rankMetrics(system: DataFrame, relevant: DataFrame, k: Int): DataFrame = {
    require(k > 0)
    // rel feeds TWO consumers (the n_rel aggregate + the labeling
    // join) and `relevant` is typically a full exact ranking — without
    // a materialization that ranking pipeline executes twice (the
    // recallEval lesson, r15); the table is queries × k id pairs
    val rel = relevant.select(col("query_id"), col("doc_id"),
      lit(1L).as("rel"))
      .localCheckpoint(false)
    val nrel = rel.groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
    val labeled = system.where(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("rnk"))
      .join(broadcast(rel), Seq("query_id", "doc_id"), "left")
      .na.fill(0L, Seq("rel"))
      .withColumn("hits", sum(col("rel")).over(
        Window.partitionBy(col("query_id")).orderBy(col("rnk").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val perQ = labeled.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_ret"),
        sum(col("rel")).as("n_hit"),
        min(when(col("rel") === 1, col("rnk"))).as("first_rel"),
        sum(when(col("rel") === 1,
          expr("hits * 1000000L div rnk")).otherwise(0L)).as("ap_num"),
        sum(when(col("rel") === 1,
          expr("cast(floor(1000000.0 / log2(cast(rnk as double) + 1.0)) as long)"))
          .otherwise(0L)).as("dcg_e6"))
    perQ.join(broadcast(nrel), Seq("query_id"), "left")
      .na.fill(0L, Seq("n_rel"))
      .withColumn("m", least(col("n_rel"), lit(k.toLong)))
      .withColumn("idcg_e6", when(col("m") > 0,
        expr("aggregate(sequence(1L, m), 0L, (s, r) -> " +
          "s + cast(floor(1000000.0 / log2(cast(r as double) + 1.0)) as long))"))
        .otherwise(0L))
      .select(col("query_id"), col("n_rel"), col("n_ret"), col("n_hit"),
        expr(s"n_hit * 1000000L div $k").as("prec_ppm"),
        when(col("n_rel") > 0, expr("n_hit * 1000000L div n_rel"))
          .otherwise(0L).as("recall_ppm"),
        coalesce(expr("1000000L div first_rel"), lit(0L)).as("mrr_e6"),
        when(col("m") > 0, expr("ap_num div m")).otherwise(0L).as("ap_e6"),
        col("dcg_e6"),
        when(col("idcg_e6") > 0, expr("dcg_e6 * 1000000L div idcg_e6"))
          .otherwise(0L).as("ndcg_ppm"))
  }

  /** Greedy set-cover source selection: pick `k` sources maximizing
    * marginal VOCABULARY coverage — the coverage-driven answer to
    * "which feeds do we license next" (uniform sampling buys duplicate
    * mass; marginal coverage buys diversity). Classic greedy (1−1/e
    * guarantee): each round scores every source by terms NOT yet
    * covered (one anti-join + one aggregate over the (source, term)
    * pair table, never the corpus) and takes the (gain desc, source)
    * argmax. Output one row per pick:
    * `(rank, source, gain, cum_covered)`. Driver-side loop of k
    * bounded rounds — the [[Similarity.kmeansFit]] shape.
    */
  def sourceCover(docs: DataFrame, srcCol: String, textCol: String,
                  k: Int): DataFrame = {
    require(k >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    val st = docs.select(col(srcCol).as("source"),
        explode(T.tokens(col(textCol))).as("term"))
      .distinct().localCheckpoint(false)
    var covered = spark.emptyDataset[String].toDF("term")
    val picks = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, Long)]
    var cum = 0L
    for (r <- 1 to k) {
      val gains = st.join(covered, Seq("term"), "left_anti")
        .groupBy(col("source")).agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("source").asc).limit(1)
        .collect()
      if (gains.nonEmpty && gains.head.getAs[Long]("gain") > 0) {
        val src = gains.head.getAs[String]("source")
        val g = gains.head.getAs[Long]("gain")
        cum += g
        picks += ((r.toLong, src, g, cum))
        covered = covered
          .unionByName(st.where(col("source") === src).select(col("term")))
          .distinct().localCheckpoint(false)
      }
    }
    picks.toSeq.toDF("rank", "source", "gain", "cum_covered")
  }

  /** Cross-corpus boilerplate census: pseudo-lines occurring in at
    * least `minDocs` DISTINCT documents are boilerplate (headers,
    * navigation, legal footers — the text that survives page-level
    * dedup because each page differs elsewhere); emits per doc the
    * line count, boilerplate-line count, and share ppm. Lines travel
    * as md5 digests (the [[dedupLines]] exchange discipline — the
    * shuffle never carries line text); docs with zero lines drop out.
    */
  def boilerplate(docs: DataFrame, idCol: String, textCol: String,
                  lineTokens: Int, minDocs: Long): DataFrame = {
    require(minDocs >= 2)
    val lines = docs
      .select(col(idCol), explode(pseudoLines(textCol, lineTokens)).as("line"))
      // 16-byte binary digest (key-only column; see shingleDigests)
      .select(col(idCol), unhex(md5(col("line"))).as("h"))
    val bp = lines.distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .where(col("nd") >= minDocs).select(col("h"), lit(1L).as("__b"))
    lines.join(bp, Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__b").isNotNull, 1L).otherwise(0L)).as("n_boiler"))
      .select(col(idCol), col("n_lines"), col("n_boiler"),
        expr("n_boiler * 1000000 div n_lines").as("boiler_ppm"))
  }

  /** Per-document keyphrases: the top-k bigrams of each doc ranked by
    * corpus-level PMI (computed exactly as [[pmiBigrams]], restricted
    * to bigrams with ≥ `minCount` corpus occurrences — hapax PMI is
    * pure noise). One digest-keyed join of the doc's distinct bigrams
    * to the corpus PMI table; ranking ties break on the bigram text so
    * any engine replays the same top-k.
    */
  def keyphrases(docs: DataFrame, idCol: String, textCol: String,
                 k: Int, minCount: Long): DataFrame = {
    require(k >= 1 && minCount >= 1)
    val uni = docs.select(explode(T.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nTok = uni.agg(sum(col("c")).as("n_tok"))
    val bgAll = docs.select(explode(T.shingles(col(textCol), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("n_ab"))
    val nBg = bgAll.agg(sum(col("n_ab")).as("n_bg"))
    val pmi = bgAll.where(col("n_ab") >= minCount)
      .select(col("g"), col("n_ab"),
        substring_index(col("g"), " ", 1).as("w1"),
        substring_index(col("g"), " ", -1).as("w2"))
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))), "w2")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBg))
      .select(col("g"),
        round(log(
          (col("n_ab").cast("double") * col("n_tok").cast("double")
            * col("n_tok").cast("double")) /
            (col("n_bg").cast("double") * col("c1").cast("double")
              * col("c2").cast("double"))), 4).as("pmi"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("pmi").desc, col("g").asc)
    docs.select(col(idCol), explode(T.shingles(col(textCol), 2)).as("g"))
      .distinct()
      .join(pmi, "g")
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
      .select(col(idCol), col("rk"), col("g"), col("pmi"))
  }

  /** Multinomial Naive Bayes, trained on the corpus and scored back
    * over it (resubstitution) — the classic cheap text classifier a
    * curation pipeline uses for routing/source attribution when a
    * labeled column exists. Laplace-smoothed:
    * `score(c, d) = ln P(c) + Σ_w tf_d(w)·ln((cnt_c(w)+1)/(T_c+V))`,
    * every log a floor-scaled micro-nat int64 derived from ONE double
    * built out of exact int64 counts — so per-doc scores are exact
    * integer SUMS (order-invariant across engines and partitionings,
    * where double accumulation would not be).
    *
    * Scale shape: one (doc, term) tf shuffle; the model — class priors,
    * per-(class, term) log-likelihoods, per-class totals — is bounded
    * by classes × vocabulary and rides broadcast joins; scoring joins
    * tf to the model term-keyed, aggregates per (doc, class), and takes
    * the per-doc argmax with a doc-partitioned window (score desc, then
    * label asc — a total deterministic order). Docs with zero tokens
    * drop out, like the tokenizer would drop them.
    */
  def naiveBayes(docs: DataFrame, idCol: String, textCol: String,
                 labelCol: String): DataFrame = {
    val base = docs.select(col(idCol), col(labelCol).as("__lab"),
      explode(T.tokens(col(textCol))).as("term"))
    val tf = base.groupBy(col(idCol), col("__lab"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // class priors from doc counts; vocab size V corpus-wide
    val nDocs = docs.groupBy(col(labelCol).as("__c"))
      .agg(count_distinct(col(idCol)).as("n_c"))
    val priors = nDocs.crossJoin(broadcast(
        nDocs.agg(sum(col("n_c")).as("n_tot"))))
      .select(col("__c"), expr("CAST(floor(ln(CAST(n_c AS DOUBLE) / " +
        "CAST(n_tot AS DOUBLE)) * 1e6) AS BIGINT)").as("prior_e6"))
    val vocab = broadcast(base.agg(count_distinct(col("term")).as("v")))
    // per-(class, term) token counts and per-class token totals
    val ct = base.groupBy(col("__lab").as("__c"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    val totals = ct.groupBy(col("__c")).agg(sum(col("cnt")).as("t_c"))
    // score every (doc, class): tf × classes, left-joined to the model
    // (missing (class, term) pairs take the smoothed-zero likelihood)
    val scored = tf
      .crossJoin(broadcast(totals.select(col("__c"), col("t_c"))))
      .join(ct, Seq("__c", "term"), "left")
      .crossJoin(vocab)
      .select(col(idCol), col("__lab"), col("__c"),
        (col("tf") * expr("CAST(floor(ln(CAST(coalesce(cnt, 0) + 1 AS DOUBLE)" +
          " / CAST(t_c + v AS DOUBLE)) * 1e6) AS BIGINT)")).as("__part"))
      .groupBy(col(idCol), col("__lab"), col("__c"))
      .agg(sum(col("__part")).as("__ll"))
      .join(broadcast(priors), "__c")
      .select(col(idCol), col("__lab"), col("__c"),
        (col("__ll") + col("prior_e6")).as("score_e6"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score_e6").desc, col("__c").asc)
    scored.withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .select(col(idCol), col("__lab").as("label"), col("__c").as("pred"),
        col("score_e6"))
  }

  /** Encoding-health census per group: documents carrying U+FFFD
    * replacement characters (the indelible mark of a bad decode) or
    * C0 control characters (binary bleed-through), counted exactly via
    * length deltas — `replace` for the single literal char, one
    * character-class regex for the control block. A corpus ingested
    * from the web runs this per source/host to kick broken decoders
    * out of the mix before they poison training text. One partial-agg
    * shuffle of 5 int64s per group.
    */
  def encodingAudit(df: DataFrame, group: Column, text: Column): DataFrame = {
    val nRepl = (length(text) -
      length(regexp_replace(text, lit("\uFFFD"), lit("")))).cast("long")
    val nCtrl = (length(text) - length(regexp_replace(text,
      lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"), lit("")))).cast("long")
    df.select(group.as("grp"), nRepl.as("__r"), nCtrl.as("__k"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__r") > 0 || col("__k") > 0, 1L).otherwise(0L))
          .as("bad_docs"),
        sum(col("__r")).as("n_repl"), sum(col("__k")).as("n_ctrl"))
      .select(col("grp"), col("n_docs"), col("bad_docs"), col("n_repl"),
        col("n_ctrl"),
        expr("(n_docs - bad_docs) * 1000000 div n_docs").as("clean_ppm"))
  }
}
