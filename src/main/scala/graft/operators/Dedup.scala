package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}
import graft.functions.{HashFunctions => H, TextFunctions => T, VectorFunctions => V}

/** Document deduplication for training-data pipelines.
  *
  * Four families, all designed so the ONLY shuffles are keyed on compact
  * digests (16-byte md5 / 8-byte ints), never on document payloads, and no
  * stage is ever all-pairs over the corpus:
  *
  *  - exact:      1 shuffle on md5(text)
  *  - minhash+LSH: signatures map-side, 1 shuffle on (band, digest),
  *                 pair join only inside buckets
  *  - simhash:    1 explode+partial-agg shuffle on doc key, candidate
  *                 pairs via the 6-block triple probe (C(6,3)=20 keys,
  *                 equal-signature cliques collapsed first)
  *  - embedding:  random-hyperplane bands, in-bucket cosine only
  *
  * At 100 TB the bucket joins are the hot spot: bucket sizes are bounded
  * by construction (band digests spread uniformly), and AQE skew-join
  * splits the rare hot bucket.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the smallest id as the
    * canonical representative. The shuffle carries (16-byte digest,
    * partial min/count) only.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), md5(col(textCol)).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Per-row MinHash band keys `bks` (`bands` longs) from the one
    * [[H.minhashBandKeys]] kernel: no explode, no aggregate, no exchange.
    * Null text or fewer than `shingleN` tokens → no row. One signature per
    * INPUT row: rows sharing an id are not merged (pairs compare ids `<`).
    */
  def minhashBands(docs: DataFrame, idCol: String, textCol: String,
                   k: Int, bands: Int, shingleN: Int = 2): DataFrame =
    // NO width floor here: a CpuStage.fanOut was tried r15 (the
    // shingle+md5+k affine mins run fused into a one-task scan stage on
    // a single-split corpus) and MEASURED A NET LOSS in a clean A/B —
    // repartitioning the document payload costs more than the extra
    // width earns (dedup_consensus 6.9 -> 8.5 s, dedup_lsh_recall
    // 5.4 -> 6.0 s at sf0.1/32 cores)
    // token-count filter BELOW the kernel: size(bks) > 0 is pushed down, kernel inlined
    docs.where(size(T.tokens(col(textCol))) >= shingleN).select(col(idCol),
      H.minhashBandKeys(T.shingles(col(textCol), shingleN), k, bands).as("bks"))

  /** LSH candidate pairs: docs sharing any band key. The exchange is
    * keyed on (band_id, band key); within a bucket the self-join emits
    * ordered (a<b) pairs, deduped across bands.
    */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 16, bands: Int = 4, shingleN: Int = 2): DataFrame = {
    // one exchange for both self-join sides (ReusedExchange): one signature pass
    val exploded = bandTable(docs, idCol, textCol, k, bands, shingleN)
      .repartition(col("band_id"), col("bk"))
    val a = exploded.as("a")
    val b = exploded.as("b")
    a.join(b,
        col(s"a.band_id") === col(s"b.band_id") &&
        col(s"a.bk") === col(s"b.bk") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .distinct()
  }

  /** Exploded (id, band_id, bk) rows — the layout to PERSIST (bucketed
    * on bk) as the corpus signature table: signatures are computed once
    * per document ever, not once per dedup run.
    */
  def bandTable(docs: DataFrame, idCol: String, textCol: String,
                k: Int = 16, bands: Int = 4, shingleN: Int = 2): DataFrame =
    // _outer: an inner explode infers size(bks) > 0, pushed down with the
    // kernel inlined; `bks` is never empty or null here, so no row is added
    minhashBands(docs, idCol, textCol, k, bands, shingleN)
      .select(col(idCol), posexplode_outer(col("bks")).as(Seq("band_id", "bk")))

  /** Incremental dedup: candidate pairs involving NEW documents only —
    * new×new plus new×existing — against a persisted [[bandTable]]. At
    * 100 TB this is the daily path: the existing corpus is never
    * re-shingled, the only work is the new batch's signatures (map-side)
    * and band joins keyed on compact ints; bucket the stored table on
    * `bk` and the big join side doesn't even shuffle. Output pairs are
    * (doc_a < doc_b) like [[minhashCandidates]].
    */
  def incrementalCandidates(newDocs: DataFrame, existingBands: DataFrame,
                            idCol: String, textCol: String,
                            k: Int = 16, bands: Int = 4): DataFrame = {
    // One join against the pooled (new ∪ existing) band rows instead of
    // two joins + persist — no cache entry to leak in a long-running
    // daily-increment service.
    val nb = bandTable(newDocs, idCol, textCol, k, bands)
    val pool = nb.withColumn("is_new", lit(true)).unionByName(
      existingBands.select(col(idCol), col("band_id"), col("bk"))
        .withColumn("is_new", lit(false)))
    // new×new pairs once (n.id < p.id); new×existing pairs once because
    // existing rows only ever appear on the pool side (n.id ≠ p.id, then
    // least/greatest orders the pair)
    nb.as("n").join(pool.as("p"),
        col("n.band_id") === col("p.band_id") && col("n.bk") === col("p.bk") &&
        (when(col("p.is_new"), col(s"n.$idCol") < col(s"p.$idCol"))
          .otherwise(col(s"n.$idCol") =!= col(s"p.$idCol"))))
      .select(least(col(s"n.$idCol"), col(s"p.$idCol")).as("doc_a"),
        greatest(col(s"n.$idCol"), col(s"p.$idCol")).as("doc_b"))
      .distinct()
  }

  /** Exact n-gram Jaccard verification over the LSH candidates — the
    * standard two-phase near-dup pipeline (cheap recall stage + exact
    * verify on candidates only, never all-pairs).
    */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   minJaccard: Double, k: Int = 16, bands: Int = 4): DataFrame = {
    val cands = minhashCandidates(docs, idCol, textCol, k, bands)
    val shA = docs.select(col(idCol).as("doc_a"), array_distinct(T.shingles(col(textCol))).as("a_sh"))
    val shB = docs.select(col(idCol).as("doc_b"), array_distinct(T.shingles(col(textCol))).as("b_sh"))
    val inter = size(array_intersect(col("a_sh"), col("b_sh"))).cast("double")
    val uni = (size(col("a_sh")) + size(col("b_sh"))).cast("double") - inter
    cands
      .join(shA, "doc_a")
      .join(shB, "doc_b")
      .select(col("doc_a"), col("doc_b"), round(inter / uni, 4).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** EXACT all-pairs Jaccard similarity join via prefix filtering — the
    * deterministic counterpart to the MinHash+LSH pipeline: LSH trades
    * recall for speed (pairs outside every band bucket are lost); this
    * finds EVERY pair with token-set Jaccard ≥ minNum/minDen, with the
    * candidate space cut by two sound filters instead of hashing:
    *
    *  - prefix filter: order each doc's token set by global rarity
    *    (document frequency asc, token asc); two sets with Jaccard ≥ τ
    *    MUST share a token inside each other's first
    *    L = |x| − ceil(τ·|x|) + 1 tokens, so only prefix tokens are
    *    indexed. Rare-first ordering makes prefix postings short — the
    *    self-join is keyed on the LOW-df tokens, the exact opposite of
    *    joining on stopwords.
    *  - length filter: Jaccard ≥ τ forces τ·|b| ≤ |a| (and symmetric),
    *    pruning cross-size candidates before verification.
    *
    * The threshold is a rational num/den so every filter bound and the
    * final accept test are pure int64 comparisons (ceil(τ·sz) =
    * (sz·num + den − 1) div den) — no float threshold anywhere, which is
    * what makes the operator's output engine-portable and verifiable
    * against a brute-force oracle. Shuffles: token-df aggregate, per-doc
    * sort, prefix self-join (short postings), verify join keyed on doc
    * ids. Never all-pairs.
    *
    * `touchIds` (single column `doc_id`, same type as `idCol`, must be
    * broadcast-sized — a fixed audit budget) restricts the output to
    * pairs TOUCHING the sample: exactly `full-output ∩ {doc_a ∈ S ∨
    * doc_b ∈ S}`, spec-pinned. This is the recall-audit shape: as the
    * GROUND-TRUTH half of `dedup_lsh_recall` the full self-join grows
    * ∝ N² (measured 96.8× candidates on 10× data, >80 GB of spill at
    * sf1); restricting each side of the candidate join to the sample in
    * turn (union) caps candidates at 2·|S|·postings = linear, and the
    * positional filter stays sound because within each branch every
    * (pa, pb) occurrence of a generated pair is still present — the
    * min-aggregate sees the same minima the full run would.
    */
  def prefixFilterJaccard(docs: DataFrame, idCol: String, textCol: String,
                          minNum: Long, minDen: Long, shingleN: Int = 2,
                          touchIds: Option[DataFrame] = None): DataFrame = {
    require(minNum > 0 && minDen >= minNum, "threshold must be in (0,1]")
    // shingle SETS, same similarity space as the MinHash family — raw
    // unigram sets are far too coarse on templated corpora (nearly every
    // pair clears 0.5), shingles carry word order and discriminate
    // two consumers (document frequencies + the rank-encode join):
    // materialize the explode once, as in bm25TopK/dupSpans
    val toks = CpuStage.fanOut(docs).select(col(idCol).as("doc_id"),
      explode(array_distinct(T.shingles(col(textCol), shingleN))).as("tok"))
      .localCheckpoint(true)
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // RANK-ENCODE the vocabulary: each shingle becomes its dense 1..V
    // rank in the global (df asc, token asc) rarity order, assigned by
    // the distributed GlobalRank operator (range partition + offsets —
    // no single-partition window, so a billion-shingle vocabulary ranks
    // fine). Every later stage — per-doc sort, prefix join, candidate
    // aggregate, and the exact verification intersect — then runs on
    // 8-byte longs instead of ~20-byte strings: the encoding is
    // injective, so the result is still EXACT, and ascending rank IS the
    // rarity order the prefix filter needs.
    val vocab = GlobalRank.globalRank(dfreq, Seq(col("df").asc, col("tok").asc))
      .select(col("tok"), col("grank").as("r"))
    // sets feeds THREE consumers (prefix index, verify side a, verify
    // side b); a lazy localCheckpoint truncates the shared lineage so the
    // shingle→rank pipeline runs once per action instead of three times
    val sets = toks.join(vocab, "tok")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("r"))).as("rs"))
      .select(col("doc_id"), col("rs"), size(col("rs")).cast("long").as("sz"))
      .localCheckpoint(true)
    val prefix = sets.select(col("doc_id"), col("sz"),
      posexplode(slice(col("rs"), lit(1),
        (col("sz") - expr(s"(sz * $minNum + ${minDen - 1}) div $minDen") + lit(1)).cast("int")))
        .as(Seq("pos0", "h")))
      .select(col("doc_id"), col("sz"), (col("pos0") + 1).as("pos"), col("h"))
    // ASYMMETRIC INDEX PREFIX (PPJoin's indexing/probing split): each
    // unordered pair is generated exactly once, with the size-larger
    // doc (ties broken by id) PROBING the size-smaller doc's INDEX.
    // The indexed side only needs its first
    // Li = sz − ceil(2τ/(1+τ)·sz) + 1 tokens, because the required
    // overlap α(x,y) = ceil(τ/(1+τ)(|x|+|y|)) ≥ ceil(2τ/(1+τ)·|y|)
    // when |y| ≤ |x| — the FIRST common token (smallest global rank)
    // sits at position ≤ sz − α + 1 in BOTH sets, hence inside the
    // probe prefix of x AND this shorter index prefix of y. At τ=1/2
    // Li ≈ sz/3 vs the probe's sz/2 — on a dense uniform vocabulary
    // (every posting long) the candidate join shrinks by the same
    // ratio, and the first-common-token argument keeps the positional
    // (pa, pb) bound sound unchanged.
    val idx = prefix.where(col("pos") <= col("sz") -
      expr(s"(sz * ${2 * minNum} + ${minNum + minDen - 1}) div ${minNum + minDen}") + lit(1))
    // positional (PPJoin) filter: positions in the rarity-sorted order are
    // monotone in the GLOBAL token rank, so the lowest-rank common prefix
    // token attains min(pa) and min(pb) simultaneously and no common
    // token precedes it in either set — overlap ≤ 1 + min(sza−pa, szb−pb)
    // is therefore a sound upper bound, checked against the overlap the
    // threshold demands: inter ≥ ceil((sza+szb)·num/(num+den)). On a
    // dense-vocabulary corpus this is the filter that actually bites
    // (prefix postings stay long when every token is common); it also
    // subsumes the pair-dedup a DISTINCT would otherwise pay for. The
    // same predicate is ALSO applied per join row BEFORE the aggregate:
    // dropping a row can only raise the pair's aggregated (pa, pb), so a
    // pair the min-aggregate would reject is never resurrected — but the
    // aggregate's input shrinks by the rows that already fail the bound.
    val ubound = lit(1) + least(col("sza") - col("pa"), col("szb") - col("pb"))
    val needed = expr(s"((sza + szb) * $minNum + ${minNum + minDen - 1}) div ${minNum + minDen}")
    // probe side a = the (size, id)-larger doc, index side b = the
    // smaller: a strict total order, so each unordered pair still
    // appears exactly once; output ids are re-normalized at the end.
    // The h-repartition carries an EXPLICIT partition count: the join's
    // INPUTS are tiny (one prefix row per indexed token) but its OUTPUT
    // fans out quadratically per posting, and AQE sizes reducer counts
    // from input bytes — left to ENSURE_REQUIREMENTS it coalesces this
    // join to ONE partition and runs the fan-out + partial aggregate
    // single-threaded (measured: 70% of the query's wall clock at
    // sf0.1). A user-specified count is exempt from AQE coalescing, so
    // the fan-out keeps the session's full parallelism. The index side
    // is the hash build: unhinted, AQE broadcast whichever side's stage
    // finished first, so the fan-out's shuffle bytes changed per run
    // (78.8 or 85.2 MB for the same 5.1M rows at sf0.1).
    val nPart = docs.sparkSession.sessionState.conf.numShufflePartitions
    val probe = prefix.select(col("doc_id").as("doc_a"), col("sz").as("sza"),
      col("pos").as("pa"), col("h"))
    val index = idx.select(col("doc_id").as("doc_b"), col("sz").as("szb"),
      col("pos").as("pb"), col("h"))
    val joined = touchIds match {
      case None =>
        probe.repartition(nPart, col("h"))
          .join(index.repartition(nPart, col("h")).hint("shuffle_hash"), "h")
      case Some(ids) =>
        // pairs touching the sample = (probe∈S ⋈ full index) ∪
        // (full probe ⋈ index∈S); a both-in-S pair appears in both
        // branches with identical rows — collapsed by the min-aggregate
        val sa = broadcast(ids.select(col("doc_id").as("doc_a")))
        val sb = broadcast(ids.select(col("doc_id").as("doc_b")))
        probe.join(sa, "doc_a").repartition(nPart, col("h"))
          .join(index.repartition(nPart, col("h")), "h")
          .unionByName(
            probe.repartition(nPart, col("h"))
              .join(index.join(sb, "doc_b").repartition(nPart, col("h")), "h"))
    }
    val cands = joined
      .where((col("szb") < col("sza") ||
          (col("szb") === col("sza") && col("doc_b") < col("doc_a"))) &&
        col("sza") * lit(minDen) >= col("szb") * lit(minNum) &&
        col("szb") * lit(minDen) >= col("sza") * lit(minNum) &&
        ubound >= needed)
      .groupBy(col("doc_a"), col("doc_b"), col("sza"), col("szb"))
      .agg(min(col("pa")).as("pa"), min(col("pb")).as("pb"))
      .where(ubound >= needed)
      .select(col("doc_a"), col("doc_b"))
    val a = sets.select(col("doc_id").as("doc_a"), col("rs").as("ta"), col("sz").as("la"))
    val b = sets.select(col("doc_id").as("doc_b"), col("rs").as("tb"), col("sz").as("lb"))
    // rs arrays are sorted distinct ranks, so the verification count uses
    // the codegen'd two-pointer walk (zero allocation per pair) instead
    // of array_intersect's hash set — the verify stage runs millions of
    // candidate pairs on a dense corpus
    val inter = graft.plans.VectorExpressions.sortedIntersectNative(col("ta"), col("tb"))
    cands.join(a, "doc_a").join(b, "doc_b")
      .withColumn("li", inter)
      .where(col("li") * lit(minDen) >= (col("la") + col("lb") - col("li")) * lit(minNum))
      // similarity as exact integer ppm (floor division), not
      // round(double,4): integer ratios can land exactly on a .xxxx5
      // boundary where engines' round() algorithms disagree (SURVEY §6)
      // — ids re-normalized to doc_a < doc_b (the join oriented them
      // by size for the asymmetric index, not by id)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"),
        expr("(li * 1000000L) div (la + lb - li)").as("jac_ppm"))
  }

  /** Connected components over a near-dup pair graph. cluster_id =
    * smallest doc id reachable — the canonical representative each
    * non-canonical doc collapses to. A pair with a null id names no
    * document and is dropped first, so no output row has a null doc_id.
    *
    * Two paths give the same components; a size rule picks one. The pair
    * graph becomes a persisted symmetric edge table (two ids per row). A
    * bounded probe reads at most [[SizeRule.driverRows]] + 1 of its rows
    * — Spark's own "small enough to ship whole" test,
    * `spark.sql.autoBroadcastJoinThreshold` at 16 bytes a row (two 8-byte
    * ids), capped by the driver heap at [[SizeRule.DriverRowBytes]] a
    * row. When the probe got the whole table and the ids are Long or
    * Int, a union-find over primitive arrays
    * finishes on the driver ([[driverComponents]]): a fixed few jobs,
    * whatever the diameter. Otherwise (a larger graph, other id types, or
    * a threshold ≤ 0, Spark's "never broadcast") the min-label
    * propagation rounds below run on the same persisted edges the probe
    * filled, so the pair plan is computed once either way. `maxIter`
    * and `doubling` govern only that distributed path.
    *
    * Distributed path: iterative min-label propagation until fixpoint.
    * Each iteration is exactly ONE join + one aggregate shuffle: the
    * neighbor-label contributions (edges ⋈ labels) union each node's own
    * label, and a single groupBy computes both the new label (min over
    * all contributions) and the old one (min over the self row) — the
    * convergence flag `label < old` falls out of the same pass, so no
    * second probe join is ever launched. Each round's labels go through
    * RELIABLE `checkpoint()` (driver-/storage-backed), not
    * `localCheckpoint`: on a multi-hour corpus-scale run a lost executor
    * must not kill the job, and lineage stays flat however many rounds
    * run. Rounds needed = graph diameter (near-dup clusters are
    * shallow); pass `doubling = true` for high-diameter graphs to add
    * a path-halving shortcut per round → O(log diameter) rounds.
    * The driver only ever sees a single boolean (changed?) per round,
    * never data.
    *
    * Hop batching (k propagation hops per barrier, testing only the
    * last hop's `chg` — sound, since one no-change hop proves the
    * fixpoint) was implemented and MEASURED A LOSS in r16, twice:
    * every hop's input is referenced twice downstream (ccRound's
    * neighbor join + self-label union, halveRound's self-join), so
    * stacked unmaterialized hops recompute 2^depth times (6-query
    * family 24.9 -> 32.1 -> 47.6 s at k=1/2/3), and persisting the
    * intermediate hops to stop the blowup still lost (k=2 barriers ran
    * ~3.0 s vs two ~1.0 s k=1 barriers; the per-round cache write is
    * the same money the skipped barrier cost — the r15
    * persist-before-checkpoint lesson again). One hop per barrier
    * stands.
    */
  def clusters(pairs: DataFrame, maxIter: Int = 20,
               doubling: Boolean = false): DataFrame = {
    val live = pairs.where(col("doc_a").isNotNull && col("doc_b").isNotNull)
    // no distinct: ngram/simhash/embedding pair generators emit unique
    // (a<b) pairs, so the two directions cannot collide — and min-label
    // propagation is duplicate-insensitive anyway, so the dedup shuffle
    // would be pure overhead even for callers that do pass dups
    val edges = live.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(live.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .persist()
    val maxEdges = SizeRule.driverRows(pairs.sparkSession, SizeRule.EdgeRowBytes)
    val idType = edges.schema("u").dataType
    // bounded probe: at most maxEdges + 1 rows, read from the persisted
    // edges (the job that fills the cache the rounds would read anyway)
    val probe =
      if (maxEdges > 0 && (idType == LongType || idType == IntegerType))
        Some(edges.select(col("u").cast(LongType), col("v").cast(LongType))
          .limit(maxEdges.toInt + 1).collect())
      else None
    val out = probe.filter(_.length <= maxEdges) match {
      case Some(rows) => driverComponents(edges.sparkSession, rows, idType)
      case None => propagate(edges, maxIter, doubling)
    }
    edges.unpersist()
    out
  }

  /** The driver path of [[clusters]]: [[SizeRule.components]] over the
    * whole symmetric edge table (`rows` of (u, v) longs), whose labels
    * are the propagation fixpoint's. The result is a local relation with
    * the distributed path's column names and id type.
    */
  private def driverComponents(spark: SparkSession, rows: Array[Row],
                               idType: DataType): DataFrame = {
    val (ids, labels) =
      SizeRule.components(rows.map(_.getLong(0)), rows.map(_.getLong(1)))
    val out = ids.indices.map { i =>
      if (idType == IntegerType) Row(ids(i).toInt, labels(i).toInt)
      else Row(ids(i), labels(i))
    }
    // nullability as the propagation rounds leave it: node ids come from
    // null-filtered pairs, labels from an aggregate min
    val schema = StructType(Seq(StructField("doc_id", idType, nullable = false),
      StructField("cluster_id", idType, nullable = true)))
    spark.createDataFrame(out.asJava, schema)
  }

  /** The distributed path of [[clusters]]: checkpointed min-label rounds
    * over the persisted symmetric `edges` (see [[clusters]] for the loop's
    * contract).
    */
  private def propagate(edges: DataFrame, maxIter: Int, doubling: Boolean): DataFrame = {
    val spark = edges.sparkSession
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      // a driver-local tmp dir is only a valid checkpoint target in local
      // mode; on a cluster the caller must point this at durable shared
      // storage or the reliability story is silently void
      require(spark.sparkContext.isLocal,
        "Dedup.clusters needs a reliable checkpoint dir on a cluster: " +
          "call spark.sparkContext.setCheckpointDir(<durable shared path>) first")
      // per-application subdir: concurrent/successive local runs must not
      // share (or clobber) one fixed tmp path
      spark.sparkContext.setCheckpointDir(
        s"${System.getProperty("java.io.tmpdir")}/graft_checkpoints/" +
          spark.sparkContext.applicationId)
    }
    // Reliable checkpoints are only deleted by the ContextCleaner when
    // spark.cleaner.referenceTracking.cleanCheckpoints=true (GraftSession
    // sets it); otherwise each round's labels accumulate in the
    // checkpoint dir for the life of the app — at one dir per round per
    // corpus-scale run that is real storage, so warn loudly.
    if (spark.conf.getOption("spark.cleaner.referenceTracking.cleanCheckpoints")
          .forall(_ != "true")) {
      Console.err.println(
        "graft.Dedup.clusters: set spark.cleaner.referenceTracking." +
          "cleanCheckpoints=true to reclaim per-round checkpoint dirs")
    }
    // round 1 fused into initialization: with label(v) = v initially the
    // first propagation is just min(u, min(neighbors)) — one aggregate,
    // no join, no separate identity-labels materialization
    val dbg = sys.env.contains("GRAFT_CC_DEBUG")
    val t0 = System.nanoTime()
    // stats-resetting barriers ([[Barrier]]): with doubling=true the
    // halving step SELF-JOINS the label table, and a raw checkpoint's
    // carried size estimate would square per round — 2^rounds bits of
    // BigInt by round 15, all burned in the driver's stats arithmetic
    var labels = Barrier.reliable(edges.groupBy(col("u"))
      .agg(least(col("u"), min(col("v"))).as("label")))
    if (dbg) println(f"[cc] init ${(System.nanoTime() - t0) / 1e9}%.2f")
    var iter = 1
    var changed = true
    while (changed && iter < maxIter) {
      val tR = System.nanoTime()
      val prop = ccRound(edges, labels)
      // eager barrier: materializes the round once, reliably
      val next = Barrier.reliable(if (doubling) halveRound(prop) else prop)
      // cheap scan of the checkpointed output — not a recompute; coalesce
      // covers the empty-graph case (max over zero rows is null)
      changed = next.agg(coalesce(max(col("chg")), lit(false))).first().getBoolean(0)
      labels = next.drop("chg")
      if (dbg) println(f"[cc] round $iter chg=$changed " +
        f"${(System.nanoTime() - tR) / 1e9}%.2f")
      iter += 1
    }
    labels.select(col("u").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Path-halving step for the `doubling = true` variant of
    * [[clusters]]: after each one-hop propagation, shortcut
    * label(u) ← min(label(u), label(label(u))) with one self-join on
    * the label table. One-hop propagation alone needs diameter rounds —
    * right for shallow near-dup graphs, hopeless for high-diameter
    * graphs (spatial grids, road-network-shaped link graphs) where
    * label chains grow a constant per round. With the halving step the
    * labeled horizon compounds geometrically → O(log diameter) rounds.
    * Every label is a node id inside the same component (invariant of
    * both steps), so the shortcut join always hits; the round's changed
    * flag ORs in the halving change so the fixpoint test still covers
    * the full round. Fixpoint ⇒ every label is a self-labeled root and
    * roots absorb their whole component ⇒ label = component min.
    */
  private[graft] def halveRound(l: DataFrame): DataFrame =
    l.join(l.select(col("u").as("p_u"), col("label").as("p_label")),
        col("label") === col("p_u"))
      .select(col("u"),
        least(col("label"), col("p_label")).as("label"),
        (col("chg") || col("p_label") < col("label")).as("chg"))

  /** One min-label-propagation round: neighbor-label contributions union
    * each node's own label, then a single aggregate derives (new label,
    * changed?). Exactly one join + one aggregate shuffle — PlanSpec pins
    * this so a regression back to a per-round probe join fails CI.
    */
  private[graft] def ccRound(edges: DataFrame, labels: DataFrame): DataFrame =
    edges
      .join(labels.select(col("u").as("v"), col("label").as("nl")), "v")
      .select(col("u"), col("nl"), lit(false).as("is_self"))
      .unionByName(labels.select(col("u"), col("label").as("nl"), lit(true).as("is_self")))
      .groupBy(col("u"))
      .agg(min(col("nl")).as("label"),
        min(when(col("is_self"), col("nl"))).as("old"))
      .withColumn("chg", col("label") < col("old"))
      .drop("old")

  /** Cluster-representative selection by QUALITY: for each near-dup
    * cluster, keep the highest-quality member (ties → smallest id) —
    * what production pipelines actually retain, rather than the
    * smallest-id canonical [[clusters]] emits. Rank runs per cluster on
    * the already-rounded quality score, so the choice is reproducible
    * across engines; the window partitions on the cluster id (one
    * shuffle over cluster members only, never the corpus).
    */
  def keepBestInCluster(docs: DataFrame, idCol: String, textCol: String,
                        minJaccard: Double): DataFrame = {
    val cl = clusters(ngramJaccard(docs, idCol, textCol, minJaccard))
    val scored = cl.join(
      docs.select(col(idCol).as("doc_id"), T.qualityScore(col(textCol)).as("q")), "doc_id")
    keepBest(scored, "q", "keep_q", "n_docs")
  }

  /** One row per cluster of `scored` (cluster_id, doc_id, `score`): the
    * member ranked first by `score` desc, ties → smallest id, as
    * `keep_id`, its score as `keepScore`, and the member count as
    * `nCol`. The window partitions on the cluster id, so it shuffles
    * cluster members only.
    */
  private def keepBest(scored: DataFrame, score: String, keepScore: String,
                       nCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cluster_id")).orderBy(col(score).desc, col("doc_id").asc)
    scored.withColumn("__rk", row_number().over(w))
      .groupBy(col("cluster_id"))
      .agg(min(when(col("__rk") === 1, col("doc_id"))).as("keep_id"),
        min(when(col("__rk") === 1, col(score))).as(keepScore),
        count(lit(1)).as(nCol))
  }

  /** C4-style cleaning composition: drop non-canonical near-dups (docs
    * with a verified duplicate of smaller id), keep docs above the quality
    * threshold, annotate with language. One LSH pass + narrow filters.
    */
  def cleanCorpus(docs: DataFrame, idCol: String, textCol: String,
                  minJaccard: Double, minQuality: Double): DataFrame = {
    val dupIds = ngramJaccard(docs, idCol, textCol, minJaccard)
      .select(col("doc_b")).distinct()
    docs.join(dupIds, docs(idCol) === dupIds("doc_b"), "left_anti")
      .select(col(idCol),
        T.qualityScore(col(textCol)).as("qscore"),
        T.langId(col(textCol)).as("lang_pred"))
      .where(col("qscore") >= minQuality)
  }

  /** Benchmark decontamination: drop corpus documents that share ANY
    * minhash LSH band with a document of the (much smaller) benchmark
    * set — the standard train/test-overlap scrub before training.
    * Signatures are map-side for both sides; the contaminated-id set is
    * a semi-join on (band, bandkey) — the benchmark side is tiny, so the
    * band join broadcasts; the corpus is then anti-joined on the compact
    * id set. Never all-pairs, corpus payloads never shuffle.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, k: Int = 16, bands: Int = 4): DataFrame = {
    val cb = bandTable(corpus, idCol, textCol, k, bands)
    val bb = bandTable(benchmark, idCol, textCol, k, bands)
      .select(col("band_id"), col("bk"))
    val contaminated = cb.join(broadcast(bb), Seq("band_id", "bk"), "left_semi")
      .select(col(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Asymmetric containment scores for decontamination:
    * `|A∩B| / |A|` where A is a benchmark item's shingle-hash set and B a
    * corpus doc's — the metric that actually catches "the benchmark
    * question is quoted inside a much larger training document", which
    * symmetric Jaccard dilutes toward 0 as the doc grows.
    *
    * Shape for a huge corpus × small benchmark: both sides become
    * distinct (id, shingle-hash) postings; the benchmark postings
    * BROADCAST, so the only shuffle is the (doc, bench) match-count
    * aggregate — each common shingle contributes exactly one row, making
    * the count the EXACT intersection size, no array verify stage
    * needed. Scores are integer ppm with a rational threshold
    * (`li·den ≥ |A|·num`), SURVEY §6 rules.
    */
  def containmentScores(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                        textCol: String, minNum: Long, minDen: Long,
                        n: Int = 2): DataFrame = {
    def hashes(df: DataFrame, outId: String) =
      df.select(col(idCol).as(outId),
          explode(array_distinct(T.shingles(col(textCol), n))).as("s"))
        .select(col(outId), H.shingleHash(col("s")).as("h"))
        .distinct() // two shingles can collide mod P: sets, not bags
    val cs = hashes(corpus, "doc_id")
    val bs = hashes(benchmark, "bench_id")
    val bsz = bs.groupBy(col("bench_id")).agg(count(lit(1)).as("asz"))
    cs.join(broadcast(bs), "h")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("li"))
      .join(broadcast(bsz), "bench_id")
      .where(col("li") * lit(minDen) >= col("asz") * lit(minNum))
      .select(col("doc_id"), col("bench_id"),
        expr("(li * 1000000L) div asz").as("cont_ppm"))
  }

  /** 64-bit SimHash signatures as two 32-bit halves: explode tokens → 64
    * partial sums in ONE hash aggregate (map-side combine ⇒ the shuffle
    * carries (doc, 64 longs)), then sign → bit → two packed 32-bit longs
    * (`sim_lo` = bits 0..31, `sim_hi` = bits 32..63 — a single 64-bit pack
    * would be sign/overflow-fragile across engines). Candidate keys are
    * derived inside [[signaturePairs]] (6-block triple probe).
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // no width floor — same r15 A/B verdict as [[minhashBands]]: the
    // payload repartition cost exceeds the parallelism gain here
    val tok = docs
      .select(col(idCol), explode(T.tokens(col(textCol))).as("t"))
      .select(col(idCol), H.tokenHalf(col("t"), 0).as("vlo"), H.tokenHalf(col("t"), 1).as("vhi"))
    val weights = (0 until 64).map { b =>
      val v = if (b < 32) col("vlo") else col("vhi")
      sum(shiftright(v, b % 32).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)).as(s"w$b")
    }
    val agg = tok.groupBy(col(idCol)).agg(weights.head, weights.tail: _*)
    def pack(from: Int): Column = (0 until 32).map { b =>
      when(col(s"w${from + b}") >= 0, lit(1L)).otherwise(lit(0L)) * lit(1L << b)
    }.reduce(_ + _)
    agg.select(col(idCol), pack(0).as("sim_lo"), pack(32).as("sim_hi"))
  }

  /** Near-dup pairs at hamming distance <= maxDist over ANY 64-bit
    * signature table with the (idCol, sim_lo, sim_hi) schema.
    *
    * Candidate generation is the Manku/WWW'07-style multi-block probe:
    * the 64 bits split into SIX blocks (widths 11,11,11,11,10,10); a
    * pair within distance 3 has its differing bits in at most 3 blocks,
    * so at least 3 blocks match EXACTLY and the pair shares at least
    * one of the C(6,3) = 20 block TRIPLES. The join key is one packed
    * long (triple id + the 3 block values, ~2^38 distinct keys), so
    * expected RANDOM collisions are ~20·C(N,2)/2^33 — vs the single
    * 16-bit-block scheme this replaces, whose candidate stream carried
    * the birthday bound 4·C(N,2)/2^16: quadratic in N regardless of how
    * many near-dups exist, ~10^13 phantom candidates at 10^9 docs where
    * the triple probe's random term stays ~10^9.
    *
    * Identical signatures are collapsed BEFORE the probe (the
    * er_resolve collapse-exact-dups-first pattern): real corpora are
    * full of exact-duplicate content, and a clique of c equal
    * signatures costs every bucket-join scheme Θ(c²) hash-bucket
    * iterations per probe key — measured here as 20·Σc² ≈ 980M
    * join-condition evaluations (1343 CPU-s in one stage) on a fixture
    * whose 100k aHashes held only ~5k distinct values. Decomposed as
    *   intra: members self-join on the full 64-bit value
    *          (distance 0 by definition — no probe, output-sized),
    *   inter: triple probe over DISTINCT signatures only, then an
    *          expansion join back to members (output-sized),
    * the operator is output-optimal: candidate work is paid once per
    * unique signature, never amplified by duplicate content. A matched
    * signature pair can share up to all 20 triples, so instead of a
    * distinct() the probe keeps each pair exactly once: both signatures
    * ride the joined row, and the row whose triple id is the pair's
    * FIRST matching triple is identified with 20 codegen'd key
    * comparisons and kept map-side — no candidate ever crosses a second
    * shuffle.
    */
  def signaturePairs(sig: DataFrame, idCol: String,
                     maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "6-block triple probe is only complete for distance <= 3")
    // ONE explicit exchange on the signature value feeds every consumer
    // below (intra both sides, the distinct, both expansion sides) as a
    // ReusedExchange: the upstream signature computation (tokenize+agg /
    // image decode) runs exactly once, and the (sim_lo, sim_hi) hash
    // partitioning already satisfies every downstream join/agg key.
    // The isNotNull is LOAD-BEARING for that reuse, not a semantic
    // filter: the intra equi-join null-rejects idCol, so Catalyst
    // infers IsNotNull(idCol) and pushes it into THAT path's scan only
    // — the window path's scan stays unfiltered, the two subtrees
    // canonicalize differently, and exchange reuse silently fails
    // (measured r12: the whole tokenize+agg ran twice, two 0.7 s
    // single-task stages at sf0.1). Filtering here puts the same
    // pushed predicate on every consumer's scan.
    val m = sig.select(col(idCol), col("sim_lo"), col("sim_hi"))
      .where(col(idCol).isNotNull)
      .repartition(col("sim_lo"), col("sim_hi"))
      // shuffle_hash (not broadcast) so BOTH intra sides read the one
      // reused exchange above — a broadcast build would re-evaluate the
      // whole signature subtree (tokenize/decode) a second time
      .hint("shuffle_hash")
    // intra-clique: equal signatures are distance 0; the full 64-bit
    // equi-join key admits no phantom collisions, so output IS work
    val intra = m.as("ia").join(m.as("ib"),
        col("ia.sim_lo") === col("ib.sim_lo") &&
        col("ia.sim_hi") === col("ib.sim_hi") &&
        col(s"ia.$idCol") < col(s"ib.$idCol"))
      .select(col(s"ia.$idCol").as("doc_a"), col(s"ib.$idCol").as("doc_b"),
        lit(0L).as("hamming"))
    // lo/hi each hold 32 signature bits in their low halves; blocks are
    // sliced from the reconstructed 64-bit value (arithmetic shiftright
    // sign-extension is masked off, so the top block is exact too)
    def blockCols(lo: Column, hi: Column): Seq[Column] = {
      val full = lo.bitwiseOR(shiftleft(hi, 32))
      Seq((0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10)).map {
        case (off, w) => shiftright(full, off).bitwiseAND(lit((1L << w) - 1L))
      }
    }
    val triples = (0 until 6).combinations(3).toSeq
    def keys(lo: Column, hi: Column): Seq[Column] = {
      val bs = blockCols(lo, hi)
      triples.zipWithIndex.map { case (t, ti) =>
        t.foldLeft(lit(ti.toLong): Column)((acc, bi) => acc * lit(2048L) + bs(bi))
      }
    }
    // distinct signatures as clique REPRESENTATIVES (min id per
    // signature, a windowed filter rather than a distinct): the window
    // genuinely consumes every column, so column pruning cannot narrow
    // this consumer's schema and split it off the shared exchange the
    // way a select(lo,hi).distinct() measurably did (tokenize/decode
    // ran once per consumer schema).
    // SHUFFLE_HASH, never broadcast: at real N the exploded key table
    // (20 rows per distinct signature) must partition by key —
    // broadcasting it is quadratic driver pressure (measured sf1: the
    // auto-chosen broadcast build cost 159 s vs shuffled) — and the
    // per-partition hash build is bounded by 20·U/partitions
    import org.apache.spark.sql.expressions.Window
    val uniq = m.withColumn("rep",
        min(col(idCol)).over(Window.partitionBy(col("sim_lo"), col("sim_hi"))))
      .where(col("rep") === col(idCol))
    val blocks = uniq.select(col("sim_lo"), col("sim_hi"),
      explode(array(keys(col("sim_lo"), col("sim_hi")): _*)).as("bk"))
      // PIN the probe join's parallelism (fixed-N repartition on the
      // join key): AQE coalesces this exchange by its INPUT bytes (the
      // exploded key table is small) while the bucket join's work is
      // condition evaluations — measured 2 tasks carrying the whole
      // probe at sf0.1. Fixed-N opts the exchange out of coalescing;
      // the join reads both sides from this one pinned exchange.
      .transform(d => d.repartition(
        d.sparkSession.sessionState.conf.numShufflePartitions, col("bk")))
      .hint("shuffle_hash")
    val a = blocks.as("a")
    val b = blocks.as("b")
    // per-half xor popcounts sum to the exact 64-bit hamming distance;
    // distinct signatures are ordered lexicographically so each
    // unordered pair is probed exactly once
    val ham = (expr("bit_count(a.sim_lo ^ b.sim_lo)") +
      expr("bit_count(a.sim_hi ^ b.sim_hi)")).cast("long")
    val sigOrder = col("a.sim_lo") < col("b.sim_lo") ||
      (col("a.sim_lo") === col("b.sim_lo") && col("a.sim_hi") < col("b.sim_hi"))
    val aKeys = keys(col("a.sim_lo"), col("a.sim_hi"))
    val bKeys = keys(col("b.sim_lo"), col("b.sim_hi"))
    val matches = array(aKeys.zip(bKeys).map { case (ka, kb) => ka === kb }: _*)
    // this row's triple id (bk >> 33: three 11-bit value slots below it)
    // == the pair's first matching triple ⇔ keep: exactly one emit per
    // qualifying signature pair
    val firstEmit =
      array_position(matches, lit(true)) === shiftright(col("a.bk"), 33) + lit(1L)
    val sigPairs = a.join(b, col("a.bk") === col("b.bk") && sigOrder)
      .where(ham <= maxDist && firstEmit)
      .select(col("a.sim_lo").as("alo"), col("a.sim_hi").as("ahi"),
        col("b.sim_lo").as("blo"), col("b.sim_hi").as("bhi"), ham.as("hamming"))
    // expansion: each qualifying signature pair fans back out to its
    // members on both sides — output-sized by construction
    val inter = sigPairs
      .join(m.as("xa"),
        col("xa.sim_lo") === col("alo") && col("xa.sim_hi") === col("ahi"))
      .join(m.as("xb"),
        col("xb.sim_lo") === col("blo") && col("xb.sim_hi") === col("bhi"))
      .select(least(col(s"xa.$idCol"), col(s"xb.$idCol")).as("doc_a"),
        greatest(col(s"xa.$idCol"), col(s"xb.$idCol")).as("doc_b"), col("hamming"))
    intra.unionByName(inter)
  }

  /** SimHash near-dup pairs: [[simhash]] signatures through
    * [[signaturePairs]].
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame =
    signaturePairs(simhash(docs, idCol, textCol), idCol, maxDist)

  /** Embedding near-dup pairs: banded random-hyperplane LSH (bands of
    * `rows` sign-bits, OR across bands) for candidates, exact cosine
    * verify at `minCos`. Only in-bucket pairs are ever scored.
    */
  def embeddingNearDup(emb: DataFrame, idCol: String, vecCol: String, minCos: Double,
                       planes: Int = 32, bands: Int = 8, dims: Int = 64): DataFrame =
    scoredCandidatePairs(emb, idCol, vecCol, planes, bands, dims)
      .where(col("cos") >= minCos)

  /** LSH candidate pairs with their exact cosine, BEFORE any acceptance
    * threshold — the shared kernel of [[embeddingNearDup]] and
    * [[nearDupSweep]].
    *
    * Bitwise-equal vectors are collapsed BEFORE the LSH join (the same
    * er_resolve decomposition as [[signaturePairs]], and for the same
    * measured reason: WorkProbe r11 read 1.87M → 187.8M join rows on
    * 10× data — exactly 100×, because exact-duplicate vectors clique
    * inside every band bucket and Θ(c²) amplifies both the candidate
    * join and the distinct). Equal vectors share ALL bands, so they are
    * candidates by definition (cos = 1.0 after the oracle's 4-dp
    * round); distinct vectors keep the banded join; qualifying
    * representative pairs expand back to members on integer rep keys.
    * The candidate SET is provably identical — only the work changes:
    * LSH is paid once per distinct vector, expansion is output-sized.
    */
  private def scoredCandidatePairs(emb: DataFrame, idCol: String,
                                   vecCol: String, planes: Int, bands: Int,
                                   dims: Int): DataFrame = {
    val (mrep, repPairs) = repScoredPairs(emb, idCol, vecCol, planes, bands, dims)
    // intra-clique on the integer rep key (same co-members ⇔ same
    // bitwise vector); shuffle_hash so both sides reuse one exchange
    val mm = mrep.hint("shuffle_hash")
    val intra = mm.as("ia").join(mm.as("ib"),
        col("ia.rep") === col("ib.rep") &&
        col(s"ia.$idCol") < col(s"ib.$idCol"))
      .select(col(s"ia.$idCol").as("id_a"), col(s"ib.$idCol").as("id_b"),
        // the clique-constant self-cos, the kernel at (v·v, ‖v‖, ‖v‖): 1.0
        // to the 4-dp round for any NONZERO finite vector, null for the all-zero
        // vector and NaN for a NaN-carrying one — exactly what the
        // oracle's per-pair cosine computes, so degenerate vectors stay
        // in lockstep instead of being promoted to cos=1.0
        col("ia.selfcos").as("cos"))
    val inter = repPairs
      .join(mm.select(col(idCol).as("ma"), col("rep").as("ra")), "ra")
      .join(mm.select(col(idCol).as("mb"), col("rep").as("rb")), "rb")
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("cos"))
    intra.unionByName(inter)
  }

  /** Clique representatives + rep-level LSH-scored pairs — the shared
    * decomposition under [[scoredCandidatePairs]] and [[nearDupSweep]].
    * Returns (members-with-rep, (ra, rb, cos) pairs over distinct
    * vectors with 0 < angular distance, i.e. ra < rb reps that share at
    * least one band).
    */
  private def repScoredPairs(emb: DataFrame, idCol: String, vecCol: String,
                             planes: Int, bands: Int,
                             dims: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val nPart = emb.sparkSession.sessionState.conf.numShufflePartitions
    // one exchange on the vector value feeds the rep window; downstream
    // consumers key on the integer rep. NOTE a user repartition on
    // vecCol cannot pin this exchange: the window's required clustering
    // is on the FLOAT-NORMALIZED vector (NormalizeNaNAndZero), which a
    // raw-column repartition does not satisfy — EnsureRequirements adds
    // a second exchange on top (measured r13), so the window exchange
    // stays AQE-sized (bytes-proportional — correct at scale, 1 task on
    // sub-MB fixtures).
    val m = emb.select(col(idCol), col(vecCol))
    // MATERIALIZE the rep table once (lazy local checkpoint, the
    // mixtureSample pattern): it feeds SIX consumers (reps→bands, va,
    // vb, intra ia/ib, the inter ma/mb expansions, and the sweep's
    // count), whose differing column pruning splits exchange reuse —
    // the r13 plan dump showed six full scan→exchange→window copies,
    // each a single-task stage at sf0.1. One row per vector (the same
    // size class as the input the kernel already shuffles once), so the
    // checkpoint is the one-pass trade, not a new envelope.
    val mrep = m.withColumn("rep",
        min(col(idCol)).over(Window.partitionBy(col(vecCol))))
      // clique-constant self-cosine (see scoredCandidatePairs' intra
      // branch): 1.0 for any nonzero finite vector, null for the all-zero
      // vector, NaN for a NaN-carrying one — the same algebra the oracle
      // applies to every pair
      .withColumn("selfcos",
        V.cosine4(V.dot(col(vecCol), col(vecCol)), V.norm(col(vecCol)), V.norm(col(vecCol))))
      .localCheckpoint(false)
    val reps = mrep.where(col("rep") === col(idCol))
    // pin the probe join's parallelism on its key (the signaturePairs
    // pattern): the exploded band table is input-small but the bucket
    // join fans out ~26× (32k → 821k rows measured at sf0.1) — exactly
    // the shape AQE starves by coalescing on input bytes
    val cands = Similarity.hyperplaneBands(reps, idCol, vecCol, planes, bands, dims)
      .select(col(idCol), posexplode(col("bandvals")).as(Seq("band_id", "bv")))
      .repartition(nPart, col("band_id"), col("bv"))
      .hint("shuffle_hash")
    val a = cands.as("a")
    val b = cands.as("b")
    val pairs = a.join(b,
        col("a.band_id") === col("b.band_id") && col("a.bv") === col("b.bv") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    val va = reps.select(col(idCol).as("id_a"), col(vecCol).as("va"), V.norm(col(vecCol)).as("na"))
    val vb = reps.select(col(idCol).as("id_b"), col(vecCol).as("vb"), V.norm(col(vecCol)).as("nb"))
    val repPairs = pairs.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a").as("ra"), col("id_b").as("rb"),
        V.cosine4(V.dot(col("va"), col("vb")), col("na"), col("nb")).as("cos"))
    (mrep.select(col(idCol), col("rep"), col("selfcos")), repPairs)
  }

  /** Threshold-tuning sweep: the LSH candidate pairs bucketed into
    * 0.05-wide cosine bands with a descending cumulative count — one
    * pass answers "how many pairs would every candidate threshold
    * accept", which is how the [[embeddingNearDup]] cutoff gets chosen
    * instead of guessed. The cumulative window runs over ≤ 41 band
    * rows (declared bounded).
    *
    * Counts are aggregated as clique WEIGHTS (ca·cb per rep pair,
    * C(c,2) per clique at the 1.0 band) — the sweep never materializes
    * a member pair, so its cost is independent of how duplicate-heavy
    * the corpus is (the member expansion measured 82M rows at sf1
    * before this; the counts are identical by multiplication).
    */
  def nearDupSweep(emb: DataFrame, idCol: String, vecCol: String,
                   planes: Int = 32, bands: Int = 8,
                   dims: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (mrep, repPairs) = repScoredPairs(emb, idCol, vecCol, planes, bands, dims)
    val cnt = mrep.groupBy(col("rep"))
      .agg(count(lit(1)).as("c"), min(col("selfcos")).as("selfcos"))
    val intraBands = cnt.where(col("c") > 1)
      // band from the clique's own cosine (20 for any nonzero vector,
      // degenerate-vector parity with the oracle's per-pair floor)
      .select(floor(col("selfcos") * 20).cast("long").as("band20"),
        (col("c") * (col("c") - 1) / 2).cast("long").as("w"))
    val interBands = repPairs
      .join(cnt.select(col("rep").as("ra"), col("c").as("ca")), "ra")
      .join(cnt.select(col("rep").as("rb"), col("c").as("cb")), "rb")
      .select(floor(col("cos") * 20).cast("long").as("band20"),
        (col("ca") * col("cb")).as("w"))
    val per = intraBands.unionByName(interBands)
      .groupBy(col("band20")).agg(sum(col("w")).as("n_pairs"))
    val w = Window.partitionBy(lit(0)) // declared bounded: ≤ 41 bands
      .orderBy(col("band20").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per.withColumn("n_pairs_ge", sum(col("n_pairs")).over(w))
      .select((col("band20") * 50000L).as("thr_lo_ppm"), col("n_pairs"),
        col("n_pairs_ge"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with trained k-means
    * centroids, prune near-duplicates WITHIN each cell, and keep each
    * duplicate group's most prototypical member (highest cosine to its
    * cell centroid; ties → smallest id). The composition the paper runs
    * over LAION/CC: `kmeansFit` provides `cents`; this stage assigns,
    * pairs, clusters, and picks.
    *
    * Scale shape: assignment is a map-side codegen'd argmax against
    * literal centroids (no join). The pair stage is all-pairs WITHIN a
    * cell only — quadratic in cell occupancy, never in the corpus, and
    * the paper's own scale lever applies: grow the cell count with the
    * corpus so occupancy stays bounded (50k cells for LAION-440M). Near
    * -dup groups come from [[clusters]] (pointer-doubling CC over the
    * verified pairs); the keep rank is a per-cluster window over cluster
    * members only. Output: `(cluster_id, keep_id, keep_cos, n_vecs)`.
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    cents: Seq[Seq[Double]], minCos: Double): DataFrame = {
    // per-centroid norms as Scala literals: same left-fold order as the
    // oracle's SQL sum, so the rounded cosine is engine-identical
    val centNorm = cents.map(w => math.sqrt(w.map(x => x * x).sum))
    val asg = emb.select(col(idCol).as("doc_id"), col(vecCol).as("v"),
        V.norm(col(vecCol)).as("nv"),
        Similarity.cellFor(col(vecCol), cents).cast("long").as("cell"))
      .localCheckpoint(false) // three consumers: both pair sides + keep rank
    val a = asg.select(col("cell"), col("doc_id").as("id_a"),
      col("v").as("va"), col("nv").as("na"))
    val b = asg.select(col("cell"), col("doc_id").as("id_b"),
      col("v").as("vb"), col("nv").as("nb"))
    val pairs = a.join(b, Seq("cell"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        V.cosine4(V.dot(col("va"), col("vb")), col("na"), col("nb")).as("cos"))
      .where(col("cos") >= minCos)
    val cl = clusters(pairs.select(col("doc_a"), col("doc_b")))
    // cosine to the OWN cell's centroid: all centroid dots are literal
    // expressions; element_at picks the assigned cell's dot and norm, so
    // the row is scored once
    def ofCell(xs: Seq[Column]) = element_at(array(xs: _*), (col("cell") + 1).cast("int"))
    val dcent = asg.select(col("doc_id"),
      V.cosine4(ofCell(cents.map(V.dotConst(col("v"), _))), col("nv"), ofCell(centNorm.map(lit)))
        .as("dcent"))
    keepBest(cl.join(dcent, "doc_id"), "dcent", "keep_cos", "n_vecs")
  }

  /** Exact duplicate-span audit (the substring-level dedup signal of Lee
    * et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", at word granularity): every n-token span that appears in
    * two or more DISTINCT documents is a duplicated span; per document,
    * report how much of it is covered by such spans. This is the
    * measurement pass that decides whether span-level cutting is worth
    * running on a corpus — doc-level MinHash misses boilerplate shared
    * across otherwise-distinct pages, and this catches exactly that.
    *
    * Scale: span instances carry a 16-byte md5, never the span text, so
    * the only wide data is (doc_id, digest). The duplicate-set aggregate
    * and the membership join key on the SAME digest column — one
    * exchange, reused — and the per-doc rollup is the final keyed
    * aggregate. Span text is reconstructible from (doc, position) when a
    * cutter needs it; the audit never materializes it.
    */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 2, "spans need n >= 2 tokens")
    // collapse to (doc, span-digest, multiplicity) FIRST: the explode+md5
    // runs once, repeats combine map-side, and everything downstream —
    // the distinct-doc census, the membership join (both keyed on the
    // digest: one exchange, reused), and the per-doc rollup — moves the
    // compact pair table instead of raw span instances
    val perDoc = docs.select(col(idCol).as("doc_id"),
        explode(T.shingles(col(textCol), n)).as("g"))
      // 16-byte binary digest (key-only; see TextOps.shingleDigests)
      .groupBy(col("doc_id"), unhex(md5(col("g"))).as("h"))
      .agg(count(lit(1)).as("cnt"))
      // two consumers (census + membership join): materialize once so
      // the shingle explode never re-runs
      .localCheckpoint(false)
    val census = perDoc.groupBy(col("h"))
      .agg(count(lit(1)).as("nd")) // rows are doc-distinct by construction
    perDoc.join(census, "h")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_spans"),
        sum(when(col("nd") >= 2, col("cnt")).otherwise(0L)).as("n_dup"))
      .withColumn("dup_ppm", expr("n_dup * 1000000L div n_spans"))
  }

  /** Source×source content-overlap matrix: for every ordered source pair
    * (a < b), how many distinct document texts appear in BOTH — the
    * provenance audit a corpus mixer runs before weighting sources
    * (double-counted mass inflates a source's apparent contribution and
    * re-surfaces dedup'd text under a different license). Emits one row
    * per pair: distinct-hash sizes, |A∩B|, exact Jaccard ppm and both
    * containments (overlap ÷ each side — the asymmetric signal that
    * says WHICH source is the subset). Zero-overlap pairs are emitted
    * too (the frame is the source list crossed with itself, tiny by
    * definition), so a disjointness claim is a visible 0, not a missing
    * row.
    *
    * Scale shape: docs collapse to distinct (source, 16-byte digest)
    * first — one shuffle keyed on the digest, payloads never move. The
    * pair join is digest-keyed (only hashes present in ≥2 sources pair),
    * and the per-source size table broadcasts (sources are a handful).
    */
  def sourceOverlapMatrix(docs: DataFrame, sourceCol: String,
                          textCol: String): DataFrame = {
    // 16-byte binary digest (key-only; see TextOps.shingleDigests)
    val sh = docs.select(col(sourceCol).as("src"), unhex(md5(col(textCol))).as("h"))
      .distinct()
      .localCheckpoint(false) // three consumers: sizes + both join sides
    val sizes = sh.groupBy(col("src")).agg(count(lit(1)).as("sz"))
    val inter = sh.select(col("src").as("src_a"), col("h"))
      .join(sh.select(col("src").as("src_b"), col("h")), "h")
      .where(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_common"))
    val frame = broadcast(sizes.select(col("src").as("src_a"), col("sz").as("n_a")))
      .join(broadcast(sizes.select(col("src").as("src_b"), col("sz").as("n_b"))),
        col("src_a") < col("src_b"))
    frame.join(inter, Seq("src_a", "src_b"), "left")
      .na.fill(0L, Seq("n_common"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_common"),
        expr("n_common * 1000000L div (n_a + n_b - n_common)").as("jaccard_ppm"),
        expr("n_common * 1000000L div n_a").as("contain_a_ppm"),
        expr("n_common * 1000000L div n_b").as("contain_b_ppm"))
  }
}
