package graft

/** Single source of truth for every tunable that BOTH the Spark queries and
  * the DuckDB oracle SQL depend on — keeping them here makes drift between
  * the two sides impossible.
  */
object Params {
  // Borůvka MSF round budget, shared by Msf.msf and the generated
  // DuckDB twin so the two can never drift: the oracle replays exactly
  // this many rounds, and msf refuses (rather than silently truncates)
  // if a graph needs more. log2(components) ≈ 18 at sf1's ~200k
  // partkeys, so 20 covers a decade beyond observed 5-7 rounds.
  val MsfMaxRounds = 20
  // minhash / LSH over documents
  val MinhashK = 16
  val MinhashBands = 4
  val MinhashRows: Int = MinhashK / MinhashBands
  val JaccardMin = 0.5

  // simhash: 64-bit signature (as two 32-bit halves), 4×16-bit pigeonhole
  // blocks — 65 536 bucket values per block position keeps in-bucket
  // self-joins bounded at corpus scale (the old 8-bit blocks had 256).
  // exact similarity join (prefix filtering): threshold as a RATIONAL so
  // every bound is int64 arithmetic; must equal JaccardMin
  val JaccardMinNum = 1L
  val JaccardMinDen = 2L
  require(JaccardMinNum.toDouble / JaccardMinDen == JaccardMin,
    "JaccardMinNum/JaccardMinDen must equal JaccardMin")

  val SimhashBits = 64
  val SimhashBlockBits = 16
  val SimhashMaxDist = 3

  // embedding LSH / ANN
  val EmbPlanes = 32
  val EmbBands = 8
  val EmbRows: Int = EmbPlanes / EmbBands
  val EmbDims = 64
  val EmbMinCos = 0.45
  val AnnK = 10
  val IvfCells = 8
  // SemDeDup within-cell near-dup threshold: the synthetic embeddings'
  // within-cell cosine tops out ≈0.49, so 0.4 yields a real (non-empty)
  // verified-pair set at every SF while staying a high bar vs the ≈0.2
  // in-cell p90
  val SemMinCos = 0.4
  val IvfNprobe = 2    // probed cells for the recall-tunable IVF query
  val KmeansIters = 3  // training iterations for the oracle-checked fit
  val PqSub = 8        // product-quantization subspaces (64 dims → 8×8)
  val PcaIters = 3     // power-iteration rounds for the top component
  val PqK = 16         // codes per subspace (4-bit nibbles)
  val AnnQueryMod = 50 // query set = vec_id % AnnQueryMod == 0
  // FIXED query budget for the ANN retrieval demos (hash-order subset
  // of the mod-selected ids; = the full sf0.1 population, so the gate
  // and sf<=0.1 benches are unchanged). Queries as a corpus fraction
  // made demo work grow N^2 — measured 99.7x wall at sf1->sf10 for
  // emb_ivf_pq_adc; a fixed external workload is the honest contract.
  val AnnQueryBudget = 40
  val MrlDims = 16     // Matryoshka coarse-prefix width
  val MrlPool = 30     // rerank pool per query

  // marts
  val TopNPerGroup = 10
  val ImdbMinVotes = 1000
  val TopThreshold = 400000.0
  val TopThresholdN = 5
  val HistWidth = 50000.0

  // chi-squared snapshot drift: orders split into ref (≤ year) / cur
  // (> year) snapshots, price bucketed by exact int64 division on cents
  // (50k-dollar buckets — the HistWidth bucketing without the double)
  val DriftSplitYear = 1997
  val DriftBucketCents = 5000000L
  // JSD drift gate: events split into ref/cur halves at this instant;
  // the bucketing is categorical (event_type)
  val JsdSplitTs = "2024-01-16 00:00:00"

  // temperature (α=1/2) mixture sampling budget, % of corpus char mass
  val TempBudgetPct = 50L

  // training-mix budget allocation: total budget as % of corpus char
  // mass (>100 exercises the epoch logic) and the per-source epoch cap
  val PlanBudgetPct = 170L
  val PlanMaxEpochs = 2L
  // leakage-safe split: hash key is the SOURCE domain, own salt so the
  // assignment is independent of the per-doc split
  val GroupSplitSalt = "gspl"

  // Jaro–Winkler linkage gate over nation-blocked supplier name pairs
  val JaroMinSim = 0.97

  // calendar dimension span (a conformed generated dim, not data-derived)
  val CalStart = "1995-01-01"
  val CalDays = 2922 // 8 years including two leap days

  // surrogate assignment scenario: the pre-existing dim holds brands
  // strictly below this cut; the batch delivers every brand
  val SurrogateCut = "Brand#4"

  // greedy set-cover source selection rounds
  val SourceCoverK = 5

  // negative-sampling table: exactly-K terms by unigram^(3/4) weight
  val NegK = 50
  val NegSalt = "neg"

  // bot census: sustained per-minute event rate and minute count
  val BotRate = 3L
  val BotMinutes = 2L

  // boilerplate census: a pseudo-line in ≥ this many distinct docs is
  // boilerplate; keyphrases: top-k doc bigrams by corpus PMI with a
  // hapax-noise floor on corpus occurrences
  val BoilerMinDocs = 3L
  val KeyphraseK = 3
  val KeyphraseMinCount = 3L

  // homoglyph synthesis cadence: docs ≡0 (mod 13) get their 'o's swapped
  // for Cyrillic о (U+043E) — the script-mix audit's real positives
  val HomoglyphMod = 13L

  // k-fold CV assignment (salted-md5 fold draw) over documents
  val KfoldK = 5
  val KfoldSalt = "kf"

  // late-arriving dimension scenario: dim feed drops keys ≡0 (mod 10);
  // the backfill batch delivers the ≡0 (mod 20) half of them
  val LateDimHoldoutMod = 10L
  val LateDimArriveMod = 20L

  // Hilbert layout grid: 15-bit coords keep the packed fold accumulator
  // d·2³² + x·2¹⁶ + y under 2⁶²; audit reuses the Skip* y band (fits
  // the 0..32767 range)
  val HilbertBits = 15
  val HilbertMod = 32768L

  // calibration reliability table over lineitem: score = 10×discount in
  // exact ppm (a declared pseudo-model), outcome = returnflag 'R'
  val CalibBins = 10
  // encoding-audit synthetic corruption cadence (mirrored in the
  // oracle): docs ≡0 mod 7 get a U+FFFD appended, ≡0 mod 11 a BEL
  val EncReplMod = 7L
  val EncCtrlMod = 11L

  // rolling-distinct (WAU-style) window, calendar days
  val SlidingWindowDays = 7
  // conversion-path census: top-K paths
  val PathTopK = 20

  // stickiness census windows (trailing week / trailing 28 days)
  val StickyWauDays = 7
  val StickyMauDays = 28

  // events
  val SessionGapMs = 1800000L

  // per-key throttle (33l): pass ≤1 event per (user,type) per cooldown
  // of event time — 1 day bites on this feed (~35% of same-key gaps are
  // shorter), so the replay exercises both pass and suppress paths
  val ThrottleCooldownMs = 86400000L

  // cleaning pipeline
  val CleanMinQuality = 0.3

  // deterministic sampling
  val SampleRate = 0.2
  val SampleSalt = "smp"
  val StratumK = 100

  // DSIR importance resampling: hashed-feature bucket count + selection K
  val DsirBuckets = 4096L
  val DsirTopK = 100

  // binaryFile ingestion fixture: files = doc_ids below this bound
  val BinSrcMaxId = 256L

  // train/val/test split: cumulative permille (900/50 → 90/5/5)
  val SplitTrainPm = 900L
  val SplitValPm = 50L
  val SplitSalt = "spl"

  // corpus text ops
  val LineTokens = 8 // pseudo-line size for global line-level dedup
  val VocabTopN = 100
  val TfidfTopK = 3
  val ChunkSize = 32
  val ChunkStride = 16

  // heavy hitters: item is heavy iff count * HhDenom > N (pure integers);
  // MG counter budget gives a 4x margin over the threshold
  val HhDenom = 400L
  val HhMgK = 1600

  // PageRank: fixed iteration count over the supplier↔customer bipartite
  // graph; customer node ids offset into their own namespace. The offset
  // must exceed the max supplier key at the TARGET scale, not the test
  // scale: TPC-H has 10k×SF suppliers, so 1e10 keeps the namespaces
  // disjoint through SF 1M (a 1e6 offset collided from SF 100 up,
  // silently merging supplier s and customer s−1e6 into one graph node)
  val PrIters = 3
  val PrCustOffset = 10000000000L

  // label propagation: fixed synchronous rounds over the same graph
  val LpIters = 3

  // HITS: fixed rounds, unnormalized int64 form (2·iters·log2(maxdeg) < 63)
  val HitsIters = 3

  // k-core peeling: degree threshold, fixed peel rounds
  val KcoreK = 5L
  val KcoreRounds = 3

  // association rules: min co-occurrence count for a pair to surface
  val AssocMinPairs = 3L

  // spatial grid join: Chebyshev radius (= grid cell size)
  val SpatialR = 3L
  // exact pair-join output budget for spatialAdvisory (r14, VERDICT
  // r13 #7): the grid join's work is ∝ output, so this is a cost
  // ceiling in pairs — 100 M keeps every ≤sf1 run free and refuses
  // the measured 10.9 B-pair sf10 exact join unless overridden
  val SpatialMaxPairs = 100000000L
  // sampled exact-pair spatial twin (VERDICT r14 #4): output budget +
  // sampling salt. 20k sits BELOW the sf0.01 pair bound (70,156) so
  // the driver gate certifies the ENGAGED sampled path, not the
  // saturated identity (the q_dbscan_capped precedent); at sf10 — the
  // 1.8e10-bound / 510 s exact join the advisory refuses — the same
  // budget thins one side to ~1 ppm and holds output near 20k pairs.
  val SpatialSampledMaxPairs = 20000L
  val SpatialSampleSalt = "sps"
  // DBSCAN density labeling: min in-radius neighbors for a core point
  val DbscanMinPts = 40
  // density probe / capped DBSCAN: candidate ε ladder, mean-neighbor
  // target (LOW enough that the sf0.01 gate exercises the sampled
  // path — mean_nb_ub there is ~18, so rate < 1 and the oracle replays
  // the hash sample, not just the saturated identity), and the salt
  val DbscanProbeLadder = Seq(1L, 2L, 3L, 6L)
  val DbscanTargetNb = 8L
  val DbscanSampleSalt = "dbscap"
  // link prediction: hub-center degree cap, min shared centers per pair
  val CnMaxDeg = 50
  val CnMinCommon = 3L
  // autocorrelation: max lag (months) over the monthly revenue series
  val AcfMaxLag = 6
  // t-closeness: max EMD (ppm) between class and global band shares
  val TclosePpm = 200000L

  // compaction plan: target rows per write bucket
  val CompactTargetRows = 4000L

  // join-key skew audit: hottest keys reported, target shuffle width
  val SkewTopK = 10
  val SkewSaltPartitions = 32

  // Kaplan–Meier: administrative-censoring study cutoff — lines shipped
  // by the cutoff are observed fulfillments, open lines censor at it
  val KmCutoff = "1997-06-30 00:00:00"

  // truncated harmonic centrality: seed suppliers (key % mod = 0)
  val HarmonicSeedMod = 20
  // stress centrality pays O(seeds × edges) TWICE (σ forward, ψ
  // backward), so its sampling budget is leaner than harmonic's
  val StressSeedMod = 50

  // BFS reachability: seed suppliers (key % mod = 0), max hop depth
  val BfsSeedMod = 100
  val BfsHops = 3

  // deterministic random walks (DeepWalk corpus): length + hash salt +
  // seed density (denser than the BFS seed set so small SFs still walk)
  val WalkSteps = 4
  val WalkSalt = "rw"
  val WalkSeedMod = 20
  // weighted SSSP: relaxation-round bound (longer-but-lighter paths keep
  // improving past the hop radius, so the min-plus bound exceeds BfsHops)
  val SsspRounds = 6

  // l-diversity: min distinct sensitive values per released QI class
  val LdivL = 3L

  // winsorization band, permille ranks (p05/p95)
  val WinsorLoPm = 50L
  val WinsorHiPm = 950L

  // Poisson bootstrap: replicates + hash salt prefix
  val BootstrapB = 32
  val BootstrapSalt = "bs"

  // hashing-trick featurization: fixed bucket count + salt
  val FeatureHashBuckets = 64
  val FeatureHashSalt = "fh"

  // KMV distinct sketch: buffer size (±1/√k relative error), hash salt
  val KmvK = 64
  val KmvSalt = "kmv"

  // mergeable quantile sketch: bottom-k row-sample size (O(1/√k) rank
  // error), hash salt, and the reported percentiles
  val KllK = 512
  val KllSalt = "qsk"
  val KllPs = Seq(25, 50, 75, 95)

  // Heaps-law vocabulary growth checkpoints (% of max doc id) and
  // Zipf rank-frequency fit width
  val HeapsCutPcts = Seq(25, 50, 75, 100)
  val ZipfTopN = 100

  // PMI collocations: score the top-N bigrams by count
  val PmiTopN = 50

  // BM25 query-by-document retrieval: Okapi constants as exact rationals
  // (k1 = 6/5, b = 3/4) so every score is int64 arithmetic plus ONE
  // correctly-rounded IEEE divide; query docs are doc_id % mod == 0
  val Bm25QueryMod = 50
  val Bm25K = 10
  val RrfC = 60L // reciprocal-rank-fusion damping constant (standard 60)
  // Champion-list posting cap (impact-ordered top-M docs per term) —
  // the bounded-work retrieval path. M is PER-SCALE, not a constant
  // (r12 §5.14: the sf0.01-only "100% recall at M=40" collapsed to 25%
  // at sf1). The ship path derives M from corpus size, calibrated by
  // RecallSweep (r13, audit query budget, 100% mean AND min recall@k):
  //   500 docs  → M=80  (M=40 reads min 90% — the r12 constant was
  //                      already below the floor on its own fixture)
  //   5 000 docs → M=800 (M=400 reads min 90%)
  //   50 000 docs → M=800 (r12 sweep, mark fixture)
  //   500 000 docs → M=1600 (M=800 reads min 90% — the would-be "cap
  //                      at 800" BROKE at its first unmeasured decade)
  // i.e. ~0.16·N until growth slows sharply on this corpus family —
  // near-ties in the impact order mostly stop growing once common-term
  // postings dwarf the top-k, but not entirely. The derivation is those
  // measurements, nothing cleverer:
  // max(80, min(1600, N·160 div 1000)) — exact at 500/5k/500k docs and
  // a 2× over-provision at 50k (the price of a monotone closed form).
  // Recall is monotone non-decreasing in M (candidates are a superset),
  // so the derived M can only improve on the old constant; and because
  // the cap is EVIDENCE AT FOUR SCALES, not a law, the driver gate
  // `text_champ_recall_floor` + the ScaleContractSpec fixture pins
  // hash-FAIL / go red the moment a new scale breaks it, instead of
  // relying on operators re-running the sweep.
  val Bm25ChampMFloor = 80
  val Bm25ChampMCap = 1600
  val Bm25ChampMPerMille = 160 // M = max(floor, min(cap, N*160 div 1000))
  def bm25ChampM(nDocs: Long): Int =
    math.max(Bm25ChampMFloor.toLong,
      math.min(Bm25ChampMCap.toLong,
        nDocs * Bm25ChampMPerMille / 1000L)).toInt
  // Jaccard champion M — its OWN calibration (r14, VERDICT r13 #1: the
  // BM25-fitted M was applied to the set-overlap ranking by analogy and
  // the r14 `RecallSweep <dir> <ms> jaccard` sweeps showed the analogy
  // broken at both unmeasured decades: bm25ChampM read min recall 10%
  // at sf1 and 0% at sf10). Measured 100%-min-recall thresholds:
  //   500 docs   → M ≤ 40 suffices
  //   5 000 docs  → M = 400  (lowest tested; 100%)
  //   50 000 docs → M = 3200 (1600 reads min 10%)
  //   500 000 docs→ M = 25600 (12800 reads min 90%)
  // i.e. M grows ∝ N (~5–6.4% of the corpus per champion list) — there
  // is NO scale-bounded cap for Jaccard on this corpus family, because
  // near-uniform doc sizes make the `sz asc` impact order nearly
  // arbitrary: a true neighbor sharing only crowded shingles is cut
  // from every list at any fixed M. The derivation is the measurements
  // with margin, deliberately UNCAPPED (a cap is the exact bug class
  // that broke twice): M = max(80, N·80 div 1000) — 8% of N, ≥25%
  // margin over every measured threshold and exactly the measured pass
  // at 5k. Consequence, documented honestly: the Jaccard champion is a
  // CONSTANT-FACTOR (~12×) work reduction over the exact path, not an
  // asymptotic one; the asymptotic near-dup path at corpus scale is
  // MinHash-LSH (§2.3), and the floor gate hash-fails the first scale
  // where this calibration stops holding.
  val JaccardChampMFloor = 80
  val JaccardChampMPerMille = 80 // M = max(floor, N*80 div 1000); NO cap
  def jaccardChampM(nDocs: Long): Int =
    math.max(JaccardChampMFloor.toLong,
      nDocs * JaccardChampMPerMille / 1000L).toInt

  // certified champion recall floor: 100% of the exact top-k on the
  // audit query budget (what RecallSweep tunes M to)
  val ChampRecallFloorPpm = 1000000L

  // LSH-bucketed Jaccard top-k RETRIEVAL (VERDICT r14 #1) — its own
  // band scheme, chosen for the retrieval threshold rather than reusing
  // the dedup family's (MinhashK/MinhashBands = 16/4). A pair shares a
  // bucket with prob 1−(1−j^rows)^bands; the scheme must put that
  // S-curve's certifiable region AT the retrieval threshold.
  //
  // r15 RECALIBRATION, measured: the operator first shipped rows=4 /
  // bands=8 / τ = the 0.5 design threshold, floor-green at sf0.01 and
  // sf0.1 — and the first `RecallSweep jaccardlsh` at the next decades
  // read mean recall 92%, MIN RECALL 0% at sf10 (one query lost all 9
  // of its truth pairs). Diagnosis (78-pair truth at sf10): the scaled
  // corpus has a sibling band at j = 0.50–0.59 — BELOW that scheme's
  // S-curve midpoint (1/8)^(1/4) ≈ 0.595 — so every such truth pair
  // was a ~50/50 coin flip. And no within-k=32 rescheme fixes it: with
  // background at j≈0.10, rows=2 collides with 1−(1−0.01)^16 ≈ 15% of
  // the corpus per query — the champion's M∝N cost again, no
  // asymptotic win. LSH fundamentally cannot hold a ~100% min-recall
  // floor at τ=0.5 over a j=0.1 background at sub-champion candidate
  // rates; the mid-τ contract belongs to the EXACT prefix-filter
  // retrieval (TextOps.jaccardPrefixTopK, 100% recall by
  // construction).
  //
  // The LSH path's honest contract is therefore the HIGH near-dup
  // band, and the scheme is sized for a certifiable floor there:
  // rows=4, bands=24 (k=96), τ=0.8 → per-pair miss (1−0.8^4)^24 =
  // 3.2e-6 at exactly τ (≈3e-18 at the corpus' measured ≥0.95 twin
  // band), background candidate rate 1−(1−1e-4)^24 ≈ 2.4e-3 of the
  // corpus per query — at sf100 ~12k candidates/query vs the champion
  // M≈400k. Signatures are 3× the old scheme (96 affine hashes/doc),
  // map-side linear — the right coin to pay for a floor that is
  // probability ~1, not ~0.5, at the contract boundary. The floor
  // stays CALIBRATED per decade by measurement (the jaccardChampM
  // lesson: per-ranker, per-scale, never by analogy) and pinned by the
  // text_jaccard_lsh_floor gate.
  val LshTopkK = 96
  val LshTopkBands = 24
  val LshTopkRows: Int = LshTopkK / LshTopkBands
  val LshTopkMinJacPpm = 800000L
  require(LshTopkMinJacPpm >= (JaccardMin * 1000000).toLong,
    "LSH retrieval threshold must sit at or above the design threshold " +
      "(the sub-LSH mid-τ band is jaccardPrefixTopK's exact contract)")
  val JaccardLshRecallFloorPpm = 1000000L
  // Exact prefix-filter per-query retrieval (the mid-τ contract): τ is
  // the corpus design threshold itself — PPJoin candidates are exact,
  // so there is no floor to calibrate, only work to forecast.
  val PrefixTopkMinJacPpm: Long = JaccardMinNum * 1000000L / JaccardMinDen

  // Binding champion-work budget (ADVICE r15: championAdvisory was
  // spec-only — now wired INSIDE jaccardTopK/bm25TopK when champM > 0,
  // so production callers inherit the refusal; declared gates pass
  // overrideWork). Units = forecast rescore rows (n_queries ×
  // mean-q-features × M × mean-doc-features). Measured bounds on this
  // corpus family (meanSh ≈ 51, budget-100 queries):
  //   sf0.1 (5k docs,  M=400)   ≈ 1.0e8
  //   sf1   (50k,      M=4000)  ≈ 1.0e9
  //   sf10  (500k,     M=40000) ≈ 1.0e10  (runs; minutes-scale)
  //   sf100 (5M,       M=400k)  ≈ 1.0e11  (the measured 1202 s wall)
  // 2e10 admits every decade through sf10 and refuses the sf100-class
  // run, pointing at jaccardLshTopK (49.7 s-class on the same corpus).
  val ChampRescoreBudget = 20000000000L

  // Binding exact-audit work budget (VERDICT r14 #3): the exact
  // query×corpus half of a recall audit streams Σ_q Σ_feature df rows;
  // measured ≈ 1.4e6 per 100-query budget at sf0.1 growing ∝N (jaccard;
  // bm25 ≈ 6×), and the r14 sf100 budget-100 sweep DIED on disk at
  // ~1.4e9 rows (>55 GB spill, twice) while budgets 10/50 ran. 1e9
  // (~40 GB forecast) admits every measured-safe configuration and
  // refuses the two observed spill deaths with the reduced-budget
  // recommendation.
  val ExactAuditCandBudget = 1000000000L

  // FIXED budgets for the exact-truth halves of the recall/ranking
  // audits (dedup_lsh_recall, text_bm25_champ_recall, text_rrf_fuse,
  // text_rank_metrics). The audits' exact paths score query×corpus: with
  // queries a CORPUS FRACTION (doc_id % mod) their work grows ∝ N² —
  // measured 15–52× wall on 10× data, with the prefix-filter truth
  // spilling >80 GB at sf1. A fixed-COUNT deterministic sample (the
  // `budget` ids with the smallest (md5(id), id) — a salted-hash total
  // order both engines replay exactly) bounds the exact half to
  // budget×corpus = LINEAR, the only audit shape that survives 100 TB.
  // Budgets exceed the sf0.01 populations (10 queries / 500 docs), so
  // the driver's correctness gate still certifies the FULL audit there;
  // sampling bites from sf0.1 up, where it is a provably exact
  // restriction (spec-pinned: sampled == full ∩ sampled-queries).
  val AuditQueryBudget = 100
  val LshAuditProbeBudget = 500

  // fuzzy lookup (record linkage): levenshtein budget
  val FuzzyMaxDist = 2

  // duplicate-span audit: span length in tokens (Lee et al. use 50 BPE
  // tokens; 8 words is the equivalent discriminating scale for the
  // short synthetic docs)
  val DupSpanN = 8

  // incremental aggregate-state merge: batch cutover date
  val AggMergeCut = "1997-01-01 00:00:00"

  // IVM join: dimension keys ≡ 0 (mod this) arrive as the late batch
  val IvmDimMod = 10L

  // burst detection: trailing observed-hour window, ratio, cold-start floor
  val BurstTrailHours = 24
  val BurstK = 2L
  val BurstMinTrail = 6L

  // event pivot / as-of
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")
  val AsofTarget = "purchase"
  val AsofMatch = "click"
  val FunnelSteps: Seq[String] = Seq("click", "view", "purchase")

  // Markov removal-effect attribution: channel states, absorbing
  // conversion type, fixed-point iteration depth
  val MarkovChannels: Seq[String] = Seq("click", "view", "signup", "error")
  val MarkovConv = "purchase"
  val MarkovSteps = 6

  // randomized response: flip probability (ppm) and salt — shared by the
  // Spark release and the oracle's replay
  val RrFlipPpm = 250000L
  val RrSalt = "rr"

  // decontamination containment threshold |A∩B|/|A| >= num/den
  val ContMinNum = 1L
  val ContMinDen = 2L

  // data-quality gate on orders: contract constants shared by the Spark
  // rules and the oracle SQL
  val QcMaxPriceCents = 40000000L

  // count-min sketch: depth (hash rows) × width (counters per row);
  // estimates reported for tokens with true count >= CmMinCount
  val CmDepth = 4
  val CmWidth = 256
  val CmMinCount = 50L

  // histogram quantile estimator: equi-width buckets over price cents,
  // estimates at these percentiles
  val QuantWidthCents = 2500000L
  val QuantPs: Seq[Int] = Seq(50, 90, 99)

  // sequence packing: concatenate docs in doc_id order, cut fixed
  // windows of this many tokens (docs straddle boundaries)
  val PackChunkTokens = 128L

  // BPE tokenizer training: number of merge rounds
  val BpeMerges = 6

  // k-anonymity: minimum quasi-identifier group size for release
  val KanonK = 10L

  // winnowing fingerprints: k-token grams, window of w gram hashes —
  // any shared run of >= w+k-1 tokens shares a fingerprint
  val WinK = 3
  val WinW = 4
  val WinSalt = "win"

  // robust outlier gate: |x - median| > OutlierK × MAD (type-1 lower
  // medians keep every bound exact int64)
  val OutlierK = 2L

  // sliding (hopping) window: 1h windows every 15min — size must be a
  // multiple of hop so each event lands in exactly size/hop windows
  val SlideSizeMs = 3600000L
  val SlideHopMs = 900000L

  // mixture sampling: per-source target weights in ppm (quadratic ramp —
  // the high end intentionally exceeds availability so the rate CAP
  // path is exercised), overall budget as a % of total corpus chars
  val MixBudgetPct = 50L
  val MixSalt = "mix"
  val MixTargetsPpm: Seq[(String, Long)] = {
    val denom = (1 to 20).map(k => k.toLong * k).sum // 2870
    (0 until 20).map(k => (s"src$k", (k + 1).toLong * (k + 1) * 1000000L / denom))
  }

  // entity resolution: edit-distance match threshold and which records
  // get a truncated-name twin (p_partkey % ErTwinMod == 0)
  val ErMaxDist = 2
  val ErTwinMod = 3L

  // join-size audit: heaviest keys reported alongside the total row
  val AuditTopK = 20

  // fingerprint merge: the incremental-batch split point on l_shipdate
  val FpMergeCut = "1995-06-01 00:00:00"

  // exactly-K weighted sampling: per-source budget and draw salt
  val WkK = 20
  val WkSalt = "wk"

  // skipping audit: file count and the y-band predicate (a 1/16 slice
  // of the 16-bit y space — the secondary-dimension query shape)
  val SkipFiles = 64
  val SkipYLo = 8192L
  val SkipYHi = 12287L

  // Horvitz–Thompson estimate: 1/8 deterministic sample
  val HtRatePpm = 125000L
  val HtSalt = "ht"

  // decile lift table: quality score vs token-membership label
  val LiftBuckets = 10
  val LiftLabelToken = "spark"

  // Johnson–Lindenstrauss projection width (64 → 8 coordinates)
  val JlDims = 8

  // sampled join-size estimate: 1/8 deterministic key sample
  val JseRatePpm = 125000L
  val JseSalt = "jse"

  // recursive BOM flatten: decimal-digit forest over part, depth cap
  val BomMaxDepth = 8

  // Gopher-style quality rules (bands scaled to the synthetic corpus:
  // short lowercase word-soup docs, mean word length ~4)
  val GopherMinWords = 20L
  val GopherMaxWords = 100000L
  val GopherMinMeanLenX100 = 300L
  val GopherMaxMeanLenX100 = 1000L
  val GopherStopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in")
  val GopherMinStop = 2L
  val GopherMinAlphaPpm = 800000L

  // content-defined chunking: 16-byte rolling window, 5 mask bits
  // (expected ~32-byte chunks), chunk length clamped to [16, 128]
  val CdcWindow = 16
  val CdcMaskBits = 5
  val CdcMinLen = 16
  val CdcMaxLen = 128

  // multimodal resize / frame-sample (oracle-gated r13): target dims
  // chosen off the source ranges (w 4..15, h 3..11) so both up- and
  // down-scaling paths run in one corpus pass; stride 2 keeps frame 0
  // and every other frame of the 2..5-frame GIFs
  val ResizeTargetW = 7
  val ResizeTargetH = 5
  val FrameSampleStride = 2
  val FrameSampleBytes = 64

  // time-decay attribution: credit halves every 5 min of touch age
  // (inside the 30-min SessionGapMs window → up to 6 halvings)
  val AttrHalflifeMs = 300000L

  // positional phrase search query
  val PhraseQuery: Seq[String] = Seq("join", "vector")

  // equi-depth histogram buckets
  val EqdepthBuckets = 8

  // deterministic per-epoch training-order shuffle
  val EpochShuffleEpochs = 2
  val EpochShuffleShards = 8
  val EpochSalt = "graft-epoch"

  // q1/q3/q5 date cuts
  val Q1Cutoff = "1998-09-02 00:00:00"
  val Q3Date = "1996-07-01 00:00:00"
  val Q5Lo = "1996-01-01 00:00:00"
  val Q5Hi = "1998-01-01 00:00:00"
  val Q5Region = "AMERICA"
  val Q3Segment = "BUILDING"
}
