package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Density classification over a point set — the DBSCAN core/border/
  * noise split, which at corpus scale is the standard density filter
  * over an (quantized) embedding space: keep dense-region documents,
  * drop isolated outliers, or invert it to prune over-represented
  * regions before training.
  *
  * All pair discovery goes through [[RangeJoin.gridNeighborJoin]] — a
  * grid-bucketed equi-join, never a theta join — so the only shuffles
  * here are keyed on compact long ids and work stays bounded by
  * points-per-cell density however large the point set grows.
  */
object Spatial {

  /** Label every point `core` (≥ minPts neighbors within Chebyshev
    * radius `r`, self excluded), `border` (not core but adjacent to a
    * core), or `noise`, alongside its exact neighbor count.
    *
    * Three bounded stages: (1) the grid join emits each in-radius pair
    * once; (2) one aggregate on the symmetrized edge list counts
    * neighbors per point (map-side partial count, long-keyed shuffle);
    * (3) border detection is a plain equi-join of the edge list against
    * the core id set — at realistic densities the core set after
    * projection to a bare id column is small enough that AQE broadcasts
    * it. No stage ever materializes more than the edge list the radius
    * itself implies.
    */
  def dbscanLabel(pts: DataFrame, idCol: String, xCol: String,
                  yCol: String, r: Long, minPts: Int): DataFrame = {
    require(minPts >= 1)
    // the pair list is read by both the neighbor count and the
    // border-detection join but is NOT checkpointed: at high density
    // it is the quadratic object in the query, and pinning it in
    // MEMORY_AND_DISK blocks starved the unified region's execution
    // pool — measured at sf1: the neighbor-count hash aggregate died
    // on UNABLE_TO_ACQUIRE_MEMORY at 16 g with the checkpoint, runs
    // clean without it. The grid join is a pure-codegen fan-out of two
    // tiny inputs, so recomputing it per consumer trades cheap CPU for
    // the memory that the aggregates actually need — the right trade
    // wherever the intermediate dwarfs its inputs.
    val pairs = RangeJoin.gridNeighborJoin(pts, idCol, xCol, yCol, r)
    // each undirected pair once from the join → both directions via a
    // Generate (explode), NOT a union of two flipped selects: a union
    // embeds the whole grid join in BOTH arms, so every consumer of
    // sym recomputed it twice — WorkProbe r12 measured FOUR 109M-row
    // join executions at sf1 where two suffice; the explode doubles
    // rows inside one pass of a single join subtree
    val sym = pairs.select(explode(array(
        struct(col("id_a").as("id"), col("id_b").as("nb")),
        struct(col("id_b").as("id"), col("id_a").as("nb")))).as("s"))
      .select(col("s.id").as("id"), col("s.nb").as("nb"))
    val cnt = sym.groupBy("id").agg(count(lit(1)).as("n_nb"))
    val withCnt = pts.select(col(idCol).cast("long").as("id"))
      .join(cnt, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_nb"), lit(0L)).as("n_nb"))
    val coreIds = withCnt.where(col("n_nb") >= minPts)
      .select(col("id").as("nb"))
    // shuffle_hash, deliberately: the probe side is the density-sized
    // edge list (218M rows at sf1) — sort-merge pays a full sort of it,
    // and a broadcast of coreIds dies at real N where the core set is
    // data-sized; hash-building the small per-partition core slice is
    // the only shape that survives both ends of the scale
    val hasCoreNb = sym.join(coreIds.hint("shuffle_hash"), Seq("nb"))
      .select("id").distinct()
      .withColumn("has_core_nb", lit(true))
    withCnt.join(hasCoreNb, Seq("id"), "left")
      .select(col("id"), col("n_nb"),
        when(col("n_nb") >= minPts, lit("core"))
          .when(col("has_core_nb"), lit("border"))
          .otherwise(lit("noise")).as("label"))
  }

  /** Full DBSCAN cluster assignment: connected components over the
    * core–core in-radius graph (cluster id = smallest core id in the
    * component, via [[Dedup.clusters]]),
    * then each border point attaches to the smallest cluster id among
    * its core neighbors — the standard deterministic tie-break for the
    * inherently order-dependent border rule. Noise points are dropped.
    *
    * Emits (id, cluster, role ∈ core|border). A core with no core
    * neighbor is still its own singleton cluster (the CC loop only sees
    * nodes with edges, so singletons are coalesced back to themselves).
    */
  def dbscanCluster(pts: DataFrame, idCol: String, xCol: String,
                    yCol: String, r: Long, minPts: Int): DataFrame = {
    require(minPts >= 1)
    // the pair list feeds core detection and border attachment but is
    // NOT checkpointed — same reasoning as [[dbscanLabel]]: pinning the
    // quadratic object starves the aggregates' execution memory, while
    // the grid join is cheap codegen to recompute. The SMALL derived
    // tables (coreIds, the CC labels) are the reuse points.
    val pairs = RangeJoin.gridNeighborJoin(pts, idCol, xCol, yCol, r)
    // explode-symmetrized like [[dbscanLabel]] — one join execution per
    // consumer instead of two
    val sym = pairs.select(explode(array(
        struct(col("id_a").as("id"), col("id_b").as("nb")),
        struct(col("id_b").as("id"), col("id_a").as("nb")))).as("s"))
      .select(col("s.id").as("id"), col("s.nb").as("nb"))
    val coreIds = sym.groupBy("id").agg(count(lit(1)).as("n_nb"))
      .where(col("n_nb") >= minPts).select("id")
      .localCheckpoint(false)
    // CONNECTIVITY-PRESERVING SPARSIFICATION of the core-core ε-graph
    // (r10; was: the raw exploded core-core pair list, whose 10×-data
    // census cost was a 19.9 GB shuffle REPEATED every CC round). Cell
    // ids are FLOOR division (RangeJoin.cell — truncating div would
    // merge cells ±0 into a 2r−1-wide cell for negative coordinates and
    // silently union non-adjacent clusters), so at cell width r every
    // two same-cell points are within Chebyshev r (|Δ| ≤ r−1) for any
    // coordinate sign: a cell's cores form a TRUE clique — a star to
    // the cell's min core spans it exactly; and because a whole cell is
    // one component, every cross-cell edge bundle between two cells
    // merges the same two components — ONE witness edge per UNORDERED
    // cell pair suffices (the key is normalized with least/greatest:
    // the raw join orients (ca,cb) by id order, so one unordered cell
    // pair can arrive under both orientations).
    // Components are provably identical (spec-pinned) while
    // the CC loop's edge table drops from O(density·N) to
    // O(N + cell pairs). The witness min-aggregate collapses the
    // quadratic pair stream MAP-SIDE (partial agg per task) — the full
    // pair volume never crosses a shuffle here.
    val corePts = pts.select(col(idCol).cast("long").as("id"),
        col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .join(coreIds, Seq("id"))
    val coreCells = corePts.select(col("id"),
      RangeJoin.cell("x", r).as("cx"), RangeJoin.cell("y", r).as("cy"))
    val cellMin = coreCells.groupBy(col("cx"), col("cy"))
      .agg(min(col("id")).as("m"))
    val intraStar = coreCells.join(cellMin, Seq("cx", "cy"))
      .where(col("id") =!= col("m"))
      .select(col("m").as("doc_a"), col("id").as("doc_b"))
    val witness = RangeJoin
      .gridNeighborJoinWithCells(corePts, "id", "x", "y", r)
      .where(col("cax") =!= col("cbx") || col("cay") =!= col("cby"))
      .withColumn("ca", struct(col("cax").as("u"), col("cay").as("v")))
      .withColumn("cb", struct(col("cbx").as("u"), col("cby").as("v")))
      .groupBy(least(col("ca"), col("cb")).as("c1"),
        greatest(col("ca"), col("cb")).as("c2"))
      .agg(min(struct(col("id_a"), col("id_b"))).as("w"))
      .select(col("w.id_a").as("doc_a"), col("w.id_b").as("doc_b"))
    val coreEdges = intraStar.unionByName(witness)
    // doubling: a grid graph's core-core component diameter grows with
    // the grid, so one-hop propagation (diameter rounds) is the wrong
    // loop here — path halving converges in O(log diameter) rounds
    val cc = Dedup.clusters(coreEdges, doubling = true)
      .select(col("doc_id").as("id"), col("cluster_id").as("cluster"))
    val coreClusters = coreIds.join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    val borderClusters = sym
      .join(coreClusters.select(col("id").as("nb"), col("cluster")), Seq("nb"))
      .join(coreIds, Seq("id"), "left_anti")
      .groupBy("id").agg(min(col("cluster")).as("cluster"))
    coreClusters.withColumn("role", lit("core"))
      .unionByName(borderClusters.withColumn("role", lit("border")))
  }

  /** Exact per-candidate-ε density statistics over the grid index — the
    * knob probe a 100 TB DBSCAN run consults BEFORE paying for a pair
    * join. A point's in-radius neighbors all live in its 3×3 cell block
    * at cell width r, so `Σ_cell n_c·(block9_c − 1)` is a sound integer
    * upper bound on the total neighbor count and `mean_nb_ub` bounds
    * the mean degree the pair join would materialize. Per candidate the
    * probe costs ONE cell-count aggregate plus a 9-way block sum on the
    * (tiny) cell table — linear scan work, no pair is ever generated.
    *
    * Emits per r: cell census, `mean_nb_ub`, the deterministic sample
    * rate `rate_ppm = min(1e6, target·1e6 div (mean_nb_ub+1))` that
    * [[dbscanCapped]] would apply at this ε, and `recommended` marking
    * the largest candidate whose bound meets the target (falling back
    * to the smallest candidate when the space is under-resolved for N —
    * the saturation signal that says "re-quantize finer or cap").
    * All integer arithmetic: any SQL engine replays it bit-exactly.
    */
  def densityProbe(pts: DataFrame, idCol: String, xCol: String,
                   yCol: String, ladder: Seq[Long],
                   targetMeanNb: Long): DataFrame = {
    require(ladder.nonEmpty && ladder.forall(_ >= 1) && targetMeanNb >= 1)
    val p = pts.select(col(idCol).cast("long").as("id"),
      col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .localCheckpoint(false)
    val offsets = for (dx <- -1 to 1; dy <- -1 to 1)
      yield struct(lit(dx.toLong).as("ox"), lit(dy.toLong).as("oy"))
    val perR = ladder.distinct.sorted.map { r =>
      val c = p.groupBy(RangeJoin.cell("x", r).as("cx"), RangeJoin.cell("y", r).as("cy"))
        .agg(count(lit(1)).as("n"))
      val blk = c.select(col("n"), explode(array(offsets: _*)).as("o"),
          col("cx"), col("cy"))
        .groupBy((col("cx") + col("o.ox")).as("bx"), (col("cy") + col("o.oy")).as("by"))
        .agg(sum(col("n")).as("bn"))
      c.join(blk, col("cx") === col("bx") && col("cy") === col("by"))
        .agg(sum(col("n")).as("n_points"),
          count(lit(1)).as("n_cells"),
          max(col("n")).as("max_cell_pts"),
          sum(col("n") * (col("bn") - 1)).as("nb_bound_sum"))
        .select(lit(r).as("r"), col("n_points"), col("n_cells"),
          col("max_cell_pts"), col("nb_bound_sum"))
    }.reduce(_ unionByName _)
    val stats = perR
      .withColumn("mean_nb_ub", expr("nb_bound_sum div n_points"))
      .withColumn("rate_ppm", least(lit(1000000L),
        expr(s"(${targetMeanNb}L * 1000000L) div (mean_nb_ub + 1L)")))
    // the pick is a 1-row aggregate over ≤|ladder| rows — broadcast,
    // never a wide window
    val best = stats.agg(coalesce(
      max(when(col("mean_nb_ub") <= targetMeanNb, col("r"))),
      min(col("r"))).as("rec_r"))
    stats.crossJoin(broadcast(best))
      .withColumn("recommended", col("r") === col("rec_r"))
      .drop("rec_r")
  }

  /** Consult [[densityProbe]] at one radius BEFORE an exact fixed-ε
    * pair join runs blind — and by default make the verdict BINDING:
    * when the probed rate says the space is too dense for the target
    * (`rate_ppm < refuseBelowPpm`, default = refuse whenever the cap
    * would engage at all), RAISE with the capped-twin recommendation
    * instead of proceeding — a 100 TB run must not discover the
    * density²·N shuffle from a stderr line (VERDICT r12 #6; the exact
    * form's sf10 attempt was a ~350 GB disk refusal). The scale-safe
    * twins (probe → [[dbscanCapped]]) ship in-library.
    *
    * `overrideDense = true` is the explicit opt-in for declared
    * ground-truth baselines (they EXIST to materialize the exact pair
    * set); with it the probe degrades to the advisory stderr line and
    * the calling query's output is unchanged. Saturated rates
    * (rate_ppm = 1e6) never refuse. The probe costs one cell-count
    * aggregate — no pair is generated either way.
    */
  def probeAdvisory(pts: DataFrame, idCol: String, xCol: String,
                    yCol: String, r: Long, targetMeanNb: Long,
                    queryTag: String, refuseBelowPpm: Long = 1000000L,
                    overrideDense: Boolean = false): Unit = {
    val row = densityProbe(pts, idCol, xCol, yCol, Seq(r), targetMeanNb)
      .select(col("n_points"), col("mean_nb_ub"), col("rate_ppm"))
      .collect()(0)
    val (np, ub, rate) = (row.getLong(0), row.getLong(1), row.getLong(2))
    val verdict =
      if (rate >= 1000000L) "bound within target; exact join is the right plan"
      else s"DENSE for the target: exact join materializes <=${ub}*N/2 " +
        s"pairs; dbscanCapped at rate_ppm=$rate holds work to ~target*N"
    System.err.println(s"[graft][density-probe] $queryTag r=$r n_points=$np " +
      s"mean_nb_ub=$ub target=$targetMeanNb -> $verdict")
    if (rate < refuseBelowPpm && !overrideDense)
      throw new IllegalStateException(
        s"[graft][density-probe] $queryTag REFUSED: mean neighbor bound " +
          s"$ub at r=$r exceeds target=$targetMeanNb (rate_ppm=$rate < " +
          s"refuse threshold $refuseBelowPpm) — an exact fixed-radius " +
          s"pair join would materialize ~$ub*N/2 pairs (N=$np). Run the " +
          "bounded twin (densityProbe -> dbscanCapped) or pass " +
          "overrideDense=true to run the exact join anyway.")
  }

  /** Output-size advisory for an EXACT fixed-radius PAIR JOIN (VERDICT
    * r13 #7): the same 3×3 cell-count closed form as [[densityProbe]],
    * read as a TOTAL-pair bound — `Σ_cell n_c·(block9_c − 1) / 2` — and
    * held against an absolute pair budget. A grid pair join's work is
    * provably ∝ its output (measured output-bound at three decades,
    * §5.14: 10.9 B pairs = 510 s at sf10), so the bound IS the join's
    * cost forecast, available for one cell-count aggregate before any
    * pair exists. When the bound exceeds `maxPairs` the advisory
    * RAISES with the expected pair count and the sampled alternative —
    * thin ONE side by the deterministic salted-hash rate
    * `maxPairs·1e6 div (bound+1)` (the [[dbscanCapped]] cap pattern;
    * pair output scales ∝ rate, unbiased under the hash sample) —
    * unless the caller overrides as a declared ground-truth baseline.
    * Like [[probeAdvisory]], the override degrades the raise to the
    * stderr advisory line and never changes the query's output.
    */
  def spatialAdvisory(pts: DataFrame, idCol: String, xCol: String,
                      yCol: String, r: Long, maxPairs: Long,
                      queryTag: String,
                      overridePairs: Boolean = false): Unit = {
    require(maxPairs >= 1)
    val row = densityProbe(pts, idCol, xCol, yCol, Seq(r), 1L)
      .select(col("n_points"), col("nb_bound_sum"))
      .collect()(0)
    val (np, nbSum) = (row.getLong(0), row.getLong(1))
    val pairBound = nbSum / 2
    // maxPairs is caller-supplied: ×1e6 silently wraps Long above
    // ~9.2e12 and would print a negative/garbage sampling rate in the
    // refusal (ADVICE r15) — exact BigInt ratio instead
    val ratePpm = (BigInt(maxPairs) * 1000000 / BigInt(pairBound + 1L))
      .min(BigInt(1000000L)).toLong
    val verdict =
      if (pairBound <= maxPairs) "within pair budget; exact join is the right plan"
      else s"OVER pair budget: expected <=$pairBound pairs vs budget " +
        s"$maxPairs; sample one side at rate_ppm=$ratePpm (salted hash) " +
        "or run the capped twin"
    System.err.println(s"[graft][spatial-advisory] $queryTag r=$r " +
      s"n_points=$np pair_bound=$pairBound max_pairs=$maxPairs -> $verdict")
    if (pairBound > maxPairs && !overridePairs)
      throw new IllegalStateException(
        s"[graft][spatial-advisory] $queryTag REFUSED: the exact " +
          s"fixed-radius pair join would materialize <=$pairBound pairs " +
          s"(N=$np, r=$r), over the $maxPairs budget — work is ∝ output, " +
          s"so this is the join's cost forecast. Run [[sampledPairs]] " +
          s"(the oracle-gated bounded twin: one side thinned at " +
          s"rate_ppm=$ratePpm by the deterministic salted hash) or pass " +
          "overridePairs=true to run the exact join anyway.")
  }

  /** Sampled exact-pair proximity join (VERDICT r14 #4): the
    * oracle-gated bounded twin of the raw fixed-radius pair join — the
    * operator [[spatialAdvisory]] hands a refused caller, the way
    * [[dbscanCapped]] backs the exact DBSCAN. The same exact-integer
    * 3×3 cell probe bounds TOTAL pairs; one side is then thinned by the
    * deterministic salted-hash rate `maxPairs·1e6 div (pairBound+1)`
    * and the asymmetric grid join runs all-points × sample — output
    * (and work, which is provably output-bound for a grid pair join)
    * scales ∝ rate, unbiased under the hash sample. When the probe says
    * the bound already fits the budget the rate saturates at 1e6 and
    * the output is EXACTLY the full directed pair set (spec-pinned) —
    * the cap only engages where the exact join would blow the budget.
    * Output carries `rate_ppm` so callers can scale counts back up
    * (pair-count estimate = n·1e6/rate — the [[dbscanCapped]]
    * Horvitz–Thompson read).
    *
    * Directed (id_a, id_b ∈ sample) orientation, id_a ≠ id_b: per-point
    * sampled-neighbor counts stay exact for EVERY point, which is what
    * the downstream density/degree consumers read.
    */
  def sampledPairs(pts: DataFrame, idCol: String, xCol: String,
                   yCol: String, r: Long, maxPairs: Long,
                   salt: String): DataFrame = {
    require(r >= 1 && maxPairs >= 1)
    val p = pts.select(col(idCol).cast("long").as("id"),
      col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .localCheckpoint(false)
    val offsets = for (dx <- -1 to 1; dy <- -1 to 1)
      yield struct(lit(dx.toLong).as("ox"), lit(dy.toLong).as("oy"))
    val c = p.groupBy(RangeJoin.cell("x", r).as("cx"),
        RangeJoin.cell("y", r).as("cy"))
      .agg(count(lit(1)).as("n"))
    val blk = c.select(col("n"), explode(array(offsets: _*)).as("o"),
        col("cx"), col("cy"))
      .groupBy((col("cx") + col("o.ox")).as("bx"),
        (col("cy") + col("o.oy")).as("by"))
      .agg(sum(col("n")).as("bn"))
    val st = c.join(blk, col("cx") === col("bx") && col("cy") === col("by"))
      .agg(sum(col("n") * (col("bn") - 1)).as("nb")).collect()(0)
    val nbSum = if (st.isNullAt(0)) 0L else st.getLong(0)
    val pairBound = nbSum / 2
    val ratePpm = (BigInt(maxPairs) * 1000000 / BigInt(pairBound + 1L))
      .min(BigInt(1000000L)).toLong
    val thr = ratePpm * 4294967296L / 1000000L
    val sampled = p.where(graft.functions.HashFunctions
      .hash32(col("id").cast("string"), salt) < lit(thr))
    RangeJoin.gridNeighborJoinAB(p, sampled, "id", "x", "y", r)
      .select(col("id_a"), col("id_b"), lit(ratePpm).as("rate_ppm"))
  }

  /** Density-CAPPED DBSCAN labeling: the bounded-work variant of
    * [[dbscanLabel]] for spaces too dense for the exact pair join (on
    * the bounded synthetic grid, 10× data = 10× density = ~100× pairs;
    * at 100 TB an under-resolved quantizer does the same). One exact
    * integer probe bounds the mean degree, a deterministic salted-hash
    * Bernoulli sample caps it at `targetMeanNb` (rate = target/bound,
    * exact ppm), and the pair join runs all-points × SAMPLE — |pts| ×
    * target work, linear at any density. Core demands `minPts·rate`
    * sampled neighbors (the unbiased threshold scale, floor, min 1);
    * border = non-core with a sampled core in radius. When the probe
    * says the density already meets the target the rate saturates at
    * 1e6 and the output is EXACTLY [[dbscanLabel]]'s (spec-pinned) —
    * the cap only ever engages where the exact operator would blow up.
    *
    * Everything downstream of the probe is driven by two integers
    * (rate_ppm, minPts_eff) computed from exact counts — a SQL oracle
    * replays the whole pipeline including the sample membership.
    */
  def dbscanCapped(pts: DataFrame, idCol: String, xCol: String,
                   yCol: String, r: Long, minPts: Int,
                   targetMeanNb: Long, salt: String): DataFrame = {
    require(minPts >= 1 && targetMeanNb >= 1)
    val p = pts.select(col(idCol).cast("long").as("id"),
      col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .localCheckpoint(false)
    // exact degree bound (the densityProbe aggregate at this ε): one
    // tiny collect — two scalars steer the plan, never data
    val offsets = for (dx <- -1 to 1; dy <- -1 to 1)
      yield struct(lit(dx.toLong).as("ox"), lit(dy.toLong).as("oy"))
    val c = p.groupBy(RangeJoin.cell("x", r).as("cx"), RangeJoin.cell("y", r).as("cy"))
      .agg(count(lit(1)).as("n"))
    val blk = c.select(col("n"), explode(array(offsets: _*)).as("o"),
        col("cx"), col("cy"))
      .groupBy((col("cx") + col("o.ox")).as("bx"), (col("cy") + col("o.oy")).as("by"))
      .agg(sum(col("n")).as("bn"))
    val st = c.join(blk, col("cx") === col("bx") && col("cy") === col("by"))
      .agg(sum(col("n")).as("np"), sum(col("n") * (col("bn") - 1)).as("nb"))
      .collect()(0)
    val nPoints = if (st.isNullAt(0)) 0L else st.getLong(0)
    val meanNbUb = if (nPoints == 0L) 0L else st.getLong(1) / nPoints
    val ratePpm = math.min(1000000L, targetMeanNb * 1000000L / (meanNbUb + 1L))
    val minPtsEff = math.max(1L, minPts * ratePpm / 1000000L)
    // salted-hash membership (the Sampling.bernoulli draw, integer-ppm
    // threshold so Spark and the oracle floor identically)
    val thr = ratePpm * 4294967296L / 1000000L
    val inSample = graft.functions.HashFunctions
      .hash32(col("id").cast("string"), salt) < lit(thr)
    val sampled = p.where(inSample)
    val pairs = RangeJoin.gridNeighborJoinAB(p, sampled, "id", "x", "y", r)
      .localCheckpoint(false)
    val nnb = p.select(col("id"), inSample.as("sampled"))
      .join(pairs.groupBy(col("id_a").as("id")).agg(count(lit(1)).as("n_nb")),
        Seq("id"), "left")
      .select(col("id"), col("sampled"), coalesce(col("n_nb"), lit(0L)).as("n_nb"))
    val coreIds = nnb.where(col("sampled") && col("n_nb") >= minPtsEff)
      .select(col("id").as("id_b"))
    val hasCoreNb = pairs.join(coreIds, Seq("id_b"))
      .select(col("id_a").as("id")).distinct()
      .withColumn("has_core_nb", lit(true))
    nnb.join(hasCoreNb, Seq("id"), "left")
      .select(col("id"), col("sampled"), col("n_nb"),
        when(col("sampled") && col("n_nb") >= minPtsEff, lit("core"))
          .when(col("has_core_nb"), lit("border"))
          .otherwise(lit("noise")).as("label"))
  }
}
