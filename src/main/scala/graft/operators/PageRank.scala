package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed PageRank over an edge list, in FIXED-POINT INT64 units.
  *
  * Floating-point PageRank is summation-order-dependent: a distributed
  * sum of double contributions differs in ulps from run to run and engine
  * to engine, and iteration compounds the divergence. Ranks here are
  * integer "mass units" (`unit` = 1e12 ≈ total mass 1.0): every transfer
  * is an integer floor-division, every combine an exact int64 sum, so the
  * result is bit-identical on any partitioning, any engine, any scale —
  * the property that makes a distributed iterative computation testable
  * against an independent oracle at all. (The floor discards < 1e-10 of
  * mass per hop — far below any ranking-relevant difference.)
  *
  * [[pageRank]], [[pageRankWeighted]] and [[personalizedPageRank]] are
  * one power iteration over weighted edges (`w` = 1 unweighted) and a
  * teleport set T (every node, or the seeds). With damping d=85/100 and
  * Σw_u the summed out-weight of u (its out-degree when `w` = 1):
  *
  *   pr'(v) = [v∈T]·((15·unit) div (100·|T|) + (85·D) div (100·|T|))
  *          + Σ_{u→v} (pr(u)·85·w) div (100·Σw_u)
  *
  * from pr₀(v) = [v∈T]·unit div |T|, where D is the DANGLING mass — the
  * summed rank of nodes with no outbound edge. Standard PageRank
  * redistributes that mass; silently dropping it (what a naive
  * edges-join does) deflates every rank on any graph with sinks. D is an
  * exact int64 sum and its per-node share an integer floor-division, so
  * determinism is preserved. On a sink-free graph D = 0 and the term
  * vanishes.
  *
  * Each round is one join (ranks ⋈ edges, both keyed on the node id) +
  * one aggregate (sum per destination) + one left join back to the node
  * set for no-inbound nodes — the same bounded-shuffle shape per round as
  * [[Dedup.clusters]]. Out-weights and the teleport flag are computed
  * once, before the first round.
  */
object PageRank {

  val MassUnit: Long = 1000000000000L

  /** `edges` must have long columns (`src`, `dst`). Returns (node, pr)
    * after `iters` rounds from a uniform start. Node set = src ∪ dst.
    */
  def pageRank(edges: DataFrame, iters: Int): DataFrame =
    powerIteration(new Graph(edges, lit(1L).as("w")), None, iters)

  /** Edge-WEIGHTED PageRank: transition probability ∝ edge weight
    * instead of 1/degree — the variant for trading volumes, link
    * frequencies, co-occurrence counts. `edges` must have long columns
    * (`src`, `dst`, `w`) with strictly positive weights; each round's
    * per-edge transfer is `(pr·85·w) div (100·Σw_src)` — the weighted
    * share of the damped rank, exact int64 under the documented bound
    * `max_w · MassUnit · 85 < 2⁶³` (max_w ≤ ~10⁵; weights are relative
    * per source, so pre-dividing heavy weight columns by a constant
    * loses nothing). The same iteration as [[pageRank]], which is this
    * operator with every `w` = 1; parallel edges are legal and
    * contribute additively.
    */
  def pageRankWeighted(edges: DataFrame, iters: Int): DataFrame =
    powerIteration(new Graph(edges, col("w").cast("long")), None, iters)

  /** Personalized PageRank: teleport (and dangling mass) go to the SEED
    * set instead of uniformly everywhere — proximity-to-seeds scoring,
    * the recommendation/expansion primitive ("rank everything by
    * closeness to these accounts/documents"). The same iteration as
    * [[pageRank]] with T = the seeds: the start vector is uniform over
    * the seeds and only seeds receive the teleport term. Teleporting to
    * every node is [[pageRank]] exactly.
    *
    * Seeds outside the graph's node set are ignored (they could never
    * receive mass anyway); `seeds`' first column is the node id. The
    * surviving seed set must be NON-EMPTY — an empty (or fully
    * out-of-graph) seed set would make every `div nt` null and return
    * all-null ranks, so it fails fast with one cheap isEmpty probe
    * (which doubles as the materializer of the flagged node checkpoint
    * every later round reuses).
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int): DataFrame =
    powerIteration(new Graph(edges, lit(1L).as("w")), Some(seeds), iters)

  /** The one power iteration: `iters` rounds over `g`'s (src, dst, w)
    * edges, teleporting to `seeds` (every node when None).
    */
  private def powerIteration(g: Graph, seeds: Option[DataFrame], iters: Int): DataFrame = {
    val wsum = g.e.groupBy(col("src")).agg(sum(col("w")).as("wsum"))
    // edges-with-out-weights are read once a round; checkpointed like
    // the node set (see Graph)
    val ew = g.e.join(wsum, "src").localCheckpoint(false)
    // the teleport flag is set once on the node table, so no round
    // re-joins the seeds; without seeds it is a literal true, which the
    // optimizer folds out of every `when(tele, …)`
    val nodes = seeds match {
      case None => g.nodes.withColumn("tele", lit(true))
      case Some(s) =>
        val flagged = g.nodes
          .join(s.select(col(s.columns.head).cast("long").as("node")).distinct()
            .withColumn("tele", lit(true)), Seq("node"), "left")
          .select(col("node"), coalesce(col("tele"), lit(false)).as("tele"))
          .localCheckpoint(false)
        require(!flagged.where(col("tele")).isEmpty,
          "personalizedPageRank: seed set is empty after intersecting with the " +
            "graph's nodes — every rank would be null; pass at least one in-graph seed")
        flagged
    }
    // |T| via broadcast 1-row aggregate — the scalar reaches every task
    // without a driver round-trip, and the plan stays fully lazy
    val nt = nodes.where(col("tele")).agg(count(lit(1)).as("nt"))
    // Plan-choice probe, ONE bounded job (limit-1 semantics): a
    // sink-free graph — the overwhelmingly common case for symmetric /
    // co-occurrence graphs — needs neither the dangling-mass scalar nor
    // the per-round checkpoint, and skipping both keeps the whole
    // iteration a single pipelined job. The probe's inputs are exactly
    // the checkpointed node/weight tables every round reuses, so its
    // work is pre-materialization, not waste. The choice follows the
    // graph, whichever operator runs.
    val hasSinks = !g.nodes
      .join(wsum.select(col("src").as("node")), Seq("node"), "left_anti")
      .isEmpty
    var ranks = nodes.join(broadcast(nt))
      .select(col("node"),
        when(col("tele"), expr(s"${MassUnit}L div nt")).otherwise(lit(0L)).as("pr"))
    for (_ <- 1 to iters)
      ranks =
        if (!hasSinks) pipelinedRound(ew, nodes, nt, ranks)
        // the flow is consumed twice (dangling scalar + assembly join);
        // the lazy checkpoint makes both consumers share one computation
        // and keeps the iterated plan from nesting
        else sentinelRound(nodes, nt, sentinelFlow(ew, ranks).localCheckpoint(false))
    ranks
  }

  /** Per-edge transfer: the w-weighted share of the damped rank. */
  private def transfer: Column = expr("(pr * 85L * w) div (100L * wsum)")

  /** A teleport node's share of the undamped mass. */
  private def teleport: Column = expr(s"(15L * ${MassUnit}L) div (100L * nt)")

  /** Group id of the dangling mass in [[sentinelFlow]]. Node ids must not
    * equal it — impossible for the non-negative ids real graphs use.
    */
  private val Sentinel = Long.MinValue

  /** One round on a sink-free graph: `ranks` ⋈ edges-with-out-weights
    * `ew` on the source, summed per destination, then left-joined back
    * to the flagged `nodes` with the teleport count `nt`. No checkpoint:
    * the rounds pipeline into one job.
    */
  private[graft] def pipelinedRound(ew: DataFrame, nodes: DataFrame, nt: DataFrame,
                                    ranks: DataFrame): DataFrame = {
    val inbound = ew.join(ranks.withColumnRenamed("node", "src"), "src")
      .select(col("dst").as("node"), transfer.as("c"))
      .groupBy(col("node")).agg(sum(col("c")).as("inbound"))
    nodes.join(broadcast(nt)).join(inbound, Seq("node"), "left")
      .select(col("node"),
        (when(col("tele"), teleport).otherwise(lit(0L))
          + coalesce(col("inbound"), lit(0L))).as("pr"))
  }

  /** The flow of a round on a graph with sinks, collected in ONE pass:
    * `ranks` LEFT JOIN `ew` — matched rows emit the per-edge transfer,
    * unmatched rows (no outbound edge) emit their whole rank into the
    * [[Sentinel]] group. One scan of ranks, one join, one aggregate; no
    * second pass for the sinks.
    */
  private[graft] def sentinelFlow(ew: DataFrame, ranks: DataFrame): DataFrame =
    ranks.join(ew.withColumnRenamed("src", "node"), Seq("node"), "left")
      .select(coalesce(col("dst"), lit(Sentinel)).as("gnode"),
        when(col("dst").isNull, col("pr")).otherwise(transfer).as("c"))
      .groupBy(col("gnode").as("node")).agg(sum(col("c")).as("inbound"))

  /** The round on a graph with sinks, from its [[sentinelFlow]]: the
    * Sentinel group's sum is the dangling mass D, a 1-row broadcast
    * scalar like `nt` (no driver action), shared by the teleport set.
    */
  private[graft] def sentinelRound(nodes: DataFrame, nt: DataFrame, flow: DataFrame): DataFrame = {
    val dmass = flow.where(col("node") === Sentinel)
      .agg(coalesce(sum(col("inbound")), lit(0L)).as("dm"))
    nodes.join(broadcast(nt)).join(broadcast(dmass))
      .join(flow.where(col("node") =!= Sentinel), Seq("node"), "left")
      .select(col("node"),
        (when(col("tele"), teleport + expr("(85L * dm) div (100L * nt)")).otherwise(lit(0L))
          + coalesce(col("inbound"), lit(0L))).as("pr"))
  }

  /** k-core peeling, fixed rounds: repeatedly drop nodes whose degree in
    * the SURVIVING subgraph is below k — round r's survivors are a sound
    * over-approximation of the k-core that tightens monotonically, and on
    * real graphs a handful of rounds reaches the fixed point (run to
    * convergence by checking the survivor count between rounds when
    * exactness matters; fixed rounds keep the plan static and
    * oracle-replayable). Undirected: pass both arc directions. One
    * degree aggregate + one semi-join per round, edges checkpointed
    * once. Returns surviving (node, deg) after `rounds`.
    */
  def kCorePeel(edges: DataFrame, k: Long, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1)
    var e = new Graph(edges).e
    var deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    for (_ <- 1 to rounds) {
      val keep = deg.where(col("deg") >= k).select(col("node"))
        .localCheckpoint(false)
      e = e.join(keep.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .localCheckpoint(false)
      deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    }
    deg.where(col("deg") >= k)
  }

  /** HITS hubs & authorities, UNNORMALIZED fixed-iteration form: with
    * hub₀ = 1, each round sets auth(v) = Σ_{u→v} hub(u) then
    * hub(u) = Σ_{u→v} auth(v) — pure int64 sums, engine-identical (the
    * usual per-round L2 normalization is what forces floats; rankings
    * are normalization-invariant, so the integer form preserves exactly
    * the information HITS exists for). Growth bound: values multiply by
    * ≤ maxdeg² per round — keep `2·iters·log₂(maxdeg) < 63` (3 rounds
    * on a ≤2000-degree graph peaks ~10¹³). Two keyed join+aggregate
    * passes per round over the same checkpointed edge table.
    */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    val g = new Graph(edges)
    val (e, nodes) = (g.e, g.nodes)
    var hub = nodes.select(col("node"), lit(1L).as("hub"))
    var auth = nodes.select(col("node"), lit(0L).as("auth"))
    for (_ <- 1 to iters) {
      auth = nodes.join(
          e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("a")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("a"), lit(0L)).as("auth"))
        .localCheckpoint(false)
      hub = nodes.join(
          e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(col("src").as("node")).agg(sum(col("auth")).as("h")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("h"), lit(0L)).as("hub"))
        .localCheckpoint(false)
    }
    hub.join(auth, "node")
  }

  /** The long edge table `(src, dst, extra…)` every operator here starts
    * from and, built from it on first use, the node set src ∪ dst. The
    * caller's edge derivation (often a join + distinct itself) feeds
    * several consumers across more than one job, and the node set is
    * read once a round: lazy localCheckpoints truncate the shared
    * lineage so each runs ONCE per action instead of once per reference
    * (on a long-running cluster job swap for reliable checkpoint() / a
    * table write — same contract as [[Dedup.clusters]]).
    */
  private final class Graph(edges: DataFrame, extra: Column*) {
    val e: DataFrame = edges
      .select(Seq(col("src").cast("long"), col("dst").cast("long")) ++ extra: _*)
      .localCheckpoint(false)
    lazy val nodes: DataFrame = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(false)
  }
}
