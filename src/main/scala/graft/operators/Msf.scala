package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Minimum spanning forest — distributed Borůvka, the classic
  * parallel-MSF shape: every round each component picks its cheapest
  * outgoing edge under the TOTAL order (w, u, v) (ties deterministic,
  * so with distinct weights the result is THE unique MSF and with ties
  * it is still replayable), the picked edges join the forest, and
  * components contract along them. Component count at least halves per
  * round ⇒ ≤ log₂(V) rounds.
  *
  * The iterated state is the EDGE table itself, carrying each
  * endpoint's current component label (`cu`, `cv`) — there is no
  * node-level label table at all. Per round: one explode+min-struct
  * aggregate picks each component's cheapest outgoing edge, a
  * component-level connected-components pass ([[Dedup.clusters]],
  * pointer-doubling — the merge graph is one edge per component, so
  * the CC input SHRINKS with the component count, not the data)
  * labels the merged components, and two keyed left-joins against
  * that (small) relabel table rewrite `cu`/`cv` in place. Edges whose
  * endpoints land in the same component are DROPPED and parallel
  * component-pair edges contract to their (w, u, v)-minimum — the
  * frontier shrinks geometrically instead of re-joining the full edge
  * set against a node-label table every round (the r6 shape, measured
  * 22.9 s at sf0.1; this one cuts the per-round materializations from
  * four fact-sized to one shrinking one). Frontier tables are lazily
  * checkpointed per round so the iterated plan never nests (the
  * [[Bfs]]/[[PageRank]] contract); the loop early-stops the first
  * round no cross-component edge remains.
  *
  * Contraction reuses [[Dedup.clusters]] (pointer-doubling, reliable
  * per-round checkpoints — the executor-loss contract of every CC in
  * this library); a lazy-checkpoint inner CC was tried and measured
  * SLOWER (lazy chains across two nested loops thrash recomputation),
  * so the reliable form is also the fast form here.
  *
  * Driver-oracle'd (r12): the (w, u, v) total order makes every
  * round's pick deterministic, so the DuckDB twin replays the rounds
  * as generated CTEs with a recursive min-label closure standing in
  * for the pointer-doubling contraction ([[graft.Oracles.qMsf]] —
  * label values differ, the induced partition is identical).
  * Kruskal-parity property specs additionally pin edge-set
  * correctness on random graphs against a local union–find.
  */
object Msf {

  /** Budget bytes of one frontier row: (u, v, w, cu, cv), five longs. */
  private val TailRowBytes = 40L

  /** `edges`: long `src`, `dst`, `w` (undirected; parallel edges keep
    * the min weight). Returns forest edges (u, v, w, round) with
    * u < v; `round` is the Borůvka round that admitted the edge.
    */
  def msf(edges: DataFrame, maxRounds: Int = graft.Params.MsfMaxRounds): DataFrame = {
    require(maxRounds >= 1)
    // frontier: cross-component edges only, labeled with their
    // endpoints' CURRENT components; initially every node is its own
    // component, so the labels are just the endpoints
    var ec = edges
      .select(least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"),
        col("w").cast("long").as("w"))
      .where(col("u") =!= col("v"))
      .groupBy(col("u"), col("v")).agg(min(col("w")).as("w"))
      .select(col("u"), col("v"), col("w"),
        col("u").as("cu"), col("v").as("cv"))
      .transform(Barrier.local(_))
    val pieces = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var round = 1
    // count(), not isEmpty: a take-based probe materializes only ONE
    // partition of the lazy checkpoint and every later consumer then
    // recomputes the rest from the full cross-round lineage — the
    // classic partial-materialization blowup; an aggregate probe
    // materializes every partition exactly once
    var remaining = ec.count()
    val tailEdges = SizeRule.driverRows(edges.sparkSession, TailRowBytes)
    while (remaining > tailEdges && round <= maxRounds) {
      // each component nominates its cheapest outgoing edge: emit the
      // edge once per side (single pass — explode, not a self-union
      // that would scan the frontier twice), min-struct per component
      val picked = ec
        .select(explode(array(
          struct(col("cu").as("c"), col("w"), col("u"), col("v"),
            col("cu"), col("cv")),
          struct(col("cv").as("c"), col("w"), col("u"), col("v"),
            col("cu"), col("cv")))).as("s"))
        .groupBy(col("s.c"))
        .agg(min(col("s")).as("m"))
        .select(col("m.u").as("u"), col("m.v").as("v"), col("m.w").as("w"),
          col("m.cu").as("cu"), col("m.cv").as("cv"))
        .distinct() // the edge both of its components picked enters once
        .transform(Barrier.local(_)) // consumers: forest piece + merge edges
      // the picked edges carry their component pair, so the merge graph
      // needs NO node-label join — it's a projection of picked
      val relabel = contractPicks(picked)
      pieces += picked.select(col("u"), col("v"), col("w"),
        lit(round.toLong).as("round"))
      // contract: rewrite both endpoint labels via the (component-sized,
      // not node-sized) relabel table, drop now-internal edges, and
      // collapse parallel component-pair edges to their (w,u,v)-minimum
      // — only that edge can ever be picked later, so the frontier
      // keeps shrinking without changing the answer
      ec = ec
        .join(relabel.select(col("old").as("cu"), col("newc").as("ncu")),
          Seq("cu"), "left")
        .join(relabel.select(col("old").as("cv"), col("newc").as("ncv")),
          Seq("cv"), "left")
        .select(col("u"), col("v"), col("w"),
          coalesce(col("ncu"), col("cu")).as("cu"),
          coalesce(col("ncv"), col("cv")).as("cv"))
        .where(col("cu") =!= col("cv"))
        .groupBy(least(col("cu"), col("cv")).as("ca"),
          greatest(col("cu"), col("cv")).as("cb"))
        .agg(min(struct(col("w"), col("u"), col("v"))).as("m"))
        .select(col("m.u").as("u"), col("m.v").as("v"), col("m.w").as("w"),
          col("ca").as("cu"), col("cb").as("cv"))
        .transform(Barrier.local(_))
      remaining = ec.count()
      round += 1
    }
    // bounded driver-local tail: once the frontier fits
    // [[SizeRule.driverRows]] at 40 bytes a row (262,144 edges at the
    // default 10 MB budget, fewer on a small driver heap: a tail row
    // lives at roughly 330 B — collected Row, boxed tuple, one round's
    // maps — under SizeRule.DriverRowBytes), the remaining rounds run on
    // the driver. Components at least halve per round, so every run ends
    // with ~log2(cutover) such rounds, each a fixed ~1 s of scheduler +
    // barrier overhead on data far too small to parallelize (r15 at
    // sf0.1: rounds at 595/3/0 edges cost 1.2-1.5 s each, >4 s of an
    // 11 s query). One capped collect replays the remaining rounds with
    // the SAME pick/contract rules — per round: each component's
    // (w,u,v)-min incident edge, distinct; contract along picks
    // ([[SizeRule.components]]; label values are free: picks and
    // collapses compare only (w,u,v), which is unique per edge, and the
    // output carries no labels — the same argument the DuckDB twin
    // relies on); relabel, drop internal, collapse parallel pairs to
    // their (w,u,v)-min. Output rows are bit-equal to the distributed
    // rounds'.
    if (remaining > 0 && remaining <= tailEdges) {
      var local = ec.select(col("u"), col("v"), col("w"), col("cu"), col("cv"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      // (w, u, v) total order — the struct-min order with c fixed and
      // (cu, cv) unreachable behind the unique (w, u, v)
      def lt(a: (Long, Long, Long, Long, Long),
             b: (Long, Long, Long, Long, Long)): Boolean =
        a._3 < b._3 || (a._3 == b._3 &&
          (a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)))
      val outRows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      while (local.nonEmpty) {
        require(round <= maxRounds,
          s"Msf.msf: not converged after $maxRounds rounds — raise maxRounds")
        // pick: per component the (w,u,v)-min incident edge, deduped
        val byComp = scala.collection.mutable.HashMap
          .empty[Long, (Long, Long, Long, Long, Long)]
        def offer(c: Long, e: (Long, Long, Long, Long, Long)): Unit =
          byComp.get(c) match {
            case Some(cur) => if (lt(e, cur)) byComp(c) = e
            case None => byComp(c) = e
          }
        local.foreach { e => offer(e._4, e); offer(e._5, e) }
        val picked = byComp.values.toSet
        picked.foreach(e => outRows += ((e._1, e._2, e._3, round.toLong)))
        // contract: components of the pick graph, labeled by class min;
        // every component of `local` picked an edge, so each label is a
        // node of the pick graph
        val pa = picked.toArray
        val (comps, labels) = SizeRule.components(pa.map(_._4), pa.map(_._5))
        def find(c: Long): Long = labels(java.util.Arrays.binarySearch(comps, c))
        // relabel + drop internal + collapse parallel pairs to (w,u,v)-min
        val best = scala.collection.mutable.HashMap
          .empty[(Long, Long), (Long, Long, Long, Long, Long)]
        local.foreach { case (u, v, w, cu, cv) =>
          val (a, b) = (find(cu), find(cv))
          if (a != b) {
            val key = (math.min(a, b), math.max(a, b))
            val e = (u, v, w, key._1, key._2)
            best.get(key) match {
              case Some(cur) => if (lt(e, cur)) best(key) = e
              case None => best(key) = e
            }
          }
        }
        local = best.values.toArray
        round += 1
      }
      remaining = 0
      if (outRows.nonEmpty) {
        val spark = edges.sparkSession
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("u", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("w", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("round", org.apache.spark.sql.types.LongType)))
        import scala.jdk.CollectionConverters._
        pieces += spark.createDataFrame(
          outRows.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3, t._4)).asJava, schema)
      }
    }
    // components at least halve per round, so hitting the bound with
    // frontier edges left means maxRounds < log2(components) — a
    // silently partial forest would be a wrong answer, so refuse
    require(remaining == 0,
      s"Msf.msf: not converged after $maxRounds rounds — raise maxRounds")
    if (pieces.isEmpty)
      edges.select(col("src").cast("long").as("u"),
          col("dst").cast("long").as("v"), col("w").cast("long").as("w"))
        .limit(0).withColumn("round", lit(0L))
    else pieces.reduce(_ unionByName _)
  }

  /** Root labels for one round's merge graph — the specialized CC that
    * replaces a generic per-round [[Dedup.clusters]] call (measured: the
    * generic CC's per-round barriers and probes were ~half of q_msf).
    *
    * Structure it exploits: a component's min INCIDENT merge edge is
    * always its OWN pick (its pick is minimal over ALL its outgoing
    * edges, so no other component's pick into it can be lighter), so
    * parent(c) := partner on c's min incident (w,u,v) merge edge is the
    * textbook Borůvka pointer graph — every merge edge appears as a
    * pointer, chains descend in the edge total order, and each merge
    * component carries EXACTLY one cycle, a mutual-pick 2-cycle, broken
    * to a self-pointing root at the smaller id. Labels then converge by
    * pure pointer doubling l(c) ← l(l(c)) with NO further edge joins —
    * and the doubling is BATCHED: `hop` composition joins stack lazily
    * into one plan between materializations, so a batch costs one
    * eager local checkpoint plus one fixpoint probe (2 actions for
    * depth ≤ 2^hops) where the generic CC paid a barrier + probe per
    * single hop. Depth is typically tiny (min-edge trees are shallow);
    * an adversarial long chain just takes more batches, each widening
    * the horizon 2^hops-fold.
    *
    * Eager LOCAL checkpoints, deliberately: the outer frontier is
    * lazily local-checkpointed, so executor-loss durability is not a
    * property this loop can offer anyway (the [[Bfs]]/[[PageRank]]
    * contract), and the label table is component-sized, not data-sized.
    * The barriers MUST be the stats-resetting [[Barrier]] form: each
    * batch multiplies the leaf's carried size estimate 8-fold (2^hops
    * self-join leaves), so raw localCheckpoints compound it to ~8^k-bit
    * BigInts and the driver stalls in Catalyst stats arithmetic — the
    * measured 23 s → 1235 s q_msf regression at sf0.1.
    */
  private def contractPicks(picked: DataFrame, hops: Int = 3): DataFrame = {
    val nbr = picked.select(explode(array(
        struct(col("cu").as("c"), col("w"), col("u"), col("v"),
          col("cv").as("d")),
        struct(col("cv").as("c"), col("w"), col("u"), col("v"),
          col("cu").as("d")))).as("s"))
      .select(col("s.c").as("c"), struct(col("s.w").as("w"), col("s.u").as("u"),
        col("s.v").as("v"), col("s.d").as("d")).as("m"))
    val par = nbr.groupBy(col("c")).agg(min(col("m")).as("m"))
      .select(col("c"), col("m.d").as("p"))
    // break the one mutual-pick 2-cycle per component: both ends see
    // parent-of-parent == self and agree on the smaller id as root
    var l = Barrier.local(
      par.join(par.select(col("c").as("p"), col("p").as("pp")), Seq("p"))
        .select(col("c"),
          when(col("pp") === col("c"), least(col("c"), col("p")))
            .otherwise(col("p")).as("l")),
      eager = true)
    var converged = false
    var batches = 0
    while (!converged) {
      // horizon widens 2^hops-fold per batch, so hitting this bound is
      // impossible on a well-formed pointer forest (depth ≤ component
      // count < 2^(hops·64)) — it means a >2-cycle survived the break,
      // where doubling would spin forever; refuse instead
      batches += 1
      require(batches <= 64,
        "Msf.contractPicks: pointer doubling did not converge — " +
          "the merge graph carries a cycle longer than a mutual pick")
      var cur = l
      for (_ <- 1 to hops)
        cur = cur.as("x")
          .join(cur.select(col("c").as("__lc"), col("l").as("__ll")),
            col("x.l") === col("__lc"))
          .select(col("x.c").as("c"), col("__ll").as("l"))
      cur = Barrier.local(cur, eager = true)
      // the probe join tests flatness of THIS batch directly; a
      // changed?-flag on the last hop (the clusters pattern) was tried
      // r15 and measured SLOWER (cc 4.0 -> 6.1 s warm at sf0.1): it can
      // only certify the PRE-hop table flat, so every round whose chains
      // outlive hop 2 pays a full extra batch — dearer than the probe
      converged = cur.as("x")
        .join(cur.select(col("c").as("__lc"), col("l").as("__ll")),
          col("x.l") === col("__lc"))
        .where(col("__ll") =!= col("x.l")).isEmpty
      l = cur
    }
    l.select(col("c").as("old"), col("l").as("newc"))
  }

}
