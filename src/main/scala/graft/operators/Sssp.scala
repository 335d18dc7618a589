package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source WEIGHTED shortest paths: bounded min-plus (frontier
  * Bellman–Ford), the weighted sibling of [[Bfs]] — the recursive-CTE
  * workload (`WITH RECURSIVE` + `min(dist + w)`) behind routing-cost,
  * cheapest-influence and weighted-blast-radius questions that hop
  * distance can't answer.
  *
  * Round r relaxes ONLY the frontier (nodes whose distance improved in
  * round r−1) against the edge list, takes the per-target min of
  * `dist + w` (one keyed aggregate, partial map-side), and keeps the
  * strict improvements — so a settled subgraph costs nothing in later
  * rounds, and after R rounds every node holds the exact minimum weight
  * over paths of ≤ R edges (identical to dense Bellman–Ford's R rounds;
  * the frontier restriction is a work optimization, not a semantics
  * change — any shortest ≤R-edge path improves its prefix nodes in
  * prefix order, and each improvement propagates next round). The loop
  * exits early once a round improves nothing — from then on the
  * distances are the true unbounded shortest paths.
  *
  * Scale shape: per round ONE frontier⋈edges equi-join on the node key
  * plus one keyed min — the same bound as [[Bfs]]: total work across
  * rounds is O(edges relaxed), never rounds×edges. Frontier and
  * distance sets are lazily checkpointed per round so the iterated plan
  * never nests; the per-round empty-probe doubles as the checkpoint
  * materializer (the [[PageRank]] one-job-probe pattern). Weights must
  * be non-negative int64 (exact arithmetic — no float accumulation
  * drift at any depth).
  */
object Sssp {

  /** `edges` needs long columns (`src`, `dst`, `w` ≥ 0; directed —
    * symmetrize for undirected), `seeds` a `node` column. Returns
    * (node, dist) for every node reachable within `maxRounds` edges of
    * any seed; seeds are dist 0.
    */
  def weightedDistances(edges: DataFrame, seeds: DataFrame, maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, "need at least one relaxation round")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
      col("w").cast("long")).localCheckpoint(false)
    var dist = seeds.select(col("node").cast("long"), lit(0L).as("dist"))
      .distinct().localCheckpoint(false)
    var frontier = dist
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      // 3 consumers: probe, update, frontier
      val improved = relax(e, frontier, dist).localCheckpoint(false)
      if (improved.isEmpty) done = true
      else {
        dist = dist.join(improved, Seq("node"), "left_anti").unionByName(improved)
          .localCheckpoint(false)
        frontier = improved
      }
      round += 1
    }
    dist
  }

  /** One relaxation round: the `frontier` ⋈ `e` candidates `dist + w`,
    * min per target, kept where they beat the known `dist` (or reach a
    * new node). Returns the improved (node, dist) rows.
    */
  private[graft] def relax(e: DataFrame, frontier: DataFrame, dist: DataFrame): DataFrame =
    frontier.join(e, col("node") === col("src"))
      .select(col("dst"), (col("dist") + col("w")).as("cand"))
      .groupBy(col("dst").as("node")).agg(min(col("cand")).as("cand"))
      .join(dist, Seq("node"), "left")
      .where(col("dist").isNull || col("cand") < col("dist"))
      .select(col("node"), col("cand").as("dist"))
}
