package graft

import org.apache.spark.sql.DataFrame

/** Champion-list recall sweep: recall@k of the champion ranking vs the
  * exact ranking at several champion-list sizes M, on the same fixed
  * hash-order query budget the audit query uses. The knob a deployment
  * turns BEFORE trusting the bounded path at a new corpus scale — r12
  * measured M=40 (100% recall@10 at sf0.01) collapsing to 25% mean
  * recall at sf1, so M is a per-corpus parameter, not a constant.
  *
  * Sweeps either ranking family: `bm25` (impact order = per-term score
  * desc) or `jaccard` (impact order = set size asc) — r13's M was
  * fitted on BM25 sweeps only and applied to Jaccard by analogy, the
  * exact bug class that broke M twice (VERDICT r13 task #1), so the
  * Jaccard geometry gets its own sweep rather than an argument.
  * A third family `jaccardlsh` measures the LSH-bucketed RETRIEVAL
  * path (VERDICT r14 #1) against the exact THRESHOLDED truth (top-k
  * restricted to jac_ppm ≥ τ — the near-dup retrieval contract): no M
  * knob (the band scheme is fixed, Params.LshTopk*), so the m-list is
  * ignored and one recall line prints per run. This is how the
  * per-decade `text_jaccard_lsh_floor` calibration is produced at
  * scales the sf0.01 driver gate never sees.
  * Usage: runMain graft.RecallSweep <sfDir> <m1,m2,...> [bm25|jaccard] [budget]
  *
  * `budget` (default Params.AuditQueryBudget) bounds the audit query
  * sample. The exact half's intermediate stream is Σ_q Σ_feature df —
  * at sf100 (5M docs) the 100-query default spills past this box's
  * 55 GB disk headroom (measured r14, TWICE, before a human reduced
  * the budget) — so the forecast is now a BINDING refusal
  * ([[graft.operators.TextOps.exactAuditAdvisory]], VERDICT r14 #3):
  * an over-budget sweep refuses up front with the reduced-budget
  * recommendation instead of discovering the spill on disk. A 5th arg
  * `force` overrides (the declared-ground-truth escape hatch, same as
  * every other advisory's override flag).
  * Usage: runMain graft.RecallSweep <sfDir> <m1,m2,...> [bm25|jaccard]
  *        [budget] [force]
  */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val ms = args(1).split(",").map(_.toInt).toSeq
    val ranker = args.lift(2).getOrElse("bm25")
    require(Set("bm25", "jaccard", "jaccardlsh")(ranker),
      s"ranker must be bm25|jaccard|jaccardlsh, got $ranker")
    val budget = args.lift(3).map(_.toInt).getOrElse(Params.AuditQueryBudget)
    val force = args.lift(4).contains("force")
    val spark = GraftSession.local()
    import Params._
    val docs = Tables.load(spark, dir, "documents")
    // BINDING pre-flight: forecast the exact half's candidate stream
    // (Σ_q Σ_feature df) and refuse over-budget sweeps BEFORE any wide
    // join spills — the r14 sf100 lesson, now a gate instead of a
    // protocol. `force` is the declared-ground-truth override.
    operators.TextOps.exactAuditAdvisory(docs, "doc_id", "text",
      Bm25QueryMod, budget, ExactAuditCandBudget,
      s"RecallSweep($ranker)", overrideWork = force, ranker = ranker)
    def rank(m: Int): DataFrame = ranker match {
      // overrideWork: the sweep IS the champion-work calibration run
      case "bm25" => operators.TextOps.bm25TopK(docs, "doc_id", "text",
        Bm25QueryMod, Bm25K, champM = m, queryBudget = budget,
        overrideWork = true)
      case _ => operators.TextOps.jaccardTopK(docs, "doc_id", "text",
        Bm25QueryMod, Bm25K, champM = m, queryBudget = budget,
        overrideWork = true)
    }
    if (ranker == "jaccardlsh") {
      // fixed band scheme, no M sweep: one recall read of the LSH
      // retrieval vs the exact thresholded truth (the near-dup
      // retrieval contract — sub-τ tail misses are the design)
      val exact = rank(0)
        .where(org.apache.spark.sql.functions.col("jac_ppm")
          >= LshTopkMinJacPpm)
        .localCheckpoint()
      val lsh = operators.TextOps.jaccardLshTopK(docs, "doc_id", "text",
        Bm25QueryMod, Bm25K, LshTopkMinJacPpm, LshTopkK, LshTopkBands,
        queryBudget = budget)
      val r = SparkEntry.recallAtK(exact, lsh).collect()(0)
      println(s"[recall-sweep] ranker=$ranker k=$LshTopkK/" +
        s"bands=$LshTopkBands tau_ppm=$LshTopkMinJacPpm budget=$budget " +
        s"n_queries=${r.getLong(0)} mean_recall_ppm=${r.getLong(1)} " +
        s"min_recall_ppm=${r.getLong(2)}")
    } else {
      val exact = rank(0).localCheckpoint() // one exact pass shared by every M
      ms.foreach { m =>
        val r = SparkEntry.recallAtK(exact, rank(m)).collect()(0)
        println(s"[recall-sweep] ranker=$ranker M=$m budget=$budget " +
          s"n_queries=${r.getLong(0)} mean_recall_ppm=${r.getLong(1)} " +
          s"min_recall_ppm=${r.getLong(2)}")
      }
    }
    spark.stop()
  }
}
