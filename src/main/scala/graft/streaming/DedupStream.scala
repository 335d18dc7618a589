package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.{HashFunctions => H, TextFunctions => T}

/** Streaming near-duplicate detection — the streaming twin of the batch
  * `Dedup.minhashCandidates`/`incrementalCandidates` family for an
  * unbounded document feed (the ingestion edge of a training-data
  * pipeline, where flagging a near-dup AT ARRIVAL beats re-running batch
  * dedup over the accumulated corpus).
  */
object DedupStream {

  /** Per-band state: the first document that claimed this band key. */
  case class BandClaim(firstId: Long, firstTsMs: Long)

  /** One emitted candidate: `doc_b` (arriving) collided with `doc_a`
    * (the band's first claimant) on `band_id`/`bk`. A document sharing
    * several bands with the claimant emits once per band — consumers
    * dedup pairs, exactly as the batch verify stage does.
    */
  case class NearDupCandidate(doc_a: Long, doc_b: Long, band_id: Int, bk: Long)

  /** Streaming MinHash-LSH candidate detection with watermark-bounded
    * state: each arriving doc's band keys come from the batch kernel
    * ([[H.minhashBandKeys]], row-local: Spark rejects an aggregation here); per
    * band key the FIRST claimant (by event time, then id — deterministic
    * on replay) is held as state, and every later doc touching the band
    * inside the horizon emits a candidate pair against it.
    *
    * This is deliberately the INCREMENTAL dedup shape, not the batch
    * all-pairs one: state is exactly ONE claim (16 bytes) per live band
    * key — bounded regardless of how hot a band gets — and newcomers
    * pair with the band's retained representative, which is what an
    * ingestion gate acts on (route to quarantine / verify stage). The
    * batch twin for periodic reconciliation is `incrementalCandidates`
    * against the persisted band table.
    *
    * State lifetime: a claim expires `horizonMs` after the LAST time its
    * band was touched (each touch extends the timeout; event-time
    * timeout, so replay is deterministic and closure is driven by the
    * watermark, like `sessionize`). After expiry the next arrival
    * re-claims the band fresh.
    *
    * Callers must set a watermark on `tsCol` BEFORE calling (the
    * event-time timeout requires one); docs whose token count is below
    * `shingleN` have no shingles, hence no band keys, and pass through
    * unflagged, like the batch side's empty-shingle drop.
    */
  def nearDupCandidates(docs: DataFrame, idCol: String, textCol: String,
                        tsCol: String, horizonMs: Long,
                        k: Int = 16, bands: Int = 4,
                        shingleN: Int = 2): Dataset[NearDupCandidate] = {
    require(horizonMs > 0, "nearDupCandidates: horizonMs must be positive")
    import docs.sparkSession.implicits._
    docs
      .select(col(idCol).cast("long").as("doc_id"), col(tsCol).as("ts"),
        posexplode(H.minhashBandKeys(T.shingles(col(textCol), shingleN), k, bands))
          .as(Seq("band_id", "bk")))
      .as[(Long, java.sql.Timestamp, Int, Long)]
      .groupByKey(r => (r._3, r._4))
      .flatMapGroupsWithState[BandClaim, NearDupCandidate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: (Int, Long), batch: Iterator[(Long, java.sql.Timestamp, Int, Long)],
         state: GroupState[BandClaim]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = batch.toSeq.sortBy(r => (r._2.getTime, r._1))
            var claim = state.getOption
            var maxTs = Long.MinValue
            val out = Seq.newBuilder[NearDupCandidate]
            sorted.foreach { case (id, t, bandId, bk) =>
              maxTs = math.max(maxTs, t.getTime)
              claim match {
                case Some(c) if c.firstId != id =>
                  out += NearDupCandidate(c.firstId, id, bandId, bk)
                case Some(_) => () // replayed delivery of the claimant itself
                case None => claim = Some(BandClaim(id, t.getTime))
              }
            }
            claim.foreach { c =>
              state.update(c)
              // extend on every touch; must stay ahead of the watermark
              state.setTimeoutTimestamp(
                math.max(maxTs + horizonMs, state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }
}
