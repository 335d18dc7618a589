package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.etl.{Marts, Staging}
import graft.functions.{TextFunctions => T}
import graft.operators.{Audit, Dedup, EventOps, Linkage, Quality, Sampling, Similarity, Sketches}

/** Unit-level behavior checks for the operator library on crafted inputs
  * (the testdata-scale value checks live in the DuckDB oracle gate).
  */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("dedup exact groups identical content and keeps min id") {
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y")).toDF("doc_id", "text")
    val out = Dedup.exact(docs, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_dups"))).toSet
    assert(out === Set((1L, 2L), (3L, 1L)))
  }

  test("minhash LSH finds a heavily-overlapping pair, skips disjoint docs") {
    val near = "spark shuffles the partitions and sorts each group by key before merging output"
    val docs = Seq(
      (1L, near),
      (2L, near + " tail"),            // ~93% shingle overlap
      (3L, "completely different words about gardens flowers bees and honey production")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngram jaccard scores the candidate pair exactly") {
    // 95% shingle overlap — high enough that the 4x4 minhash bands are
    // (deterministically, for these strings) guaranteed to collide.
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base + " x1"), (3L, "q r s t u v w x y z"))
      .toDF("doc_id", "text")
    val out = Dedup.ngramJaccard(docs, "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // shingles: 19 shared + 1 extra in doc2 → 19/20 = 0.95
    assert(out.toSeq === Seq((1L, 2L, 0.95)))
  }

  test("clusters: min-label propagation collapses chains to one component") {
    val pairs = Seq((2L, 5L), (5L, 9L), (11L, 12L)).toDF("doc_a", "doc_b")
    val out = Dedup.clusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((2L, 2L), (5L, 2L), (9L, 2L), (11L, 11L), (12L, 11L)))
  }

  test("cleanCorpus drops non-canonical near-dups and low quality docs") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base + " the a of and to in is the a of"), // canonical, decent quality
      (2L, base + " the a of and to in is the a on"), // near-dup of 1 → dropped
      (3L, "zz qq")                                    // low quality → dropped
    ).toDF("doc_id", "text")
    val kept = Dedup.cleanCorpus(docs, "doc_id", "text", 0.5, 0.3)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L))
  }

  test("simhash of identical docs collides at distance 0") {
    val docs = Seq((1L, "w1 w2 w3 w4 w5 w6"), (2L, "w1 w2 w3 w4 w5 w6"),
      (3L, "different tokens entirely here now ok")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("hamming")))
    assert(pairs.toSeq === Seq((1L, 2L, 0L)))
  }

  test("signaturePairs == brute-force hamming<=3, each pair exactly once") {
    // the r11 kernel's whole contract on one synthetic table: random
    // 64-bit signatures + a 5-deep equal-signature clique + planted
    // pairs at distances 1/2/3 (kept) and 4 (dropped). Brute force is
    // the spec: completeness (6-block triple pigeonhole), exactness
    // (per-half bit_count), and exactly-once emission (the
    // first-matching-triple filter replaces distinct()).
    val rnd = new scala.util.Random(7)
    def flip(lo: Long, hi: Long, bits: Seq[Int]): (Long, Long) =
      bits.foldLeft((lo, hi)) { case ((l, h), b) =>
        if (b < 32) (l ^ (1L << b), h) else (l, h ^ (1L << (b - 32)))
      }
    val base = (0 until 200).map { i =>
      (i.toLong, rnd.nextLong() & 0xffffffffL, rnd.nextLong() & 0xffffffffL)
    }
    val clique = (200 until 205).map(i => (i.toLong, base(0)._2, base(0)._3))
    val planted = Seq(1, 2, 3, 4).zipWithIndex.map { case (d, k) =>
      val (lo, hi) = flip(base(k)._2, base(k)._3,
        rnd.shuffle((0 until 64).toList).take(d))
      (300L + k, lo, hi)
    }
    val sig = (base ++ clique ++ planted).toDF("doc_id", "sim_lo", "sim_hi")
    val got = Dedup.signaturePairs(sig, "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Long]("hamming")))
    assert(got.map(_._1).distinct.length === got.length, "duplicate pair emitted")
    val rows = (base ++ clique ++ planted)
    val want = (for {
      (ia, la, ha) <- rows; (ib, lb, hb) <- rows if ia < ib
      d = java.lang.Long.bitCount(la ^ lb) + java.lang.Long.bitCount(ha ^ hb)
      if d <= 3
    } yield ((ia, ib), d.toLong)).toSet
    assert(got.toSet === want)
    assert(want.count(_._2 == 0L) >= 10, "clique pairs missing from the spec itself")
    assert(Seq(1L, 2L, 3L).forall(d => want.exists(_._2 == d)), "planted distances missing")
  }

  test("simhash 16-bit blocks shrink candidate buckets ~2 orders vs 8-bit") {
    // scale probe (VERDICT r1 #1): with B-bit blocks a block position has
    // 2^B bucket values, so expected random in-bucket pairs scale as
    // nBlocks * C(N,2) / 2^B. 16-bit blocks must cut the candidate set by
    // orders of magnitude vs an 8-bit split of the same 64-bit signature.
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val sig = Dedup.simhash(docs, "doc_id", "text")
      .select($"doc_id", $"sim_lo", $"sim_hi").persist()
    def candidates(width: Int): Long = {
      val mask = (1L << width) - 1
      val bvs = (0 until 32 / width).flatMap(k => Seq(
        shiftright($"sim_lo", width * k).bitwiseAND(lit(mask)),
        shiftright($"sim_hi", width * k).bitwiseAND(lit(mask))))
      val blocks = sig.select($"doc_id", posexplode(array(bvs: _*)).as(Seq("blk", "bv")))
      blocks.as("a").join(blocks.as("b"),
          $"a.blk" === $"b.blk" && $"a.bv" === $"b.bv" && $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id", $"b.doc_id").distinct().count()
    }
    val (c8, c16) = (candidates(8), candidates(16))
    sig.unpersist()
    assert(c16 * 20 < c8, s"16-bit blocks gave $c16 candidates vs $c8 for 8-bit")
  }

  test("brute-force ANN ranks by cosine with deterministic ties") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(1f, 0.01f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs.filter($"vec_id" === 0), vecs, "vec_id", "embedding", 2)
      .orderBy($"rnk").collect().map(_.getAs[Long]("neighbor_id"))
    assert(top.toSeq === Seq(1L, 2L))
  }

  test("MRL top-k equals brute force at full coarse width; smooth recall below") {
    import Params._
    val emb = Tables.load(spark, sfDir, "embeddings")
    val queries = emb.filter($"vec_id" % AnnQueryMod === 0)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", AnnK))
    // coarseDims = full width: the coarse ranking IS the exact ranking,
    // so any pool >= k reproduces brute force exactly
    val full = pairs(Similarity.mrlTopK(queries, emb, "vec_id", "embedding",
      EmbDims, MrlPool, AnnK))
    assert(full === exact, "full-width coarse pass must equal brute force")
    // truncated prefix: recall is data-dependent but the rerank can only
    // help — a wider pool dominates a pool of exactly k
    def recallAt(pool: Int): Double = {
      val got = pairs(Similarity.mrlTopK(queries, emb, "vec_id", "embedding",
        MrlDims, pool, AnnK))
      got.intersect(exact).size.toDouble / exact.size
    }
    assert(recallAt(MrlPool) >= recallAt(AnnK),
      "a larger rerank pool must not lose recall")
  }

  test("IVF recall strictly improves with nprobe and reaches exact at nprobe = cells") {
    import Params._
    val emb = Tables.load(spark, sfDir, "embeddings")
    val queries = emb.filter($"vec_id" % AnnQueryMod === 0)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", AnnK))
    val recalls = Seq(1, IvfNprobe, IvfCells).map { np =>
      val got = pairs(Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
        AnnK, IvfCells, EmbDims, np))
      got.intersect(exact).size.toDouble / exact.size
    }
    assert(recalls(0) <= recalls(1) && recalls(1) <= recalls(2),
      s"recall must be monotone in nprobe: $recalls")
    assert(recalls(2) > recalls(0),
      s"probing more cells must strictly improve recall on this data: $recalls")
    assert(recalls(2) === 1.0,
      s"nprobe = cells searches every cell and must equal brute force: $recalls")
  }

  test("k-means fit converges: movement stops and extra iterations are no-ops") {
    import Params._
    val emb = Tables.load(spark, sfDir, "embeddings")
    val init = graft.functions.HashFunctions.centroidWeights(IvfCells, EmbDims)
    // generous cap + tol=0: stops only at an exact fixed point
    val (cFix, nFix, itersRun) = Similarity.kmeansFit(emb, "embedding", init,
      EmbDims, maxIter = 25)
    assert(itersRun < 25, "should reach a fixed point well before the cap")
    // idempotence at the fixed point: one more round from cFix changes nothing
    val (cAgain, nAgain, _) = Similarity.kmeansFit(emb, "embedding", cFix,
      EmbDims, maxIter = 1)
    assert(cAgain === cFix && nAgain === nFix)
    // the fit moved the centroids off the md5 seeds and every cell is live
    assert(cFix !== init)
    assert(nFix.forall(_ > 0L) && nFix.sum === emb.count())
  }

  test("semanticDedup keeps each group's most prototypical member") {
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val emb = Seq(
      (1L, Array(10f, 0.1f)), (2L, Array(10f, 0.2f)), // cell 0 near-dups
      (3L, Array(0.1f, 10f)), (4L, Array(0.2f, 10f)), // cell 1 near-dups
      (5L, Array(7f, -7f)) // cell 0, isolated (cos to 1,2 ≈ 0.69)
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(emb, "vec_id", "embedding", cents, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    // {1,2}: keep 1 (highest cosine to centroid (1,0)); {3,4}: keep 3;
    // 5 pairs with nothing → absent from the prune ledger entirely
    assert(out === Set((1L, 1L, 2L), (3L, 3L, 2L)))
  }

  test("embedding near-dup finds only the close pair") {
    val vecs = Seq(
      (0L, Array.fill(8)(0.5f)),
      (1L, Array.fill(8)(0.5f).updated(0, 0.51f)),
      (2L, Array.tabulate(8)(i => if (i % 2 == 0) 1f else -1f))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(vecs, "vec_id", "embedding", 0.95, dims = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((0L, 1L)))
  }

  test("TopKAggregator generalizes to string values with the same total order") {
    val df = Seq(("g", "beta", 1L), ("g", "gamma", 2L), ("g", "alpha", 3L),
      ("g", "gamma", 9L), ("h", "zeta", 5L)).toDF("grp", "v", "id")
    val top = operators.TopKAggregate
      .topK[String, Long](df, col("grp"), "grp", col("v"), col("id"), 2, "id", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    // order is (value DESC, id ASC): g → (gamma,2),(gamma,9); h → (zeta,5)
    assert(top === Set(("g", 2L, "gamma", 1L), ("g", 9L, "gamma", 2L), ("h", 5L, "zeta", 1L)))
  }

  test("range join matches exactly and rejects absurd bucket ratios loudly") {
    val points = Seq((1L, 5.0), (2L, 15.0), (3L, 42.0)).toDF("pid", "v")
    val iv = Seq((10L, 0.0, 10.0), (20L, 12.0, 43.0)).toDF("band", "lo", "hi")
    val out = operators.RangeJoin.pointInInterval(points, "v", iv, "lo", "hi", 10.0)
      .select($"band", $"pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // hi exclusive: v=42.0 < 43.0 matches; v=5.0 in [0,10); 15 and 42 in [12,43)
    assert(out === Set((10L, 1L), (20L, 2L), (20L, 3L)))
    val wide = Seq((1L, 0.0, 1e9)).toDF("band", "lo", "hi")
    val e = intercept[Exception] {
      operators.RangeJoin.pointInInterval(points, "v", wide, "lo", "hi", 0.001).collect()
    }
    assert(e.getMessage.contains("buckets") || e.getCause != null)
    // inverted interval = empty by the [lo,hi) contract: zero rows, no
    // descending-sequence explosion
    val inverted = Seq((1L, 50.0, 10.0)).toDF("band", "lo", "hi")
    assert(operators.RangeJoin.pointInInterval(points, "v", inverted, "lo", "hi", 10.0)
      .count() === 0)
  }

  test("interval overlap joins half-open overlaps once, skips touching and inverted") {
    import graft.operators.RangeJoin
    val a = Seq((1L, 0.0, 10.0),   // overlaps b1, touches b2 at 10 (no match)
                (2L, 20.0, 30.0),  // overlaps b2 across several buckets
                (3L, 50.0, 40.0))  // inverted: empty by contract
      .toDF("a_id", "alo", "ahi")
    val b = Seq((1L, 5.0, 8.0), (2L, 10.0, 29.0), (3L, 90.0, 95.0))
      .toDF("b_id", "blo", "bhi")
    val out = RangeJoin.intervalOverlap(a, "alo", "ahi", b, "blo", "bhi", bucketWidth = 3.0)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSeq
    // each overlapping pair exactly ONCE even when it spans many shared
    // buckets (2,2 shares buckets 6..9); [0,10) vs [10,29) touch → no row
    assert(out.sorted === Seq((1L, 1L), (2L, 2L)))
    // zero-length intervals contain no points and must match NOTHING even
    // inside another interval ([5,5) sits inside [3,7))
    val za = Seq((1L, 5.0, 5.0)).toDF("a_id", "alo", "ahi")
    val zb = Seq((1L, 3.0, 7.0)).toDF("b_id", "blo", "bhi")
    assert(RangeJoin.intervalOverlap(za, "alo", "ahi", zb, "blo", "bhi", 3.0).count() === 0L)
    assert(RangeJoin.intervalOverlap(zb, "blo", "bhi", za, "alo", "ahi", 3.0).count() === 0L)
  }

  test("clusters of an empty pair set returns empty instead of crashing") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.clusters(empty).count() === 0)
  }

  test("clusters drops pairs with a null id instead of emitting a null doc_id") {
    val pairs = Seq((Some(1L), None), (Some(5L), None), (Some(7L), Some(8L)))
      .toDF("doc_a", "doc_b")
    def rows() = Dedup.clusters(pairs).collect().map(r => (r.get(0), r.get(1))).toSet
    assert(rows() === Set((7L, 7L), (8L, 7L)), "driver path")
    assert(distributedCC(rows()) === Set((7L, 7L), (8L, 7L)), "distributed path")
  }

  test("bernoulli keeps null-key rows (sentinel draw) instead of dropping them") {
    val df = Seq(Some(1L), Some(2L), None).toDF("k")
    val kept = operators.Sampling.bernoulli(df, col("k"), 1.0, "nulltest").count()
    assert(kept === 3, "rate 1.0 must be a full pass-through, nulls included")
  }

  test("topNPerGroup breaks ties on the tie-break column") {
    val df = Seq(("g", 10, 1), ("g", 10, 2), ("g", 10, 3)).toDF("grp", "score", "id")
    val top = Marts.topNPerGroup(df, Seq($"grp"), Seq($"score".desc, $"id".asc), 2)
      .orderBy($"rk").collect().map(_.getAs[Int]("id"))
    assert(top.toSeq === Seq(1, 2))
  }

  test("scd2 builds half-open versions, prunes no-change rows, handles nulls") {
    val log = Seq(
      (7L, "2024-01-01", "A", 1L),
      (7L, "2024-02-01", "A", 2L), // no change: must not open a version
      (7L, "2024-03-01", "B", 3L),
      (7L, "2024-04-01", null, 4L), // null is a real new value
      (7L, "2024-05-01", "A", 5L), // value can recur in a LATER version
      (9L, "2024-01-15", "X", 6L))
      .toDF("k", "eff", "attr", "seq")
    val out = graft.etl.Staging.scd2(log, Seq("k"), "eff", Seq("attr"), Seq($"seq"))
      .select($"k", $"effective_from", $"effective_to", $"is_current", $"attr")
      .as[(Long, String, Option[String], Boolean, Option[String])].collect().toSet
    assert(out === Set(
      (7L, "2024-01-01", Some("2024-03-01"), false, Some("A")),
      (7L, "2024-03-01", Some("2024-04-01"), false, Some("B")),
      (7L, "2024-04-01", Some("2024-05-01"), false, None),
      (7L, "2024-05-01", None, true, Some("A")),
      (9L, "2024-01-15", None, true, Some("X"))))
  }

  test("scd2Merge prunes a cross-boundary no-change row and extends history correctly") {
    import graft.etl.Staging
    val log1 = Seq((7L, "2024-01-01", "A", 1L), (7L, "2024-02-01", "B", 2L))
      .toDF("k", "eff", "attr", "seq")
    // batch: a no-change row (B again) that must NOT open a version even
    // though the prune now happens across the hist/batch boundary, then
    // a real change
    val log2 = Seq((7L, "2024-03-01", "B", 3L), (7L, "2024-04-01", "C", 4L),
      (9L, "2024-01-10", "X", 5L)) // brand-new key arrives in the batch
      .toDF("k", "eff", "attr", "seq")
    val hist = Staging.scd2(log1, Seq("k"), "eff", Seq("attr"), Seq($"seq"))
    val merged = Staging.scd2Merge(hist, log2, Seq("k"), "eff", Seq("attr"), Seq($"seq"))
      .select($"k", $"effective_from", $"effective_to", $"is_current", $"attr")
      .as[(Long, String, Option[String], Boolean, String)].collect().toSet
    val full = Staging.scd2(log1.unionByName(log2), Seq("k"), "eff", Seq("attr"), Seq($"seq"))
      .select($"k", $"effective_from", $"effective_to", $"is_current", $"attr")
      .as[(Long, String, Option[String], Boolean, String)].collect().toSet
    assert(merged === full, "incremental merge must equal the full rebuild")
    assert(merged === Set(
      (7L, "2024-01-01", Some("2024-02-01"), false, "A"),
      (7L, "2024-02-01", Some("2024-04-01"), false, "B"), // 03-01 B pruned
      (7L, "2024-04-01", None, true, "C"),
      (9L, "2024-01-10", None, true, "X")))
  }

  test("scd2Merge rejects out-of-order batches at execution and handles null keys") {
    import graft.etl.Staging
    // hist where a no-change row was pruned: (t1,A),(t2,A) → one version,
    // last_seen = t2. A back-dated batch row between t1 and t2 cannot be
    // replayed correctly from version rows — the guard must fire.
    val log1 = Seq((7L, "2024-01-01", "A", 1L), (7L, "2024-02-01", "A", 2L))
      .toDF("k", "eff", "attr", "seq")
    val hist = Staging.scd2(log1, Seq("k"), "eff", Seq("attr"), Seq($"seq"))
    val backdated = Seq((7L, "2024-01-15", "B", 3L)).toDF("k", "eff", "attr", "seq")
    val merged = Staging.scd2Merge(hist, backdated, Seq("k"), "eff", Seq("attr"), Seq($"seq"))
    val e = intercept[Exception] { merged.collect() }
    def msgs(t: Throwable): String = if (t == null) "" else t.getMessage + "\n" + msgs(t.getCause)
    assert(msgs(e).contains("last_seen"), s"guard should fire: ${msgs(e)}")

    // null business key: one coherent history, not two overlapping ones
    val nlog1 = Seq((Option.empty[Long], "2024-01-01", "A", 1L)).toDF("k", "eff", "attr", "seq")
    val nlog2 = Seq((Option.empty[Long], "2024-02-01", "B", 2L)).toDF("k", "eff", "attr", "seq")
    val nhist = Staging.scd2(nlog1, Seq("k"), "eff", Seq("attr"), Seq($"seq"))
    val nmerged = Staging.scd2Merge(nhist, nlog2, Seq("k"), "eff", Seq("attr"), Seq($"seq"))
      .select($"effective_from", $"effective_to", $"is_current", $"attr")
      .as[(String, Option[String], Boolean, String)].collect().toSet
    assert(nmerged === Set(
      ("2024-01-01", Some("2024-02-01"), false, "A"),
      ("2024-02-01", None, true, "B")))
  }

  test("staging null markers + casts") {
    val df = Seq(("\\N", "5"), ("7", "\\N")).toDF("a", "b")
    val out = Staging.castColumns(Staging.nullMarkers(df, Seq("a", "b"), "\\N"),
      Map("a" -> "int", "b" -> "int")).collect()
    assert(out.map(r => (Option(r.get(0)), Option(r.get(1)))).toSet ===
      Set((None, Some(5)), (Some(7), None)))
  }

  test("empty and one-token documents flow through shingles/minhash without error") {
    // ADVICE r1: slice(ts, 1, size-1) threw for zero-token docs; the
    // length is now clamped to 0
    val docs = Seq((1L, ""), (2L, "   "), (3L, "solo"), (4L, "a b c"))
      .toDF("doc_id", "text")
    val sh = docs.select($"doc_id", T.shingles($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L).isEmpty && sh(2L).isEmpty && sh(3L).isEmpty)
    assert(sh(4L) === Seq("a b", "b c"))
    // the dedup pipeline over a corpus containing empty docs must not throw
    assert(Dedup.minhashCandidates(docs, "doc_id", "text").collect().length >= 0)
  }

  test("text functions: tokens, shingles, language priority") {
    val df = Seq(Tuple1("the quick  brown fox  ")).toDF("text")
    val r = df.select(
      T.tokenCount($"text").as("n"),
      T.shingles($"text").as("sh"),
      T.langId($"text").as("lang")).collect().head
    assert(r.getAs[Long]("n") === 4)
    assert(r.getSeq[String](1) === Seq("the quick", "quick brown", "brown fox"))
    assert(r.getAs[String]("lang") === "en")
  }

  test("shingles generalize to n=3 and n=5 with empty sets for short docs") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b"), (3L, ""), (4L, "x y z"))
      .toDF("doc_id", "text")
    def sh(n: Int): Map[Long, Seq[String]] = docs
      .select($"doc_id", T.shingles($"text", n).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(3) === Map(
      1L -> Seq("a b c", "b c d", "c d e"), 2L -> Seq(), 3L -> Seq(),
      4L -> Seq("x y z")))
    assert(sh(5) === Map(
      1L -> Seq("a b c d e"), 2L -> Seq(), 3L -> Seq(), 4L -> Seq()))
  }

  test("as-of join finds the latest prior match per user, never a later one") {
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7L, "click"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:05:00"), 7L, "click"),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 7L, "purchase"),
      (4L, java.sql.Timestamp.valueOf("2024-01-01 00:20:00"), 7L, "click"),
      (5L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 8L, "purchase"), // no prior click
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = EventOps.asofPriorEvent(ev, "user_id", "ts", "event_type", "purchase", "click")
      .collect().map(r => (r.getAs[Long]("event_id"), Option(r.getAs[Any]("asof_ms")))).toMap
    val t5m = java.sql.Timestamp.valueOf("2024-01-01 00:05:00").getTime
    assert(out(3L) === Some(t5m)) // latest prior click at 00:05, not 00:00, not 00:20
    assert(out(5L) === None)
  }

  test("nearest-event join picks the smaller |Δt| side, ties to prior, nulls degrade") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // user 7: click 00:00, purchase 00:10, click 00:14 → next is nearer (4m < 10m)
      (1L, ts("2024-01-01 00:00:00"), 7L, "click"),
      (2L, ts("2024-01-01 00:10:00"), 7L, "purchase"),
      (3L, ts("2024-01-01 00:14:00"), 7L, "click"),
      // user 8: click 00:00, purchase 00:05, click 00:10 → exact tie, prior wins
      (4L, ts("2024-01-01 00:00:00"), 8L, "click"),
      (5L, ts("2024-01-01 00:05:00"), 8L, "purchase"),
      (6L, ts("2024-01-01 00:10:00"), 8L, "click"),
      // user 9: purchase before any click → forward match only
      (7L, ts("2024-01-01 00:01:00"), 9L, "purchase"),
      (8L, ts("2024-01-01 00:30:00"), 9L, "click"),
      // user 10: no clicks at all → all nulls
      (9L, ts("2024-01-01 00:02:00"), 10L, "purchase"),
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = EventOps.nearestEvent(ev, "user_id", "ts", "event_type", "purchase", "click")
      .collect().map(r => (r.getAs[Long]("event_id"),
        (Option(r.getAs[Any]("nearest_ms")), Option(r.getAs[Any]("gap_ms"))))).toMap
    def ms(s: String) = ts(s).getTime
    assert(out(2L) === ((Some(ms("2024-01-01 00:14:00")), Some(4L * 60000))))
    assert(out(5L) === ((Some(ms("2024-01-01 00:00:00")), Some(5L * 60000))))
    assert(out(7L) === ((Some(ms("2024-01-01 00:30:00")), Some(29L * 60000))))
    assert(out(9L) === ((None, None)))
  }

  test("line dedup keeps first occurrence corpus-wide and stitches docs back") {
    import graft.operators.TextOps
    val docs = Seq(
      (1L, "a b c d w x y z"),   // lines: "a b c d", "w x y z"
      (2L, "a b c d p q r s"),   // first line duplicates doc 1 → dropped
      (3L, "w x y z"))           // whole doc duplicates doc 1 → dropped entirely
      .toDF("doc_id", "text")
    val rows = TextOps.dedupLines(docs, "doc_id", "text", lineTokens = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows === Set(
      (1L, "a b c d w x y z", 2L),
      (2L, "p q r s", 1L)))
  }

  test("weighted sampling keeps everything at weight 1, nothing at 0, and is deterministic") {
    import graft.operators.Sampling
    val ids = spark.range(0, 500).toDF("id")
    assert(Sampling.weighted(ids, $"id", lit(1.0), "w1").count() === 500L)
    assert(Sampling.weighted(ids, $"id", lit(0.0), "w1").count() === 0L)
    // out-of-range weights clamp instead of corrupting the draw
    assert(Sampling.weighted(ids, $"id", lit(7.5), "w1").count() === 500L)
    val a = Sampling.weighted(ids, $"id", lit(0.4), "w1").as[Long].collect().toSet
    val b = Sampling.weighted(ids, $"id", lit(0.4), "w1").as[Long].collect().toSet
    assert(a === b && a.nonEmpty && a.size < 500)
    // a row's draw survives a weight increase (nested samples property)
    val bigger = Sampling.weighted(ids, $"id", lit(0.7), "w1").as[Long].collect().toSet
    assert(a.subsetOf(bigger))
  }

  test("funnel counts only in-order step completions") {
    import graft.operators.EventOps
    val ev = Seq(
      (7L, 1L, "click"), (7L, 2L, "view"), (7L, 3L, "purchase"), // full funnel
      (8L, 5L, "view"), (8L, 6L, "click"),                       // view BEFORE click → step 2 not reached
      (9L, 1L, "click"), (9L, 1L, "view"))                       // same-ts view is not strictly after
      .toDF("user_id", "ts_ms", "event_type")
    val out = EventOps.funnel(ev, "user_id", "ts_ms", "event_type",
        Seq("click", "view", "purchase"))
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
  }

  test("global rank is a dense 1..N total-order rank without a global window") {
    import graft.operators.GlobalRank
    val df = spark.range(0, 5000).select(
      (col("id") * 37 % 1000).as("v"), col("id"))
    val ranked = GlobalRank.globalRank(df, Seq($"v".asc, $"id".asc), numPartitions = 8)
      .collect().map(r => (r.getAs[Long]("v"), r.getAs[Long]("id"), r.getAs[Long]("grank")))
    assert(ranked.map(_._3).sorted.toSeq === (1L to 5000L),
      "ranks must be exactly 1..N")
    val bySort = ranked.sortBy(t => (t._1, t._2)).map(_._3)
    assert(bySort.toSeq === (1L to 5000L), "rank must follow the total order")
  }

  test("sessionize splits on gap and counts correctly") {
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7L),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 7L),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 7L), // > 30min gap → new session
      (4L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 8L),
    ).toDF("event_id", "ts", "user_id")
    val out = EventOps.sessionize(ev, "user_id", "ts", 1800000L)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"), r.getAs[Long]("n_events"))).toSet
    assert(out === Set((7L, 1L, 2L), (7L, 2L, 1L), (8L, 1L, 1L)))
  }

  test("Misra-Gries candidates are a superset of true heavy hitters") {
    import graft.operators.Frequency
    // adversarial stream: one heavy item (30%) drowned in 700 distinct
    // light items, k far smaller than the distinct count
    val items = Seq.fill(300)("hot") ++ (1 to 700).map(i => s"light$i")
    val cands = Frequency.misraGries(items.iterator, 8).toSet
    assert(cands.contains("hot"),
      "an item above n/(k+1) frequency must survive the sketch")
    assert(cands.size <= 8, "at most k counters survive")
  }

  test("heavyHitters is exact: sketch only prunes, second pass verifies") {
    import graft.operators.Frequency
    val df = (Seq.fill(40)("a") ++ Seq.fill(25)("b") ++ Seq.fill(10)("c") ++
      (1 to 25).map(i => s"x$i")).toDF("item")
    // threshold: count * 5 > 100  ⇔  count > 20  → exactly {a, b}
    val out = Frequency.heavyHitters(df, col("item"), 5L, 16)
      .collect().map(r => (r.getString(0), r.getAs[Long]("n"))).toSet
    assert(out === Set(("a", 40L), ("b", 25L)))
  }

  test("prefix-filter Jaccard finds every pair the LSH+verify path finds, and only true pairs") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val exact = Dedup.prefixFilterJaccard(docs, "doc_id", "text",
        graft.Params.JaccardMinNum, graft.Params.JaccardMinDen)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    val lsh = Dedup.ngramJaccard(docs, "doc_id", "text", graft.Params.JaccardMin)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact),
      "exact join must dominate LSH recall: " + (lsh -- exact))
    // every reported pair truly meets the threshold (independent check)
    val sh = docs.select(col("doc_id"), array_distinct(T.shingles(col("text"))).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    exact.foreach { case (a, b) =>
      val (sa, sb) = (sh(a).toSet, sh(b).toSet)
      val j = (sa & sb).size.toDouble / (sa | sb).size
      assert(j >= 0.5, s"pair ($a,$b) reported but jaccard=$j")
    }
  }

  test("pagerank fixed-point: 2-cycle stays uniform, mass bounded") {
    import graft.operators.PageRank
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val pr = PageRank.pageRank(edges, 3)
      .collect().map(r => (r.getAs[Long]("node"), r.getAs[Long]("pr"))).toMap
    // symmetric 2-cycle: each node holds exactly half the mass at every
    // iteration (the int64 arithmetic is exact here: U/2*85 div 100 +
    // 15U div 200 = U/2)
    assert(pr === Map(1L -> PageRank.MassUnit / 2, 2L -> PageRank.MassUnit / 2))
  }

  test("pagerank redistributes dangling mass: sink graph conserves total mass") {
    import graft.operators.PageRank
    // node 3 is a SINK (no outbound): without redistribution its rank
    // mass would vanish every iteration and totals would deflate
    val edgeSeq = Seq((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L))
    val iters = 5
    val pr = PageRank.pageRank(edgeSeq.toDF("src", "dst"), iters)
      .collect().map(r => (r.getAs[Long]("node"), r.getAs[Long]("pr"))).toMap
    // independent scalar reference with the same integer semantics
    val nodes = (edgeSeq.map(_._1) ++ edgeSeq.map(_._2)).distinct
    val nn = nodes.size
    val deg = edgeSeq.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var ref = nodes.map(_ -> PageRank.MassUnit / nn).toMap
    for (_ <- 1 to iters) {
      val dm = nodes.filterNot(deg.contains).map(ref).sum
      val inbound = edgeSeq.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => (ref(src) * 85L) / (100L * deg(src)) }.sum
      }
      ref = nodes.map(v => v -> ((15L * PageRank.MassUnit) / (100L * nn)
        + (85L * dm) / (100L * nn) + inbound.getOrElse(v, 0L))).toMap
    }
    assert(pr === ref, "distributed ranks must equal the scalar reference bit-for-bit")
    // mass conservation: only integer floor loss may leak (a handful of
    // units per hop out of 1e12)
    val total = pr.values.sum
    assert(total > PageRank.MassUnit - 1000L && total <= PageRank.MassUnit,
      s"dangling mass must be redistributed, not dropped (total=$total)")
  }

  test("profile accepts column names containing quotes (no SQL splicing)") {
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "s")
    val rows = Quality.profile(df, Seq("id's \"raw\"" -> col("id")))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(rows === Map("id's \"raw\"" -> 2L))
    val audit = Quality.audit(df, Seq("rule's" -> (col("id") > 1L)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit === Map("rule's" -> 1L))
  }

  test("histogram quantiles floor-bucket negative measures") {
    val width = 100L
    // values -2500..2499: truncate-toward-zero bucketing would collapse
    // (-100, 0) into bucket 0 and shift every low percentile up
    val df = spark.range(0, 5000).select((col("id") - 2500L).as("v"))
    val est = Sketches.histogramQuantiles(df, col("v"), width, Seq(10, 50, 90))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vals = df.as[Long].collect().sorted
    Seq(10, 50, 90).foreach { p =>
      val exact = vals((((p.toLong * vals.length) + 99) / 100 - 1).toInt)
      val e = est(p.toLong)
      assert(e <= exact && exact < e + width,
        s"p$p: estimate $e must bracket exact $exact within width $width")
    }
  }

  test("aggState merge over any split equals the full recompute") {
    val df = (1 to 500).map(i => (i % 7L, (i * 13 % 101).toLong)).toDF("k", "v")
    val full = Marts.aggState(df, Seq(col("k")), col("v"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val merged = Marts.mergeAggState(
        Marts.aggState(df.filter(col("v") < 50), Seq(col("k")), col("v")),
        Marts.aggState(df.filter(col("v") >= 50), Seq(col("k")), col("v")), Seq("k"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(merged === full)
  }

  test("compactParquet honors targetRowsPerFile inside hive partitions") {
    // ADVICE r3: with partitionCols, a round-robin repartition lets every
    // task see every partition value → up to nFiles × nValues files. The
    // salted partition-column shuffle must instead give each value
    // ceil(rows/target) files: the small p=0 side exactly ONE file, the
    // large p=1 side no more than its row-count quota, layout preserved.
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact_part").toString
    val df = spark.range(0, 10100).select(
      when(col("id") < 100, 0L).otherwise(1L).as("p"), col("id").as("v"))
    df.repartition(32).write.mode("overwrite").partitionBy("p").parquet(tmp)
    def filesIn(sub: String): Long =
      new java.io.File(s"$tmp/$sub").listFiles()
        .count(f => f.getName.endsWith(".parquet")).toLong
    assert(filesIn("p=0") > 1, "precondition: fragmented input")
    val (rows, before, after) =
      graft.sources.Sources.compactParquet(spark, tmp, 5000L, Seq("p"))
    assert(rows === 10100L)
    assert(after < before, s"must shrink file count ($before -> $after)")
    assert(filesIn("p=0") === 1L, "100-row partition must compact to one file")
    // each of the (up to nf) salted tasks writes ceil(taskRows/target)
    // files, so the dir holds at most nf + (tasks−1) files — and the
    // writer-level maxRecordsPerFile cap guarantees NO file exceeds the
    // target even when salt groups hash-collide into one task
    assert(filesIn("p=1") <= 3L, "10000-row partition: at most nf + spillover files")
    new java.io.File(s"$tmp/p=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        val n = spark.read.parquet(f.getAbsolutePath).count()
        assert(n <= 5000L, s"file ${f.getName} has $n rows > target 5000")
      }
    val back = spark.read.parquet(tmp)
    assert(back.count() === 10100L)
    assert(back.agg(sum(col("v"))).head.getLong(0) === (0L until 10100L).sum)
  }

  test("z-ordered write gives every file a disjoint Z-range (2-D clustered layout)") {
    import graft.operators.Layout
    val tmp = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val df = spark.range(0, 20000).select(
      (col("id") * 2654435761L % 1024).as("x"), (col("id") % 1024).as("y"))
    Layout.writeZOrdered(df, tmp, col("x"), col("y"), numFiles = 8, bits = 10)
    val files = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length > 1, "need multiple files to prove clustering")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .select(min(Layout.zValue(col("x"), col("y"), 10)).as("lo"),
          max(Layout.zValue(col("x"), col("y"), 10)).as("hi"))
        .head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(hi1 <= lo2,
        s"file Z-ranges must not interleave: [$hi1] vs [$lo2] — range partition + sort broken")
    }
    assert(spark.read.parquet(tmp).count() === 20000L, "layout rewrite must keep every row")
  }

  test("quarantine gate partitions the input exactly; NULL predicate = violation") {
    val df = Seq((1L, Some(10L)), (2L, Some(-5L)), (3L, None))
      .toDF("id", "v")
    val rules = Seq(
      "v_present" -> col("v").isNotNull,
      "v_positive" -> (col("v") > 0L))  // NULL for id=3 → must count as violation
    val checked = Quality.checkRules(df, rules)
    val ok = Quality.valid(checked)
    val bad = Quality.quarantined(checked)
    assert(ok.count() + bad.count() === df.count(), "valid+quarantined must partition the input")
    assert(ok.select("id").as[Long].collect().toSet === Set(1L))
    val viol = bad.select(col("id"), col("violations"))
      .as[(Long, Seq[String])].collect().toMap
    assert(viol(2L) === Seq("v_positive"))
    assert(viol(3L) === Seq("v_present", "v_positive"),
      "a NULL predicate result must fail the rule, not pass through three-valued logic")
    val audit = Quality.audit(df, rules).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit === Map("v_present" -> 1L, "v_positive" -> 2L))
  }

  test("profile reports per-column census including an all-null column") {
    val df = Seq((1L, Some("a")), (2L, Some("a")), (3L, None))
      .toDF("id", "s").withColumn("n", lit(null).cast("string"))
    val rows = Quality.profile(df, Seq(
        "id" -> col("id"), "s" -> col("s"), "n" -> col("n")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(rows("id") === ((3L, 3L, 3L, "1", "3")))
    assert(rows("s") === ((3L, 2L, 1L, "a", "a")))
    assert(rows("n") === ((3L, 0L, 0L, null, null)))
  }

  test("count-min never undercounts and two sketch halves merge to the whole") {
    val items = spark.range(0, 5000)
      .select(concat(lit("t"), pmod(col("id") * 37L, lit(97L))).as("tok"))
    val truth = items.groupBy(col("tok").as("term")).agg(count(lit(1)).as("n_true"))
    val sketch = Sketches.countMin(items, col("tok"), 4, 64)
    val est = Sketches.cmEstimate(sketch, truth, col("term"), 4, 64)
    val joined = truth.join(est, col("term") === col("item"))
      .select(col("n_true"), col("n_est")).collect()
    assert(joined.nonEmpty)
    joined.foreach(r => assert(r.getLong(1) >= r.getLong(0),
      "a count-min estimate can only overcount"))
    // mergeability: sketches of two disjoint halves, unioned and
    // re-aggregated, ARE the sketch of the union — the property that
    // makes the sketch composable across batches/shards
    val h1 = Sketches.countMin(items.where(col("id") % 2 === 0), col("tok"), 4, 64)
    val h2 = Sketches.countMin(items.where(col("id") % 2 === 1), col("tok"), 4, 64)
    val merged = h1.union(h2).groupBy(col("j"), col("h"))
      .agg(sum(col("cnt")).as("cnt"))
    assert(merged.except(sketch).isEmpty && sketch.except(merged).isEmpty,
      "merged half-sketches must equal the whole-corpus sketch")
  }

  test("histogram quantile estimate is within one bucket width of the exact percentile") {
    val width = 100L
    val df = spark.range(0, 10000).select((col("id") * 7L % 5000L).as("v"))
    val est = Sketches.histogramQuantiles(df, col("v"), width, Seq(50, 90, 99))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vals = df.as[Long].collect().sorted
    Seq(50, 90, 99).foreach { p =>
      val exact = vals((((p.toLong * vals.length) + 99) / 100 - 1).toInt)
      val e = est(p.toLong)
      assert(e <= exact && exact < e + width,
        s"p$p: estimate $e must bracket exact $exact within width $width")
    }
  }

  test("repetition signals score duplicate lines and dominant bigrams exactly") {
    import graft.operators.TextOps
    val docs = Seq(
      // 4 pseudo-lines of 2 tokens: "a b", "a b", "a b", "a b" → 3 of 4
      // lines are repeats (750000 ppm); bigrams: "a b"x4, "b a"x3 → top
      // 4 of 7
      (1L, Some("a b a b a b a b")),
      (2L, Some("u v w x y z")), // all lines unique, all bigrams distinct
      (3L, Some("")),
      (4L, Option.empty[String])).toDF("doc_id", "text")
    val out = TextOps.repetitionSignals(docs, "doc_id", "text", lineTokens = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) === ((750000L, 4L * 1000000L / 7L)))
    assert(out(2L) === ((0L, 1000000L / 5L)))
    assert(out(3L) === ((0L, 0L)), "empty doc scores zero, not null/crash")
    assert(out(4L) === ((0L, 0L)), "NULL text scores zero like the oracle, never NULL ppm")
  }

  test("containment catches a benchmark item quoted inside a big doc that jaccard misses") {
    val bench = Seq((100L, "what is the capital of france")).toDF("doc_id", "text")
    val filler = (1 to 200).map(i => s"filler$i").mkString(" ")
    val corpus = Seq(
      (1L, s"intro text $filler what is the capital of france more $filler outro"),
      (2L, s"unrelated $filler")).toDF("doc_id", "text")
    val hits = graft.operators.Dedup.containmentScores(
        corpus, bench, "doc_id", "text", 1L, 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hits.map(h => (h._1, h._2)).toSet === Set((1L -> 100L)),
      "only the quoting doc is contaminated")
    assert(hits.head._3 >= 800000L,
      s"near-full containment expected, got ${hits.head._3} ppm")
    // the symmetric metric would have scored this pair ~5/400 — the whole
    // point of the asymmetric scorer
  }

  test("bloomAntiJoin equals the plain anti join even with forced false positives") {
    import graft.operators.Joins
    val big = spark.range(0, 20000)
      .select(concat(lit("k"), col("id")).as("key"), col("id").as("v"))
    val small = spark.range(0, 500).select(concat(lit("k"), col("id") * 40L).as("key"))
    // 2 bits/item → double-digit fpp: the exact-evict branch MUST fire
    // for the equality below to hold
    val bf = small.agg(Joins.bloomAgg(col("key"), 500L, 1000L).as("__bf")).scalar()
    val mcTrue = big.where(Joins.mightContain(bf, col("key"))).count()
    assert(mcTrue > 500L,
      s"test setup must force bloom false positives, got only $mcTrue might-contains")
    val got = Joins.bloomAntiJoin(big, small, "key", expectedItems = 500L, bitsPerItem = 2)
    val want = big.join(small, Seq("key"), "left_anti")
    assert(got.count() === want.count())
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "bloom pre-filter must not change anti-join semantics")
  }

  test("bloomAntiJoin keeps everything on an empty denylist and keeps NULL keys") {
    import graft.operators.Joins
    val big = Seq(Some("a"), Some("b"), None)
      .toDF("key").withColumn("v", lit(1L))
    // empty small: the bloom aggregate evaluates to NULL — every big row
    // must still come back (review r4: both branches filtered NULL→false
    // and returned an EMPTY result)
    val emptySmall = Seq.empty[String].toDF("key")
    assert(Joins.bloomAntiJoin(big, emptySmall, "key", 10L).count() === 3L,
      "empty denylist removes nothing")
    // NULL big-side key: a plain left-anti join keeps it (NULL matches
    // no key); the bloom path must too
    val small = Seq("a").toDF("key")
    val kept = Joins.bloomAntiJoin(big, small, "key", 10L)
      .select("key").collect().map(r => Option(r.getString(0))).toSet
    assert(kept === Set(Some("b"), None))
  }

  test("compactParquet fails loudly on a near-unique partition key") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact_hc").toString
    val df = spark.range(0, 50).select(col("id").as("p"), col("id").as("v"))
    df.write.mode("overwrite").partitionBy("p").parquet(tmp)
    val e = intercept[IllegalArgumentException] {
      graft.sources.Sources.compactParquet(spark, tmp, 1000L, Seq("p"),
        maxPartitionValues = 10)
    }
    assert(e.getMessage.contains("more than 10 distinct values"))
    // the guard must trip BEFORE any rewrite: the original layout survives
    assert(new java.io.File(s"$tmp/p=0").exists(), "input must be untouched")
    assert(!new java.io.File(s"${tmp}_tmp").exists(), "no partial rewrite left behind")
  }

  test("compactParquet keeps rows whose partition value is NULL") {
    // review r4: the count-sized-salt join back to the data must be
    // null-SAFE — hive layouts store null keys in
    // __HIVE_DEFAULT_PARTITION__, and an equi-join would drop those rows
    // from the rewrite while the swap deletes their only copy
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact_null").toString
    val df = spark.range(0, 1000).select(
      when(col("id") % 4 === 0, lit(null).cast("long")).otherwise(col("id") % 2).as("p"),
      col("id").as("v"))
    df.repartition(16).write.mode("overwrite").partitionBy("p").parquet(tmp)
    val (rows, _, _) = graft.sources.Sources.compactParquet(spark, tmp, 10000L, Seq("p"))
    assert(rows === 1000L)
    val back = spark.read.parquet(tmp)
    assert(back.count() === 1000L, "null-partition rows must survive compaction")
    assert(back.where(col("p").isNull).count() === 250L)
  }

  test("triangle counts: K4, stars, duplicates and directions handled exactly") {
    import graft.operators.Triangles
    // K4 on {1..4}: every node is in C(3,2)=3 triangles. The star 10-*
    // adds no triangle. Edges arrive with duplicates, both directions,
    // and a self-loop — all must be ignored.
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b) // both dirs + dups
    val star = Seq((10L, 11L), (10L, 12L), (10L, 13L), (5L, 5L))
    val edges = (k4 ++ star).toDF("src", "dst")
    val out = Triangles.perNodeCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      "each K4 node sits in 3 triangles; star/self-loop nodes in none")
  }

  test("sequence packing: every chunk full except the last, per-doc tokens conserved") {
    val out = SparkEntry.queries("text_pack")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    val perChunk = out.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val lastChunk = perChunk.keys.max
    val c = graft.Params.PackChunkTokens
    perChunk.foreach { case (ch, n) =>
      if (ch != lastChunk) assert(n === c, s"chunk $ch holds $n of $c tokens")
      else assert(n > 0 && n <= c)
    }
    // conservation: a doc's chunk slices sum to its token count
    val docs = Tables.load(spark, sfDir, "documents")
    val nTok = docs.select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.groupBy(_._1).foreach { case (d, slices) =>
      assert(slices.map(_._3).sum === nTok(d), s"doc $d token slices must sum to its count")
    }
    // contiguity: chunk ids form an unbroken range from 0
    assert(perChunk.keys.min === 0L)
    assert(perChunk.size.toLong === lastChunk + 1)
  }

  test("winnowing guarantees a shared fingerprint for any shared run of w+k-1 tokens") {
    import graft.operators.TextOps
    val k = graft.Params.WinK; val w = graft.Params.WinW
    // docs 1 and 2 share a (w+k-1)-token run embedded in different
    // surroundings; doc 3 shares nothing
    val run = (1 to (w + k - 1)).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $run gamma delta"),
      (2L, s"one two three four $run five"),
      (3L, "completely different words with no common substring here at all"))
      .toDF("doc_id", "text")
    val fp = TextOps.winnow(docs, "doc_id", "text", k, w, "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = fp.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) & byDoc(2L)).nonEmpty,
      "the winnowing guarantee: a shared >=w+k-1-token run must share a fingerprint hash")
    assert((byDoc(1L) & byDoc(3L)).isEmpty, "unrelated docs share nothing")
    // density: selection must be sparser than the full gram set
    val grams1 = docs.where(col("doc_id") === 1L)
      .select(size(T.tokens(col("text")))).head().getInt(0) - (k - 1)
    assert(byDoc(1L).size < grams1, "winnowing must select a strict subset of grams")
    // a short doc (fewer than w grams) still yields exactly one fingerprint
    val short = Seq((9L, "only four tokens here")).toDF("doc_id", "text")
    assert(TextOps.winnow(short, "doc_id", "text", k, w, "t").count() === 1L)
  }

  test("gap fill densifies the tick axis, zero-fills counts, and carries gauges forward") {
    // group "a" observed at ticks 2 and 5; group "b" at tick 4 only →
    // global range [2,5], so each group gets 4 rows
    val obs = Seq(("a", 2L, 3L, 10L), ("a", 5L, 1L, 99L), ("b", 4L, 2L, 7L))
      .toDF("g", "tk", "n", "gauge")
    val out = Marts.gapFillLocf(obs, "g", "tk", Seq("n"), Seq("gauge"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    assert(out.size === 8)
    assert(out(("a", 2L)) === ((3L, Some(10L))))
    assert(out(("a", 3L)) === ((0L, Some(10L))), "gap month: zero count, carried gauge")
    assert(out(("a", 4L)) === ((0L, Some(10L))))
    assert(out(("a", 5L)) === ((1L, Some(99L))))
    assert(out(("b", 2L)) === ((0L, None)), "before first observation the gauge is null")
    assert(out(("b", 4L)) === ((2L, Some(7L))))
    assert(out(("b", 5L)) === ((0L, Some(7L))))
  }

  test("robust outliers flag exactly the rows beyond k*MAD and resist masking") {
    // 9 inliers 100..108 and one wild point: median 104 (of 10: lower
    // median = rank 5 value), MAD small, the wild point must be the ONLY
    // flagged row — a mean/stddev gate at the same k would be dragged
    val rows = ((0 until 9).map(i => ("g", 100L + i, i.toLong)) :+ (("g", 100000L, 9L)))
      .toDF("g", "v", "id")
    val out = Quality.robustOutliers(rows, col("g"), "grp", col("v"), col("id"), 2L)
      .collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("value") === 100000L)
    assert(out.head.getAs[Long]("med") === 104L, "type-1 lower median of 10 values")
    assert(out.head.getAs[Long]("mad") === 2L)
  }

  test("sliding windows count each event in exactly size/hop windows") {
    val ev = Seq((1L, "click", java.sql.Timestamp.valueOf("2024-01-01 10:31:00")))
      .toDF("event_id", "event_type", "ts")
    val out = EventOps.slidingCounts(ev, "ts", "event_type", 3600000L, 900000L)
      .collect().map(r => r.getAs[Long]("w_start") -> r.getAs[Long]("n_events")).toMap
    assert(out.size === 4, "1h window / 15min hop = 4 windows per event")
    assert(out.values.forall(_ == 1L))
    // every window must actually contain the event
    val ms = java.sql.Timestamp.valueOf("2024-01-01 10:31:00").getTime
    out.keys.foreach { w =>
      assert(w <= ms && ms < w + 3600000L, s"window $w must contain $ms")
      assert(w % 900000L === 0L, "window starts align to the hop grid")
    }
  }

  test("mixture sampling caps rates at availability and keeps the right rows") {
    import graft.operators.Sampling
    val docs = (0 until 200).map(i => (i.toLong, s"src${i % 2}", 100L))
      .toDF("doc_id", "source", "n_chars")
    // budget 50% of 20000 chars = 10000; targets: src0 10%, src1 90% →
    // desired 1000 vs avail 10000 (rate 10%), desired 9000 vs avail
    // 10000 (rate 90%) — then with src1 weight 990000 the desired
    // 9900*... exercise the cap with a lopsided second call below
    val out = Sampling.mixtureSample(docs, "source", col("doc_id"), col("n_chars"),
      Seq("src0" -> 100000L, "src1" -> 900000L), 50L, "t")
    val rates = out.select(col("source"), col("rate_ppm")).distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rates("src0") === 100000L && rates("src1") === 900000L)
    // over-request: 200% budget × 90% weight on a source holding 50% of
    // mass wants 3.6× its availability → rate caps at 1e6 (keep all)
    val capped = Sampling.mixtureSample(docs, "source", col("doc_id"), col("n_chars"),
      Seq("src0" -> 100000L, "src1" -> 900000L), 200L, "t")
    val cr = capped.select(col("source"), col("rate_ppm")).distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cr("src1") === 1000000L, "rate must cap at availability")
    assert(capped.where(col("source") === "src1").count() === 100L,
      "a capped source keeps every row")
    // determinism: the same inputs draw the same sample
    assert(out.collect().map(_.getAs[Long]("doc_id")).sorted
      === Sampling.mixtureSample(docs, "source", col("doc_id"), col("n_chars"),
        Seq("src0" -> 100000L, "src1" -> 900000L), 50L, "t")
        .collect().map(_.getAs[Long]("doc_id")).sorted)
  }

  test("bpeTrain reproduces a plain-Scala greedy BPE on the Sennrich corpus") {
    import graft.operators.TextOps
    // the classic corpus from the BPE paper: low×5 lower×2 newest×6 widest×3
    val words = Seq("low" -> 5, "lower" -> 2, "newest" -> 6, "widest" -> 3)
    val docs = words.zipWithIndex.map { case ((w, f), i) =>
      (i.toLong, Seq.fill(f)(w).mkString(" "))
    }.toDF("doc_id", "text")
    val iters = 5
    val (mergesDf, stateDf) = TextOps.bpeTrain(docs, "text", iters)
    val got = mergesDf.orderBy("step").collect()
      .map(r => (r.getAs[String]("merge_left"), r.getAs[String]("merge_right"),
        r.getAs[Long]("pair_count"))).toSeq
    // independent reference: plain-Scala greedy BPE over (symbols, freq)
    var state = words.map { case (w, f) => (w.map(_.toString).toVector :+ "</w>", f.toLong) }
    val exp = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    for (_ <- 1 to iters) {
      val counts = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
      state.foreach { case (syms, f) =>
        syms.iterator.zip(syms.iterator.drop(1)).foreach(ab => counts(ab) += f)
      }
      val ((a, b), c) = counts.toSeq.minBy { case ((x, y), n) => (-n, x, y) }
      exp += ((a, b, c))
      state = state.map { case (syms, f) =>
        val out = Vector.newBuilder[String]; var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) { out += a + b; i += 2 }
          else { out += syms(i); i += 1 }
        }
        (out.result(), f)
      }
    }
    assert(got === exp.toSeq)
    // final-state frequency-weighted vocabulary matches the reference
    val gotVocab = stateDf.select(col("freq"), explode(col("syms")).as("sym"))
      .groupBy(col("sym")).agg(sum(col("freq")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val expVocab = state.flatMap { case (syms, f) => syms.map(_ -> f) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    assert(gotVocab === expVocab)
    // encode: each doc is f copies of one word → n_bpe = f × |final syms|
    val expLens = words.map(_._1).zip(state.map(_._1.size)).toMap
    val enc = TextOps.bpeEncodedLength(docs, "doc_id", "text", stateDf)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    words.zipWithIndex.foreach { case ((w, f), i) =>
      assert(enc(i.toLong) === ((f.toLong, f.toLong * expLens(w))))
    }
  }

  test("bpeTrain merges runs of an identical pair left-to-right") {
    import graft.operators.TextOps
    // 'aaaa' + marker: (a,a) counts 3 with overlap, but only positions
    // 1 and 3 merge (run parity); the round-2 best breaks the count tie
    // lexicographically: (aa,</w>) before (aa,aa)
    val docs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val (merges, state) = TextOps.bpeTrain(docs, "text", 2)
    val m = merges.orderBy("step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(m === Seq((1L, "a", "a", 3L), (2L, "aa", "</w>", 1L)))
    val syms = state.select(col("syms")).collect().head.getSeq[String](0)
    assert(syms === Seq("aa", "aa</w>"))
  }

  test("transitionMatrix counts consecutive within-gap pairs only") {
    val ev = Seq(
      (1L, 1L, 100L, "a"),
      (2L, 1L, 200L, "b"),
      (3L, 1L, 50000L, "c"), // > gap after b → session break, no b→c
      (4L, 2L, 0L, "a"),
      (5L, 2L, 500L, "b")
    ).toDF("event_id", "user_id", "ms", "event_type")
      .withColumn("ts", timestamp_millis(col("ms")))
    val out = EventOps.transitionMatrix(ev, "user_id", "ts", "event_type", 1000L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(out === Set(("a", "b", 2L)))
  }

  test("cdcApply: latest op wins, deletes drop, inserts land, untouched pass") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val log = Seq(
      (2L, "b2", "U", 1L), (2L, "b3", "U", 2L), // two updates: seq 2 wins
      (3L, "x", "U", 1L), (3L, "x", "D", 2L),   // update then delete: gone
      (4L, "d", "I", 1L),                       // insert of a new key
      (5L, "e", "D", 1L), (5L, "e2", "I", 2L)   // delete then re-insert: lands
    ).toDF("k", "v", "op", "seq")
    val out = Staging.cdcApply(base, log, Seq("k"), "op", Seq("seq"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set((1L, "a"), (2L, "b3"), (4L, "d"), (5L, "e2")))
  }

  test("pmiBigrams scores collocations from exact counts") {
    import graft.operators.TextOps
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // tokens: a×3 b×2 c×1 (N=6); bigrams: "a b"×2 "b a"×1 "a c"×1 (N=4)
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = TextOps.pmiBigrams(docs, "text", 10)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(("a", "b")) === ((2L, r4(math.log(2.0 * 36 / (4 * 3 * 2))))))
    assert(out(("b", "a")) === ((1L, r4(math.log(1.0 * 36 / (4 * 2 * 3))))))
    assert(out(("a", "c")) === ((1L, r4(math.log(1.0 * 36 / (4 * 3 * 1))))))
  }

  test("gridNeighborJoin finds each in-radius pair exactly once") {
    import graft.operators.RangeJoin
    // points straddling cell boundaries (r=2 → cells of 2): (0,0)-(2,2)
    // are in DIFFERENT cells but within radius; (0,0)-(3,0) are not
    val pts = Seq((1L, 0L, 0L), (2L, 2L, 2L), (3L, 3L, 0L), (4L, 0L, 2L),
      (5L, 10L, 10L)).toDF("id", "x", "y")
    val got = RangeJoin.gridNeighborJoin(pts, "id", "x", "y", 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    // brute force reference
    val p = Seq((1L, 0L, 0L), (2L, 2L, 2L), (3L, 3L, 0L), (4L, 0L, 2L),
      (5L, 10L, 10L))
    val want = (for {
      (a, ax, ay) <- p; (b, bx, by) <- p
      if a < b && math.abs(ax - bx) <= 2 && math.abs(ay - by) <= 2
    } yield (a, b)).sorted
    assert(got.toSeq === want, s"got ${got.toSeq} want $want")
    assert(got.length === got.distinct.length, "no pair may appear twice")
  }

  test("dbscanLabel splits core/border/noise with exact neighbor counts") {
    import graft.operators.Spatial
    // tight 4-point square at origin (each has 3 neighbors at r=2),
    // one point at (4,0): within r of (2,0) and (2,2) only → 2 neighbors,
    // border; one isolated point → 0 neighbors, noise. minPts=3.
    val pts = Seq((1L, 0L, 0L), (2L, 2L, 0L), (3L, 0L, 2L), (4L, 2L, 2L),
      (5L, 4L, 0L), (6L, 20L, 20L)).toDF("id", "x", "y")
    val got = Spatial.dbscanLabel(pts, "id", "x", "y", 2L, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, 3L, "core"), (2L, 4L, "core"), (3L, 3L, "core"),
      (4L, 4L, "core"), (5L, 2L, "border"), (6L, 0L, "noise")))
  }

  test("clusters with doubling converges on a 64-node path in O(log d) rounds") {
    import graft.operators.Dedup
    // diameter-63 path: one-hop propagation needs ~62 rounds; the
    // path-halving variant must finish (and prove convergence) in <12.
    // Rounds exist only on the distributed path, so force it.
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = distributedCC(Dedup.clusters(edges, maxIter = 12, doubling = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted)
    assert(got.toSeq === (0L to 63L).map(i => (i, 0L)))
  }

  test("clusters on a small graph runs a fixed few Spark jobs, not per-round barriers") {
    // under the default conf a 64-node path is far below the size rule's
    // budget: the driver path's bounded probe (fill the edge cache, read
    // it back), never one-hop rounds of checkpoint + probe jobs
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (got, work) = Observe.phase(spark, "Dedup.clusters job count") {
      Dedup.clusters(edges).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    }
    assert(got.toSeq === (0L to 63L).map(i => (i, 0L)))
    assert(work.jobs <= 3, s"Dedup.clusters on a 64-node path ran ${work.jobs} jobs")
  }

  test("clusters: driver union-find, distributed rounds and a BFS reference agree") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    def bfs(g: Seq[(Long, Long)]): Set[(Long, Long)] = {
      val adj = (g ++ g.map(_.swap)).groupMap(_._1)(_._2)
      adj.keySet.map { s =>
        var seen = Set(s)
        var frontier = Seq(s)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj).distinct.filterNot(seen)
          seen ++= frontier
        }
        (s, seen.min)
      }
    }
    val chain = (1L until 10L).map(i => (i, i + 1))
    val star = (1L to 6L).map(i => (40L, 40L + 3 * i))
    val clique = for (a <- 60L to 64L; b <- 60L to 64L if a < b) yield (a, b)
    val graphs: Seq[(String, Seq[(Long, Long)])] = Seq(
      "empty" -> Seq.empty,
      "chain" -> chain,
      "reversed chain" -> chain.map(_.swap).reverse,
      "star" -> star,
      "clique" -> clique,
      "disjoint components" -> (chain ++ star ++ clique),
      "duplicate and reversed edges" -> Seq((5L, 6L), (6L, 5L), (5L, 6L), (9L, 6L), (9L, 6L)),
      "self-loops" -> Seq((3L, 3L), (4L, 4L), (4L, 9L), (9L, 9L)))
    def rows(out: DataFrame): Set[(Long, Long)] = out.collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSet
    def isLocal(out: DataFrame): Boolean =
      out.queryExecution.analyzed.isInstanceOf[LocalRelation]
    for ((name, g) <- graphs; ints <- Seq(false, true); doubling <- Seq(false, true)) {
      val pairs =
        if (ints) g.map { case (a, b) => (a.toInt, b.toInt) }.toDF("doc_a", "doc_b")
        else g.toDF("doc_a", "doc_b")
      val what = s"$name (ints=$ints, doubling=$doubling)"
      val driver = Dedup.clusters(pairs, doubling = doubling)
      val dist = distributedCC(Dedup.clusters(pairs, doubling = doubling))
      assert(isLocal(driver) && !isLocal(dist), s"$what: wrong path taken")
      assert(driver.schema.map(_.dataType) === dist.schema.map(_.dataType), what)
      val ref = bfs(g)
      assert(rows(driver) === ref, s"$what: driver path")
      assert(rows(dist) === ref, s"$what: distributed path")
    }
  }

  test("dbscanCluster assigns components, borders, and singleton cores") {
    import graft.operators.Spatial
    // square A (ids 1-4, all core) + border 5 hanging off it; square B
    // (ids 6-9, all core) far away; a star at 100,100: core 20 whose
    // only neighbors are borders (singleton-cluster coalesce path);
    // id 30 is noise and must be absent. r=2, minPts=3.
    val pts = Seq(
      (1L, 0L, 0L), (2L, 2L, 0L), (3L, 0L, 2L), (4L, 2L, 2L), (5L, 4L, 0L),
      (6L, 20L, 20L), (7L, 22L, 20L), (8L, 20L, 22L), (9L, 22L, 22L),
      (20L, 100L, 100L), (21L, 102L, 102L), (22L, 98L, 98L), (23L, 102L, 98L),
      (30L, 200L, 200L)).toDF("id", "x", "y")
    val got = Spatial.dbscanCluster(pts, "id", "x", "y", 2L, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, 1L, "core"), (2L, 1L, "core"), (3L, 1L, "core"), (4L, 1L, "core"),
      (5L, 1L, "border"),
      (6L, 6L, "core"), (7L, 6L, "core"), (8L, 6L, "core"), (9L, 6L, "core"),
      (20L, 20L, "core"),
      (21L, 20L, "border"), (22L, 20L, "border"), (23L, 20L, "border")))
  }

  test("linkPredict scores drop hub centers and use filtered-graph Jaccard") {
    import graft.operators.LinkPredict
    // center 10 {1,2} and 12 {2,3} are kept (deg ≤ 2); center 11 {1,2,3}
    // is a hub and must vanish from BOTH counts and degrees: without the
    // cap (1,2) would score n=2 and (1,3) would exist at all
    val edges = Seq((1L, 10L), (2L, 10L), (1L, 11L), (2L, 11L), (3L, 11L),
      (2L, 12L), (3L, 12L)).toDF("u", "w")
    val got = LinkPredict.scores(edges, maxDeg = 2, minCommon = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // filtered degrees: d1=1, d2=2, d3=1 → jaccard 1/(1+2-1) = 0.5
    assert(got.toSeq === Seq((1L, 2L, 1L, 500000L), (2L, 3L, 1L, 500000L)))
  }

  test("acf computes exact integer autocorrelation with truncating ppm") {
    import graft.operators.TimeSeries
    // x = [1,2,4,8]: S=15, cx = 4x−15 = [−11,−7,1,17], den = 460
    // k=1: 77−7+17 = 87 → 87e6 div 460 = 189130 (exact .43 truncated)
    // k=2: −11−119 = −130 → −130e6 div 460 = −282608 — TRUNCATION toward
    // zero, not floor(−282609): pins the cross-engine division contract
    val series = Seq((0L, 1L), (1L, 2L), (2L, 4L), (3L, 8L)).toDF("mkey", "x")
    val got = TimeSeries.acf(series, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq === Seq((1L, 3L, 189130L), (2L, 2L, -282608L)))
  }

  test("seasonalBaseline computes integer phase means and residuals") {
    import graft.operators.TimeSeries
    // period 2: phase0 = {10,15} → 25 div 2 = 12 (truncated), phase1 =
    // {20,24} → 22; residuals −2,−2,3,2
    val series = Seq((0L, 10L), (1L, 20L), (2L, 15L), (3L, 24L)).toDF("mkey", "x")
    val got = TimeSeries.seasonalBaseline(series, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    assert(got.toSeq === Seq(
      (0L, 0L, 10L, 12L, -2L), (1L, 1L, 20L, 22L, -2L),
      (2L, 0L, 15L, 12L, 3L), (3L, 1L, 24L, 22L, 2L)))
  }

  test("tCloseness computes exact integer EMD per class with zero-fill") {
    import graft.operators.Quality
    // global bands 0:2, 1:2, 2:2 (N=6, B=3), gcum = 2,4,6
    // class A [0,0,1,1]: ccum 2,4,4 → |12−8|+|24−16|+|24−24| = 12
    //   → 12e6 div (4·6·2) = 250000
    // class B [2,2]: ccum 0,0,2 (zero-filled!) → 4+8+0 = 12
    //   → 12e6 div (2·6·2) = 500000
    val df = Seq(("A", 0L), ("A", 0L), ("A", 1L), ("A", 1L),
      ("B", 2L), ("B", 2L)).toDF("grp", "band")
    val got = Quality.tCloseness(df, Seq("grp" -> col("grp")),
        col("band"), tPpm = 300000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).sortBy(_._1)
    assert(got.toSeq === Seq(("A", 4L, 250000L, true), ("B", 2L, 500000L, false)))
  }

  test("associationRules computes exact support/confidence/lift") {
    import graft.operators.Frequency
    // 4 baskets; {1,2} together in 2 of them, item 3 alone once
    val b = Seq((10L, 1L), (10L, 2L), (20L, 1L), (20L, 2L),
      (30L, 1L), (40L, 3L)).toDF("bk", "item")
    val out = Frequency.associationRules(b, "bk", "item", 2L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    // n_ab=2, N=4, n_1=3, n_2=2: supp=500000, conf(1→2)=666666,
    // conf(2→1)=1000000, lift=(2*4*1e6)/(3*2)=1333333
    assert(out === Map((1L, 2L) -> ((2L, 500000L, 666666L, 1000000L, 1333333L))))
  }

  test("kCorePeel removes cascade casualties, keeps the core intact") {
    import graft.operators.PageRank
    // K4 core {0,1,2,3} + a chain 3-4-5: node 4 has deg 2 only via the
    // doomed 5, so peeling at k=2 cascades: 5 out (deg 1), then 4
    val und = (Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 4L), (4L, 5L))).flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val out = PageRank.kCorePeel(und.toDF("src", "dst"), 2L, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.keySet === Set(0L, 1L, 2L, 3L), s"cascade must remove 4 and 5: $out")
    assert(out(0L) === 3L && out(3L) === 3L, "core degrees exclude peeled neighbors")
  }

  test("HITS: authorities follow in-links from strong hubs, exact integers") {
    import graft.operators.PageRank
    // hub 0 links to {1,2,3}; hub 4 links only to {1} — after 1 round
    // auth(1)=2, auth(2)=auth(3)=1; hub(0)=4, hub(4)=2
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (4L, 1L)).toDF("src", "dst")
    val out = PageRank.hits(edges, 1)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(out === Map(
      0L -> ((4L, 0L)), 4L -> ((2L, 0L)),
      1L -> ((0L, 2L)), 2L -> ((0L, 1L)), 3L -> ((0L, 1L))))
  }

  test("personalized PageRank: all-nodes seeds ≡ standard PageRank; mass favors seeds") {
    import graft.operators.PageRank
    // 6-node cycle + a chord; non-trivial but sink-free
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 0L),
      (0L, 3L)).flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val allNodes = (0L to 5L).toDF("node")
    val std = PageRank.pageRank(edges, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val pprAll = PageRank.personalizedPageRank(edges, allNodes, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(pprAll === std, "teleporting to every node IS standard PageRank")
    // disconnected graph, seed in one component: the other component can
    // receive neither teleport nor flow — exactly zero, the property that
    // separates PPR from uniform PageRank
    val twoComp = (edges.collect().map(r => (r.getLong(0), r.getLong(1))) ++
      Seq((10L, 11L), (11L, 10L))).toSeq.toDF("src", "dst")
    val ppr = PageRank.personalizedPageRank(twoComp, Seq(0L).toDF("node"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ppr(10L) === 0L && ppr(11L) === 0L,
      "unreachable component must hold zero mass")
    assert(ppr(0L) > 0L && ppr(3L) > 0L)
    val total = ppr.values.sum.toDouble / PageRank.MassUnit
    assert(total > 0.99 && total <= 1.0, s"mass ≈ 1: $total")
  }

  test("personalized PageRank on a graph with sinks: all-nodes seeds ≡ standard PageRank") {
    import graft.operators.PageRank
    // nodes 3 and 5 have no outbound edge, so both operators take the
    // sentinel-group rounds that carry the dangling mass
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L), (2L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val std = PageRank.pageRank(edges, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val pprAll = PageRank.personalizedPageRank(edges, (1L to 5L).toDF("node"), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(pprAll === std, "teleporting to every node IS standard PageRank, sinks included")
    val total = std.values.sum.toDouble / PageRank.MassUnit
    assert(total > 0.99 && total <= 1.0, s"dangling mass is redistributed, not dropped: $total")
  }

  test("skyline2D keeps exactly the non-dominated rows, duplicates included") {
    import graft.operators.Skyline
    val rows = Seq(
      (1L, 100L, 10L), // frontier
      (2L, 100L, 10L), // exact duplicate of 1 → also frontier
      (3L, 100L, 9L),  // same price, smaller → dominated by 1
      (4L, 150L, 12L), // frontier (bigger, pricier)
      (5L, 160L, 12L), // dominated by 4 (same size, pricier)
      (6L, 90L, 5L),   // frontier (cheapest overall)
      (7L, 200L, 11L)  // dominated by 4
    ).toDF("k", "price_cents", "psize")
    val got = Skyline.skyline2D(rows, "price_cents", "psize")
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 2L, 4L, 6L))
  }

  test("sq8Codes maps min→0, max→255, constant dims→0") {
    val vecs = Seq(
      (1L, Array(0f, 5f, 7f)),
      (2L, Array(10f, 5f, 3f)),
      (3L, Array(5f, 5f, 5f))).toDF("vec_id", "embedding")
    val out = Similarity.sq8Codes(vecs, "vec_id", "embedding", 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out((1L, 0L)) === 0L && out((2L, 0L)) === 255L)   // min / max
    assert(out((3L, 0L)) === 127L)                            // midpoint
    assert(out((1L, 1L)) === 0L && out((2L, 1L)) === 0L)      // constant dim
    assert(out((2L, 2L)) === 0L && out((1L, 2L)) === 255L)    // inverted range
    // error bound: reconstruct dim 2 of vec 3 (5.0 in [3,7], code floor((5-3)*255/4)=127)
    assert(out((3L, 2L)) === 127L)
  }

  test("bigramPredictability scores mean conditional probability in exact ppm") {
    import graft.operators.TextOps
    // bigrams: "a b"×2, "b a"×1, "a c"×1 → P(b|a)=2/3, P(a|b)=1, P(c|a)=1/3
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = TextOps.bigramPredictability(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    // doc1: (666666 + 1000000 + 666666) div 3 = 777777; doc2: 333333
    assert(out === Map(1L -> ((3L, 777777L)), 2L -> ((1L, 333333L))))
  }

  test("split is disjoint, exhaustive, and stable under corpus growth") {
    import graft.operators.Sampling
    val a = (1L to 1000L).toDF("k")
    val sA = Sampling.split(a, col("k"), "spl", 900L, 50L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(sA.size === 1000, "every row gets exactly one split")
    val counts = sA.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > 850 && counts("train") < 950, s"~90%: $counts")
    assert(counts.getOrElse("val", 0) + counts.getOrElse("test", 0)
      === 1000 - counts("train"))
    // growth stability: the same keys keep their split in a larger corpus
    val sB = Sampling.split((1L to 2000L).toDF("k"), col("k"), "spl", 900L, 50L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert((1L to 1000L).forall(k => sA(k) == sB(k)))
  }

  test("consensus clustering only merges what single signals found") {
    import Params._
    val docs = Tables.load(spark, sfDir, "documents")
    val jp = Dedup.ngramJaccard(docs, "doc_id", "text", JaccardMin,
      MinhashK, MinhashBands).select($"doc_a", $"doc_b")
    val sp = Dedup.simhashPairs(docs, "doc_id", "text", SimhashMaxDist)
      .select($"doc_a", $"doc_b")
    val consensus = Dedup.clusters(jp.unionByName(sp).distinct())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val single = Dedup.clusters(jp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // every single-signal co-membership survives in the consensus (more
    // edges can merge clusters, never split them)
    val byCluster = single.groupBy(_._2).values
    byCluster.foreach { members =>
      val cs = members.keys.map(consensus).toSet
      assert(cs.size === 1,
        s"jaccard cluster ${members.keys.toSeq.sorted} split in consensus")
    }
    assert(consensus.size >= single.size,
      "consensus covers at least the docs any single signal paired")
  }

  test("quantile sketch: estimates within sampling error of exact quantiles") {
    import graft.operators.QuantileSketch
    // uniform 1..100000 with unique keys: the true p-th percentile is
    // 1000·p; a k=1024 bottom-k sample's rank error concentrates at
    // ~1.28/√k ≈ 4% (99th pct of |binomial deviation|) — assert 6%
    val df = spark.range(1, 100001).select(
      lit(0L).as("g"), col("id").as("k"), col("id").as("v"))
    val est = QuantileSketch.estimate(
      QuantileSketch.sketch(df, col("g"), "g", col("k"), col("v"), 1024, "spec"),
      "qs", Seq(25, 50, 75, 95)).collect().head
    assert(est.getLong(1) === 1024L, "sample must fill to k")
    Seq((2, 25000L), (3, 50000L), (4, 75000L), (5, 95000L)).foreach {
      case (i, truth) =>
        val e = est.getLong(i)
        assert(math.abs(e - truth) <= 6000,
          s"p at col $i: estimate $e vs exact $truth exceeds sampling bound")
    }
  }

  test("quantile sketch: union of group sketches equals the global sketch") {
    import graft.operators.QuantileSketch
    val df = spark.range(0, 20000).select(
      (col("id") % 7).as("g"), col("id").as("k"), (col("id") * 37 % 9973).as("v"))
    val perGroup = QuantileSketch.sketch(df, col("g"), "g", col("k"), col("v"),
      256, "spec")
    val viaUnion = QuantileSketch.union(perGroup, "qs", 256, Seq(50, 95))
      .collect().head
    val direct = QuantileSketch.estimate(
      QuantileSketch.sketch(df, lit(0L), "g", col("k"), col("v"), 256, "spec"),
      "qs", Seq(50, 95)).collect().head
    assert(viaUnion.getLong(0) === 7L)
    // EXACT algebra: merged state reproduces the global sketch's
    // estimates bit-for-bit, not approximately
    assert((viaUnion.getLong(1), viaUnion.getLong(2), viaUnion.getLong(3))
      === ((direct.getLong(1), direct.getLong(2), direct.getLong(3))))
    // and the state itself is partitioning-invariant: order-independent
    // aggregation must give identical arrays under any physical layout
    val a = perGroup.orderBy("g").collect().map(_.getSeq[Any](1))
    val b = QuantileSketch.sketch(df.repartition(13), col("g"), "g",
        col("k"), col("v"), 256, "spec")
      .orderBy("g").collect().map(_.getSeq[Any](1))
    assert(a.toSeq === b.toSeq, "sketch state must not depend on partitioning")
  }

  test("kmvUnion merged sketch equals the sketch of the union") {
    import graft.operators.Sketches
    val df = (1L to 500L).map(i => (i % 5, i)).toDF("g", "v")
    val sketches = Sketches.kmvSketch(df, col("g"), "g", col("v"), 16, "kmv")
    assert(sketches.count() === 5)
    val merged = Sketches.kmvUnion(sketches, "hs", 16).collect().head
    // the union of the 5 groups is all 500 distinct values: the merged
    // estimate must equal the sketch built directly on the full data
    val direct = Sketches.kmvDistinct(df, lit(0L), "g", col("v"), 16, "kmv")
      .collect().head.getLong(1)
    assert(merged.getLong(0) === 5L)
    assert(merged.getLong(1) === direct,
      "merged per-group sketches must reproduce the global sketch estimate")
  }

  test("attribution splits conversion credit equally over in-window touches") {
    import java.sql.Timestamp
    def t(min: Int) = new Timestamp(60000L * min)
    val ev = Seq(
      (1L, t(0), 7L, "click", 1.0),     // in window of purchase@20
      (2L, t(10), 7L, "click", 1.0),    // in window
      (3L, t(20), 7L, "purchase", 1.0), // k=2 → 500000 ppm each
      (4L, t(20), 7L, "click", 1.0),    // ties conv ts → EXCLUDED (strict <)
      (5L, t(100), 7L, "purchase", 1.0),// no touch in [70,100) → absent
      (6L, t(5), 8L, "click", 1.0)      // other user, no conversion
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventOps.attribution(ev, "user_id", "ts", "event_type",
        "purchase", "click", 30 * 60000L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out === Set((3L, 1L, 500000L), (3L, 2L, 500000L)))
  }

  test("poissonBootstrap: weights follow Poisson(1), replicate means bracket the truth") {
    import graft.operators.Sketches
    val df = (1L to 2000L).map(i => (i, 100L + (i % 50))).toDF("k", "v")
    val reps = Sketches.poissonBootstrap(df, col("k"), col("v"), 16, "bs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(reps.length === 16)
    // effective n concentrates near the true n (Poisson(1) mean 1)
    reps.foreach { case (_, nEff, _) =>
      assert(nEff > 1700 && nEff < 2300, s"n_eff $nEff implausible for n=2000") }
    // true mean = 100 + avg(i % 50) ≈ 124.5; replicate means stay close
    // and are not all identical (they ARE resamples)
    reps.foreach { case (_, _, m) => assert(m > 115 && m < 135, s"mean $m") }
    assert(reps.map(_._3).distinct.length > 1)
  }

  test("mannWhitney: AUC 1e6 when A dominates, 5e5 for identical, exact ties") {
    import graft.operators.Sketches
    val dom = ((1L to 10L).map(i => ("a", i + 100L)) ++ (1L to 20L).map(i => ("b", i)))
      .toDF("g", "v")
    val r1 = Sketches.mannWhitney(dom, col("g"), "a", col("v")).collect().head
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(3)) === ((10L, 20L, 1000000L)))
    val same = (1L to 30L).flatMap(i => Seq(("a", i % 5), ("b", i % 5))).toDF("g", "v")
    assert(Sketches.mannWhitney(same, col("g"), "a", col("v"))
      .collect().head.getLong(3) === 500000L)
    // hand case: a={1,2}, b={2,3}: pairs (1,2)L (1,3)L (2,2)T (2,3)L →
    // U = 0+0+0.5+0 = 0.5 → u2 = 1, auc = 1/8 = 125000 ppm
    val mix = Seq(("a", 1L), ("a", 2L), ("b", 2L), ("b", 3L)).toDF("g", "v")
    val r3 = Sketches.mannWhitney(mix, col("g"), "a", col("v")).collect().head
    assert((r3.getLong(2), r3.getLong(3)) === ((1L, 125000L)))
  }

  test("ksTest/mannWhitney: NULL group labels dropped, empty cohort raises") {
    import graft.operators.Sketches
    // a null-labeled row belongs to neither cohort and must not shift counts
    val withNull = Seq(("a", 1L), ("a", 2L), ("b", 2L), ("b", 3L), (null, 99L))
      .toDF("g", "v")
    val ks = Sketches.ksTest(withNull, col("g"), "a", col("v")).collect().head
    assert((ks.getLong(0), ks.getLong(1)) === ((2L, 2L)),
      "null-group row must be excluded from both cohorts")
    val mw = Sketches.mannWhitney(withNull, col("g"), "a", col("v")).collect().head
    assert((mw.getLong(0), mw.getLong(1), mw.getLong(3)) === ((2L, 2L, 125000L)))
    // an empty cohort is an error, not a null statistic
    val oneSided = Seq(("a", 1L), ("a", 2L)).toDF("g", "v")
    val e1 = intercept[Exception] {
      Sketches.ksTest(oneSided, col("g"), "a", col("v")).collect()
    }
    assert(e1.getMessage.contains("non-empty"))
    val e2 = intercept[Exception] {
      Sketches.mannWhitney(oneSided, col("g"), "a", col("v")).collect()
    }
    assert(e2.getMessage.contains("non-empty"))
  }

  test("personalizedPageRank: empty / out-of-graph seed set fails fast") {
    import graft.operators.PageRank
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      PageRank.personalizedPageRank(edges, Seq(99L).toDF("node"), 2)
    }
    assert(e.getMessage.contains("seed set is empty"))
  }

  test("attribution: idCol parameter works on a non-event_id schema") {
    import java.sql.Timestamp
    def t(min: Int) = new Timestamp(60000L * min)
    val ev = Seq(
      (10L, t(0), 7L, "click"),
      (11L, t(20), 7L, "purchase")
    ).toDF("eid", "ts", "user_id", "event_type")
    val out = EventOps.attribution(ev, "user_id", "ts", "event_type",
        "purchase", "click", 30 * 60000L, idCol = "eid")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out === Set((11L, 10L, 1000000L)))
  }

  test("attributionDecay halves credit per halflife and caps the ladder") {
    import java.sql.Timestamp
    def t(min: Int) = new Timestamp(60000L * min)
    // touches 2, 7 and 12 min before the conversion; halflife 5 min →
    // steps 0, 1, 2 → weights 1e6, 5e5, 25e4 → credits 4/7, 2/7, 1/7
    val ev = Seq(
      (1L, t(0), 7L, "click"), (2L, t(5), 7L, "click"),
      (3L, t(10), 7L, "click"), (9L, t(12), 7L, "purchase")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = EventOps.attributionDecay(ev, "user_id", "ts", "event_type",
        "purchase", "click", 30 * 60000L, 5 * 60000L)
      .collect().map(r => r.getLong(2) -> (r.getLong(3), r.getLong(4))).toMap
    assert(out(3L) === ((1000000L, 571428L)))
    assert(out(2L) === ((500000L, 285714L)))
    assert(out(1L) === ((250000L, 142857L)))
    // halflife >= window → zero halvings → degrades to uniform linear
    val uni = EventOps.attributionDecay(ev, "user_id", "ts", "event_type",
        "purchase", "click", 30 * 60000L, 60 * 60000L)
      .collect().map(_.getLong(4)).toSet
    assert(uni === Set(333333L))
    // an ancient touch still keeps >= 1 weight unit (capped ladder)
    val far = Seq((1L, t(0), 7L, "click"), (9L, t(200), 7L, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val w = EventOps.attributionDecay(far, "user_id", "ts", "event_type",
        "purchase", "click", 300 * 60000L, 60000L).collect().head
    assert(w.getLong(3) === 1L && w.getLong(4) === 1000000L)
  }

  test("phraseSearch counts overlapping occurrences, handles repeats") {
    import graft.operators.TextOps
    val docs = Seq(
      (1L, "a b a b a"),      // [a,b,a] matches at 0 and 2 (overlap)
      (2L, "a b c"),          // no [a,b,a]
      (3L, "x a b a y"),      // one match
      (4L, "b b b")           // repeated-token phrase target
    ).toDF("doc_id", "text")
    val aba = TextOps.phraseSearch(docs, "doc_id", "text", Seq("a", "b", "a"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(aba === Map(1L -> 2L, 3L -> 1L))
    val bb = TextOps.phraseSearch(docs, "doc_id", "text", Seq("b", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(bb === Map(4L -> 2L))
    assert(TextOps.phraseSearch(docs, "doc_id", "text", Seq("z", "q")).isEmpty)
  }

  /** The msf hand-graph checks; returns both forests for path checks. */
  private def msfHandGraphs(): (DataFrame, DataFrame) = {
    import graft.operators.Msf
    // component A: square 1-2-3-4 with diagonal; component B: pair 8-9
    val edges = Seq(
      (1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L), (1L, 4L, 10L), (1L, 3L, 9L),
      (8L, 9L, 5L)).toDF("src", "dst", "w")
    val forest = Msf.msf(edges)
    val out = forest
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === Set((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L), (8L, 9L, 5L)))
    // parallel edges keep the min; self loops drop
    val forest2 = Msf.msf(Seq((1L, 2L, 7L), (2L, 1L, 3L), (1L, 1L, 1L))
        .toDF("src", "dst", "w"))
    val out2 = forest2
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out2 === Set((1L, 2L, 3L)))
    (forest, forest2)
  }

  test("msf: hand graph — cheapest edges win, cycles excluded, forest per component") {
    val (a, b) = msfHandGraphs()
    assert(msfSides(a) === ((false, true)) && msfSides(b) === ((false, true)),
      "the default conf finishes small graphs on the driver")
  }

  test("msf: hand graph with every Borůvka round distributed") {
    val (a, b) = distributedCC(msfHandGraphs())
    assert(msfSides(a) === ((true, false)) && msfSides(b) === ((true, false)))
  }

  test("msf: hand graph on both sides of a 4-edge driver-tail cutover") {
    val (a, b) = msfCutoverAt4(msfHandGraphs())
    assert(msfSides(a) === ((true, false)), "6 frontier edges: distributed round")
    assert(msfSides(b) === ((false, true)), "1 frontier edge: driver tail")
  }

  test("canonicalUrl collapses every per-click variant of the same page") {
    import graft.operators.UrlOps
    val urls = Seq(
      "https://www.Site.com:443/a/b/?b=2&a=1",
      "http://site.com/a/b?a=1&b=2&utm_source=mail",
      "site.com/a/b///?utm_campaign=x&b=2&a=1#section",
      "https://site.com/a/b?ref=tw&a=1&b=2")
      .zipWithIndex.map { case (u, i) => (i.toLong, u) }.toDF("id", "url")
    val canon = urls.select(UrlOps.canonicalUrl(col("url"))).as[String]
      .collect().toSet
    assert(canon === Set("site.com/a/b?a=1&b=2"),
      s"all four variants must canonicalize identically, got $canon")
    // a genuinely different page must NOT collapse
    val other = Seq((9L, "https://site.com/a/b?a=2&b=2")).toDF("id", "url")
      .select(UrlOps.canonicalUrl(col("url"))).as[String].collect().head
    assert(other === "site.com/a/b?a=2&b=2")
  }

  test("htEstimate: full-rate sample is the exact total; subsample deterministic") {
    val df = (1L to 100L).map(i => (i, i * 3)).toDF("id", "v")
    val full = Sampling.htEstimate(df, col("id"), col("v"), 1000000L, "ht-spec")
      .collect().head
    assert(full.getLong(0) === 100L)
    assert(full.getLong(1) === 3L * 5050L && full.getLong(2) === full.getLong(1))
    val a = Sampling.htEstimate(df, col("id"), col("v"), 250000L, "ht-spec").collect().head
    val b = Sampling.htEstimate(df, col("id"), col("v"), 250000L, "ht-spec").collect().head
    assert(a.toSeq === b.toSeq)
    assert(a.getLong(0) > 0L && a.getLong(0) < 100L)
  }

  test("exactMode breaks count ties toward the smallest value") {
    val df = Seq(("g", "b"), ("g", "b"), ("g", "a"), ("g", "a"), ("g", "c"))
      .toDF("k", "v")
    val out = Marts.exactMode(df, col("k"), "k", col("v")).collect().head
    assert((out.getString(1), out.getLong(2)) === (("a", 2L)))
  }

  test("weightedMedian: weights move the median off the row median") {
    import graft.operators.Sketches
    // values 10,20,30 with weights 1,1,10 → weighted median 30 (row
    // median would be 20); second group checks the exact-half boundary
    val df = Seq(("a", 10L, 1L, 1L), ("a", 20L, 1L, 2L), ("a", 30L, 10L, 3L),
      ("b", 5L, 2L, 4L), ("b", 7L, 2L, 5L)).toDF("g", "v", "w", "t")
    val out = Sketches.weightedMedian(df, col("g"), "g", col("v"), col("w"), col("t"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("a") === ((12L, 30L)))
    // total 4, cum at v=5 is 2 → 2·2 ≥ 4 → lower median 5
    assert(out("b") === ((4L, 5L)))
  }

  test("higherMoments: symmetric data scores skew 0, three-point kurtosis -1.5") {
    import graft.operators.Sketches
    val df = Seq(-300L, 0L, 300L).map(v => ("g", v)).toDF("k", "v")
    val out = Sketches.higherMoments(df, col("k"), "grp", col("v")).collect().head
    assert(out.getLong(1) === 3L && out.getLong(2) === 0L)
    assert(out.getDouble(3) === 0.0)
    assert(out.getDouble(4) === -1.5)
  }

  test("maxConcurrency: sweep-line counts overlapping sessions exactly") {
    import java.sql.Timestamp
    def t(min: Int) = new Timestamp(60000L * min)
    // three users: sessions [0,10], [5,15], [12,20] (gap 30min keeps each
    // user to one session) → concurrency peaks at 2 (0-15 band twice)
    val ev = Seq((1L, 0, 1L), (2L, 10, 1L), (3L, 5, 2L), (4L, 15, 2L),
      (5L, 12, 3L), (6L, 20, 3L))
      .map { case (id, m, u) => (id, t(m), u, "e") }
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = EventOps.maxConcurrency(ev, "user_id", "ts", 30 * 60000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out === Array((0L, 2L)), s"got ${out.mkString(",")}")
    // touching boundary still overlaps (inclusive ends): [0,10] ∩ [10,20]
    val ev2 = Seq((1L, 0, 1L), (2L, 10, 1L), (3L, 10, 2L), (4L, 20, 2L))
      .map { case (id, m, u) => (id, t(m), u, "e") }
      .toDF("event_id", "ts", "user_id", "event_type")
    val out2 = EventOps.maxConcurrency(ev2, "user_id", "ts", 30 * 60000L)
      .collect().head.getLong(1)
    assert(out2 === 2L)
  }

  test("attributionUShaped: 40/20/40 ladder, exact truncated middles, degenerate k") {
    import java.sql.Timestamp
    def t(min: Int) = new Timestamp(60000L * min)
    // user 7: five touches then a purchase → 400k, 66666×3, 400k
    val ev = ((1 to 5).map(i => (i.toLong, t(i), 7L, "click"))
      ++ Seq((9L, t(10), 7L, "purchase"),
        (11L, t(0), 8L, "click"), (12L, t(5), 8L, "purchase"),     // k=1
        (21L, t(0), 9L, "click"), (22L, t(1), 9L, "click"),
        (23L, t(5), 9L, "purchase")))                               // k=2
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = EventOps.attributionUShaped(ev, "user_id", "ts", "event_type",
        "purchase", "click", 30 * 60000L)
      .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    assert(out(1L) === 400000L && out(5L) === 400000L)
    assert(out(2L) === 66666L && out(3L) === 66666L && out(4L) === 66666L)
    assert(out(11L) === 1000000L)
    assert(out(21L) === 500000L && out(22L) === 500000L)
  }

  test("fkAudit: orphans counted exactly, null child keys orphan") {
    val child = Seq(Some(1L), Some(2L), Some(9L), None).map(Tuple1(_)).toDF("k")
    val parent = Seq(1L, 2L, 3L).map(Tuple1(_)).toDF("pk")
    val out = Audit.fkAudit(Seq(("c->p", child, col("k"), parent, col("pk"))))
      .collect().head
    assert((out.getString(0), out.getLong(1), out.getLong(2), out.getLong(3)) ===
      (("c->p", 4L, 2L, 500000L)))
  }

  test("liftTable: perfect separation concentrates lift in the top bucket") {
    import graft.operators.Quality
    // 20 rows, scores 20..1; positives = the 5 highest scores
    val df = (1L to 20L).map(i => (i, 21L - i, i <= 5)).toDF("id", "s", "pos")
    val out = Quality.liftTable(df, col("s"), col("pos"), col("id"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).sortBy(_._1)
    // bucket 0 = top 4 scores: all positive; bucket 1 has the 5th
    assert(out(0) === ((0L, 4L, 4L, 4L, 1000000L, 800000L, 4000L)))
    assert(out(1)._3 === 1L && out(1)._6 === 1000000L, "recall completes in b1")
    assert(out(4)._3 === 0L && out(4)._7 === 0L, "bottom bucket: no positives")
    // lift_pm in bucket 0: (4 pos / 4 rows) / (5/20 base) = 4x → 4000 pm
  }

  test("conversionPaths: ordered journeys, top-K ties broken on path") {
    import java.sql.Timestamp
    def t(min: Int) = new Timestamp(60000L * min)
    val ev = Seq(
      // user 7: click > view > buy
      (1L, t(0), 7L, "click"), (2L, t(5), 7L, "view"), (9L, t(10), 7L, "buy"),
      // user 8: click > view > buy (same path — counts twice)
      (11L, t(0), 8L, "click"), (12L, t(5), 8L, "view"), (19L, t(10), 8L, "buy"),
      // user 5: view > click > buy (different order = different path)
      (21L, t(0), 5L, "view"), (22L, t(5), 5L, "click"), (29L, t(10), 5L, "buy"),
      // user 6: touchless buy — no path row
      (31L, t(10), 6L, "buy"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = EventOps.conversionPaths(ev, "user_id", "ts", "event_type",
        "buy", 30 * 60000L, 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out === Array(("click>view", 2L), ("view>click", 1L)))
  }

  test("growth curve: first-seen weeks accumulate to total uniques") {
    import java.sql.Timestamp
    def t(day: Int) = new Timestamp(86400000L * day)
    // wk0: users 1,2; wk1: user 2 again (not new) + user 3
    val ev = Seq((1L, t(0), 1L), (2L, t(1), 2L), (3L, t(8), 2L), (4L, t(9), 3L))
      .map { case (id, ts, u) => (id, ts, u, "e", 0.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val firsts = ev.select(col("user_id"), expr("unix_millis(ts) div 604800000").as("wk"))
      .groupBy(col("user_id")).agg(min(col("wk")).as("wk"))
      .groupBy(col("wk")).agg(count(lit(1)).as("new_users"))
    import org.apache.spark.sql.expressions.Window
    val curve = firsts.withColumn("cum_users",
        sum(col("new_users")).over(Window.orderBy(col("wk").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(curve === Array((0L, 2L, 2L), (1L, 1L, 3L)))
  }

  test("stickiness: windows count trailing distincts, ratio exact") {
    import java.sql.Timestamp
    def t(day: Int) = new Timestamp(86400000L * day)
    // day 0: users 1,2; day 1: user 2; day 8: user 3 (day 1 outside its WAU)
    val ev = Seq((1L, t(0), 1L), (2L, t(0), 2L), (3L, t(1), 2L), (4L, t(8), 3L))
      .map { case (id, ts, u) => (id, ts, u, "e", 0.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventOps.stickiness(ev, "user_id", "ts", 7, 28)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(0L) === ((2L, 2L, 2L, 1000000L)))
    assert(out(1L) === ((1L, 2L, 2L, 500000L)))
    // day 8: dau {3}; wau covers days 2..8 → {3}; mau covers 0..8 → all
    assert(out(8L) === ((1L, 1L, 3L, 333333L)))
  }

  test("rfm: orientation puts the best customer at 5s, quintiles equi-depth") {
    import java.sql.Timestamp
    def t(day: Int) = new Timestamp(86400000L * day)
    // 10 users: user i has its last event on day i, i events, value 10·i
    val ev = (1 to 10).flatMap(u => (1 to u).map(k =>
      ((u * 100 + k).toLong, t(if (k == u) u else 1), u.toLong, "e", u * 10.0)))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventOps.rfm(ev, "user_id", "ts", "value")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    // user 10: most recent (recency 0), most frequent, biggest spend → 555
    assert(out(10L) === ((0L, 5L, 5L, 5L, 555L)))
    // user 1: oldest, fewest, least → 111
    assert(out(1L)._5 === 111L)
    // equi-depth: each quintile of 10 users holds exactly 2 per dim
    val fCounts = out.values.groupBy(_._3).view.mapValues(_.size).toMap
    assert(fCounts === (1 to 5).map(s => s.toLong -> 2).toMap)
  }

  test("overwritePartitions replaces wholesale: deletes inside, new parts, untouched pass") {
    val snap = Seq((1L, 10L, 100L), (2L, 10L, 200L), (3L, 20L, 300L))
      .toDF("id", "part", "v")
    // batch rewrites partition 10 WITHOUT id=2 (a delete) and brings a
    // brand-new partition 30; partition 20 is untouched
    val batch = Seq((1L, 10L, 111L), (9L, 30L, 900L)).toDF("id", "part", "v")
    val out = Staging.overwritePartitions(snap, batch, Seq("part"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === Set((1L, 10L, 111L), (9L, 30L, 900L), (3L, 20L, 300L)))
  }

  test("pctChange: exact ppm growth vs lag-1 and lag-cycle, nulls at the head") {
    import graft.operators.TimeSeries
    val series = Seq(("a", 1L, 100L), ("a", 2L, 110L), ("a", 3L, 99L),
      ("a", 4L, 99L)).toDF("g", "x", "y")
    val out = TimeSeries.pctChange(series, "g", "x", "y", 1, 3)
      .collect().map(r => r.getLong(1) ->
        (Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long]))).toMap
    assert(out(1L) === ((None, None)))
    assert(out(2L) === ((Some(100000L), None)))
    assert(out(3L)._1 === Some(-100000L), "decline must come out negative")
    assert(out(4L) === ((Some(0L), Some(-10000L))), "lag-3 vs x=1: (99-100)/100")
  }

  test("randProject: one-hot vectors read the matrix column exactly; linear") {
    import graft.functions.{HashFunctions => H}
    val ws = H.projectionWeights(4, 6)
    val oneHot = Array.fill(6)(0f)
    val e2 = oneHot.clone(); e2(2) = 1f
    val two = oneHot.clone(); two(0) = 2f; two(2) = 1f
    val df = Seq((1L, e2.toSeq), (2L, two.toSeq)).toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.randProject(df, "vec_id", "embedding", 6, 4)
      .collect().map(r => r.getLong(0) -> (0 until 4).map(j => r.getDouble(j + 1))).toMap
    (0 until 4).foreach { j =>
      assert(out(1L)(j) === BigDecimal(ws(j)(2)).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
      // linearity: proj(2·e0 + e2) = 2·w[j][0] + w[j][2]
      assert(out(2L)(j) === BigDecimal(2 * ws(j)(0) + ws(j)(2)).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("joinSizeEst: full-rate sample is exact; subsample deterministic") {
    val rows = (1L to 300L).map(i => Tuple1(i % 20)).toDF("k")
    // rate 1e6 → every key sampled → estimate IS the exact join size
    val full = Audit.joinSizeEst(rows, "k", rows, "k", 1000000L, "jse-spec")
      .collect().head
    assert(full.getLong(0) === 20L)
    assert(full.getLong(1) === full.getLong(2), "thr = 2^32 → no scale-up")
    assert(full.getLong(1) === 20L * 15L * 15L)
    // 1/4 sample: deterministic across runs, scaled by the inverse rate
    val a = Audit.joinSizeEst(rows, "k", rows, "k", 250000L, "jse-spec").collect().head
    val b = Audit.joinSizeEst(rows, "k", rows, "k", 250000L, "jse-spec").collect().head
    assert(a.toSeq === b.toSeq)
    assert(a.getLong(0) < 20L && a.getLong(0) > 0L)
    assert(a.getLong(2) === a.getLong(1) * 4294967296L / (250000L * 4294967296L / 1000000L))
  }

  test("Hierarchy.flatten: path products to every ancestor, early stop") {
    import graft.operators.Hierarchy
    val edges = Seq((100L, 10L, 2L), (101L, 10L, 5L), (10L, 1L, 3L),
      (200L, 20L, 7L)).toDF("child", "parent", "qty")
    val out = Hierarchy.flatten(edges, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out === Set(
      (100L, 10L, 1L, 2L), (100L, 1L, 2L, 6L),
      (101L, 10L, 1L, 5L), (101L, 1L, 2L, 15L),
      (10L, 1L, 1L, 3L), (200L, 20L, 1L, 7L)))
  }

  test("clusteringCoef: clique scores 1e6, wedge center 0, degree-1 excluded") {
    import graft.operators.Triangles
    // triangle {1,2,3} + pendant 4 on node 1 + wedge 5-6-7 (no closure)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L), (5L, 6L), (6L, 7L))
      .toDF("src", "dst")
    val out = Triangles.clusteringCoef(edges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // node 1: d=3, one triangle → 2·1e6/(3·2) = 333333
    assert(out(1L) === ((3L, 1L, 333333L)))
    assert(out(2L) === ((2L, 1L, 1000000L)) && out(3L) === ((2L, 1L, 1000000L)))
    // wedge center: degree 2, zero triangles → present with coef 0
    assert(out(6L) === ((2L, 0L, 0L)))
    // degree-1 nodes have no defined coefficient
    assert(!out.contains(4L) && !out.contains(5L) && !out.contains(7L))
  }

  test("gopherRules: each rule fails independently, evidence exact") {
    import graft.operators.TextOps
    val twenty = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"the a $twenty"),                                // passes all
      (2L, "the a tiny doc"),                                // fails words
      (3L, ("the a " + (1 to 20).map(_ => "extraordinarily").mkString(" "))), // fails len
      (4L, s"$twenty zz yy"),                                // fails stop
      (5L, ("the a " + (1 to 20).map(_ => "12345").mkString(" ")))) // fails alpha
      .toDF("doc_id", "text")
    val out = TextOps.gopherRules(docs, "doc_id", "text", 20L, 100000L,
        100L, 800L, Seq("the", "a", "and"), 2L, 800000L)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(5), r.getBoolean(6), r.getBoolean(7), r.getBoolean(8),
          r.getBoolean(9))).toMap
    assert(out(1L) === ((true, true, true, true, true)))
    assert(out(2L)._1 === false && out(2L)._5 === false)
    assert(out(3L)._2 === false && out(3L)._1 === true)
    assert(out(4L)._3 === false && out(4L)._1 === true)
    assert(out(5L)._4 === false && out(5L)._3 === true)
    // evidence: doc 1 has 22 words, mean (5+1+sum|w_i|)·100/22
    val row1 = TextOps.gopherRules(docs, "doc_id", "text", 20L, 100000L,
        100L, 800L, Seq("the", "a", "and"), 2L, 800000L)
      .filter(col("doc_id") === 1L).collect().head
    assert(row1.getAs[Long]("n_words") === 22L)
    val sumLen = 3 + 1 + (1 to 20).map(i => s"w$i".length).sum
    assert(row1.getAs[Long]("mean_len_x100") === 100L * sumLen / 22L)
  }

  test("funnelLatency: first-reach chain durations, exact quartiles") {
    import java.sql.Timestamp
    def t(min: Int) = new Timestamp(60000L * min)
    // users 1..4 complete a→b with durations 10, 20, 30, 40 min;
    // user 5 only reaches a; user 6 has b BEFORE a (no completion)
    val ev = (Seq((1L, 0, "a"), (1L, 10, "b"), (2L, 0, "a"), (2L, 20, "b"),
      (3L, 0, "a"), (3L, 30, "b"), (4L, 0, "a"), (4L, 40, "b"),
      (5L, 0, "a"), (6L, 5, "b"), (6L, 10, "a"))
      ++ Seq((1L, 50, "b"))) // later duplicate completion must not count
      .zipWithIndex.map { case ((u, m, ty), i) => (i.toLong, t(m), u, ty) }
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = EventOps.funnelLatency(ev, "user_id", "ts", "event_type",
      Seq("a", "b")).collect().head
    assert(out.getLong(1) === 4L, "4 completers")
    // durations ms: 600k, 1200k, 1800k, 2400k → type-1 quartile ranks
    // (n=4): p25 @1, p50 @2, p75 @3
    assert((out.getLong(2), out.getLong(3), out.getLong(4)) ===
      ((600000L, 1200000L, 1800000L)))
  }

  test("ksTest: identical distributions → 0; disjoint supports → 1e6") {
    import graft.operators.Sketches
    val same = (1L to 50L).flatMap(i => Seq(("a", i % 10), ("b", i % 10)))
      .toDF("g", "v")
    val r0 = Sketches.ksTest(same, col("g"), "a", col("v")).collect().head
    assert((r0.getLong(0), r0.getLong(1), r0.getLong(2)) === ((50L, 50L, 0L)))
    val disj = ((1L to 20L).map(i => ("a", i)) ++ (1L to 30L).map(i => ("b", i + 100L)))
      .toDF("g", "v")
    val r1 = Sketches.ksTest(disj, col("g"), "a", col("v")).collect().head
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2)) === ((20L, 30L, 1000000L)))
    // hand case: a={1,2}, b={1,3} → CDF gaps at v=2: |2·2−1·2|/4 = 1/2
    val mid = Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 3L)).toDF("g", "v")
    assert(Sketches.ksTest(mid, col("g"), "a", col("v"))
      .collect().head.getLong(2) === 500000L)
  }

  test("gini: 0 for equal values, known value for full concentration") {
    val equal = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L)).toDF("k", "x")
    val g0 = Sketches.gini(equal, col("k"), col("x")).collect().head
    assert((g0.getLong(0), g0.getLong(1), g0.getLong(2)) === ((4L, 20L, 0L)))
    // one holder of everything among n=4: G = (n-1)/n = 0.75
    val conc = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 12L)).toDF("k", "x")
    assert(Sketches.gini(conc, col("k"), col("x")).collect().head.getLong(2)
      === 750000L)
  }

  test("winsorize clips to exact type-1 permille bounds per group") {
    // group g: values 1..10 → p(200‰) = rank ceil(0.2·10)=2 → 2;
    // p(800‰) = rank 8 → 8; values clip into [2, 8]
    val df = (1L to 10L).map(i => ("g", i, i)).toDF("grp", "k", "v")
    val out = Marts.winsorize(df, col("grp"), "grp", col("v"), col("k"), "k",
        200L, 800L)
      .collect().map(r => (r.getLong(1), r.getLong(3))).toMap
    assert(out === Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L,
      6L -> 6L, 7L -> 7L, 8L -> 8L, 9L -> 8L, 10L -> 8L))
    // single-row group: both ranks clamp to 1 → value maps to itself
    val one = Seq(("h", 1L, 42L)).toDF("grp", "k", "v")
    val o1 = Marts.winsorize(one, col("grp"), "grp", col("v"), col("k"), "k",
      50L, 950L).collect()
    assert(o1.length === 1 && o1.head.getLong(3) === 42L)
  }

  test("purge/cascadeKeys erase a subject transitively, leave others intact") {
    val cust = Seq((1L, "keep"), (2L, "forget")).toDF("ck", "name")
    val orders = Seq((10L, 1L), (20L, 2L), (21L, 2L)).toDF("ok", "ck")
    val items = Seq((10L, "a"), (20L, "b"), (21L, "c"), (99L, "orphan"))
      .toDF("ok", "item")
    val fc = cust.filter($"ck" === 2L).select($"ck")
    val badOrders = Staging.cascadeKeys(orders, "ck", fc, "ok")
    assert(Staging.purge(cust, "ck", fc).collect().map(_.getLong(0)).toSet === Set(1L))
    assert(Staging.purge(orders, "ck", fc).collect().map(_.getAs[Long]("ok")).toSet
      === Set(10L))
    // orphan rows (no parent order at all) are untouched by the cascade
    assert(Staging.purge(items, "ok", badOrders).collect().map(_.getString(1)).toSet
      === Set("a", "orphan"))
  }

  test("lDiversity flags homogeneous QI classes that k-anonymity would pass") {
    // class (a,1): 3 rows but ALL share sensitive value 9 → k-anonymous
    // at k=3 yet NOT 2-diverse; class (b,2): 2 rows, 2 distinct values
    val df = Seq(("a", 1L, 9L), ("a", 1L, 9L), ("a", 1L, 9L),
      ("b", 2L, 5L), ("b", 2L, 7L)).toDF("seg", "nat", "s")
    val out = Quality.lDiversity(df, Seq("segment" -> col("seg"),
        "nation" -> col("nat")), col("s"), 2L)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out === Map(
      ("a", "1") -> ((3L, 1L, false)),
      ("b", "2") -> ((2L, 2L, true))))
  }

  test("jaccardTopK ranks by exact shingle-set overlap; rrfFuse merges rankings") {
    import graft.operators.TextOps
    // query doc 4 (id % 2 == 0... use mod 4): doc4 = "a b c d"
    // shingles(2): doc4 {ab,bc,cd}; doc1 {ab,bc} |∩|=2 jac=2/3;
    // doc2 {ab} jac=1/3; doc3 {xy} disjoint
    val docs = Seq((4L, "a b c d"), (1L, "a b c"), (2L, "a b"), (3L, "x y"))
      .toDF("doc_id", "text")
    val jac = TextOps.jaccardTopK(docs, "doc_id", "text", 4, 3)
    val got = jac.collect().map(r => (r.getLong(1), (r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(1L -> ((666666L, 1L)), 2L -> ((333333L, 2L))))
    // fusion: ranking A says (1:rnk1, 2:rnk2), ranking B says (2:rnk1, 1:rnk2)
    // → tie on rrf score, broken by doc_id
    val a = Seq((4L, 1L, 1L), (4L, 2L, 2L)).toDF("query_id", "doc_id", "rnk")
    val b = Seq((4L, 2L, 1L), (4L, 1L, 2L)).toDF("query_id", "doc_id", "rnk")
    val fused = TextOps.rrfFuse(Seq(a, b), 2, 60L)
      .collect().map(r => (r.getLong(1), (r.getLong(2), r.getLong(3)))).toMap
    // 1e6/61 + 1e6/62 = 16393 + 16129 = 32522 for both docs
    assert(fused === Map(1L -> ((32522L, 1L)), 2L -> ((32522L, 2L))))
  }

  test("dupSpans counts spans shared across distinct docs only") {
    // n=3 spans; "a b c d" ↔ doc2 share "a b c"/"b c d"; doc3's repeated
    // span occurs twice but only within ITSELF → not cross-doc duplicated;
    // doc4 is too short for any span
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d e"),
      (3L, "x y z w x y z"), (4L, "p q")).toDF("doc_id", "text")
    val out = Dedup.dupSpans(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out === Map(
      1L -> ((2L, 2L, 1000000L)),  // both spans duplicated
      2L -> ((3L, 2L, 666666L)),   // "c d e" unique to doc2
      3L -> ((5L, 0L, 0L))))       // within-doc repeat is not cross-doc
    assert(!out.contains(4L))
  }

  test("mergeInto applies all four MERGE clauses, update before delete") {
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L),
      (4L, "d", 40L), (5L, "e", 50L)).toDF("k", "v", "w")
    val src = Seq((1L, "a2", 11L), (2L, "b2", 21L), (3L, "c2", 31L),
      (9L, "i", 90L), (10L, "skip", 100L)).toDF("k", "v", "w")
    val out = Staging.mergeInto(base, src, Seq("k"),
      matchedUpdate = Some(col("k") === 1L || col("k") === 2L),
      // k=2 satisfies BOTH conditions → update wins (clause order)
      matchedDelete = Some(col("k") === 2L || col("k") === 3L),
      insertWhen = Some(col("src_v") =!= "skip"),
      notBySourceDelete = Some(col("k") === 5L))
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
    assert(out === Map(
      1L -> (("a2", 11L)),  // matched update
      // 2 updated (update precedes delete), 3 deleted by matched-delete
      2L -> (("b2", 21L)),
      4L -> (("d", 40L)),   // matched by nothing, kept
      // 5 swept by not-matched-by-source delete; 10 fails insertWhen
      9L -> (("i", 90L))))  // inserted
  }

  test("ivmJoin delta rule equals the full recompute, terms are disjoint") {
    // A split 3 old / 2 delta; B split 2 old / 2 delta; keys overlap so
    // every delta term is non-empty
    val aOld = Seq((1L, "a1"), (2L, "a2"), (3L, "a3")).toDF("k", "av")
    val aDelta = Seq((2L, "a2new"), (4L, "a4")).toDF("k", "av")
    val bOld = Seq((1L, "b1"), (2L, "b2")).toDF("k", "bv")
    val bDelta = Seq((3L, "b3"), (4L, "b4")).toDF("k", "bv")
    val vOld = aOld.join(bOld, Seq("k"))
    val inc = Staging.ivmJoin(vOld, aOld, aDelta, bOld, bDelta, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val full = aOld.unionByName(aDelta).join(bOld.unionByName(bDelta), Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    // exact multiset equality — and no row arrived twice (disjoint terms)
    assert(inc.sorted === full.sorted)
    assert(inc.size === inc.distinct.size, "delta terms must not double-count")
  }

  test("fuzzyLookup resolves dirty probes to the nearest catalog entry") {
    import graft.operators.Joins
    val catalog = Seq("red widget", "red widgets", "red gear", "blue bolt")
      .toDF("name")
    val probes = Seq(
      "red widgett",  // dist 1 to "red widget" AND "red widgets" → tie on
                      // dist, lexicographic candidate order breaks it
      "red gea",      // dist 1 to "red gear"
      "blue boat",    // dist 1 to "blue bolt" (a→l substitution)
      "green thing",  // no block match at all
      "red sprocket") // block matches, all beyond maxDist
      .toDF("probe")
    val out = Joins.fuzzyLookup(probes, "probe", catalog, "name", 2)
      .collect().map(r => (r.getString(0), (r.getString(1), r.getLong(2)))).toMap
    assert(out === Map(
      "red widgett" -> (("red widget", 1L)),
      "red gea" -> (("red gear", 1L)),
      "blue boat" -> (("blue bolt", 1L))))
  }

  test("bm25TopK ranks by exact-rational Okapi score, excludes the query doc") {
    import graft.operators.TextOps
    // query doc 5 (id % 5 == 0), terms {rare, common}; N=4, Σdl=11
    // hand-derived int64 num/den (k1=6/5, b=3/4, rational idf):
    //   doc1 rare:   2420/2510  → 964143 ppm
    //   doc1 common: 2904/5054  → 574594 ppm   (Σ = 1538737)
    //   doc2 common: 4356/6594  → 660600 ppm
    val docs = Seq((5L, "rare common"), (1L, "rare common common"),
      (2L, "common common common"), (3L, "other words here"))
      .toDF("doc_id", "text")
    val out = TextOps.bm25TopK(docs, "doc_id", "text", 5, 2)
      .collect()
      .map(r => (r.getLong(1), (r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map(1L -> ((1538737L, 1L)), 2L -> ((660600L, 2L))),
      "doc sharing the rare term must outrank the common-only doc; " +
        "doc3 (no shared terms) and the query doc itself must be absent")
  }

  test("bm25TopK champion cap: generous M is exact; M=1 keeps only the top-impact posting") {
    import graft.operators.TextOps
    val docs = Seq((5L, "rare common"), (1L, "rare common common"),
      (2L, "common common common"), (3L, "other words here"))
      .toDF("doc_id", "text")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // champM ≥ every posting length → the cap removes nothing
    assert(snap(TextOps.bm25TopK(docs, "doc_id", "text", 5, 2, champM = 10))
      === snap(TextOps.bm25TopK(docs, "doc_id", "text", 5, 2)))
    // champM=1: "common" keeps only doc2 (tf=3, the max); "rare" keeps
    // doc5 (tf tie, shorter dl) = the query doc itself, excluded from
    // scoring — so the only candidate left is doc2 at its common-term
    // score, and doc1 (exact rank 1) is cut
    val m1 = TextOps.bm25TopK(docs, "doc_id", "text", 5, 2, champM = 1)
      .collect().map(r => (r.getLong(1), (r.getLong(2), r.getLong(3)))).toMap
    assert(m1 === Map(2L -> ((660600L, 1L))))
  }

  test("jaccardTopK champion cap: generous M is exact; M=1 keeps the smallest doc per shingle") {
    import graft.operators.TextOps
    // q = doc4 (id % 4 == 0). d1 is an exact clone (J=1); d2 shares one
    // shingle "a b" but is larger (J=1/6); d3 shares nothing.
    val docs = Seq((4L, "a b c"), (1L, "a b c"), (2L, "a b x y z w"),
      (3L, "p q r")).toDF("doc_id", "text")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(snap(TextOps.jaccardTopK(docs, "doc_id", "text", 4, 2, champM = 10))
      === snap(TextOps.jaccardTopK(docs, "doc_id", "text", 4, 2)))
    // M=1: both of the query's shingles ("a b", "b c") champion d1
    // (sz 2 < d2's 5), so d2 never becomes a candidate; d1 is rescored
    // on its full set: inter=2, J = 2/(2+2-2) = 1 -> 1000000 ppm
    val m1 = TextOps.jaccardTopK(docs, "doc_id", "text", 4, 2, champM = 1)
      .collect().map(r => (r.getLong(1), (r.getLong(2), r.getLong(3)))).toMap
    assert(m1 === Map(1L -> ((1000000L, 1L))))
  }

  test("jaccardLshTopK: band-bucket probe + exact rescore finds near-dups above τ") {
    import graft.operators.TextOps
    // q = doc4 (id % 4 == 0). d1 is an exact clone: J=1 → identical
    // minhash signatures → EVERY band collides, so candidacy is
    // guaranteed, not hash-luck. d2 shares one shingle of six
    // (J=1/6 < τ=0.5): even if some band bucketed it, the exact
    // full-set rescore cuts it at the threshold. d3 is disjoint.
    val docs = Seq((4L, "a b c"), (1L, "a b c"), (2L, "a b x y z w"),
      (3L, "p q r")).toDF("doc_id", "text")
    val out = TextOps.jaccardLshTopK(docs, "doc_id", "text", 4, 3,
        minJacPpm = 500000L, lshK = 32, lshBands = 8)
      .collect().map(r => (r.getLong(1), (r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map(1L -> ((1000000L, 1L))))
    // τ=0: the sub-threshold candidates that DID bucket come back with
    // their true Jaccard — never a partial/band-approximate score
    val open = TextOps.jaccardLshTopK(docs, "doc_id", "text", 4, 3,
        minJacPpm = 0L, lshK = 32, lshBands = 8)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(open(1L) === 1000000L)
    assert(open.get(2L).forall(_ === 166666L), "a bucketed low-sim " +
      "candidate must carry its exact rescored Jaccard (1/6)")
  }

  test("jaccardPrefixTopK: exact thresholded retrieval == brute-force truth") {
    import graft.operators.TextOps
    import org.apache.spark.sql.functions.col
    // synthetic: q=4 has a clone (J=1), a mid-τ sibling sharing 3 of 5
    // bigram shingles (J=3/7 < 1/2), and a disjoint doc — the prefix
    // kernel must keep the clone, cut the sub-τ sibling EXACTLY at the
    // threshold arithmetic (never a bucketing coin flip), and never
    // emit the disjoint doc
    val docs = Seq((4L, "a b c d e f"), (1L, "a b c d e f"),
      (2L, "a b c d x y"), (3L, "p q r")).toDF("doc_id", "text")
    val out = TextOps.jaccardPrefixTopK(docs, "doc_id", "text", 4, 5, 1L, 2L)
      .collect().map(r => (r.getLong(1), (r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map(1L -> ((1000000L, 1L))))
    // at τ=3/7 the sibling enters with its exact ppm (3/7 = 428571)
    val open = TextOps.jaccardPrefixTopK(docs, "doc_id", "text", 4, 5, 3L, 7L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(open === Map(1L -> 1000000L, 2L -> 428571L))
    // corpus fixture: per-query result must equal the brute-force
    // inverted-index ranking thresholded at the same τ (the oracle
    // identity, checked engine-side too: rank over all candidates ≡
    // rank over the ≥τ subset)
    val corpus = Tables.load(spark, sfDir, "documents")
    import graft.Params._
    val exact = TextOps.jaccardTopK(corpus, "doc_id", "text",
        Bm25QueryMod, Bm25K, queryBudget = AuditQueryBudget)
      .where(col("jac_ppm") >= PrefixTopkMinJacPpm)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val pref = TextOps.jaccardPrefixTopK(corpus, "doc_id", "text",
        Bm25QueryMod, Bm25K, JaccardMinNum, JaccardMinDen,
        queryBudget = AuditQueryBudget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(pref === exact)
  }

  test("snapshotDiff emits the minimal log; cdcApply round-trips it") {
    val oldS = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L),
      (4L, null.asInstanceOf[String], 40L)).toDF("k", "v", "w")
    val newS = Seq((1L, "a", 10L), (2L, "B", 20L), (4L, "", 40L), (5L, "e", 50L))
      .toDF("k", "v", "w")
    val log = Staging.snapshotDiff(oldS, newS, Seq("k"))
    val ops = log.collect().map(r => (r.getLong(0), r.getString(3))).toMap
    // NULL → "" is a change (sentinel, not collision); unchanged key 1 absent
    assert(ops === Map(2L -> "U", 3L -> "D", 4L -> "U", 5L -> "I"))
    // round-trip: applying the diff reproduces the new snapshot exactly
    val applied = Staging.cdcApply(oldS, log.withColumn("seq", lit(1L)),
        Seq("k"), "op", Seq("seq"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSet
    val want = newS
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSet
    assert(applied === want)
  }

  test("labelPropagation matches a plain-Scala synchronous majority vote") {
    import graft.operators.LabelProp
    // two triangles bridged by one edge — LP must keep them apart
    // (connected components would merge everything)
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val dir = und ++ und.map(_.swap)
    val out = LabelProp.labelPropagation(dir.toDF("src", "dst"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // reference: synchronous rounds, (count desc, label asc) tie-break
    var lab = (1L to 6L).map(n => n -> n).toMap
    val inN = dir.groupMap(_._2)(_._1)
    for (_ <- 1 to 3) {
      val prev = lab
      lab = lab.map { case (n, l) =>
        val counts = inN.getOrElse(n, Nil).map(prev).groupMapReduce(identity)(_ => 1L)(_ + _)
        if (counts.isEmpty) n -> l
        else n -> counts.toSeq.minBy { case (lbl, c) => (-c, lbl) }._1
      }
    }
    assert(out === lab)
    assert(out(1L) === out(2L) && out(2L) === out(3L), "left triangle is one community")
    assert(out(4L) === out(5L) && out(5L) === out(6L), "right triangle is one community")
    assert(out(1L) !== out(4L), "the bridge edge must not merge the communities")
  }

  test("hopDistances: multi-source BFS takes the nearest seed, bounded depth") {
    import graft.operators.Bfs
    // 1→2→3→4 chain plus 5→3: node 3 is 2 hops from seed 1 but 1 hop
    // from seed 5 — first discovery wins; 9 is unreachable
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 3L), (8L, 9L)).toDF("src", "dst")
    val seeds = Seq(1L, 5L).toDF("node")
    val out = Bfs.hopDistances(edges, seeds, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out === Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
    // depth bound: maxHops 1 stops after the first frontier
    val shallow = Bfs.hopDistances(edges, seeds, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(shallow === Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("UrlOps: host parsing, registered domains, per-domain stats join-back") {
    import graft.operators.UrlOps
    val docs = Seq(
      (1L, "https://user@www.Example.co.uk:8080/p/1?x=1", "a b c"),
      (2L, "example.com/path", "a b"),
      (3L, "http://sub.deep.example.com", "a"),
      (4L, "localhost", "a b c d")
    ).toDF("doc_id", "url", "text")
    val parsed = docs.select(col("doc_id"), UrlOps.host(col("url")).as("h"),
        UrlOps.registeredDomain(UrlOps.host(col("url"))).as("d"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(parsed === Set(
      (1L, "www.example.co.uk", "example.co.uk"), // userinfo/port/path cut, multi-TLD
      (2L, "example.com", "example.com"),         // scheme-less
      (3L, "sub.deep.example.com", "example.com"), // deep subdomain collapses
      (4L, "localhost", "localhost")))             // single label passes through
    val stats = UrlOps.domainStats(docs, "doc_id", "url", "text")
      .collect().map(r => (r.getLong(1),
        (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // example.com groups docs 2+3: 3 tokens over 2 docs, mean 1, 50% share
    assert(stats(2L) === (("example.com", 2L, 2L, 3L, 1L, 500000L)))
    assert(stats(3L) === (("example.com", 1L, 2L, 3L, 1L, 500000L)))
    assert(stats(1L) === (("example.co.uk", 3L, 1L, 3L, 3L, 250000L)))
    assert(stats(4L) === (("localhost", 4L, 1L, 4L, 4L, 250000L)))
  }

  test("weightedDistances: light long path wins, rounds bound path length") {
    import graft.operators.Sssp
    // 1→4 direct costs 10; the 3-edge detour 1→2→3→4 costs 3; 8→9 is a
    // disconnected component the seed must never reach
    val edges = Seq((1L, 4L, 10L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),
      (8L, 9L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    def run(r: Int): Map[Long, Long] = Sssp.weightedDistances(edges, seeds, r)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    // converged (early exit well before 6): detour wins
    assert(run(6) === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // R bounds the EDGE COUNT of candidate paths, exactly: after 1
    // round node 4 only has the heavy direct edge; the detour needs 3
    assert(run(1) === Map(1L -> 0L, 2L -> 1L, 4L -> 10L))
    val r2 = run(2)
    assert(r2(4L) === 10L && r2(3L) === 2L)
    assert(run(3)(4L) === 3L, "3 rounds admit the 3-edge detour")
  }

  test("KMV sketch: exact under k, dedups duplicates, sane estimate over k") {
    // 40 distinct values (< k=64) under 10× duplication → exact 40: the
    // buffer must dedup or duplicates would fill it and force estimation
    val small = (1 to 400).map(i => ("g", (i % 40).toLong)).toDF("g", "v")
    val exact = Sketches.kmvDistinct(small, col("g"), "g", col("v"), 64, "t")
      .collect().head.getLong(1)
    assert(exact === 40L)
    // 5000 distinct values (≫ k) → the order-statistic estimate; ±40%
    // asserts generously over the 12.5% 1σ for k=64 (deterministic for
    // this fixed data + salt, so the bound can't flake)
    val big = (1 to 5000).map(i => ("g", i.toLong)).toDF("g", "v")
    val est = Sketches.kmvDistinct(big, col("g"), "g", col("v"), 64, "t")
      .collect().head.getLong(1)
    assert(est > 3000L && est < 7000L, s"estimate $est far from 5000")
  }

  test("datasetFingerprint: order/partition-invariant, change-sensitive, null-safe") {
    val base = Seq((1L, "a", "g1"), (2L, "b", "g1"), (3L, "c", "g2"))
    val cols = Seq(col("id"), col("v"))
    def fp(rows: Seq[(Long, String, String)]) =
      Audit.datasetFingerprint(rows.toDF("id", "v", "grp"), "grp", cols)
        .collect().map(r => (Option(r.get(0)), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val ref = fp(base)
    assert(ref.size === 3) // g1, g2, rollup total
    // any reordering/repartitioning leaves all five combiners unchanged
    val shuffled = Audit.datasetFingerprint(
      base.reverse.toDF("id", "v", "grp").repartition(7), "grp", cols)
      .collect().map(r => (Option(r.get(0)), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(shuffled === ref)
    // one altered byte flips the g1 fingerprint (and the total)
    assert(fp(Seq((1L, "a", "g1"), (2L, "B", "g1"), (3L, "c", "g2"))) !== ref)
    // null-position sentinel: ("a", null) and (null, "a") must NOT
    // collide (a bare concat_ws would join both to "a")
    val nulls = Seq((Some("a"), None: Option[String]), (None: Option[String], Some("a")))
      .toDF("x", "y")
      .select(Audit.rowSignature(Seq(col("x"), col("y"))).as("sig"))
    assert(nulls.distinct().count() === 2L)
  }

  test("joinSizeAudit: exact per-key products, topK cap, total = real join size") {
    val left = Seq(1L, 1L, 1L, 2L, 3L, 3L).toDF("k")   // 3 is unmatched
    val right = Seq(1L, 1L, 2L, 2L, 2L, 2L, 2L, 4L).toDF("k") // 4 unmatched
    val out = Audit.joinSizeAudit(left, "k", right, "k", 1)
      .collect().map(r => (Option(r.get(0)), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // topK=1 keeps only key 1 (3·2=6 beats 1·5=5); the total row still
    // sums ALL matched keys and equals the materialized join size
    val real = left.join(right, "k").count()
    assert(real === 11L)
    assert(out === Set((Some(1L), 3L, 2L, 6L), (None, 4L, 7L, 11L)))
  }

  test("resolveEntities: dup collapse + fuzzy merge, blocking bounds recall") {
    val recs = Seq(
      (11L, "acme corp"), (10L, "acme corp"),  // exact dups (min id 10)
      (12L, "acme corpx"),                     // edit distance 1 → merges
      (20L, "zenith ltd"),                     // singleton
      (30L, "beta one"), (31L, "zeta one"))    // distance 1 but different
                                               // blocks → NOT merged
    val out = Linkage.resolveEntities(recs.toDF("rec_id", "rec_name"),
        "rec_id", "rec_name", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out === Set((10L, 3L, "acme corp"), (20L, 1L, "zenith ltd"),
      (30L, 1L, "beta one"), (31L, 1L, "zeta one")))
  }

  test("mergeFingerprints(fp(A), fp(B)) equals fp(A ∪ B), incl. one-sided groups") {
    val cols = Seq(col("id"), col("v"))
    def fp(rows: Seq[(Long, String, String)]) =
      Audit.datasetFingerprint(rows.toDF("id", "v", "grp"), "grp", cols)
    val a = Seq((1L, "a", "g1"), (2L, "b", "g1"), (5L, "e", "g2"))
    val b = Seq((3L, "c", "g2"), (4L, "d", "g3")) // g1 absent, g3 new
    val merged = Audit.mergeFingerprints(fp(a), fp(b))
      .collect().map(r => (Option(r.get(0)), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val full = fp(a ++ b)
      .collect().map(r => (Option(r.get(0)), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(merged === full)
    assert(merged.size === 4) // g1, g2, g3, rollup total
  }

  test("kmvIntersect: exact under k, estimator consistent over k") {
    // both groups under k ⇒ M is the whole union and every number exact:
    // |A|=40, |B|=40, |A∪B|=60, |A∩B|=20, jaccard = 20/60
    val small = ((1 to 40).map(i => ("a", i.toLong))
      ++ (21 to 60).map(i => ("b", i.toLong))).toDF("g", "v")
    val sk = Sketches.kmvSketch(small, col("g"), "g", col("v"), 64, "t")
    val ex = Sketches.kmvIntersect(sk, "g", "hs", 64).collect().head
    assert((ex.getString(0), ex.getString(1)) === (("a", "b")))
    assert(ex.getLong(2) === 60L)      // union exact
    assert(ex.getLong(3) === 20L)      // intersection exact
    assert(ex.getLong(4) === 333333L)  // (20·10^6) div 60
    // far over k: 5000 ∪ 5000 with 2500 shared — ±40% on each estimate
    // is generous over the 1/√64 = 12.5% 1σ and deterministic for this
    // fixed data + salt, so the bound can't flake
    val big = ((1 to 5000).map(i => ("a", i.toLong))
      ++ (2501 to 7500).map(i => ("b", i.toLong))).toDF("g", "v")
    val est = Sketches.kmvIntersect(
      Sketches.kmvSketch(big, col("g"), "g", col("v"), 64, "t"), "g", "hs", 64)
      .collect().head
    val (u, i, j) = (est.getLong(2), est.getLong(3), est.getLong(4))
    assert(u > 4500L && u < 10500L, s"union estimate $u far from 7500")
    assert(i > 1000L && i < 4000L, s"intersect estimate $i far from 2500")
    assert(j > 150000L && j < 550000L, s"jaccard ppm $j far from 333333")
    assert(i <= u && j <= 1000000L)
  }

  test("kmvDiff: exact partition under k, parts sum to union over k") {
    // both groups under k ⇒ exact: |A\B|=20, |B\A|=20, |A∩B|=20, ∪=60
    val small = ((1 to 40).map(i => ("a", i.toLong))
      ++ (21 to 60).map(i => ("b", i.toLong))).toDF("g", "v")
    val sk = Sketches.kmvSketch(small, col("g"), "g", col("v"), 64, "t")
    val ex = Sketches.kmvDiff(sk, "g", "hs", 64).collect().head
    assert((ex.getString(0), ex.getString(1)) === (("a", "b")))
    assert(ex.getLong(2) === 60L)  // union exact
    assert(ex.getLong(3) === 20L)  // a-only exact
    assert(ex.getLong(4) === 20L)  // b-only exact
    assert(ex.getLong(5) === 20L)  // intersect exact
    // over k: the three parts must partition the union estimate up to
    // the integer floors, and each lands within a generous band
    val big = ((1 to 5000).map(i => ("a", i.toLong))
      ++ (2501 to 7500).map(i => ("b", i.toLong))).toDF("g", "v")
    val est = Sketches.kmvDiff(
      Sketches.kmvSketch(big, col("g"), "g", col("v"), 64, "t"), "g", "hs", 64)
      .collect().head
    val (u, ao, bo, both) = (est.getLong(2), est.getLong(3), est.getLong(4),
      est.getLong(5))
    assert(u > 4500L && u < 10500L, s"union estimate $u far from 7500")
    assert(ao > 800L && ao < 4500L, s"a-only estimate $ao far from 2500")
    assert(bo > 800L && bo < 4500L, s"b-only estimate $bo far from 2500")
    assert(both > 800L && both < 4500L, s"intersect estimate $both far from 2500")
    val sum = ao + bo + both
    assert(sum <= u && u - sum <= 2L, s"parts $sum must tile union $u")
  }

  test("corrMatrix: exact ±1 on linear measures, null on zero variance") {
    val df = Seq((1L, 2L, -1L, 5L), (2L, 4L, -2L, 5L), (3L, 6L, -3L, 5L),
      (4L, 8L, -4L, 5L)).toDF("x", "y2", "yneg", "konst")
    val out = Sketches.corrMatrix(df, Seq("x" -> col("x"), "y2" -> col("y2"),
        "yneg" -> col("yneg"), "konst" -> col("konst")))
      .collect().map(r => ((r.getString(0), r.getString(1)),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    assert(out(("x", "y2")) === Some(1.0))    // y = 2x
    assert(out(("x", "yneg")) === Some(-1.0)) // y = -x
    assert(out(("y2", "yneg")) === Some(-1.0))
    assert(out(("x", "konst")) === None)      // zero variance → undefined
    assert(out.size === 6)
  }

  test("weightedK: exact K per stratum, weights steer selection, bad weight raises") {
    // stratum A: ids 1..50 at weight 1 plus ids 51..60 at weight 10000 —
    // the heavy tier should sweep the K=5 sample (deterministic for this
    // fixed salt; each heavy doc is ~10000× likelier per A-ES draw)
    val rows = ((1 to 50).map(i => ("A", i.toLong, 1L))
      ++ (51 to 60).map(i => ("A", i.toLong, 10000L))
      ++ (61 to 70).map(i => ("B", i.toLong, 7L)))
    val df = rows.toDF("src", "id", "w")
    val out = operators.Sampling.weightedK(df, Seq(col("src")), col("id"),
        col("w"), 5, "t")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out.count(_._1 == "A") === 5 && out.count(_._1 == "B") === 5)
    assert(out.filter(_._1 == "A").forall(_._2 >= 51L),
      s"heavy-weight tier should dominate stratum A: $out")
    // rerun = identical sample (salted-hash determinism)
    val again = operators.Sampling.weightedK(df, Seq(col("src")), col("id"),
        col("w"), 5, "t")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(again === out)
    val ex = intercept[Exception] {
      operators.Sampling.weightedK(
        Seq(("A", 1L, 0L)).toDF("src", "id", "w"),
        Seq(col("src")), col("id"), col("w"), 5, "t").collect()
    }
    assert(ex.getMessage.contains("non-positive weight"))
  }

  test("skippingAudit: zorder prunes the y-band, linear cannot, pruning never lies") {
    // 64×64 grid, 16 files of 256 rows each; predicate = one 8-row y band
    val grid = (0 until 4096).map(i => (i.toLong % 64, i.toLong / 64, i.toLong))
      .toDF("x", "y", "k")
    val out = operators.Layout.skippingAudit(grid, col("x"), col("y"),
        col("k"), files = 16, bits = 6, yLo = 16L, yHi = 23L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val (zf, zskip, zscan, zmatch, zbad) = out("zorder")
    val (lf, lskip, lscan, lmatch, lbad) = out("linear")
    assert(zf === 16L && lf === 16L)
    // row-major y means linear-on-x interleaves all y values through
    // every file: nothing prunes; the Morton layout keeps y-locality
    assert(lskip === 0L && lscan === 4096L)
    assert(zskip > 0L && zscan < 4096L)
    // same query answer from both layouts, and min/max pruning NEVER
    // skips a file containing a match
    assert(zmatch === 512L && lmatch === 512L)
    assert(zbad === 0L && lbad === 0L)
  }

  test("holtSmooth: hand-computed truncating recurrence, constant series is a fixpoint") {
    // [100, 200, 300]: l₁=100 b₁=0; l₂=(200+300)div4=125, b₂=25div4=6;
    // l₃=(300+3·131)div4=173, b₃=(48+18)div4=16
    val ramp = Seq((1L, 100L), (2L, 200L), (3L, 300L)).toDF("k", "v")
    val out = operators.TimeSeries.holtSmooth(ramp, "k", "v")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(out === Seq((1L, 100L, 0L, 100L), (2L, 125L, 6L, 131L),
      (3L, 173L, 16L, 189L)))
    // constant series: level pins to the constant, trend stays 0
    val const = (1 to 5).map(i => (i.toLong, 400L)).toDF("k", "v")
    val c = operators.TimeSeries.holtSmooth(const, "k", "v")
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSet
    assert(c === Set((400L, 0L)))
  }

  test("holtWinters: hand-computed period-2 recurrence, constant series is a fixpoint") {
    // xs=[100,40,80,120], p=2, zero-seeded seasonal:
    // r1: l=100 b=0 s=[0,0];            r2: l=(40+300)div4=85,
    //   b=(85-100)div4=-3, s[2]=(40-85)div4=-11;
    // r3: l=(80+3·82)div4=81, b=(-4-9)div4=-3, s[1]=(80-81)div4=0;
    // r4: l=(131+3·78)div4=91, b=(10-9)div4=0, s[2]=(29-33)div4=-1
    val xs = Seq((1L, 100L), (2L, 40L), (3L, 80L), (4L, 120L)).toDF("k", "v")
    val out = operators.TimeSeries.holtWinters(xs, "k", "v", 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(_._1)
    assert(out === Seq(
      (1L, 100L, 0L, 0L, 100L), // forecast₁ = l+b+s[next]=100
      (2L, 85L, -3L, -11L, 82L), // forecast₂ = 85-3+s[1]=82
      (3L, 81L, -3L, 0L, 67L), // forecast₃ = 81-3+s[2]=67
      (4L, 91L, 0L, -1L, 91L)))
    // constant series: level pins, trend and every seasonal slot stay 0
    val const = (1 to 7).map(i => (i.toLong, 400L)).toDF("k", "v")
    val c = operators.TimeSeries.holtWinters(const, "k", "v", 3)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(c === Set((400L, 0L, 0L)))
  }

  test("chi2Drift: hand-checked contributions, cur-only bucket flagged, empty snapshot raises") {
    // ref={a,a,b} (T_r=3), cur={a,b,b,c} (T_c=4):
    // a: (4·2−3·1)²·1e6 div (3·12) = 694444; b: (4−6)²·1e6 div 36 =
    // 111111; c (ref-absent): 9e6 div 12 = 750000 — matches the
    // textbook Σ(O−E)²/E pooled form to the ppm floor
    val ref = Seq("a", "a", "b").toDF("v")
    val cur = Seq("a", "b", "b", "c").toDF("v")
    val buck = hash(col("v")) // any deterministic long bucketing
    val byV = Sketches.chi2Drift(ref, cur, buck)
      .join(cur.select(col("v"), buck.cast("long").as("bucket")).distinct(), Seq("bucket"))
      .collect().map(r => (r.getAs[String]("v"),
        (r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"), r.getAs[Long]("contrib_ppm"))))
      .toMap
    assert(byV("a") === ((2L, 1L, 694444L)))
    assert(byV("b") === ((1L, 2L, 111111L)))
    assert(byV("c") === ((0L, 1L, 750000L)))
    val e = intercept[Exception] {
      Sketches.chi2Drift(ref.where(lit(false)), cur, buck).collect()
    }
    assert(e.getMessage.contains("non-empty"))
  }

  test("trendFit: perfect line recovered exactly, degenerate groups yield NULL") {
    // g1: y=2x−1 exactly → slope_ppm=2e6, intercept=−1
    // g2: single point → den=0; g3: all x equal → den=0
    val pts = Seq(("g1", 1L, 1L), ("g1", 2L, 3L), ("g1", 3L, 5L),
      ("g2", 5L, 7L), ("g3", 4L, 1L), ("g3", 4L, 9L)).toDF("g", "x", "y")
    val out = operators.TimeSeries.trendFit(pts, "g", "x", "y")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(out("g1") === ((3L, Some(2000000L), Some(-1L))))
    assert(out("g2") === ((1L, None, None)))
    assert(out("g3") === ((2L, None, None)))
  }

  test("temperatureSample: sqrt-flattened rates lift the small source, all-integer weights") {
    // A mass 100, B mass 400 → isqrt 10/20, tsq 30: w=333333/666666 ppm;
    // budget 50% of 500 = 250 mass → rate_A = 250·333333 div 100 =
    // 833332 ppm, rate_B = 250·666666 div 400 = 416666 ppm — the small
    // source keeps a HIGHER fraction (the α=1/2 flattening), while the
    // natural mixture would keep both at the same rate
    val docs = ((1 to 10).map(i => (i.toLong, "A", 10L))
      ++ (11 to 30).map(i => (i.toLong, "B", 20L))).toDF("id", "source", "sz")
    val out = Sampling.temperatureSample(docs, "source", col("id"), col("sz"),
      budgetPct = 50L, salt = "t")
    val rates = out.select("source", "w_ppm", "rate_ppm").distinct()
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rates("A") === ((333333L, 833332L)))
    assert(rates("B") === ((666666L, 416666L)))
    // deterministic: the same call yields the same kept set
    val ids1 = out.select("id").collect().map(_.getLong(0)).toSet
    val ids2 = Sampling.temperatureSample(docs, "source", col("id"), col("sz"),
      50L, "t").select("id").collect().map(_.getLong(0)).toSet
    assert(ids1 === ids2 && ids1.nonEmpty)
  }

  test("pageRankWeighted: unit weights reproduce pageRank exactly, heavy edges attract rank") {
    import graft.operators.PageRank
    // sink graph (node 4 has no outbound) exercises the sentinel path
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (3L, 4L))
      .toDF("src", "dst")
    val unw = PageRank.pageRank(edges, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val w1 = PageRank.pageRankWeighted(edges.withColumn("w", lit(1L)), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(w1 === unw, "w=1 must be bit-identical to the unweighted rank")
    // same symmetric topology, but 1→2 carries 9× the weight of 1→3:
    // node 2 must outrank node 3 (unweighted would tie them)
    val sym = Seq((1L, 2L, 9L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "w")
    val pr = PageRank.pageRankWeighted(sym, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(pr(2L) > pr(3L), s"heavy edge must attract rank: $pr")
    val tie = PageRank.pageRank(sym.select("src", "dst"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(tie(2L) === tie(3L), "unweighted rank ties the symmetric pair")
  }

  test("slidingDistinct: calendar windows across a gap, no phantom periods") {
    // days 1,2,9; w=3: d1 sees {a,b}, d2 sees {a,b,c}, d9 (after the
    // gap) sees only day-9 actors {a}; days 3..11 emit nothing
    val ev = Seq((1L, "a"), (1L, "b"), (2L, "c"), (2L, "a"), (9L, "a"))
      .toDF("p", "u")
    val out = EventOps.slidingDistinct(ev, col("p"), col("u"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out === Map(1L -> 2L, 2L -> 3L, 9L -> 1L))
  }

  test("kmvSlidingDistinct: window merge equals the window's direct sketch, exact below k") {
    val ev = Seq((1L, "a"), (1L, "b"), (2L, "c"), (2L, "a"), (9L, "a"))
      .toDF("p", "u")
    // k=64 >> distincts: estimates are exact counts == the exact twin
    val big = Sketches.kmvSlidingDistinct(ev, col("p"), col("u"), 3, 64, "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(big.map(t => (t._1, t._3)).toMap === Map(1L -> 2L, 2L -> 3L, 9L -> 1L))
    assert(big.map(t => (t._1, t._2)).toMap === Map(1L -> 1L, 2L -> 2L, 9L -> 1L),
      "n_periods counts PRESENT periods in range only")
    // k=2 < distincts: the day-2 window's merged estimate must equal a
    // direct single-group sketch of the same rows (merge ≡ recompute)
    val merged = Sketches.kmvSlidingDistinct(ev, col("p"), col("u"), 3, 2, "s")
      .where(col("period") === 2L).collect().head.getLong(2)
    val direct = Sketches.kmvDistinct(ev.where(col("p") <= 2L),
      lit(1L), "g", col("u"), 2, "s").collect().head.getLong(1)
    assert(merged === direct)
  }

  test("slidingQuantiles: window merge equals the window's direct sketch, exact below k") {
    import graft.operators.QuantileSketch
    // 3 periods with known values; k=4 < window row count forces real
    // sampling; window 2 at period 2 must equal a direct sketch of the
    // period-1..2 rows (merge ≡ recompute)
    val rows = (1 to 30).map(i => (i.toLong % 3 + 1, i.toLong, i.toLong * 10))
      .toDF("p", "id", "v")
    val win = QuantileSketch.slidingQuantiles(rows, col("p"), col("id"),
        col("v"), 2, 4, "s", Seq(50, 100))
      .where(col("period") === 2L).collect().head
    val direct = QuantileSketch.estimate(
        QuantileSketch.sketch(rows.where(col("p") <= 2L), lit(1L), "g",
          col("id"), col("v"), 4, "s"), "qs", Seq(50, 100))
      .collect().head
    assert((win.getLong(2), win.getLong(3), win.getLong(4))
      === ((direct.getLong(1), direct.getLong(2), direct.getLong(3))))
    // k >= all rows: sliding quantiles are EXACT order statistics
    val exact = QuantileSketch.slidingQuantiles(rows, col("p"), col("id"),
        col("v"), 3, 64, "s", Seq(50, 100))
      .where(col("period") === 3L).collect().head
    val vals = (1 to 30).map(_ * 10L).sorted
    assert(exact.getLong(2) === 30L)
    assert(exact.getLong(4) === vals.last, "p100 is the window max")
    assert(exact.getLong(3) === vals((50 * 30 + 99) / 100 - 1), "p50 nearest-rank")
  }

  test("randomizedResponse: debias recovers known rates, clamp holds at the edges") {
    // group "h": 70% true bits; "all1": 100%; "all0": 0% — n=2000 each,
    // p=0.25 ⇒ debias noise 1σ ≈ √(np(1−p))/(n(1−2p)) ≈ 1.9% of scale;
    // the salted flips are FIXED, so a ±6% band cannot flake
    val rows = (1 to 2000).flatMap(i => Seq(
      (s"h$i", "h", i % 10 < 7), (s"o$i", "all1", true), (s"z$i", "all0", false)))
    val df = rows.toDF("id", "g", "bit")
    val out = Quality.randomizedResponse(df, col("g"), col("id"), col("bit"),
        250000L, "rr-spec")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("h")._1 === 2000L)
    // reported rate sits between the flipped-down truth and truth itself
    assert(math.abs(out("h")._3 - 700000L) < 60000L,
      s"debiased estimate ${out("h")._3} far from the true 700000 ppm")
    assert(math.abs(out("all1")._3 - 1000000L) < 60000L)
    assert(out("all1")._3 <= 1000000L, "clamp must cap at 1e6")
    assert(out("all0")._3 < 60000L, "clamp must floor at 0")
    // p >= 0.5 carries no signal — rejected up front
    assertThrows[IllegalArgumentException] {
      Quality.randomizedResponse(df, col("g"), col("id"), col("bit"), 500000L, "s")
    }
  }

  test("benford scores digit shares, counts absent digits, exact MAD") {
    // group "b": digits 1,1,2 → digit 3..9 absent but still scored
    val df = Seq(("b", 120L), ("b", 11L), ("b", 2L), ("b", 0L), ("b", -5L))
      .toDF("g", "v")
    val out = Audit.benford(df, col("g"), col("v"))
      .collect().map(r => r.getLong(1) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out.keySet === (1L to 9L).toSet, "all nine digits must have rows")
    assert(out(1L)._1 === 2L && out(2L)._1 === 1L && out(3L)._1 === 0L)
    assert(out(1L)._2 === 666666L && out(2L)._2 === 333333L && out(9L)._2 === 0L)
    // MAD replayed from the same integers the operator used
    val madExp = Audit.BenfordPpm.map { case (d, exp) =>
      math.abs(out(d.toLong)._2 - exp)
    }.sum / 9
    assert(out(5L)._4 === madExp)
  }

  test("theilSen ignores the outlier month that drags OLS") {
    // clean slope 2/month; one wild point at x=10 (y=1000 instead of 20)
    val pts = (0L to 9L).map(x => ("a", x, if (x == 9L) 1000L else 2 * x))
    val series = pts.toDF("g", "x", "y")
    val ts = operators.TimeSeries.theilSen(series, "g", "x", "y")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).head
    assert(ts._1 === 45L, "10 points → 45 pairs")
    // 36 clean pairs have slope exactly 2e6 ppm; 9 outlier pairs are
    // huge — the median stays on the clean mass
    assert(ts._2 === 2000000.0)
    val ols = operators.TimeSeries.trendFit(series, "g", "x", "y")
      .collect().head.getAs[Long]("slope_ppm")
    assert(ols > 10000000L, s"OLS should be dragged far above 2e6, got $ols")
  }

  test("equidepthHist buckets differ by at most one row, exact ranges") {
    // 10 rows into 4 buckets → sizes 3,2,3,2; values 10·i keep ranges apart
    val df = (1L to 10L).map(i => (i * 10, i)).toDF("v", "k")
    val out = Sketches.equidepthHist(df, col("v"), col("k"), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(out.map(_._2).toSeq === Seq(3L, 2L, 3L, 2L))
    assert(out.head === ((0L, 3L, 10L, 30L)) && out.last === ((3L, 2L, 90L, 100L)))
    // contiguous, non-overlapping coverage
    out.sliding(2).foreach { case Array(a, b) => assert(a._4 < b._3) }
  }

  test("epochShuffle: per-epoch permutation, decorrelated across epochs") {
    val docs = (1L to 200L).map(Tuple1(_)).toDF("doc_id")
    val out = Sampling.epochShuffle(docs, col("doc_id"), 2, 4, "spec-epoch")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length === 400)
    // every epoch holds the whole corpus exactly once
    (0L to 1L).foreach { e =>
      assert(out.filter(_._1 == e).map(_._4).toSet === (1L to 200L).toSet)
    }
    // positions are 1..n contiguous within every (epoch, shard)
    out.groupBy(t => (t._1, t._2)).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length).toSeq)
    }
    // the two epochs draw different orders (shard assignment included)
    val byDoc = out.groupBy(_._4).map { case (d, rs) =>
      d -> rs.sortBy(_._1).map(t => (t._2, t._3)).toSeq
    }
    assert(byDoc.count { case (_, s) => s.head != s.last } > 150,
      "epoch 0 and epoch 1 orders must be essentially uncorrelated")
    // deterministic: a second run reproduces the exact table
    val again = Sampling.epochShuffle(docs, col("doc_id"), 2, 4, "spec-epoch")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSet === out.toSet)
  }

  test("dsirTopK over-selects the target domain and ranks deterministically") {
    val docs = Tables.load(spark, sfDir, "documents")
    val out = graft.operators.Sampling.dsirTopK(docs,
      docs.filter($"lang" === "en"), "doc_id", "text",
      Params.DsirBuckets, Params.DsirTopK)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length === Params.DsirTopK)
    // rank is a contiguous 1..K total order aligned with (score desc, id)
    assert(out.map(_._3).toSeq === (1L to Params.DsirTopK.toLong))
    assert(out.sortBy(t => (-t._2, t._1)).map(_._3).toSeq ===
      (1L to Params.DsirTopK.toLong))
    // the whole point: importance weights must pull the selection toward
    // the target domain — en share in the top-K strictly above base rate
    val langOf = docs.select($"doc_id", $"lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val enSel = out.count(t => langOf(t._1) == "en").toDouble / out.length
    val enBase = langOf.valuesIterator.count(_ == "en").toDouble / langOf.size
    assert(enSel > enBase,
      s"selection en-share $enSel must exceed corpus base rate $enBase")
    // determinism: a second run returns the identical selection
    val again = graft.operators.Sampling.dsirTopK(docs,
      docs.filter($"lang" === "en"), "doc_id", "text",
      Params.DsirBuckets, Params.DsirTopK)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq === out.toSeq)
  }

  test("kAnonymity census and kSuppress star small QI groups") {
    val df = (1 to 12).map(i => (i.toLong, if (i <= 9) "A" else "B", i % 2))
      .toDF("id", "seg", "par")
    val audit = Quality.kAnonymity(df, Seq("s" -> col("seg")), 10L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(audit === Set(("A", 9L, false), ("B", 3L, false)))
    // k=5: the A group (9 members) releases, B (3) suppresses to '*'
    val sup = Quality.kSuppress(df, Seq("s" -> col("seg")), 5L)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("s"))).toSet
    assert(sup === ((1 to 9).map(i => (i.toLong, "A"))
      ++ (10 to 12).map(i => (i.toLong, "*"))).toSet)
  }

  test("mixBudget: epoch cap releases shortfall to uncapped headroom") {
    // avail A:100 B:100 C:20, 2-epoch caps 200/200/40, budget 150% of
    // 220 = 330, uniform share 110. C caps at 40 (shortfall 70); A,B
    // headroom 90 each → each gets least(90, 70·90 div 180) = 35.
    val df = Seq(("A", 100L), ("B", 100L), ("C", 20L))
      .toDF("src", "sz")
    val out = Sampling.mixBudget(df, "src", col("sz"), 150L, 2L)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("avail"),
        r.getAs[Long]("cap"), r.getAs[Long]("alloc"),
        r.getAs[Long]("epochs_ppm"))).toSet
    assert(out === Set(("A", 100L, 200L, 145L, 1450000L),
      ("B", 100L, 200L, 145L, 1450000L),
      ("C", 20L, 40L, 40L, 2000000L)))
    // the full budget is placed: Σ alloc = 330 = floor(220·150/100)
    assert(out.toSeq.map(_._4).sum === 330L)
  }

  test("mixBudget: saturated pool allocates every cap, never beyond") {
    // budget 500% of 30 = 150 vs total capacity 2×30 = 60: every source
    // caps, hsum = 0 → the CASE guard holds and alloc == cap everywhere
    val df = Seq(("A", 10L), ("B", 20L)).toDF("src", "sz")
    val out = Sampling.mixBudget(df, "src", col("sz"), 500L, 2L)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("alloc"),
        r.getAs[Long]("epochs_ppm"))).toSet
    assert(out === Set(("A", 20L, 2000000L), ("B", 40L, 2000000L)))
  }

  test("split keyed by source never straddles a domain across splits") {
    val docs = (1 to 200).map(i => (i.toLong, s"d${i % 10}"))
      .toDF("doc_id", "source")
    val out = Sampling.split(docs, col("source"), "gspl", 600L, 200L)
    // every domain maps to exactly one split
    val perDomain = out.groupBy(col("source"))
      .agg(countDistinct(col("split")).as("n")).collect()
    assert(perDomain.forall(_.getAs[Long]("n") === 1L))
    // and with 10 domains at 60/20/20 permille, more than one split is
    // actually populated (the property is leakage-safety, not collapse)
    assert(out.select(col("split")).distinct().count() >= 2)
  }

  test("welchT: hand-computed unequal-variance t, df, and exact diff") {
    // arm0 [10,14]: var 8, se² 4; arm1 [20,26,23]: var 9, se² 3
    // t = (12−23)/√7 → floor e6 = −4157610; Welch df = 49/20.5 → 2390243
    val units = Seq((0L, 10L), (0L, 14L), (1L, 20L), (1L, 26L), (1L, 23L))
      .toDF("arm", "m")
    val r = operators.Experiment.welchT(units, col("arm"), col("m")).collect().head
    assert(r.getAs[Long]("n_a") === 2L && r.getAs[Long]("n_b") === 3L)
    assert(r.getAs[Long]("sum_a") === 24L && r.getAs[Long]("sum_b") === 69L)
    assert(r.getAs[Long]("diff_ppm") === -11000000L) // exact mean diff
    assert(r.getAs[Long]("t_e6") === -4157610L)
    assert(r.getAs[Long]("df_e6") === 2390243L)
  }

  test("welchT: a one-unit arm raises instead of fabricating a variance") {
    val units = Seq((0L, 10L), (1L, 20L), (1L, 26L)).toDF("arm", "m")
    val e = intercept[Exception] {
      operators.Experiment.welchT(units, col("arm"), col("m")).collect()
    }
    assert(e.getMessage.contains(">= 2 units"))
  }

  test("cuped: perfect covariate collapses both arm means to the same value") {
    // y = 2x + 1 exactly → θ = 2 (exact e6), and both arms' adjusted
    // means land on ȳ-at-x̄ = 6 despite raw means 4 vs 8
    val units = Seq((0L, 1L, 3L), (0L, 2L, 5L), (1L, 3L, 7L), (1L, 4L, 9L))
      .toDF("arm", "x", "y")
    val out = operators.Experiment.cuped(units, col("arm"), col("x"), col("y"))
      .collect().map(r => (r.getAs[Long]("arm"), r.getAs[Long]("n"),
        r.getAs[Long]("theta_e6"), r.getAs[Long]("mean_post_e4"),
        r.getAs[Long]("mean_adj_e4"))).toSet
    assert(out === Set((0L, 2L, 2000000L, 40000L, 60000L),
      (1L, 2L, 2000000L, 80000L, 60000L)))
  }

  test("cuped: zero pre-period variance raises") {
    val units = Seq((0L, 5L, 3L), (1L, 5L, 7L)).toDF("arm", "x", "y")
    val e = intercept[Exception] {
      operators.Experiment.cuped(units, col("arm"), col("x"), col("y")).collect()
    }
    assert(e.getMessage.contains("zero pre-period variance"))
  }

  test("randomWalks: deterministic, edge-valid, full length when connected") {
    // complete digraph on 5 nodes: every walk runs all steps and every
    // hop must be a real edge; two runs must be identical (salted hash,
    // not rand)
    val edges = (for { a <- 1 to 5; b <- 1 to 5 if a != b }
      yield (a.toLong, b.toLong)).toDF("src", "dst")
    val seeds = Seq(1L, 2L).toDF("node")
    def run() = operators.Walks.randomWalks(edges, seeds, 3, "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val w = run()
    assert(w === run()) // replay-deterministic
    assert(w.count(_._2 == 0L) === 2 && w.size === 8) // 2 walks × steps 0..3
    val edgeSet = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (wid <- Seq(1L, 2L); i <- 0 until 3) {
      val a = w.find(x => x._1 == wid && x._2 == i).get._3
      val b = w.find(x => x._1 == wid && x._2 == i + 1).get._3
      assert(edgeSet.contains((a, b)), s"walk $wid hop $i: ($a,$b) not an edge")
    }
  }

  test("randomWalks: a dead-end node stops the walk early") {
    // directed chain 1→2→3; node 3 has no out-edges, so the walk is
    // forced (single neighbors make the hash pick irrelevant) and stops
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val out = operators.Walks.randomWalks(edges, Seq(1L).toDF("node"), 5, "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === Set((1L, 0L, 1L), (1L, 1L, 2L), (1L, 2L, 3L)))
  }

  test("partitionModularity: two bridged triangles, hand-computed Q terms") {
    // triangles {1,2,3} and {4,5,6} plus the bridge 3–4: m=7,
    // e_A=e_B=3, d_A=d_B=7 → within = 3e6 div 7 = 428571,
    // expected = 49e6 div 196 = 250000; Q = 2(428571−250000)/1e6 ≈ .357
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"), (5L, "B"),
      (6L, "B")).toDF("node", "label")
    val out = operators.Modularity.partitionModularity(edges, labels)
      .collect().map(r => (r.getAs[String]("label"), r.getAs[Long]("n_nodes"),
        r.getAs[Long]("degree_sum"), r.getAs[Long]("e_within"),
        r.getAs[Long]("within_ppm"), r.getAs[Long]("expected_ppm"))).toSet
    assert(out === Set(("A", 3L, 7L, 3L, 428571L, 250000L),
      ("B", 3L, 7L, 3L, 428571L, 250000L)))
  }

  test("partitionModularity: perfect split has zero cross edges, Q > 0") {
    val edges = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L)).toDF("node", "label")
    val out = operators.Modularity.partitionModularity(edges, labels)
      .collect().map(r => (r.getAs[Long]("within_ppm"), r.getAs[Long]("expected_ppm")))
    // each label: within = 1e6 div 2 = 500000, expected = 4e6 div 16 = 250000
    assert(out.toSet === Set((500000L, 250000L)))
  }

  test("jsdDrift: hand-computed symmetric 3:1 flip") {
    // ref x:3 y:1, cur x:1 y:3 (A=B=4): ln(1.5)→4055e-4, ln(.5)→−6931e-4,
    // sp = sq = 3·4055 − 6931 = 5234 → kl_e10 = 5234·1e6 div 4
    val ref = Seq("x", "x", "x", "y").toDF("v")
    val cur = Seq("x", "y", "y", "y").toDF("v")
    val r = Sketches.jsdDrift(ref, cur, col("v")).collect().head
    assert(r.getAs[Long]("n_buckets") === 2L)
    assert(r.getAs[Long]("t_ref") === 4L && r.getAs[Long]("t_cur") === 4L)
    assert(r.getAs[Long]("kl_pm_e10") === 1308500000L)
    assert(r.getAs[Long]("kl_qm_e10") === 1308500000L)
    assert(r.getAs[Long]("jsd_e10") === 1308500000L)
  }

  test("jsdDrift: identical distributions score exactly zero") {
    val d = Seq("x", "x", "y").toDF("v")
    val r = Sketches.jsdDrift(d, d, col("v")).collect().head
    assert(r.getAs[Long]("jsd_e10") === 0L)
  }

  test("jsdDrift: disjoint buckets cap at ln2, empty snapshot raises") {
    // fully disjoint supports: JSD = ln 2 → e10 = 6931·1e6 div 1 per
    // side with a single bucket each
    val ref = Seq("only_ref").toDF("v")
    val cur = Seq("only_cur").toDF("v")
    val r = Sketches.jsdDrift(ref, cur, col("v")).collect().head
    assert(r.getAs[Long]("n_buckets") === 2L)
    assert(r.getAs[Long]("jsd_e10") === 6931000000L) // ln2 to e4 rounding
    val e = intercept[Exception] {
      Sketches.jsdDrift(ref, cur.where(col("v") === "nope"), col("v")).collect()
    }
    assert(e.getMessage.contains("non-empty"))
  }

  test("wilsonCI: hand-checked 95% bounds, clamped at the extremes") {
    import graft.operators.Experiment
    val df = (Seq.fill(2)(("a", 1)) ++ Seq.fill(2)(("a", 0)) ++
      Seq.fill(4)(("z", 0)) ++ Seq.fill(4)(("f", 1))).toDF("g", "ok")
    val out = Experiment.wilsonCI(df, col("g"), col("ok") === 1)
      .collect().map(r => r.getAs[String]("grp") ->
        ((r.getAs[Long]("p_ppm"), r.getAs[Long]("lo_ppm"), r.getAs[Long]("hi_ppm"))))
      .toMap
    assert(out("a") === ((500000L, 150035L, 849964L)))
    assert(out("z") === ((0L, 0L, 489900L)))      // lower clamped at 0
    assert(out("f") === ((1000000L, 510099L, 1000000L))) // upper clamped at 1e6
  }

  test("keySkewAudit: hottest keys, shares, ceil salt factor") {
    val df = (Seq.fill(8)(1L) ++ Seq(2L, 3L)).toDF("k")
    val out = Audit.keySkewAudit(df, col("k"), topK = 2, numPartitions = 4)
      .collect().map(r => (r.getAs[Long]("key"), r.getAs[Long]("cnt"),
        r.getAs[Long]("share_ppm"), r.getAs[Long]("salt_factor")))
    // key 1: 8/10 rows → fills ceil(8·4/10) = 4 average partitions;
    // tie between keys 2 and 3 breaks to the smaller key
    assert(out.toSet === Set((1L, 8L, 800000L, 4L), (2L, 1L, 100000L, 1L)))
  }

  test("sourceOverlapMatrix: jaccard + containments, zero pairs visible") {
    val docs = Seq(("a", "t1"), ("a", "t2"), ("a", "t3"), ("a", "t3"),
      ("b", "t2"), ("b", "t3"), ("b", "t4"), ("c", "t9"))
      .toDF("source", "text")
    val out = Dedup.sourceOverlapMatrix(docs, "source", "text")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getAs[Long]("n_common"), r.getAs[Long]("jaccard_ppm"),
          r.getAs[Long]("contain_a_ppm")))).toMap
    assert(out.size === 3) // full pair frame: (a,b) (a,c) (b,c)
    assert(out(("a", "b")) === ((2L, 500000L, 666666L))) // 2 of 4 distinct
    assert(out(("a", "c")) === ((0L, 0L, 0L)))
    assert(out(("b", "c")) === ((0L, 0L, 0L)))
  }

  test("interval coverage: islands merge, overlaps never double-count") {
    import graft.operators.Intervals
    val df = Seq(("g", 0L, 10L), ("g", 5L, 12L), ("g", 20L, 25L))
      .toDF("grp0", "s0", "e0")
    val r = Intervals.coverage(df, col("grp0"), col("s0"), col("e0"))
      .collect().head
    assert(r.getAs[Long]("n_intervals") === 3L)
    assert(r.getAs[Long]("n_islands") === 2L)
    assert(r.getAs[Long]("covered") === 17L) // 12 + 5, NOT 10+7+5 = 22
    assert(r.getAs[Long]("span") === 25L)
    assert(r.getAs[Long]("util_ppm") === 680000L)
  }

  test("kaplanMeier: textbook product-limit with censoring") {
    import graft.operators.Survival
    // durations (t, observed): censored units stay at risk through
    // their duration, then drop without stepping the curve
    val units = Seq((1L, 1L), (2L, 1L), (2L, 0L), (3L, 1L), (4L, 0L))
      .toDF("t0", "obs0")
    val out = Survival.kaplanMeier(units, col("t0"), col("obs0"))
      .collect().map(r => (r.getAs[Long]("t"), (r.getAs[Long]("n_risk"),
        r.getAs[Long]("n_event"), r.getAs[Long]("n_censor"),
        r.getAs[Long]("surv_e6")))).toMap
    assert(out.size === 3) // t=4 is censor-only: no curve step
    assert(out(1L) === ((5L, 1L, 0L, 800000L)))
    assert(out(2L) === ((4L, 1L, 1L, 600000L)))
    assert(out(3L) === ((2L, 1L, 0L, 300000L)))
  }

  test("rankMetrics: P/R/MRR/AP/nDCG hand-checked; empty relevant set zeroes") {
    import graft.operators.TextOps
    val sys = Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L),
      (2L, 10L, 1L)).toDF("query_id", "doc_id", "rnk")
    val rel = Seq((1L, 20L), (1L, 30L), (1L, 40L)).toDF("query_id", "doc_id")
    val out = TextOps.rankMetrics(sys, rel, k = 3)
      .collect().map(r => r.getAs[Long]("query_id") -> r).toMap
    val q1 = out(1L)
    assert(q1.getAs[Long]("n_rel") === 3L)
    assert(q1.getAs[Long]("n_hit") === 2L)
    assert(q1.getAs[Long]("prec_ppm") === 666666L)
    assert(q1.getAs[Long]("recall_ppm") === 666666L)
    assert(q1.getAs[Long]("mrr_e6") === 500000L)  // first hit at rank 2
    assert(q1.getAs[Long]("ap_e6") === 388888L)
    assert(q1.getAs[Long]("dcg_e6") === 1130929L)
    assert(q1.getAs[Long]("ndcg_ppm") === 530721L)
    val q2 = out(2L)
    assert(q2.getAs[Long]("n_rel") === 0L)
    assert(Seq("prec_ppm", "recall_ppm", "mrr_e6", "ap_e6", "ndcg_ppm")
      .forall(c => q2.getAs[Long](c) === 0L))
  }

  test("stratifiedAte: weighted contrasts, missing-arm stratum excluded") {
    import graft.operators.Experiment
    val units = Seq(
      ("x", 1, 10L), ("x", 1, 20L), ("x", 0, 0L),   // diff +15.00
      ("y", 1, 5L), ("y", 0, 10L), ("y", 0, 20L),   // diff −10.00
      ("z", 1, 7L)                                   // no control: excluded
    ).toDF("st", "tr", "m")
    val out = Experiment.stratifiedAte(units, col("st"), col("tr") === 1, col("m"))
      .collect().map(r => r.getAs[String]("grp") ->
        ((Option(r.get(r.fieldIndex("diff_e2"))),
          Option(r.get(r.fieldIndex("contrib_e2")))))).toMap
    assert(out("x") === ((Some(1500L), Some(642L))))  // 1500·3 div 7
    assert(out("y") === ((Some(-1000L), Some(-428L)))) // trunc toward zero
    assert(out("z") === ((None, None)))                // common support
    assert(out("__ate__") === ((Some(214L), Some(214L))))
  }

  test("did: parallel-trends estimate; empty cell raises") {
    import graft.operators.Experiment
    val obs = Seq((1, 0, 10L), (1, 1, 30L), (0, 0, 10L), (0, 1, 20L))
      .toDF("a", "p", "m")
    val r = Experiment.did(obs, col("a") === 1, col("p") === 1, col("m"))
      .collect().head
    assert(r.getAs[Long]("did_e4") === 100000L) // (30−10) − (20−10) = 10
    val e = intercept[Exception] {
      Experiment.did(obs.where(col("p") === 0), col("a") === 1,
        col("p") === 1, col("m")).collect()
    }
    assert(e.getMessage.contains("cells"))
  }

  test("compactionPlan: buckets cut at running-size multiples of target") {
    import graft.operators.Layout
    val mf = Seq(("g", 1L, 3L), ("g", 2L, 3L), ("g", 3L, 3L),
      ("g", 4L, 3L), ("g", 5L, 10L)).toDF("grp0", "k0", "sz0")
    val out = Layout.compactionPlan(mf, col("grp0"), col("k0"), col("sz0"), 5L)
      .collect().map(r => r.getAs[Long]("key") -> r.getAs[Long]("bucket")).toMap
    // cum_before = 0,3,6,9,12 → buckets 0,0,1,1,2
    assert(out === Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 2L))
  }

  test("entropy: uniform group hits full evenness, single-class zeroes") {
    val df = Seq(("s", "a"), ("s", "a"), ("s", "b"), ("s", "b"),
      ("t", "c"), ("t", "c"), ("t", "c")).toDF("g", "c")
    val out = Sketches.entropy(df, col("g"), col("c"))
      .collect().map(r => r.getAs[String]("grp") ->
        ((r.getAs[Long]("entropy_e4"), r.getAs[Long]("evenness_ppm")))).toMap
    assert(out("s") === ((6931L, 1000000L))) // ln 2, perfectly mixed
    assert(out("t") === ((0L, 0L)))
  }

  test("srmGate: balanced passes, 6-0 split trips the 95% flag") {
    import graft.operators.Experiment
    val ok = Experiment.srmGate(Seq(1L, 2L, 3L, 4L).toDF("u"),
      col("u") % 2 === 0).collect().head
    assert(ok.getAs[Long]("chi2_e4") === 0L && !ok.getAs[Boolean]("srm_flag"))
    val bad = Experiment.srmGate(Seq(0L, 2L, 4L, 6L, 8L, 10L).toDF("u"),
      col("u") % 2 === 0).collect().head
    assert(bad.getAs[Long]("chi2_e4") === 60000L) // 36e4/6
    assert(bad.getAs[Boolean]("srm_flag"))
  }

  test("noveltyPerDoc: shingles credit their first document only") {
    import graft.operators.TextOps
    val docs = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val out = TextOps.noveltyPerDoc(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"),
          r.getAs[Long]("novelty_ppm")))).toMap
    assert(out(1L) === ((2L, 2L, 1000000L)))
    assert(out(2L) === ((2L, 1L, 500000L))) // "a b" already seen in doc 1
  }

  test("louvain localMove: triangles merge inward, the bridge never wins") {
    import graft.operators.Louvain
    // two triangles joined by bridge 3—4: CC would collapse everything;
    // the modularity gain ranks in-triangle neighbors above the bridge
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = Louvain.localMove(edges)
      .collect().map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("new_label"), r.getAs[Long]("gain_x")))).toMap
    assert(out === Map(
      1L -> ((2L, 10L)), 2L -> ((1L, 10L)), 3L -> ((1L, 8L)),
      4L -> ((5L, 8L)), 5L -> ((6L, 10L)), 6L -> ((5L, 10L))))
  }

  test("recallEval: per-query hits vs ground truth + micro-average row") {
    val approx = Seq((1L, 10L, 1L), (1L, 99L, 2L), (2L, 30L, 1L))
      .toDF("query_id", "neighbor_id", "rnk")
    val exact = Seq((1L, 10L, 1L), (1L, 20L, 2L), (2L, 30L, 1L), (2L, 40L, 2L))
      .toDF("query_id", "neighbor_id", "rnk")
    val out = Similarity.recallEval(approx, exact, k = 2)
      .collect().map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("n_exact"), r.getAs[Long]("n_approx"),
          r.getAs[Long]("n_hit"), r.getAs[Long]("recall_ppm")))).toMap
    assert(out(1L) === ((2L, 2L, 1L, 500000L)))
    assert(out(2L) === ((2L, 1L, 1L, 500000L)))
    assert(out(-1L) === ((4L, 3L, 2L, 500000L))) // micro average
  }

  test("markovAttribution: removal effects on a hand-built chain") {
    import graft.operators.EventOps
    // journeys: (click→conv), (click→null), (view→click→conv), (view→null)
    val ev = Seq(
      (1L, 1L, "2024-01-01 00:00:01", "click"),
      (2L, 1L, "2024-01-01 00:00:02", "purchase"),
      (3L, 2L, "2024-01-01 00:00:01", "click"),
      (4L, 3L, "2024-01-01 00:00:01", "view"),
      (5L, 3L, "2024-01-01 00:00:02", "click"),
      (6L, 3L, "2024-01-01 00:00:03", "purchase"),
      (7L, 4L, "2024-01-01 00:00:01", "view")
    ).toDF("event_id", "user_id", "ts0", "event_type")
      .withColumn("ts", to_timestamp(col("ts0")))
    val out = EventOps.markovAttribution(ev, "user_id", "ts", "event_type",
        gapMs = 3600000L, convType = "purchase",
        channels = Seq("click", "view"), steps = 6)
      .collect().map(r => r.getAs[String]("channel") ->
        ((r.getAs[Long]("p_full_ppm"), r.getAs[Long]("p_removed_ppm"),
          r.getAs[Long]("effect_ppm"), r.getAs[Long]("share_ppm")))).toMap
    // p(conv) = ½·⅔ + ½·½·⅔ = 499999 ppm after truncation;
    // removing click kills every converting path, removing view only
    // the two-hop one — click carries 3× the view credit
    assert(out("click") === ((499999L, 0L, 499999L, 750000L)))
    assert(out("view") === ((499999L, 333333L, 166666L, 249999L)))
  }

  test("heapsLaw: vocab counted by first document, one pass") {
    import graft.operators.TextOps
    val docs = Seq((2L, "a b a"), (4L, "a c"), (8L, "d d"))
      .toDF("doc_id", "text")
    val out = TextOps.heapsLaw(docs, "doc_id", "text", Seq(50, 100))
      .collect().map(r => r.getAs[Long]("cut_pct") ->
        ((r.getAs[Long]("cut_doc"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_vocab")))).toMap
    assert(out(50L) === ((4L, 5L, 3L)))  // docs 2,4: tokens a,b,a,a,c
    assert(out(100L) === ((8L, 7L, 4L))) // d first appears in doc 8
  }

  test("zipfFit: exact OLS over per-rank-rounded lns, slope near -1ish") {
    import graft.operators.TextOps
    // freqs 8,4,2,1 → a perfect power law with slope ln(1/2)/avg spacing
    val words = Seq.fill(8)("a") ++ Seq.fill(4)("b") ++ Seq.fill(2)("c") ++ Seq("d")
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val r = TextOps.zipfFit(docs, "text", topN = 10).collect().head
    assert(r.getAs[Long]("n_terms") === 4L)
    assert(r.getAs[Long]("slope_e6") === -1459010L)
    assert(r.getAs[Long]("intercept_e4") === 21988L)
  }

  test("harmonic centrality: per-seed hop rings, zero-reach seed visible") {
    import graft.operators.Bfs
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L, 4L, 99L).toDF("node")
    val out = Bfs.harmonicCentrality(edges, seeds, maxHops = 2)
      .collect().map(r => (r.getAs[Long]("seed"),
        (r.getAs[Long]("n_reached"), r.getAs[Long]("harmonic_e6")))).toMap
    assert(out(1L) === ((2L, 1500000L)))  // node 2 at d1, node 3 at d2
    assert(out(4L) === ((3L, 2500000L)))  // 3,5 at d1; 2 at d2
    assert(out(99L) === ((0L, 0L)))       // isolated seed: explicit zero
  }

  test("sourceCover: greedy marginal-coverage picks, stops when dry") {
    import graft.operators.TextOps
    val docs = Seq(
      ("s1", "a b c d"), ("s2", "c d e"), ("s3", "e f"), ("s4", "a"))
      .toDF("source", "text")
    val out = TextOps.sourceCover(docs, "source", "text", 5).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("source"),
        r.getAs[Long]("gain"), r.getAs[Long]("cum_covered")))
    // s1 covers 4; s3 adds {e, f} = 2 (beats s2's marginal 1); then
    // every remaining source adds nothing and the loop goes dry
    assert(out.toSeq === Seq((1L, "s1", 4L, 4L), (2L, "s3", 2L, 6L)))
  }

  test("sessionizeTyped: bit-identical to the window-based sessionizer") {
    import graft.operators.EventOps
    import graft.streaming.EventStreams.Event
    val ev = graft.Tables.events(spark, sfDir)
    val untyped = EventOps.sessionize(ev, "user_id", "ts", Params.SessionGapMs)
      .collect().map(_.toString).sorted
    val typed = EventOps.sessionizeTyped(ev.as[Event], Params.SessionGapMs)
      .collect().map(_.toString).sorted
    assert(typed.nonEmpty && typed.toSeq === untyped.toSeq)
  }

  test("psiDrift: identical snapshots score 0, disjoint support large positive") {
    val a = (1L to 100L).map(i => i % 4).toDF("b")
    val same = Sketches.psiDrift(a, a, col("b")).collect()
      .map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("term_e10")).toMap
    assert(same(-1L) === 0L) // equal shares: every ln and delta is 0
    // disjoint: ref lives in buckets {0,1}, cur in {8,9} → PSI >> 0.2e10
    val ref = (1L to 100L).map(_ % 2).toDF("b")
    val cur = (1L to 100L).map(i => 8L + i % 2).toDF("b")
    val far = Sketches.psiDrift(ref, cur, col("b")).collect()
      .map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("term_e10")).toMap
    assert(far(-1L) > 2L * 1000000000L)
    // every per-bucket term of a one-sided bucket is positive
    assert(far.filter(_._1 >= 0L).values.forall(_ > 0L))
  }

  test("changePoint: step series splits at the step, ties take smallest k") {
    import graft.operators.TimeSeries
    // group a: 10,10,10,10,10 then 20,20,20,20 → split after period 5
    val a = (1 to 5).map(i => ("a", i.toLong, 10L)) ++
      (6 to 9).map(i => ("a", i.toLong, 20L))
    // group b: perfectly constant — every split scores identically, the
    // argmax must break to the smallest k
    val b = (1 to 6).map(i => ("b", i.toLong, 7L))
    val out = TimeSeries.changePoint((a ++ b).toDF("g", "k", "v"),
        col("g"), col("k"), col("v")).collect()
      .map(r => r.getAs[String]("grp") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("split_k"),
          r.getAs[Long]("mean_left"), r.getAs[Long]("mean_right")))).toMap
    assert(out("a") === ((9L, 5L, 10L, 20L)))
    assert(out("b") === ((6L, 1L, 7L, 7L)))
  }

  test("assignSurrogates: existing keys verbatim, new keys extend, idempotent") {
    import graft.etl.Star
    val existing = Seq(("b", 1L), ("d", 2L)).toDF("k", "sk")
    val batch = Seq("a", "b", "c", "d", "e").toDF("k")
    val out = Star.assignSurrogates(existing, batch, "k", "sk").collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Long]("sk")).toMap
    // b, d keep their keys; a < c < e extend from max(sk) = 2
    assert(out === Map("b" -> 1L, "d" -> 2L, "a" -> 3L, "c" -> 4L, "e" -> 5L))
    val again = Star.assignSurrogates(
      Star.assignSurrogates(existing, batch, "k", "sk"), batch, "k", "sk")
      .collect().map(r => r.getAs[String]("k") -> r.getAs[Long]("sk")).toMap
    assert(again === out) // re-delivery assigns nothing new
  }

  test("calendarDim: leap day present, weekend flags match dow convention") {
    import graft.etl.Star
    val cal = Star.calendarDim(spark, "1996-02-27", 5).collect()
      .map(r => r.getAs[String]("d") ->
        ((r.getAs[Long]("dow"), r.getAs[Boolean]("is_weekend")))).toMap
    assert(cal.contains("1996-02-29")) // leap day generated
    assert(cal("1996-03-02")._1 === 7L && cal("1996-03-02")._2) // Saturday
    assert(cal("1996-02-29")._1 === 5L && !cal("1996-02-29")._2) // Thursday
  }

  test("silhouette: hand geometry — tight cell scores high, boundary " +
    "point scores zero, on-centroid point maxes out") {
    // centroids at (0,0) and (10,0) in 2-D
    val cents = Seq(Seq(0.0, 0.0), Seq(10.0, 0.0))
    val emb = Seq(
      (1L, Seq(0.0f, 0.0f)),   // ON centroid 0: a=0, b=10 → s=1
      (2L, Seq(1.0f, 0.0f)),   // a=1, b=9 → s=8/9
      (3L, Seq(5.0f, 0.0f)),   // equidistant boundary: s=0, ties to cell 0
      (4L, Seq(9.0f, 0.0f))    // cell 1: a=1, b=9 → s=8/9
    ).toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.silhouette(emb, "embedding", cents, 2)
      .collect().map(r => r.getAs[Long]("cell") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("mean_sil_e6"),
          r.getAs[Long]("min_sil_e6")))).toMap
    val s89 = math.floor((9.0 - 1.0) / 9.0 * 1e6).toLong
    assert(out(0L)._1 === 3L)
    assert(out(0L)._3 === 0L) // the boundary point
    assert(out(0L)._2 === (1000000L + s89 + 0L) / 3L)
    assert(out(1L) === ((1L, s89, s89)))
  }

  test("stressCentrality: path-graph and diamond hand counts, seeds sum") {
    import graft.operators.Bfs
    def sym(p: Seq[(Long, Long)]) = (p ++ p.map(_.swap)).toDF("src", "dst")
    // path 1-2-3-4-5, seed 1, H=4: stress = how many of the 4 shortest
    // paths from 1 pass THROUGH each node
    val path = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    val r1 = Bfs.stressCentrality(path, Seq(1L).toDF("node"), 4).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("stress")).toMap
    assert(r1 === Map(1L -> 0L, 2L -> 3L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
    // diamond 1-{2,3}-4: σ(1,4) = 2; with both far corners as seeds the
    // middle nodes carry one path per seed
    val diamond = sym(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)))
    val r2 = Bfs.stressCentrality(diamond, Seq(1L, 4L).toDF("node"), 2)
      .collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("stress")).toMap
    assert(r2 === Map(1L -> 0L, 2L -> 2L, 3L -> 2L, 4L -> 0L))
  }

  test("mutualInfo: determined pair saturates NMI, independent pair is ~0") {
    // y = f(x): MI = H(x) = H(y) → NMI = 1e6
    val det = Seq(("a", "p"), ("a", "p"), ("b", "q"), ("b", "q"),
      ("c", "r"), ("c", "r")).toDF("x", "y")
    val d = Sketches.mutualInfo(det, col("x"), col("y")).collect().head
    assert(d.getAs[Long]("n") === 6L && d.getAs[Long]("n_cells") === 3L)
    assert(d.getAs[Long]("mi_e4") === d.getAs[Long]("h_x_e4"))
    assert(d.getAs[Long]("nmi_ppm") === 1000000L)
    // independent uniform pair: every cell equal → MI exactly 0
    val ind = (for { x <- Seq("a", "b"); y <- Seq("p", "q") }
      yield (x, y)).toDF("x", "y")
    val i = Sketches.mutualInfo(ind, col("x"), col("y")).collect().head
    assert(i.getAs[Long]("mi_e4") === 0L && i.getAs[Long]("nmi_ppm") === 0L)
    assert(i.getAs[Long]("h_x_e4") === 6931L) // ln 2 · 10⁴
  }

  test("kfoldBalance: folds partition the corpus, shares sum per fold") {
    val docs = (1L to 200L).map(i => (i, if (i % 3 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val out = Sampling.kfoldBalance(docs, col("doc_id"), col("lang"), 4, "t")
      .collect()
    val folds = out.map(_.getAs[Long]("fold")).distinct.sorted
    assert(folds.forall(f => f >= 0 && f < 4))
    assert(out.map(_.getAs[Long]("n")).sum === 200L)
    // per-fold class counts must sum to the fold total the row carries
    out.groupBy(_.getAs[Long]("fold")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("n")).sum === rows.head.getAs[Long]("n_fold"))
    }
    // determinism: a second run is identical
    val again = Sampling.kfoldBalance(docs, col("doc_id"), col("lang"), 4, "t")
      .collect().map(_.toString).sorted
    assert(again.toSeq === out.map(_.toString).sorted.toSeq)
  }

  test("inferredDim/backfillDim: facts never dangle, arrivals clear flags") {
    import graft.etl.Staging
    val dim = Seq((1L, "one"), (2L, "two")).toDF("k", "name")
    val facts = Seq(1L, 3L, 4L, 3L).toDF("fk")
    val aug = Staging.inferredDim(facts, col("fk"), dim, "k")
    val byKey = aug.collect().map(r => r.getAs[Long]("k") ->
      ((r.getAs[String]("name"), r.getAs[Boolean]("inferred")))).toMap
    assert(byKey === Map(1L -> (("one", false)), 2L -> (("two", false)),
      3L -> ((null, true)), 4L -> ((null, true))))
    // every fact FK now joins
    assert(facts.join(aug, col("fk") === col("k"), "left_anti").count() === 0L)
    // arrival for 3 replaces its placeholder; 5 is a plain insert
    val done = Staging.backfillDim(aug,
      Seq((3L, "three"), (5L, "five")).toDF("k", "name"), "k")
    val fin = done.collect().map(r => r.getAs[Long]("k") ->
      ((r.getAs[String]("name"), r.getAs[Boolean]("inferred")))).toMap
    assert(fin(3L) === (("three", false)) && fin(5L) === (("five", false)))
    assert(fin(4L) === ((null, true)) && fin.size === 5)
  }

  test("naiveBayes: content beats a wrong label, symmetric tie takes the " +
    "smallest class, scores are negative log-space integers") {
    import graft.operators.TextOps
    val docs = Seq(
      (1L, "spam spam offer deal", "s"),
      (2L, "spam offer spam deal", "s"),
      (3L, "hello dear friend greetings", "h"),
      (4L, "dear greetings friend hello", "h"),
      (5L, "spam deal offer spam", "h")).toDF("doc_id", "text", "lang")
    val out = TextOps.naiveBayes(docs, "doc_id", "text", "lang").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("label"), r.getAs[String]("pred"),
          r.getAs[Long]("score_e6")))).toMap
    // doc 5 is labeled h but reads like s: prediction must follow content
    assert(out(5L)._1 === "h" && out(5L)._2 === "s")
    assert(Seq(1L, 2L).forall(out(_)._2 === "s"))
    assert(Seq(3L, 4L).forall(out(_)._2 === "h"))
    assert(out.values.forall(_._3 < 0L)) // log-probabilities: negative
    // perfectly symmetric two-class corpus: every score ties, argmax
    // must break to the lexicographically smallest class on BOTH docs
    val sym = Seq((1L, "x", "a"), (2L, "x", "b")).toDF("doc_id", "text", "lang")
    val tied = TextOps.naiveBayes(sym, "doc_id", "text", "lang").collect()
      .map(_.getAs[String]("pred"))
    assert(tied.toSeq === Seq("a", "a"))
  }

  test("scc: separates one-way-bridged cycles, singles out DAG nodes, " +
    "drops self-loops, refuses non-convergence") {
    import graft.operators.Scc
    // two 3-cycles joined by a ONE-WAY bridge 3→4: undirected CC would
    // merge everything; SCC must keep them apart
    val g1 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L),
      (3L, 4L), (7L, 7L)).toDF("src", "dst")
    val r1 = Scc.scc(g1).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("scc_id")).toMap
    assert(r1 === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      6L -> 4L)) // 7 has only a self-loop: not a node of the cleaned graph
    // pure DAG: every node its own component
    val g2 = Seq((10L, 11L), (11L, 12L), (10L, 12L)).toDF("src", "dst")
    val r2 = Scc.scc(g2).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("scc_id")).toMap
    assert(r2 === Map(10L -> 10L, 11L -> 11L, 12L -> 12L))
    // descending-id SCC chain needs one outer round per link: a cap of 1
    // must raise, not silently drop the unassigned tail
    val e = intercept[IllegalArgumentException] {
      Scc.scc(g1, maxOuterRounds = 1).collect()
    }
    assert(e.getMessage.contains("unassigned"))
  }

  test("hilbertValue: canonical 4x4 walk is a unit-step bijection; " +
    "15-bit values match the reference implementation") {
    import graft.operators.Layout
    // every cell of the 4x4 grid (bits=2): d must be a bijection onto
    // 0..15 and consecutive d cells must be grid neighbors — the
    // defining property separating Hilbert from Z (Z jumps)
    val grid = (for { x <- 0 to 3; y <- 0 to 3 } yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val walk = grid.select(Layout.hilbertValue(col("x"), col("y"), 2).as("d"),
        col("x"), col("y")).collect()
      .map(r => r.getAs[Long]("d") -> ((r.getAs[Long]("x"), r.getAs[Long]("y"))))
      .sortBy(_._1)
    assert(walk.map(_._1).toSeq === (0L to 15L))
    walk.map(_._2).sliding(2).foreach { case Array((x1, y1), (x2, y2)) =>
      assert((x1 - x2).abs + (y1 - y2).abs === 1L,
        s"non-unit step ($x1,$y1)->($x2,$y2)")
    }
    // pinned vectors from the unmasked Wikipedia xy2d at bits=15
    val vecs = Seq((0L, 0L), (1L, 0L), (123L, 456L), (32767L, 32767L),
      (20000L, 1L)).toDF("x", "y")
    val got = vecs.select(col("x"), col("y"),
        Layout.hilbertValue(col("x"), col("y"), 15).as("d"))
      .collect().map(r => (r.getAs[Long]("x"), r.getAs[Long]("y")) ->
        r.getAs[Long]("d")).toMap
    assert(got((0L, 0L)) === 0L)
    assert(got((1L, 0L)) === 3L)
    assert(got((123L, 456L)) === 94085L)
    assert(got((32767L, 32767L)) === 715827882L)
    assert(got((20000L, 1L)) === 989594627L)
  }

  test("woeIv: hand-computed WOE, degenerate category nulled, __iv__ totals") {
    // cat A: 3 good / 1 bad; cat B: 1 good / 3 bad; cat C: 2 good / 0 bad
    val df = (Seq.fill(3)(("A", false)) ++ Seq(("A", true)) ++
      Seq(("B", false)) ++ Seq.fill(3)(("B", true)) ++
      Seq.fill(2)(("C", false))).toDF("cat", "bad")
    val out = Quality.woeIv(df, col("cat"), col("bad")).collect()
      .map(r => r.getAs[String]("grp") -> r).toMap
    // G=6, B=4. A: ln((3·4)/(1·6))=ln 2 → floor(.6931·1e4)=6931
    assert(out("A").getAs[Long]("woe_e4") === 6931L)
    // A contrib: (3e6 div 6 − 1e6 div 4)·6931 = 250000·6931
    assert(out("A").getAs[Long]("contrib_e10") === 250000L * 6931L)
    // B mirrors A: ln((1·4)/(3·6))=ln(2/9) → floor(−1.504·1e4)
    assert(out("B").getAs[Long]("woe_e4") === -15041L)
    // C has zero bads: WOE undefined, zero IV contribution
    assert(out("C").isNullAt(out("C").fieldIndex("woe_e4")))
    assert(out("C").getAs[Long]("contrib_e10") === 0L)
    val iv = out("__iv__")
    assert(iv.getAs[Long]("n_good") === 6L && iv.getAs[Long]("n_bad") === 4L)
    assert(iv.getAs[Long]("contrib_e10") ===
      250000L * 6931L + (1000000L / 6L - 750000L) * -15041L)
  }

  test("calibration: equal-width bins, top-edge clamp, ECE summary row") {
    // scores in ppm; outcome true for the two high scores
    val df = Seq((100000L, false), (150000L, false), (950000L, true),
      (1000000L, true)).toDF("p", "y")
    val out = Quality.calibration(df, col("p"), col("y"), 10).collect()
      .map(r => r.getAs[Long]("bin") -> r).toMap
    assert(out(1L).getAs[Long]("n") === 2L &&
      out(1L).getAs[Long]("n_pos") === 0L)
    assert(out(1L).getAs[Long]("avg_score_ppm") === 125000L)
    assert(out(1L).getAs[Long]("gap_ppm") === 125000L)
    // 1000000 ppm would index bin 10 — clamped into the top bin
    assert(out(9L).getAs[Long]("n") === 2L &&
      out(9L).getAs[Long]("pos_ppm") === 1000000L)
    assert(out(9L).getAs[Long]("gap_ppm") === 975000L - 1000000L)
    // ECE = (2·125000 + 2·25000) / 4
    assert(out(-1L).getAs[Long]("n") === 4L &&
      out(-1L).getAs[Long]("gap_ppm") === 75000L)
  }

  test("readability counters: syllable proxy, sentence floor, Flesch arithmetic") {
    val df = Seq((1L, "The quick brown fox jumps. It sleeps!"),
      (2L, "hmm grr"), (3L, "")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        T.tokenCount(col("text")).as("w"),
        T.sentenceCount(col("text")).as("s"),
        T.syllableCount(col("text")).as("y"))
      .collect().map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("w"), r.getAs[Long]("s"), r.getAs[Long]("y")))).toMap
    // vowel chars: The=1 quick=2 brown=1 fox=1 jumps=1 It=1 sleeps=2 → 9
    assert(out(1L) === ((7L, 2L, 9L)))
    // zero-vowel words count one syllable each; no terminator → 1 sentence
    assert(out(2L) === ((2L, 1L, 2L)))
    assert(out(3L) === ((0L, 1L, 0L)))
  }

  test("encodingAudit: counts replacement/control chars, clean group is clean") {
    import graft.operators.TextOps
    val df = Seq(("s1", "ok text"), ("s1", "bad \uFFFD\uFFFD here"),
      ("s1", "ctrl \u0007 one"), ("s2", "all clean")).toDF("src", "t")
    val out = TextOps.encodingAudit(df, col("src"), col("t")).collect()
      .map(r => r.getAs[String]("grp") -> r).toMap
    assert(out("s1").getAs[Long]("n_docs") === 3L)
    assert(out("s1").getAs[Long]("bad_docs") === 2L)
    assert(out("s1").getAs[Long]("n_repl") === 2L)
    assert(out("s1").getAs[Long]("n_ctrl") === 1L)
    assert(out("s1").getAs[Long]("clean_ppm") === 333333L)
    assert(out("s2").getAs[Long]("bad_docs") === 0L &&
      out("s2").getAs[Long]("clean_ppm") === 1000000L)
  }
}
