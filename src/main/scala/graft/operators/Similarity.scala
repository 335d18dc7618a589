package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{HashFunctions => H, VectorFunctions => V}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * `bruteForceTopK` is the exact kernel: queries × corpus with a top-k
  * window. It is intended for a *bounded* query set (or as the in-bucket
  * scorer); the scale path is [[lshTopK]], which restricts each query's
  * candidates to vectors sharing a hyperplane-LSH band, so the join fans
  * out per-bucket instead of per-corpus.
  */
object Similarity {

  /** Per-row LSH band values: `planes` sign-bits of hyperplane dots,
    * packed into `bands` integers of planes/bands bits each. The planes
    * are md5-derived constants ([[H.hyperplaneWeights]]) baked into the
    * plan as literals — fully codegen'd, zero joins, reproducible in SQL.
    */
  def hyperplaneBands(emb: DataFrame, idCol: String, vecCol: String,
                      planes: Int, bands: Int, dims: Int): DataFrame = {
    val rows = planes / bands
    val ws = H.hyperplaneWeights(planes, dims)
    // one codegen'd DotProduct loop per plane against a literal weight
    // array — all sign bits evaluated inside a single codegen stage
    val bits: Seq[Column] =
      ws.map(w => when(V.dotConst(col(vecCol), w) >= 0, lit(1L)).otherwise(lit(0L)))
    val bandvals = (0 until bands).map { b =>
      (0 until rows).map(r => bits(b * rows + r) * lit(1L << r)).reduce(_ + _)
    }
    emb.select(col(idCol), col(vecCol), array(bandvals: _*).as("bandvals"))
  }

  /** Each query's `k` best (query_id, neighbor_id) rows by `score` desc,
    * ties to the smaller neighbor id — a total order, so the cut is
    * reproducible across engines — with the 1-based long rank `rnk`.
    */
  private def topKPerQuery(scored: DataFrame, score: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col(score).desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long")).where(col("rnk") <= k)
  }

  /** Exact cosine top-k for each query row against the whole corpus.
    * Rank order is total — (cosine desc, neighbor id asc) — so results are
    * reproducible across engines. Self-matches are excluded.
    *
    * This is deliberately a queries × corpus product, so the query side
    * MUST be bounded: `maxQueries` is enforced INSIDE the plan — a 1-row
    * guard (count over a limit-probe reading at most maxQueries+1 rows,
    * `raise_error` past the bound) broadcast-joined into the product — so
    * passing the whole corpus as queries fails loudly at execution, while
    * merely composing/explaining the query stays lazy and launches no job.
    * The query side is broadcast so the corpus never shuffles.
    * Corpus-scale query sets belong on [[lshTopK]].
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int, maxQueries: Int = 100000): DataFrame = {
    require(k > 0, "k must be positive")
    val guard = broadcast(queries.limit(maxQueries + 1).groupBy().count()
      .select(when(col("count") > maxQueries, raise_error(concat(
          lit(s"bruteForceTopK query side exceeds maxQueries=$maxQueries rows — " +
            "this kernel is for bounded query sets; use lshTopK for corpus-scale queries"))))
        .otherwise(lit(1)).as("__guard_ok")))
    // norms are computed once per row map-side; per-pair work is a single
    // dot fold (bit-identical to folding the norm per pair, 3x cheaper)
    // the filter keeps __guard_ok referenced so column pruning can never
    // drop the raise_error; the predicate is attribute-bound, not foldable
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      V.norm(col(vecCol)).as("qn")).crossJoin(guard)
      .where(col("__guard_ok") === lit(1)).drop("__guard_ok"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
      V.norm(col(vecCol)).as("nn"))
    val scored = q.crossJoin(c)
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        V.cosine4(V.dot(col("qv"), col("nv")), col("qn"), col("nn")).as("cos"))
    topKPerQuery(scored, "cos", k)
  }

  /** Cell argmax over arbitrary centroid weights (deterministic
    * tie-break: lowest centroid index wins). The centroids are plan
    * literals — assignment is a map-side codegen'd expression, no join.
    */
  def cellFor(vecCol: Column, cents: Seq[Seq[Double]]): Column = {
    // argmax as ONE array_max over (dot, -index) structs: lexicographic
    // struct ordering gives the max dot with lowest-index tie-break, and
    // each centroid dot is evaluated exactly once — the former
    // greatest() + when-chain form evaluated every dot twice (once for
    // the max, once for the equality probe)
    val entries = array(cents.zipWithIndex.map { case (w, i) =>
      struct(V.dotConst(vecCol, w).as("d"), lit(-i).as("ni"))
    }: _*)
    // non-nullable on purpose: the max of a non-empty array of non-null
    // structs is never null, but a nullable cell used as a join key gets
    // an inferred isnotnull(cell) filter pushed below the projection, and
    // that filter evaluates every centroid dot a second time per row
    coalesce(-array_max(entries).getField("ni"), lit(0))
  }

  /** IVF cell id against the fixed md5-derived coarse quantizer. */
  def ivfCell(vecCol: Column, cents: Int, dims: Int): Column =
    cellFor(vecCol, H.centroidWeights(cents, dims))

  /** The `nprobe` nearest cells for a query vector, by centroid dot
    * product (desc, cell asc on exact-dot ties) — still a pure map-side
    * literal expression: sort the (–dot, cell) pairs, slice, project.
    */
  def probeCells(vecCol: Column, cents: Seq[Seq[Double]], nprobe: Int): Column = {
    val entries = array(cents.zipWithIndex.map { case (w, i) =>
      struct((-V.dotConst(vecCol, w)).as("nd"), lit(i).as("cell"))
    }: _*)
    slice(transform(array_sort(entries), e => e.getField("cell")), 1, nprobe)
  }

  /** IVF-style ANN: corpus is coarse-quantized into `cents` cells; each
    * query searches its `nprobe` nearest cells (by centroid dot). Exact
    * cosine + total-order rank within the probed cells. Cells are the
    * unit of data placement at scale: partition/bucket the corpus by
    * cell and each query touches `nprobe` partitions instead of the
    * corpus — the classic inverted-file layout, expressed as one
    * equi-join on the cell id (the query side fans out ×nprobe, the
    * corpus side never replicates). `nprobe` is the recall/cost knob:
    * nprobe = cents degrades gracefully to exact brute force.
    *
    * Two tiers, picked by [[SizeRule]], return the same rows and schema,
    * both scoring with [[graft.plans.CosineKernel]] (a zero-norm vector
    * scores a null cos and a NaN one NaN, whatever the ANSI setting):
    *  - Driver tier, when the leaves of `queries` and `corpus` together
    *    fit `spark.sql.autoBroadcastJoinThreshold`, both id columns are
    *    Long or Int and both vector columns are float or double arrays.
    *    One job collects queries and corpus together, at most
    *    [[SizeRule.driverRows]] rows at [[ivfRowBytes]] a row; the
    *    driver assigns cells, scores the probed cells from primitive
    *    arrays and returns a one-partition local relation, so a
    *    caller's sort plans no exchange. This tier is EAGER: its job runs
    *    when `ivfTopK` is called, not when the result is collected. A
    *    collect over the cap, or a row it cannot reproduce bit for bit
    *    (a null vector, a null element, a length other than the
    *    centroids'), drops to the distributed tier.
    *  - Distributed tier otherwise: the cell equi-join and a query-keyed
    *    rank window, lazy like any DataFrame.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
              k: Int, cents: Int = 8, dims: Int = 64, nprobe: Int = 1): DataFrame =
    ivfTopKWith(queries, corpus, idCol, vecCol, k, H.centroidWeights(cents, dims), nprobe)

  /** [[ivfTopK]] against an arbitrary (e.g. [[kmeansFit]]-trained)
    * centroid matrix — the production shape: train the coarse quantizer,
    * then search with it. Same two tiers, size rule, scoring and
    * eagerness as [[ivfTopK]].
    */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
                  k: Int, ws: Seq[Seq[Double]], nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1 && nprobe <= ws.size, s"nprobe must be in [1, ${ws.size}]")
    IvfDriver.search(queries, corpus, idCol, vecCol, k, ws, nprobe)
      .getOrElse(ivfDistributed(queries, corpus, idCol, vecCol, k, ws, nprobe))
  }

  /** Driver heap one collected (is_query, id, vector) row of `dims`
    * elements of `elemBytes` counts against [[SizeRule.driverRows]]: the
    * unsafe row (null word, three slots, array header and null word,
    * 56 B up to 64 elements) and its elements, plus the driver's double
    * copy of the vector.
    */
  def ivfRowBytes(dims: Int, elemBytes: Int): Long = 56L + dims.toLong * (elemBytes + 8)

  /** The distributed tier of [[ivfTopKWith]]. */
  private def ivfDistributed(queries: DataFrame, corpus: DataFrame, idCol: String,
                             vecCol: String, k: Int, ws: Seq[Seq[Double]],
                             nprobe: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      V.norm(col(vecCol)).as("qn"),
      explode(probeCells(col(vecCol), ws, nprobe)).as("cell"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
      cellFor(col(vecCol), ws).as("cell"))
    // no distinct needed: probe cells are distinct per query and each
    // corpus row lives in exactly one cell, so a (query, neighbor) pair
    // can only surface once. The corpus norm is taken after the join (the
    // same value per row): a single serving query pays it on the
    // nprobe/cents of the corpus it scores, not on every row; a batch of
    // q queries pays it once per scored pair, q·nprobe/cents per row.
    val scored = q.join(c, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        V.cosine4(V.dot(col("qv"), col("nv")), col("qn"), V.norm(col("nv"))).as("cos"))
    topKPerQuery(scored, "cos", k)
  }

  /** One column per (subspace m, code ci): the MIPS score
    * q·c_{m,ci} − ‖c_{m,ci}‖²/2, computed as ONE zero-padded full-vector
    * primitive dot (padding is IEEE-exact: acc + 0.0·x ≡ acc in
    * left-to-right order, so results equal a sub-sliced dot and the
    * oracle's sub-chain bit-for-bit, with no per-score slice()
    * allocation). Shared by the encoder ([[pqCodes]]) and the search
    * LUT ([[pqAdcTopK]]) so the two can never diverge.
    */
  private def pqScoreCols(vecCol: String, mSub: Int, ksub: Int, dims: Int,
                          prefix: String): Seq[Column] = {
    val subDims = dims / mSub
    val cb = H.pqCodebooks(mSub, ksub, subDims)
    (0 until mSub).flatMap { m =>
      cb(m).zipWithIndex.map { case (c, ci) =>
        val padded = Seq.fill(m * subDims)(0.0) ++ c ++
          Seq.fill(dims - (m + 1) * subDims)(0.0)
        (V.dotConst(col(vecCol), padded) - lit(c.map(x => x * x).sum / 2))
          .as(s"${prefix}_${m}_$ci")
      }
    }
  }

  /** Product-quantization codes: split the vector into `mSub` subspaces
    * and emit, per subspace, the index of the nearest sub-centroid by L2
    * (argmin ‖x−c‖² ≡ argmax x·c − ‖c‖²/2; deterministic ties: lowest
    * code wins). Long-form output (id, m, code).
    *
    * This is THE embedding-compression layout at 100 TB: mSub codes of
    * log2(ksub) bits replace dims floats (64×f32 → 8 nibbles here, a
    * 32× shrink), and the whole encode is a map-side codegen'd
    * projection — no shuffle, no join, composes with any scan. The
    * codebooks are md5-derived literals for portability; a production
    * deployment trains them per subspace with [[kmeansFit]] over sliced
    * vectors and broadcasts them the same way.
    */
  def pqCodes(emb: DataFrame, idCol: String, vecCol: String,
              mSub: Int = 8, ksub: Int = 16, dims: Int = 64): DataFrame = {
    require(dims % mSub == 0, "dims must split evenly into subspaces")
    // Two projections on purpose. A single projection would repeat each
    // dot inside greatest() AND the argmax when-chain (~3× work) and the
    // combined expression tree blows janino's method limits — codegen
    // falls back to interpreted and the query runs ~5× slower (measured).
    // Stage 1 computes each of the mSub·ksub scores exactly once as its
    // own column (sub-centroids zero-padded to the full vector: one
    // primitive dot loop, no per-score slice() allocation, and exact —
    // acc + 0.0·x ≡ acc in IEEE left-to-right order, so results equal
    // the oracle's sub-chain bit-for-bit). Stage 2's argmax references
    // only those attributes, which is cheap; CollapseProject keeps the
    // stages apart because the score expressions are non-cheap and
    // multiply-referenced.
    val scored = emb.select(col(idCol) +: pqScoreCols(vecCol, mSub, ksub, dims, "__s"): _*)
    val codes = (0 until mSub).map { m =>
      val scs = (0 until ksub).map(ci => col(s"__s_${m}_$ci"))
      val best = greatest(scs: _*)
      scs.zipWithIndex.foldRight(lit(ksub - 1): Column) { case ((sc, i), rest) =>
        when(sc === best, lit(i)).otherwise(rest)
      }
    }
    scored.select(col(idCol), posexplode(array(codes.map(_.cast("long")): _*)).as(Seq("m", "code")))
      .select(col(idCol), col("m").cast("long").as("m"), col("code"))
  }

  /** Per-query ADC lookup table (query_id, m, code, part) with
    * part = q·c_{m,code} − ‖c_{m,code}‖²/2. Stage 1 computes each of the
    * mSub·ksub dots exactly once as its own column (same janino-safety
    * pattern as [[pqCodes]]), stage 2 reshapes them into rows with a
    * single explode.
    */
  private def pqLut(queries: DataFrame, idCol: String, vecCol: String,
                    mSub: Int, ksub: Int, dims: Int): DataFrame = {
    require(dims % mSub == 0)
    val staged = queries.select(col(idCol).as("query_id") +:
      pqScoreCols(vecCol, mSub, ksub, dims, "__p"): _*)
    val entries = array((for (m <- 0 until mSub; ci <- 0 until ksub) yield
      struct(lit(m.toLong).as("m"), lit(ci.toLong).as("code"),
        col(s"__p_${m}_$ci").as("part"))): _*)
    staged.select(col("query_id"), explode(entries).as("e"))
      .select(col("query_id"), col("e.m").as("m"), col("e.code").as("code"),
        col("e.part").as("part"))
  }

  /** Per-(query, neighbor) ADC score with a FIXED fold order: the mSub
    * partials pivot into per-subspace min-aggregates (map-side partial,
    * one value each — min of a single element) and sum left-to-right in
    * subspace order. A plain sum() would accumulate in shuffle-arrival
    * order — FP addition is non-associative, so a pair near a 4-dp
    * rounding boundary could flip between engines/runs; every other
    * oracle-matched score in this file is a single deterministic fold,
    * and this keeps ADC in that contract.
    */
  private def adcScore(pairs: DataFrame, mSub: Int): DataFrame = {
    val parts = (0 until mSub).map(m =>
      min(when(col("m") === m.toLong, col("part"))).as(s"__sp$m"))
    pairs.groupBy(col("query_id"), col("neighbor_id"))
      .agg(parts.head, parts.tail: _*)
      .select(col("query_id"), col("neighbor_id"),
        round((0 until mSub).map(m => col(s"__sp$m")).reduce(_ + _), 4).as("score"))
  }

  /** PQ asymmetric-distance (ADC) top-k: score every corpus vector from
    * its COMPRESSED codes only — the search path the 32× compression
    * exists for. Per query, a 128-entry lookup table (subspace m, code c
    * → q·c_{m,c} − ‖c_{m,c}‖²/2) is built map-side from literal
    * codebooks and joined to the corpus code table on (m, code); summing
    * a pair's mSub partials gives q·recon(x) − ‖recon(x)‖²/2 (subspaces
    * are disjoint, cross terms vanish) — the MIPS-ADC score against the
    * reconstructed vector. The corpus side never touches float vectors:
    * the only shuffles carry (m, code) joins and (query, neighbor)
    * partial sums. Rank is total via (score desc, neighbor asc) on the
    * round-4 score.
    */
  def pqAdcTopK(queries: DataFrame, codes: DataFrame, idCol: String, vecCol: String,
                k: Int, mSub: Int = 8, ksub: Int = 16, dims: Int = 64): DataFrame = {
    val lut = pqLut(queries, idCol, vecCol, mSub, ksub, dims)
    val scored = adcScore(lut
      .join(codes.select(col(idCol).as("neighbor_id"), col("m"), col("code")),
        Seq("m", "code"))
      .where(col("query_id") =!= col("neighbor_id")), mSub)
    topKPerQuery(scored, "score", k)
  }

  /** IVF+PQ (the canonical billion-scale ANN index, à la FAISS IVFPQ):
    * coarse-quantize the corpus into cells, PQ-compress the residual…
    * here the vectors themselves (no residual — honest simplification,
    * the plumbing is identical), and answer a query by probing its
    * `nprobe` nearest cells and ADC-scoring ONLY those cells' codes.
    * The float vectors are touched exactly once at index-build time
    * (cell assignment + codes); the search path joins compact
    * (cell, code) tables — at 100 TB the index is ~3% the corpus size
    * and a query reads nprobe/cents of it.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
                k: Int, cents: Int = 8, dims: Int = 64, nprobe: Int = 1,
                mSub: Int = 8, ksub: Int = 16): DataFrame = {
    require(nprobe >= 1 && nprobe <= cents)
    val ws = H.centroidWeights(cents, dims)
    // index build (one pass over float vectors)
    val cells = corpus.select(col(idCol).as("neighbor_id"),
      cellFor(col(vecCol), ws).as("cell"))
    val codes = pqCodes(corpus, idCol, vecCol, mSub, ksub, dims)
      .select(col(idCol).as("neighbor_id"), col("m"), col("code"))
    // search: probe cells → candidate ids → ADC over their codes
    val cand = queries.select(col(idCol).as("query_id"),
        explode(probeCells(col(vecCol), ws, nprobe)).as("cell"))
      .join(cells, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    val lut = pqLut(queries, idCol, vecCol, mSub, ksub, dims)
    val scored = adcScore(cand.join(codes, "neighbor_id")
      .join(lut, Seq("query_id", "m", "code")), mSub)
    topKPerQuery(scored, "score", k)
  }

  /** Half-up rounding to 4 decimals: the grid [[kmeansFit]] and
    * [[topComponent]] snap their driver-side trajectories to.
    */
  private def r4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Lloyd's k-means over the corpus, iterated to convergence (or
    * `maxIter`). Returns (centroids, last-assignment counts, iterations
    * run); every coordinate is rounded to 4 decimals per round — the
    * portability contract that lets another engine replay the exact
    * training trajectory.
    *
    * Scale design: per round the corpus does ONE map-side-combined hash
    * aggregate (dims sums + a count per cell) — no join, no explode, no
    * growing lineage, because the k×d centroid matrix re-enters each
    * round's plan as codegen'd literals. Only that k×d matrix ever
    * reaches the driver (O(cells·dims), independent of corpus size) —
    * the iterate-via-checkpoint pattern ([[Dedup.clusters]]) is for
    * per-ROW state; centroids are the textbook broadcast-back case.
    * Converged means no coordinate moved more than `tol` after rounding;
    * an empty cell keeps its previous centroid.
    */
  def kmeansFit(emb: DataFrame, vecCol: String, init: Seq[Seq[Double]], dims: Int,
                maxIter: Int, tol: Double = 0.0): (Seq[Seq[Double]], Seq[Long], Int) = {
    // measured: caching the projected vectors for the eager loop moved
    // nothing (the cost is the assignment expression, not the re-scan),
    // and a transient persist would race any concurrent cache-hygiene
    // assertion — so the loop re-reads the source per round on purpose
    val vecs = emb.select(col(vecCol))
    var cents = init
    var counts = Seq.fill(init.size)(0L)
    var iter = 0
    var moved = Double.MaxValue
    while (iter < maxIter && moved > tol) {
      val sums = (0 until dims).map(i =>
        sum(element_at(col(vecCol), i + 1).cast("double")).as(s"s$i"))
      val agg = vecs.groupBy(cellFor(col(vecCol), cents).cast("long").as("cell"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect()
      val byCell = agg.map(r => r.getLong(0) -> r).toMap
      counts = cents.indices.map(c => byCell.get(c.toLong).map(_.getLong(1)).getOrElse(0L))
      val next = cents.zipWithIndex.map { case (old, c) =>
        byCell.get(c.toLong) match {
          case Some(r) =>
            val n = r.getLong(1)
            (0 until dims).map(i => r4(r.getDouble(2 + i) / n))
          case None => old
        }
      }
      moved = next.zip(cents).map { case (a, b) =>
        a.zip(b).map { case (x, y) => math.abs(x - y) }.max
      }.max
      cents = next
      iter += 1
    }
    (cents, counts, iter)
  }

  /** LSH-restricted top-k: candidates = corpus rows sharing at least one
    * band with the query; exact cosine + total-order rank within the
    * candidate set. Approximate (recall < 1) but each query touches only
    * its buckets — this is the 100 TB path.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
              k: Int, planes: Int = 32, bands: Int = 8, dims: Int = 64): DataFrame = {
    val qb = hyperplaneBands(queries, idCol, vecCol, planes, bands, dims)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        V.norm(col(vecCol)).as("qn"),
        posexplode(col("bandvals")).as(Seq("band_id", "bv")))
    val cb = hyperplaneBands(corpus, idCol, vecCol, planes, bands, dims)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
        V.norm(col(vecCol)).as("nn"),
        posexplode(col("bandvals")).as(Seq("band_id", "bv")))
    // dedup multi-band collisions with a grouped max (cos is a pure
    // function of the pair, so max == the old distinct) RIDING ONE
    // PINNED query_id exchange: HashPartitioning(query_id) satisfies
    // both the (query_id, neighbor_id) grouping and the ranking window,
    // so the whole tail is one fixed-N shuffle — the un-pinned form's
    // two exchanges (distinct + window) each coalesced to a single task
    // under AQE (StageProbe r13: 1.45 s of a 2.46 s wall in one task)
    val nPart = queries.sparkSession.sessionState.conf.numShufflePartitions
    val cand = qb.join(cb, Seq("band_id", "bv"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        V.cosine4(V.dot(col("qv"), col("nv")), col("qn"), col("nn")).as("cos"))
      .repartition(nPart, col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id")).agg(max(col("cos")).as("cos"))
    topKPerQuery(cand, "cos", k)
  }

  /** Scalar quantization to int8 codes (SQ8): per-dimension affine
    * mapping of each component onto 0..255 using GLOBAL per-dim min/max
    * — 4× compression with per-dim error ≤ range/255, the simple
    * workhorse next to [[pqCodes]]'s 32×. The corpus-wide min/max row is
    * ONE aggregate broadcast back; coding is then pure map-side
    * arithmetic (subtract, multiply, one divide, floor — every op IEEE
    * and engine-identical). Constant dimensions code to 0. Output:
    * `(id, d, code)`.
    */
  def sq8Codes(emb: DataFrame, idCol: String, vecCol: String,
               dims: Int): DataFrame = {
    require(dims >= 1)
    // stats as two ARRAYS + an exploded dim index: a 64-struct array of
    // per-dim expressions is one giant tree that falls out of
    // whole-stage codegen (the bootstrap lesson, SURVEY §5.6); this
    // shape keeps each projection small and codegen'd
    val stats = emb.agg(
      array((0 until dims).map(d =>
        min(element_at(col(vecCol), d + 1)).cast("double")): _*).as("__mns"),
      array((0 until dims).map(d =>
        max(element_at(col(vecCol), d + 1)).cast("double")): _*).as("__mxs"))
    emb.crossJoin(broadcast(stats))
      .select(col(idCol), col(vecCol), col("__mns"), col("__mxs"),
        explode(sequence(lit(0L), lit((dims - 1).toLong))).as("d"))
      .withColumn("__mn", element_at(col("__mns"), (col("d") + 1).cast("int")))
      .withColumn("__mx", element_at(col("__mxs"), (col("d") + 1).cast("int")))
      .withColumn("__v",
        element_at(col(vecCol), (col("d") + 1).cast("int")).cast("double"))
      .select(col(idCol), col("d"),
        when(col("__mx") === col("__mn"), lit(0L)).otherwise(
          least(floor((col("__v") - col("__mn")) * lit(255.0)
            / (col("__mx") - col("__mn"))).cast("long"), lit(255L))).as("code"))
  }

  /** Matryoshka (coarse-to-fine) top-k: rank in the truncated
    * `coarseDims`-prefix subspace first, keep a `pool`-sized candidate
    * set per query, then rerank ONLY the pool with exact full-dimension
    * cosine. With MRL-trained embeddings the prefix carries most of the
    * signal, so the expensive full-width math runs on Q×pool rows
    * instead of Q×N — the standard two-stage retrieval shape (and the
    * third member of the family: LSH buckets, IVF cells, MRL prefixes).
    *
    * The coarse pass pays `coarseDims/dims` of the flops and — unlike
    * LSH/IVF — has NO bucketing recall cliff: every corpus row is
    * scored, only at lower resolution, so recall degrades smoothly with
    * `coarseDims` and reaches 1.0 when `coarseDims = dims` (spec-pinned
    * equivalence with [[bruteForceTopK]]). The rerank join keys on the
    * corpus id — one keyed shuffle of pool-sized data.
    */
  def mrlTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, coarseDims: Int, pool: Int, k: Int): DataFrame = {
    require(coarseDims >= 1 && pool >= k && k > 0)
    def trunc(df: DataFrame) = df.select(col(idCol),
      slice(col(vecCol), 1, coarseDims).as(vecCol))
    val cand = bruteForceTopK(trunc(queries), trunc(corpus), idCol, vecCol, pool)
      .select(col("query_id"), col("neighbor_id"))
    val qv = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), V.norm(col(vecCol)).as("qn")))
    val nv = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("nv"), V.norm(col(vecCol)).as("nn"))
    val sc = cand.join(qv, "query_id").join(nv, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        V.cosine4(V.dot(col("qv"), col("nv")), col("qn"), col("nn")).as("cos"))
    topKPerQuery(sc, "cos", k)
  }

  /** Johnson–Lindenstrauss random projection: compress `dims`-d
    * embeddings to `outDims` coordinates through a fixed md5-derived
    * ±binary-fraction matrix ([[H.projectionWeights]]) — the cheap
    * distance-preserving dim reduction used before clustering or
    * coarse ANN when even SQ8 codes are too wide. Each output
    * coordinate is one [[V.dotConst]] against a literal weight array:
    * entirely map-side, whole-stage-codegen'd, no shuffle, no fitted
    * state (unlike PCA, nothing to train or ship). Rounded to 4dp,
    * the engine-portable float contract of the ANN family.
    */
  def randProject(embs: DataFrame, idCol: String, vecCol: String,
                  dims: Int, outDims: Int): DataFrame = {
    require(outDims >= 1 && outDims <= dims,
      "projection must reduce (or keep) dimensionality")
    val ws = H.projectionWeights(outDims, dims)
    embs.select(col(idCol) +: ws.zipWithIndex.map { case (w, j) =>
      round(V.dotConst(col(vecCol), w), 4).as(s"d$j")
    }: _*)
  }

  /** ANN recall evaluation: score an approximate top-k ranking against
    * the exact (brute-force) ground truth — the accept/reject loop for
    * every index knob (cells, nprobe, bands, PQ bits): a recall number,
    * not a hunch, decides whether the cheap index is good enough. Both
    * inputs need (query_id, neighbor_id, rnk). Emits one row per query
    * (query_id, n_exact, n_approx, n_hit, recall_ppm — hits ÷ ground
    * truth size) plus a `query_id = −1` micro-average row over all
    * queries. Exact integers throughout; queries the approx index
    * missed entirely still appear (n_approx = 0), so dropped queries
    * can't inflate the average.
    *
    * Scale shape: two (query, neighbor)-keyed semi-structures and one
    * equi-join on the pair key — the eval moves only id pairs
    * (queries × k rows), never vectors.
    */
  def recallEval(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k > 0)
    // each ranking feeds TWO consumers (the hit join + its own count
    // aggregate) and `per` feeds two more (the per-query half + the
    // micro-average) — without materialization the ranking pipelines
    // (including the brute-force ground truth) re-execute per consumer;
    // the checkpointed tables are only queries×k id pairs (r15)
    val a = approx.where(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(false)
    val e = exact.where(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(false)
    val hits = e.join(a, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    val per = e.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(a.groupBy(col("query_id")).agg(count(lit(1)).as("n_approx")),
        Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_approx", "n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_approx"), col("n_hit"),
        expr("n_hit * 1000000L div n_exact").as("recall_ppm"))
      .localCheckpoint(false)
    per.unionByName(per.agg(sum(col("n_exact")).as("n_exact"),
        sum(col("n_approx")).as("n_approx"), sum(col("n_hit")).as("n_hit"))
      .select(lit(-1L).as("query_id"), col("n_exact"), col("n_approx"),
        col("n_hit"), expr("n_hit * 1000000L div n_exact").as("recall_ppm")))
  }

  /** Top principal direction by distributed power iteration — the
    * first step of PCA without ever materializing the d×d covariance:
    * each round is ONE aggregate pass computing
    * `w = Σ_rows (x − μ)·((x − μ)·v)` (64 codegen'd sums; v and the
    * round-4 mean vector ride as literals), then the driver normalizes
    * and ROUND-4-SNAPS v — the snap is what makes the whole trajectory
    * engine-replayable (the [[kmeansFit]] portability contract: any
    * ulp drift in the data-sized double sums is absorbed by the 4dp
    * grid before it can compound across rounds). Deterministic uniform
    * init. Returns (loadings, λ̂ = ‖w‖/n — the per-row variance along
    * the direction, round-4).
    */
  def topComponent(emb: DataFrame, vecCol: String, dims: Int,
                   iters: Int): (Seq[Double], Double) = {
    require(dims >= 2 && iters >= 1)
    // the emptiness guard must run BEFORE the mean collect: on zero
    // rows avg() is null and Row.getDouble would NPE past the require
    val n = emb.count()
    require(n > 0, "topComponent: empty input")
    val muAggs = (0 until dims).map(i =>
      round(avg(element_at(col(vecCol), i + 1).cast("double")), 4).as(s"m$i"))
    val muRow = emb.agg(muAggs.head, muAggs.tail: _*).collect().head
    val mu = (0 until dims).map(muRow.getDouble)
    var v = Seq.fill(dims)(r4(1.0 / math.sqrt(dims)))
    var nm = 0.0
    for (_ <- 1 to iters) {
      val dot = (0 until dims).map(j =>
        (element_at(col(vecCol), j + 1).cast("double") - lit(mu(j))) *
          lit(v(j))).reduce(_ + _)
      val sums = (0 until dims).map(i =>
        sum((element_at(col(vecCol), i + 1).cast("double") - lit(mu(i))) *
          col("__dt")).as(s"w$i"))
      val row = emb.select(col(vecCol), dot.as("__dt"))
        .agg(sums.head, sums.tail: _*).collect().head
      val w = (0 until dims).map(row.getDouble)
      nm = math.sqrt(w.map(x => x * x).sum)
      require(nm > 0, "topComponent: zero-variance data")
      v = w.map(x => r4(x / nm))
    }
    (v, r4(nm / n))
  }

  /** Label-anchored silhouette: like [[silhouette]] but `a` is the
    * distance to the point's LABELED class centroid (not the nearest),
    * so scores go NEGATIVE for points sitting closer to another class —
    * the label-noise / class-confusability audit run before training a
    * classifier on the labels. Per label: n, mean/min silhouette e6,
    * and `n_neg` — the count of points some other centroid claims.
    * Label centroids are per-dim round-4 means (the [[kmeansFit]]
    * portability contract); labels are bounded by definition, so the
    * centroid table collects, capped by [[SizeRule.collectCapped]] at
    * 16 B a value (the boxed double and its slot).
    */
  def labelSilhouette(emb: DataFrame, labelCol: String, vecCol: String,
                      dims: Int): DataFrame = {
    val avgCols = (0 until dims).map(i =>
      round(avg(element_at(col(vecCol), i + 1)), 4).as(s"c$i"))
    val cents = SizeRule.collectCapped(emb.groupBy(col(labelCol).cast("long").as("lab"))
        .agg(avgCols.head, avgCols.tail: _*), 16L * (dims + 1), "labelSilhouette centroids")
      .map(r => r.getLong(0) -> (0 until dims).map(i => r.getDouble(i + 1)))
      .sortBy(_._1)
    require(cents.size >= 2, "labelSilhouette needs at least two labels")
    val entries = array(cents.map { case (lab, w) =>
      val d2 = (0 until dims).map { i =>
        val e = element_at(col(vecCol), i + 1).cast("double")
        (e - lit(w(i))) * (e - lit(w(i)))
      }.reduce(_ + _)
      struct(sqrt(d2).as("d"), lit(lab).as("k"))
    }: _*)
    emb.select(col(labelCol).cast("long").as("lab"), entries.as("ds"))
      .select(col("lab"),
        element_at(filter(col("ds"), x => x.getField("k") === col("lab")), 1)
          .getField("d").as("a"),
        array_min(filter(col("ds"), x => x.getField("k") =!= col("lab")))
          .getField("d").as("b"))
      .select(col("lab"),
        when(greatest(col("a"), col("b")) === 0.0, lit(0L)).otherwise(
          floor((col("b") - col("a")) / greatest(col("a"), col("b"))
            * lit(1e6)).cast("long")).as("s_e6"))
      .groupBy(col("lab"))
      .agg(count(lit(1)).as("n"), sum(col("s_e6")).as("__ss"),
        min(col("s_e6")).as("min_sil_e6"),
        sum(when(col("s_e6") < 0L, 1L).otherwise(0L)).as("n_neg"))
      .select(col("lab"), col("n"), expr("__ss div n").as("mean_sil_e6"),
        col("min_sil_e6"), col("n_neg"))
  }

  /** Centroid-silhouette clustering audit: per point, a = L2 distance
    * to the NEAREST centroid (= its cluster under min-distance
    * assignment), b = distance to the runner-up;
    * `s = (b − a) / max(a, b) ∈ [0, 1]` here (the medoid simplification
    * of full silhouette — O(n·k) instead of O(n²), the only version
    * that scales), floor-scaled e6 per point so per-cell means are
    * exact integer sums. One row per non-empty cell:
    * `(cell, n, mean_sil_e6, min_sil_e6)` — low mean = mushy cluster,
    * low min = boundary points the assignment barely claims.
    *
    * Portability: centroid coordinates arrive as r4-rounded literals
    * (the [[kmeansFit]] output contract), each distance is ONE
    * left-associated IEEE sum replayed token-order-identical by the
    * twin, and the (d, cell) argmin/runner-up come from ONE row-wise
    * `array_sort` over struct entries — no shuffle before the final
    * per-cell aggregate.
    */
  def silhouette(emb: DataFrame, vecCol: String, cents: Seq[Seq[Double]],
                 dims: Int): DataFrame = {
    require(cents.size >= 2, "silhouette needs at least two centroids")
    val entries = array(cents.zipWithIndex.map { case (w, k) =>
      val d2 = (0 until dims).map { i =>
        val e = element_at(col(vecCol), i + 1).cast("double")
        (e - lit(w(i))) * (e - lit(w(i)))
      }.reduce(_ + _)
      struct(sqrt(d2).as("d"), lit(k.toLong).as("k"))
    }: _*)
    emb.select(array_sort(entries).as("ds"))
      .select(col("ds")(0).getField("k").as("cell"),
        col("ds")(0).getField("d").as("a"), col("ds")(1).getField("d").as("b"))
      .select(col("cell"),
        when(greatest(col("a"), col("b")) === 0.0, lit(0L)).otherwise(
          floor((col("b") - col("a")) / greatest(col("a"), col("b"))
            * lit(1e6)).cast("long")).as("s_e6"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("s_e6")).as("__ss"),
        min(col("s_e6")).as("min_sil_e6"))
      .select(col("cell"), col("n"), expr("__ss div n").as("mean_sil_e6"),
        col("min_sil_e6"))
  }
}
