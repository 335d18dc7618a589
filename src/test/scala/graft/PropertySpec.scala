package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.etl.Staging
import graft.operators.{EventOps, GlobalRank, RangeJoin, Sampling}
import scala.util.chaining._

/** Randomized property checks (seeded — deterministic across runs):
  * each operator is compared against a brute-force reference
  * implementation or an algebraic invariant on many random inputs, the
  * class of evidence example-based specs can't give. 10 trials per
  * property keeps the suite fast; the seeds make failures reproducible.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def trials(seed: Long, n: Int = 10)(body: scala.util.Random => Unit): Unit =
    (0 until n).foreach(i => body(new scala.util.Random(seed + i)))

  test("property: intervalOverlap equals the brute-force theta join on random intervals") {
    trials(101L) { rnd =>
      def intervals(n: Int) = (0 until n).map { i =>
        val lo = rnd.nextDouble() * 100 - 20
        // ~1/5 empty or inverted on purpose
        val hi = if (rnd.nextInt(5) == 0) lo - rnd.nextDouble() * 5
                 else lo + rnd.nextDouble() * 12
        (i.toLong, lo, hi)
      }
      val as = intervals(30)
      val bs = intervals(30)
      val expected = (for {
        (ai, alo, ahi) <- as if alo < ahi
        (bi, blo, bhi) <- bs if blo < bhi
        if alo < bhi && blo < ahi
      } yield (ai, bi)).toSet
      val got = RangeJoin.intervalOverlap(
          as.toDF("a_id", "alo", "ahi"), "alo", "ahi",
          bs.toDF("b_id", "blo", "bhi"), "blo", "bhi",
          bucketWidth = 1 + rnd.nextDouble() * 10)
        .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
      assert(got === expected)
    }
  }

  test("property: pointInInterval equals the brute-force theta join on random data") {
    trials(202L) { rnd =>
      val pts = (0 until 50).map(i => (i.toLong, rnd.nextDouble() * 100))
      val ivs = (0 until 20).map { i =>
        val lo = rnd.nextDouble() * 100
        (i.toLong, lo, lo + rnd.nextDouble() * 15)
      }
      val expected = (for {
        (pi, v) <- pts
        (ii, lo, hi) <- ivs if v >= lo && v < hi
      } yield (pi, ii)).toSet
      val got = RangeJoin.pointInInterval(
          pts.toDF("p_id", "v"), "v",
          ivs.toDF("i_id", "lo", "hi"), "lo", "hi",
          bucketWidth = 1 + rnd.nextDouble() * 10)
        .select($"p_id", $"i_id").as[(Long, Long)].collect().toSet
      assert(got === expected)
    }
  }

  test("property: globalRank equals the sort index for any partition count") {
    trials(303L, n = 5) { rnd =>
      val n = 200 + rnd.nextInt(800)
      val rows = (0 until n).map(i => (i.toLong, rnd.nextInt(50).toLong))
      val ranked = GlobalRank.globalRank(rows.toDF("id", "v"),
          Seq($"v".asc, $"id".asc), numPartitions = 1 + rnd.nextInt(12))
        .select($"id", $"grank").as[(Long, Long)].collect().toMap
      val expected = rows.sortBy(r => (r._2, r._1)).zipWithIndex
        .map { case ((id, _), i) => id -> (i + 1).toLong }.toMap
      assert(ranked === expected)
    }
  }

  test("property: scd2 versions tile each key's timeline; merge equals full rebuild") {
    trials(404L, n = 5) { rnd =>
      val log = (0 until 120).map { i =>
        (rnd.nextInt(6).toLong, f"2024-01-${rnd.nextInt(28) + 1}%02d",
          ('A' + rnd.nextInt(3)).toChar.toString, i.toLong)
      }
      val df = log.toDF("k", "eff", "attr", "seq")
      val hist = Staging.scd2(df, Seq("k"), "eff", Seq("attr"), Seq($"seq"))
        .select($"k", $"effective_from", $"effective_to", $"is_current", $"attr")
        .as[(Long, String, Option[String], Boolean, String)].collect()
      hist.groupBy(_._1).foreach { case (_, vs) =>
        // total order: same-date versions tie-break on effective_to
        // (open version last) — collect() order is not a contract
        val sorted = vs.sortBy(v => (v._2, v._3.getOrElse("9999")))
        // exactly one current version, and it is the last one
        assert(sorted.count(_._4) === 1 && sorted.last._4)
        // half-open windows chain exactly: to(i) == from(i+1), final to = null
        sorted.sliding(2).foreach {
          case Array(a, b) => assert(a._3.contains(b._2)); case _ =>
        }
        assert(sorted.last._3.isEmpty)
        // no-change pruning: adjacent versions always differ
        sorted.sliding(2).foreach {
          case Array(a, b) => assert(a._5 != b._5); case _ =>
        }
      }
      // append-only time-split: merge(hist(early), late) == scd2(full).
      // Fixed global cut; rows AT the cut go to the early side, so every
      // late row is strictly newer than its key's last_seen (append-only)
      val cut = "2024-01-15"
      val early = df.filter($"eff" <= cut)
      val late = df.filter($"eff" > cut)
      val keysWithBoth = log.filter(_._2 <= cut).map(_._1).toSet
        .intersect(log.filter(_._2 > cut).map(_._1).toSet)
      if (keysWithBoth.nonEmpty) {
        val h = Staging.scd2(early, Seq("k"), "eff", Seq("attr"), Seq($"seq"))
        val merged = Staging.scd2Merge(h, late, Seq("k"), "eff", Seq("attr"), Seq($"seq"))
          .select($"k", $"effective_from", $"effective_to", $"is_current", $"attr")
          .as[(Long, String, Option[String], Boolean, String)].collect().toSet
        val full = Staging.scd2(df, Seq("k"), "eff", Seq("attr"), Seq($"seq"))
          .select($"k", $"effective_from", $"effective_to", $"is_current", $"attr")
          .as[(Long, String, Option[String], Boolean, String)].collect().toSet
        assert(merged === full)
      }
    }
  }

  test("property: saltedJoin equals the plain inner join on random skewed data") {
    import graft.operators.Joins
    trials(707L, n = 5) { rnd =>
      // heavy skew on purpose: half the rows share one key
      val big = (0 until 400).map { i =>
        (if (rnd.nextBoolean()) 7L else rnd.nextInt(20).toLong, i.toLong)
      }.toDF("k", "payload")
      val small = (0 until 15).map(i => (i.toLong, s"v$i")).toDF("k", "label")
      val plain = big.join(small, Seq("k"))
        .select($"k", $"payload", $"label").as[(Long, Long, String)].collect().toSet
      val salted = Joins.saltedJoin(big, small, Seq("k"), 1 + rnd.nextInt(8))
        .select($"k", $"payload", $"label").as[(Long, Long, String)].collect().toSet
      assert(salted === plain)
    }
  }

  test("property: sampling is monotone in rate/weight (nested samples)") {
    val ids = spark.range(0, 2000).toDF("id")
    trials(505L, n = 5) { rnd =>
      val r1 = rnd.nextDouble() * 0.5
      val r2 = r1 + rnd.nextDouble() * 0.5
      val salt = s"prop${rnd.nextInt(1000)}"
      val s1 = Sampling.bernoulli(ids, $"id", r1, salt).as[Long].collect().toSet
      val s2 = Sampling.bernoulli(ids, $"id", r2, salt).as[Long].collect().toSet
      assert(s1.subsetOf(s2), s"bernoulli($r1) must nest inside bernoulli($r2)")
      val w1 = Sampling.weighted(ids, $"id", lit(r1), salt).as[Long].collect().toSet
      assert(w1 === s1, "weighted at a constant weight IS bernoulli at that rate")
    }
  }

  test("property: funnel counts match a reference computation and never increase") {
    trials(606L, n = 5) { rnd =>
      val types = Seq("a", "b", "c")
      val ev = (0 until 300).map { i =>
        (rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong, types(rnd.nextInt(3)))
      }
      val got = EventOps.funnel(ev.toDF("u", "t", "ty"), "u", "t", "ty", types)
        .as[(Long, Long)].collect().toMap
      // reference: per user, walk the min-time recurrence in plain Scala
      val byUser = ev.groupBy(_._1)
      val expected = types.indices.map { k =>
        val n = byUser.values.count { evs =>
          types.take(k + 1).foldLeft(Option(Long.MinValue)) { (acc, ty) =>
            acc.flatMap { after =>
              val cand = evs.filter(e => e._3 == ty && e._2 > after).map(_._2)
              if (cand.isEmpty) None else Some(cand.min)
            }
          }.isDefined
        }
        (k + 1).toLong -> n.toLong
      }.toMap
      assert(got === expected)
      assert(types.indices.dropRight(1).forall(k => got(k + 1L) >= got(k + 2L)))
    }
  }

  /** Borůvka MSF against a local Kruskal on random distinct-weight
    * graphs, a deep chain and tied weights; returns every forest for
    * path checks.
    */
  private def msfKruskalParity(): Seq[DataFrame] = {
    import graft.operators.Msf
    import spark.implicits._
    val forests = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def kruskal(n: Int, es: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
      val parent = scala.collection.mutable.Map((0L until n.toLong).map(i => i -> i): _*)
      def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
      es.sortBy(e => (e._3, e._1, e._2)).flatMap { case (u, v, w) =>
        val (ru, rv) = (find(u), find(v))
        if (ru == rv) None else { parent(ru min rv) = ru max rv; Some((u, v, w)) }
      }.toSet
    }
    val rnd = new scala.util.Random(4242)
    (1 to 4).foreach { trial =>
      val n = 30 + trial * 10
      // sparse enough to leave several components on the last trial
      val m = if (trial == 4) n else n * 3
      val es = (0 until m).map { i =>
        val u = rnd.nextInt(n).toLong
        var v = rnd.nextInt(n).toLong
        while (v == u) v = rnd.nextInt(n).toLong
        (u min v, u max v, 0L)
      }.distinct.zipWithIndex
        // distinct weights via a fixed pseudo-random permutation
        .map { case ((u, v, _), i) => (u, v, ((i * 2654435761L) % 1000003L)) }
      val got = Msf.msf(es.toDF("src", "dst", "w")).tap(forests += _)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = kruskal(n, es)
      assert(got === want,
        s"trial $trial: Borůvka/Kruskal diverge: extra=${got -- want} missing=${want -- got}")
    }
    // adversarial shape 1: a long PATH with strictly decreasing weights —
    // every node's min edge points DOWN the chain, so the per-round
    // pointer trees are as deep as they can get and the contraction's
    // batched doubling must run multiple batches to find the roots
    val chain = (0L until 300L).map(i => (i, i + 1, 100000L - i * 3))
    val gotChain = Msf.msf(chain.toDF("src", "dst", "w")).tap(forests += _)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotChain === kruskal(301, chain).toSet,
      "deep-chain graph: Borůvka/Kruskal diverge")
    // adversarial shape 2: ALL weights tied — the (w, u, v) total order's
    // (u, v) tie-break alone must make picks consistent (the mutual-pick
    // 2-cycle argument the contraction's cycle break relies on)
    val rnd2 = new scala.util.Random(77)
    val tied = (0 until 160).map { _ =>
      val u = rnd2.nextInt(60).toLong
      var v = rnd2.nextInt(60).toLong
      while (v == u) v = rnd2.nextInt(60).toLong
      (u min v, u max v, 42L)
    }.distinct
    val gotTied = Msf.msf(tied.toDF("src", "dst", "w")).tap(forests += _)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotTied === kruskal(60, tied),
      "tied-weight graph: Borůvka/Kruskal diverge")
    forests.toSeq
  }

  test("property: Borůvka MSF equals local Kruskal on random distinct-weight graphs") {
    assert(msfKruskalParity().forall(msfSides(_) == ((false, true))),
      "the default conf finishes small graphs on the driver")
  }

  test("property: Borůvka MSF equals local Kruskal with every round distributed") {
    assert(distributedCC(msfKruskalParity()).forall(msfSides(_) == ((true, false))))
  }

  test("property: Borůvka MSF equals local Kruskal across a 4-edge driver-tail cutover") {
    assert(msfCutoverAt4(msfKruskalParity()).exists(msfSides(_) == ((true, true))),
      "some graph must run distributed rounds and then the driver tail")
  }

  test("property: cdcChunks tile any payload; identical bytes chunk identically") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    val payloads = (0 until 12).map { i =>
      // sizes across the min/max regimes, incl. empty and sub-window
      val n = Seq(0, 5, 17, 64, 333, 1000, 4096)(i % 7) + (i / 7) * 13
      i.toLong -> Array.fill(n)(rnd.nextInt(256).toByte)
    }
    val media = payloads.map { case (id, p) =>
      Multimodal.MediaRow(id, "blob", 1, 1, p) }.toDS()
    val out = Multimodal.cdcChunks(media, 16, 4, 16, 96).collect()
      .groupBy(_.media_id).view.mapValues(_.sortBy(_.chunk_idx)).toMap
    payloads.foreach { case (id, p) =>
      val cs = out.getOrElse(id, Array.empty)
      if (p.isEmpty) assert(cs.isEmpty)
      else {
        assert(cs.head.offset === 0L && cs.map(_.length).sum === p.length.toLong)
        cs.sliding(2).foreach {
          case Array(a, b) => assert(a.offset + a.length === b.offset)
          case _ =>
        }
        cs.dropRight(1).foreach(c => assert(c.length >= 16L && c.length <= 96L))
        // chunk md5 recomputes from the bytes it claims to cover
        cs.foreach { c =>
          val md = java.security.MessageDigest.getInstance("MD5")
          md.update(p, c.offset.toInt, c.length.toInt)
          assert(md.digest().map("%02x".format(_)).mkString === c.chunk_md5)
        }
      }
    }
  }

  test("property: theilSen recovers an exact linear slope; pctChange flat is zero") {
    import graft.operators.TimeSeries
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    (1 to 5).foreach { _ =>
      val slope = rnd.nextInt(2001) - 1000 // ppm-scale slopes, signed
      val b = rnd.nextInt(1000).toLong
      val pts = (0L to 20L).map(x => ("g", x, b + slope * x))
      val got = TimeSeries.theilSen(pts.toDF("g", "x", "y"), "g", "x", "y")
        .collect().head.getDouble(2)
      assert(got === slope * 1000000.0,
        s"exact linear data must yield the exact slope: got $got want ${slope}e6")
    }
    val flat = (1L to 15L).map(x => ("g", x, 42L))
    val pc = TimeSeries.pctChange(flat.toDF("g", "x", "y"), "g", "x", "y", 1, 12)
      .where(col("x") > 12).collect()
    pc.foreach(r => assert(r.getLong(3) === 0L && r.getLong(4) === 0L))
  }

  test("property: epochShuffle is a partition of the corpus for any shard count") {
    import graft.operators.Sampling
    import spark.implicits._
    Seq(1, 3, 16).foreach { shards =>
      val docs = (1L to 97L).map(Tuple1(_)).toDF("doc_id")
      val out = Sampling.epochShuffle(docs, col("doc_id"), 1, shards, s"ps-$shards")
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(out.map(_._3).toSet === (1L to 97L).toSet)
      assert(out.length === 97)
      out.groupBy(_._1).foreach { case (_, rows) =>
        assert(rows.map(_._2).sorted.toSeq === (1L to rows.length).toSeq,
          "positions must be dense 1..n within every shard")
      }
    }
  }

  test("property: skyline2D equals brute-force dominance on random points") {
    import graft.operators.Skyline
    trials(912L, n = 6) { rnd =>
      val pts = (0 until 60).map(i =>
        (i.toLong, rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      val got = Skyline.skyline2D(pts.toDF("k", "price_cents", "psize"),
          "price_cents", "psize")
        .collect().map(_.getLong(0)).toSet
      val want = pts.filter { case (_, p, s) =>
        !pts.exists { case (_, p2, s2) =>
          p2 <= p && s2 >= s && (p2 < p || s2 > s) }
      }.map(_._1).toSet
      assert(got === want)
    }
  }

  test("property: ksTest and mannWhitney match brute-force references") {
    import graft.operators.Sketches
    trials(913L, n = 6) { rnd =>
      val a = (0 until 30).map(_ => rnd.nextInt(15).toLong)
      val bb = (0 until 40).map(_ => rnd.nextInt(15).toLong)
      val df = (a.map(("a", _)) ++ bb.map(("b", _))).toDF("g", "v")
      // KS reference
      val vs = (a ++ bb).distinct.sorted
      val ksWant = vs.map { v =>
        math.abs(a.count(_ <= v).toLong * bb.size - bb.count(_ <= v).toLong * a.size)
      }.max * 1000000L / (a.size.toLong * bb.size)
      assert(Sketches.ksTest(df, col("g"), "a", col("v"))
        .collect().head.getLong(2) === ksWant)
      // Mann-Whitney reference: 2U = Σ over pairs of 2·[a>b] + 1·[a=b]
      val u2 = (for (x <- a; y <- bb) yield
        (if (x > y) 2L else if (x == y) 1L else 0L)).sum
      val r = Sketches.mannWhitney(df, col("g"), "a", col("v")).collect().head
      assert(r.getLong(2) === u2, s"u2 ${r.getLong(2)} want $u2")
    }
  }

  test("property: chi2Drift is symmetric and matches the brute-force pooled form") {
    import graft.operators.Sketches
    trials(417L, n = 6) { rnd =>
      val ref = (0 until 40).map(_ => rnd.nextInt(5).toLong).toDF("v")
      val cur = (0 until 55).map(_ => rnd.nextInt(6).toLong).toDF("v")
      def run(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
        Sketches.chi2Drift(a, b, col("v"))
          .collect().map(r => r.getLong(0) ->
            (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val fwd = run(ref, cur)
      val rev = run(cur, ref)
      // (T_c·O_r − T_r·O_c)² is swap-invariant: same contribution per
      // bucket, counts mirrored
      assert(fwd.keySet === rev.keySet)
      fwd.foreach { case (b, (nr, nc, c)) =>
        assert(rev(b) === ((nc, nr, c)), s"bucket $b asymmetric") }
      // brute-force pooled reference, integer arithmetic
      val ra = ref.collect().map(_.getLong(0))
      val ca = cur.collect().map(_.getLong(0))
      val (tr, tc) = (ra.length.toLong, ca.length.toLong)
      (ra ++ ca).distinct.foreach { v =>
        val (or, oc) = (ra.count(_ == v).toLong, ca.count(_ == v).toLong)
        val d = BigInt(tc * or - tr * oc)
        val want = (d * d * 1000000 / (BigInt(or + oc) * tr * tc)).toLong
        assert(fwd(v)._3 === want, s"bucket $v: ${fwd(v)._3} want $want")
      }
    }
  }

  test("property: kmvSlidingDistinct at window=1 equals the per-period sketch") {
    import graft.operators.Sketches
    trials(833L, n = 5) { rnd =>
      val ev = (0 until 120).map(_ => (rnd.nextInt(6).toLong, s"u${rnd.nextInt(40)}"))
        .toDF("p", "u")
      val win1 = Sketches.kmvSlidingDistinct(ev, col("p"), col("u"), 1, 8, "s")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val per = Sketches.kmvDistinct(ev, col("p"), "period", col("u"), 8, "s")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(win1 === per)
    }
  }

  test("property: mergeInto equals a per-key reference MERGE on random data") {
    trials(909L, n = 6) { rnd =>
      val base = (0 until 40).map(i => (i.toLong, rnd.nextInt(100).toLong))
      val srcKeys = rnd.shuffle((0 until 60).map(_.toLong).toList).take(30)
      val src = srcKeys.map(k => (k, 100L + rnd.nextInt(100).toLong))
      val upd = (k: Long) => k % 2 == 0
      val del = (k: Long) => k % 5 == 0
      val ins = (v: Long) => v % 3 != 0
      val sweep = (k: Long) => k % 7 == 0
      val got = Staging.mergeInto(base.toDF("k", "v"), src.toDF("k", "v"), Seq("k"),
          matchedUpdate = Some(col("k") % 2 === 0),
          matchedDelete = Some(col("k") % 5 === 0),
          insertWhen = Some(col("src_v") % 3 =!= 0),
          notBySourceDelete = Some(col("k") % 7 === 0))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val srcMap = src.toMap
      val expected =
        base.flatMap { case (k, v) =>
          srcMap.get(k) match {
            case Some(sv) =>
              if (upd(k)) Some((k, sv))            // update precedes delete
              else if (del(k)) None
              else Some((k, v))
            case None => if (sweep(k)) None else Some((k, v))
          }
        }.toSet ++
        src.filter { case (k, sv) => !base.exists(_._1 == k) && ins(sv) }
          .map { case (k, sv) => (k, sv) }.toSet
      assert(got === expected)
    }
  }

  test("property: winsorize clips into the group's value range and is idempotent") {
    import graft.etl.Marts
    trials(910L, n = 6) { rnd =>
      val rows = (0 until 80).map(i =>
        (s"g${i % 3}", i.toLong, rnd.nextInt(1000).toLong - 200))
      val df = rows.toDF("g", "k", "v")
      val out = Marts.winsorize(df, col("g"), "g", col("v"), col("k"), "k", 100L, 900L)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // clipped stays inside [group min, group max] and order of values
      // is preserved weakly (clip is monotone)
      val byG = rows.groupBy(_._1)
      out.foreach { case (g, _, v, c) =>
        val vs = byG(g).map(_._3)
        assert(c >= vs.min && c <= vs.max)
        assert((v <= c && v <= vs.max) || (v >= c && v >= vs.min))
      }
      // idempotent: winsorizing the clipped column again changes nothing
      val clipped = out.map { case (g, k, _, c) => (g, k, c) }.toSeq
        .toDF("g", "k", "v")
      val again = Marts.winsorize(clipped, col("g"), "g", col("v"), col("k"), "k",
          100L, 900L)
        .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(3))).toMap
      out.foreach { case (g, k, _, c) => assert(again((g, k)) === c) }
    }
  }

  test("property: fuzzyLookup returns the true nearest in-block candidate") {
    import graft.operators.Joins
    trials(911L, n = 6) { rnd =>
      val alphabet = "ab"
      def word() = (0 until 1 + rnd.nextInt(4))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val catalog = (0 until 25).map(_ => s"blk ${word()}").distinct
      val probes = (0 until 15).map(_ => s"blk ${word()}").distinct
      def lev(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
          if (i == 0) j else if (j == 0) i else 0)
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        d(a.length)(b.length)
      }
      val got = Joins.fuzzyLookup(probes.toDF("p"), "p", catalog.toDF("c"), "c", 2)
        .collect().map(r => (r.getString(0), (r.getString(1), r.getLong(2)))).toMap
      probes.foreach { p =>
        val best = catalog.map(c => (lev(p, c).toLong, c)).filter(_._1 <= 2).sorted.headOption
        assert(got.get(p) === best.map { case (d, c) => (c, d) },
          s"probe '$p' got ${got.get(p)} want $best")
      }
    }
  }
}
