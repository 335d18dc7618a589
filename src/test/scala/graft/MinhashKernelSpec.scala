package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions => H, TextFunctions => T}
import graft.operators.Dedup

/** The one MinHash signature kernel (`graft.plans.MinhashBandKeys`):
  * bit-identical to the portable SQL composition the DuckDB oracle
  * replays, one signature per input row, and plan-stable enough that a
  * caller's persisted `ngramJaccard` is found again inside `cleanCorpus`.
  */
class MinhashKernelSpec extends SparkSpec {
  import spark.implicits._

  /** The SQL composition: explode → `shingleHash` → k `affineHash` mins
    * per row → base-31 combine per band. Rows without shingles are absent.
    */
  private def sqlBandKeys(docs: DataFrame, k: Int, bands: Int, n: Int): Map[Long, Seq[Long]] = {
    val coeffs = H.minhashCoeffs(k)
    val mins = coeffs.zipWithIndex.map { case ((a, b), i) =>
      min(H.affineHash(col("hb"), a, b)).as(s"mh$i")
    }
    val sig = docs
      .select(col("rid"), explode(T.shingles(col("text"), n)).as("t"))
      .select(col("rid"), H.shingleHash(col("t")).as("hb"))
      .groupBy(col("rid")).agg(mins.head, mins.tail: _*)
    val rows = k / bands
    val keys: Seq[Column] = (0 until bands).map { b =>
      (0 until rows).map(r => col(s"mh${b * rows + r}")).reduce((acc, m) => acc * lit(31L) + m)
    }
    sig.select(col("rid"), array(keys: _*)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
  }

  private def kernelBandKeys(docs: DataFrame, k: Int, bands: Int, n: Int): Map[Long, Seq[Long]] =
    docs.select(col("rid"), H.minhashBandKeys(T.shingles(col("text"), n), k, bands))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  private val corpus: DataFrame = {
    val rnd = new scala.util.Random(20261019L)
    def chars(s: String): IndexedSeq[String] =
      s.codePoints().toArray.toIndexedSeq.map(c => new String(Character.toChars(c)))
    def word(alphabet: IndexedSeq[String]): String =
      Seq.fill(1 + rnd.nextInt(6))(alphabet(rnd.nextInt(alphabet.length))).mkString
    val ascii = chars("abcdefghijklmnopqrstuvwxyz0123456789!?.,'-")
    // 2-, 3- and 4-byte UTF-8 code points
    val multi = chars("éüßçøåñ中文字日本語한국어Ωλ€😀🙂")
    val texts =
      Seq.fill(40)(Seq.fill(2 + rnd.nextInt(30))(word(ascii)).mkString(" ")) ++
        Seq.fill(40)(Seq.fill(2 + rnd.nextInt(30))(word(ascii ++ multi)).mkString(" ")) ++
        Seq("", "   ", "solo", "中文", "a b", "a  b   c", "😀 é ü")
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("rid", "text")
  }

  for ((k, bands, n) <- Seq((16, 4, 2), (16, 4, 3), (Params.LshTopkK, Params.LshTopkBands, 2)))
    test(s"kernel band keys equal the SQL composition at k=$k bands=$bands n=$n") {
      val sql = sqlBandKeys(corpus, k, bands, n)
      val kernel = kernelBandKeys(corpus, k, bands, n)
      assert(sql.size > 60, "most rows must have shingles")
      assert(kernel.keySet === corpus.select("rid").as[Long].collect().toSet)
      kernel.foreach { case (rid, keys) =>
        assert(keys === sql.getOrElse(rid, Seq.empty), s"row $rid")
        assert(keys.isEmpty || keys.length === bands)
      }
    }

  test("kernel skips null shingles; an all-null or null array has no keys") {
    val row = Seq(Tuple1(1L)).toDF("x")
    def keys(arr: Column): Option[Seq[Long]] =
      Option(row.select(H.minhashBandKeys(arr, 16, 4)).head().getSeq[Long](0))
    val nul = lit(null).cast("string")
    assert(keys(array(lit("a b"), nul, lit("b c"))) === keys(array(lit("a b"), lit("b c"))))
    assert(keys(array(nul, nul)) === Some(Seq.empty))
    assert(keys(lit(null).cast("array<string>")) === None)
    assert(keys(array(lit("a b"))).get.length === 4)
  }

  test("minhashBands and bandTable: null or short text gives no row; a shared id keeps one " +
    "signature per row; minhashCandidates never pairs an id with itself") {
    val long = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq[(Long, String)](
      (1L, null), (2L, ""), (3L, "solo"), (4L, long), (4L, long + " x"), (5L, long + " y"))
      .toDF("doc_id", "text")
    val mb = Dedup.minhashBands(docs, "doc_id", "text", 16, 4).collect()
    assert(mb.map(_.getLong(0)).sorted.toSeq === Seq(4L, 4L, 5L))
    assert(Dedup.minhashBands(docs, "doc_id", "text", 16, 4, shingleN = 3)
      .where($"doc_id" === 3L).count() === 0)
    val bt = Dedup.bandTable(docs, "doc_id", "text").collect()
    assert(bt.map(_.getLong(0)).toSet === Set(4L, 5L))
    assert(bt.count(_.getLong(0) == 4L) === 8, "two rows with id 4, four bands each")
    val pairs = Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((4L, 5L)))
  }

  test("the signature runs once a row: no filter re-runs it, and both " +
    "minhashCandidates self-join sides read one exchange") {
    val d = Tables.load(spark, sfDir, "documents")
    def kernels(plan: String) = "graft_minhash_band_keys\\(".r.findAllIn(plan).length
    val bands = Dedup.minhashBands(d, "doc_id", "text", 16, 4).queryExecution.executedPlan.toString
    assert(kernels(bands) === 1, bands)
    val cands = Dedup.minhashCandidates(d, "doc_id", "text")
    cands.collect()
    val plan = cands.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("ReusedExchange") && kernels(plan) === 1, plan)
  }

  test("a persisted ngramJaccard is read from the cache inside cleanCorpus") {
    val d = Tables.load(spark, sfDir, "documents")
    val pairs = Dedup.ngramJaccard(d, "doc_id", "text", 0.7).persist()
    try {
      val own = pairs.queryExecution.withCachedData match {
        case r: InMemoryRelation => r.cacheBuilder
        case other => fail(s"persisted pairs are not an InMemoryRelation:\n$other")
      }
      val clean = Dedup.cleanCorpus(d, "doc_id", "text", 0.7, 0.3)
      val hit = clean.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation if r.cacheBuilder eq own => r
      }
      assert(hit.isDefined, s"cleanCorpus recomputed the pairs:\n${clean.queryExecution.withCachedData}")
    } finally pairs.unpersist(blocking = true)
  }
}
