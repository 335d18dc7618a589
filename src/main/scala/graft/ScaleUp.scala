package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic K× scale-up of a testdata directory — the growth-curve
  * fixture generator (VERDICT r7 task #1: measure, not argue, the scale
  * posture of the slowest queries on 10× data).
  *
  * Each fact row is replicated K times with copy-shifted keys, offset by
  * (max(key)+1) per key space so every copy occupies a disjoint id range
  * and ALL foreign-key relationships hold copy-internally: join
  * selectivities, group cardinalities per key, and distribution shapes
  * are exactly those of the source — rows, distinct keys, and join
  * outputs all scale by K, which is what makes wall-clock ratios
  * interpretable as work growth. Fixed dimensions (region, nation) stay
  * fixed, like TPC-H's. Document text is perturbed per copy (mode arg):
  *
  *  - `suffix` (legacy): ONE per-copy token appended. Preserves in-copy
  *    near-dup structure but leaves cross-copy Jaccard ~1, so every doc
  *    becomes a K-copy near-dup CLIQUE: near-dup clustering work grows
  *    ~K² on K× data (measured r10: 214× join rows on 10× data) — the
  *    census then measures the fixture, not the engine.
  *  - `mark` (r11, VERDICT r10 #6): every token whose hash ≡ 0 (mod 2)
  *    is REWRITTEN with a per-copy tag (`t` → `t_cI`) — a per-copy
  *    BIJECTION on token values, so within a copy every pairwise bigram
  *    overlap (related or not) is EXACTLY the original's mapped through
  *    the bijection: in-copy near-dup structure is preserved verbatim
  *    and no new cross-doc shingles appear (an INSERTED shared marker
  *    token was tried first and rejected by measurement: it manufactures
  *    corpus-common shingles (t, marker) that inflate unrelated same-
  *    copy similarity and flood the LSH buckets — 59× candidate work on
  *    10× data). Across copies a bigram survives only if neither token
  *    is marked: (1−p)² = 1/4 at p=1/2, so same-doc cross-copy Jaccard ≈
  *    0.25/(2−0.25) ≈ 0.14 ≪ the 0.5 near-dup threshold (measured: p=1/3 left J high enough for 26× candidate work — frequent tokens under-mark, so the rate carries margin) — components
  *    stay bounded and near-dup work grows ~K. All copies are marked
  *    (copy 0 too, else copy0-vs-copyI reads high). Doc length is
  *    unchanged, so scan/shingle volume stays comparable.
  *
  * n_chars is recomputed to stay consistent with the text.
  *
  * Output lands as `files` parquet files per table: a 10× corpus arrives
  * with more splits in reality, and scan parallelism should reflect that.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val (src, dst) = (args(0), args(1))
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val files = args.lift(3).map(_.toInt).getOrElse(8)
    val docMode = args.lift(4).getOrElse("suffix")
    require(docMode == "suffix" || docMode == "mark",
      s"doc mode must be suffix|mark, got $docMode")
    val spark = GraftSession.local()

    def load(n: String): DataFrame =
      if (n == "events") Tables.events(spark, src) else Tables.load(spark, src, n)
    def span(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    val customer = load("customer")
    val supplier = load("supplier")
    val part = load("part")
    val orders = load("orders")
    val events = load("events")
    val documents = load("documents")
    val embeddings = load("embeddings")
    val C = span(customer, "c_custkey"); val S = span(supplier, "s_suppkey")
    val P = span(part, "p_partkey"); val O = span(orders, "o_orderkey")
    val E = span(events, "event_id"); val U = span(events, "user_id")
    val D = span(documents, "doc_id"); val V = span(embeddings, "vec_id")

    def replicate(df: DataFrame, shifts: Map[String, Long],
                  extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until k).map { i =>
        val shifted = shifts.foldLeft(df) { case (d, (c, sp)) =>
          d.withColumn(c, col(c) + lit(i * sp))
        }
        extra(shifted, i)
      }.reduce(_.unionByName(_))

    def write(df: DataFrame, name: String): Unit = {
      df.repartition(files).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name done")
    }

    write(load("region"), "region")
    write(load("nation"), "nation")
    write(replicate(customer, Map("c_custkey" -> C)), "customer")
    write(replicate(supplier, Map("s_suppkey" -> S)), "supplier")
    write(replicate(part, Map("p_partkey" -> P)), "part")
    write(replicate(orders, Map("o_orderkey" -> O, "o_custkey" -> C)), "orders")
    write(replicate(load("lineitem"),
      Map("l_orderkey" -> O, "l_partkey" -> P, "l_suppkey" -> S)), "lineitem")
    write(replicate(events, Map("event_id" -> E, "user_id" -> U)), "events")
    val perturbDoc: (DataFrame, Int) => DataFrame =
      if (docMode == "mark") { (d, i) =>
        d.withColumn("text", array_join(transform(split(col("text"), " "),
            t => when(pmod(hash(t), lit(2)) === 0,
              concat(t, lit(s"_c$i"))).otherwise(t)), " "))
          .withColumn("n_chars", length(col("text")).cast("long"))
      } else { (d, i) =>
        if (i == 0) d
        else d.withColumn("text", concat(col("text"), lit(s" c$i")))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
    write(replicate(documents, Map("doc_id" -> D), perturbDoc), "documents")
    write(replicate(embeddings, Map("vec_id" -> V)), "embeddings")
    spark.stop()
  }
}
