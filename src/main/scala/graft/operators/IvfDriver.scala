package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types._
import graft.plans.CosineKernel

/** The driver tier of [[Similarity.ivfTopKWith]]: queries and corpus are
  * collected in one job and searched from primitive arrays, with the
  * distributed tier's arithmetic step for step, so both tiers return the
  * same rows:
  *  - a corpus row's cell is the argmax of its centroid dots, the lowest
  *    index winning ties, under Spark's double ordering (NaN above every
  *    number, -0.0 equal to 0.0);
  *  - a query probes the `nprobe` cells with the smallest negated dot
  *    (so a NaN dot is probed last), lowest index first on ties;
  *  - cos = round(dot / (qn · nn), 4) by the distributed tier's own
  *    kernel, [[graft.plans.CosineKernel]]: a zero norm product is a null
  *    cos, whatever the ANSI setting;
  *  - per query id value, rows rank by cos desc (NaN first, null last),
  *    then neighbor id asc; a neighbor with the query's id is skipped and
  *    a row with a null id can neither query nor match.
  */
private[operators] object IvfDriver {

  /** The answer as a one-partition local relation, or `None` when the
    * inputs are not small, their types are not covered, the collect
    * passes its cap or a row cannot be reproduced exactly.
    */
  def search(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
             k: Int, ws: Seq[Seq[Double]], nprobe: Int): Option[DataFrame] = {
    val spark = corpus.sparkSession
    val (qId, cId) = (queries.schema(idCol), corpus.schema(idCol))
    def elemType(df: DataFrame): Option[DataType] = df.schema(vecCol).dataType match {
      case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
      case _ => None
    }
    val dims = ws.head.size
    val covered = Seq(qId, cId).forall(f => f.dataType == LongType || f.dataType == IntegerType) &&
      elemType(queries).nonEmpty && elemType(corpus).nonEmpty && ws.forall(_.size == dims)
    if (!covered || !SizeRule.small(queries, corpus)) return None
    // the union needs one vector type: float when both are, else double
    // (float → double widening is exact, as the dot product widens anyway)
    val elem = if (elemType(queries) == elemType(corpus)) elemType(queries).get else DoubleType
    val cap = SizeRule.driverRows(spark, Similarity.ivfRowBytes(dims, elem.defaultSize))
    if (cap <= 0) return None
    def side(df: DataFrame, isQuery: Boolean) = df.select(lit(isQuery).as("q"),
      col(idCol).cast(LongType).as("id"), col(vecCol).cast(ArrayType(elem)).as("v"))
    val rows = DatasetBridge.collectInternal(
      side(queries, isQuery = true).union(side(corpus, isQuery = false))
        .coalesce(1).limit(cap.toInt + 1))
    if (rows.length > cap) return None

    // rows with a null id never surface (`query_id =!= neighbor_id` is
    // null for them), so they are dropped before the vector checks
    val live = rows.filter(!_.isNullAt(1))
    val vecs = new Array[Double](live.length * dims)
    for ((r, n) <- live.zipWithIndex) {
      if (r.isNullAt(2)) return None
      val a = r.getArray(2)
      if (a.numElements() != dims) return None
      for (i <- 0 until dims) {
        if (a.isNullAt(i)) return None
        vecs(n * dims + i) = if (elem == FloatType) a.getFloat(i).toDouble else a.getDouble(i)
      }
    }
    val ids = live.map(_.getLong(1))
    val (qs, cs) = live.indices.partition(live(_).getBoolean(0))
    val w = ws.map(_.toArray).toArray
    def dot(a: Array[Double], ao: Int, b: Array[Double], bo: Int): Double = {
      var acc = 0.0
      var i = 0
      while (i < dims) { acc += a(ao + i) * b(bo + i); i += 1 }
      acc
    }
    def centroidDots(n: Int): Array[Double] = w.map(dot(vecs, n * dims, _, 0))

    // corpus rows laid out by cell, each with its norm
    val cellOf = cs.map { n =>
      val d = centroidDots(n)
      var best = 0
      for (j <- 1 until d.length if compareDoubles(d(j), d(best)) > 0) best = j
      best
    }
    val byCell = cs.indices.groupBy(cellOf(_)).map { case (c, m) => c -> m.map(cs(_)) }
    val norm = new Array[Double](live.length)
    for (n <- live.indices) norm(n) = math.sqrt(dot(vecs, n * dims, vecs, n * dims))

    val hits = mutable.LongMap.empty[mutable.ArrayBuffer[(java.lang.Double, Long)]]
    for (qn <- qs) {
      val qid = ids(qn)
      val negDots = centroidDots(qn).map(-_)
      val probed = negDots.indices.sortWith { (a, b) =>
        val c = compareDoubles(negDots(a), negDots(b))
        c < 0 || (c == 0 && a < b)
      }.take(nprobe)
      val buf = hits.getOrElseUpdate(qid, mutable.ArrayBuffer.empty)
      for (cell <- probed; cn <- byCell.getOrElse(cell, Nil) if ids(cn) != qid)
        buf += ((CosineKernel.cos4OrNull(dot(vecs, qn * dims, vecs, cn * dims), norm(qn), norm(cn)), ids(cn)))
    }

    def typed(t: DataType, v: Long): Any = if (t == IntegerType) v.toInt else v
    val out = hits.toSeq.sortBy(_._1).flatMap { case (qid, buf) =>
      buf.sortWith(before).take(k).zipWithIndex.map { case ((cos, nid), r) =>
        Row(typed(qId.dataType, qid), typed(cId.dataType, nid), cos, r + 1L)
      }
    }
    val schema = StructType(Seq(qId.copy(name = "query_id"), cId.copy(name = "neighbor_id"),
      StructField("cos", DoubleType, nullable = true), StructField("rnk", LongType, nullable = false)))
    Some(spark.createDataFrame(out.asJava, schema).coalesce(1))
  }

  /** Spark's double ordering: NaN equals NaN and sorts above every
    * number, -0.0 equals 0.0.
    */
  private def compareDoubles(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** The rank order: cos desc with NaN first and null last, then
    * neighbor id asc.
    */
  private def before(a: (java.lang.Double, Long), b: (java.lang.Double, Long)): Boolean = {
    val c =
      if (a._1 == null || b._1 == null) (if (a._1 == null) 1 else 0) - (if (b._1 == null) 1 else 0)
      else compareDoubles(b._1, a._1)
    c < 0 || (c == 0 && a._2 < b._2)
  }
}
