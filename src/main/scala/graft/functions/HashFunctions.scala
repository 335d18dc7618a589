package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Portable hashing kernels for dedup / LSH.
  *
  * Everything derives from `md5(string)` so any engine with a standard md5
  * (Spark, DuckDB, Trino, ...) computes bit-identical signatures — that is
  * what lets the DuckDB oracle replay these operators exactly.
  *
  * Scale notes: MinHash band keys come map-side per row from one codegen'd
  * kernel, `graft.plans.MinhashBandKeys` (no explode, no shuffle); the
  * only shuffle any LSH consumer needs is the band→bucket exchange.
  */
object HashFunctions {

  /** Modulus for the universal-hash minhash family (fits 31 bits, so
    * a*h+b stays under 2^61 — no overflow in any engine).
    */
  val MinhashP = 1000000007L

  /** Base content hash for minhash: first 15 hex chars of md5 (60 bits)
    * reduced mod [[MinhashP]]. ONE md5 per shingle; the k hash functions
    * are then cheap affine maps over this value.
    */
  def shingleHash(t: Column): Column =
    pmod(conv(substring(md5(t), 1, 15), 16, 10).cast("long"), lit(MinhashP))

  /** Coefficients (a_i, b_i) of the affine minhash family
    * h_i(x) = (a_i*x + b_i) mod P — fixed constants reproducible in SQL.
    */
  def minhashCoeffs(k: Int): Seq[(Long, Long)] =
    (0 until k).map { i =>
      val a = (2654435761L * (i + 1) + 101L) % MinhashP
      val b = (40503L * (i + 1) + 7919L) % MinhashP
      require(a != 0)
      (a, b)
    }

  /** One affine minhash value for a pre-hashed shingle column. */
  def affineHash(h: Column, a: Long, b: Long): Column =
    pmod(h * lit(a) + lit(b), lit(MinhashP))

  /** `bands` integer LSH band keys per row of a shingle array (exact,
    * < 2^45; rare combine collisions only ever ADD candidates).
    */
  def minhashBandKeys(shingles: Column, k: Int, bands: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(graft.plans.MinhashBandKeys(
      org.apache.spark.sql.graft.ColumnBridge.expression(shingles), k, bands))

  /** One 32-bit half of the 64-bit SimHash token hash: 8 hex chars of the
    * token's md5 (`half` = 0 → chars 1-8 = bits 0..31, `half` = 1 →
    * chars 9-16 = bits 32..63). The two halves are kept as separate longs
    * everywhere — 64-bit packing would be sign/overflow-fragile across
    * engines, and per-half `bit_count` sums give the identical hamming
    * distance.
    */
  def tokenHalf(t: Column, half: Int): Column =
    conv(substring(md5(t), 1 + 8 * half, 8), 16, 10).cast("long")

  /** Salted 32-bit uniform hash of a key column — the deterministic
    * sampling kernel: `hash32(key) < rate·2³²` IS a reproducible
    * Bernoulli(rate) draw, identical in any engine with md5.
    */
  def hash32(c: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt + ":"), c.cast("string"))), 1, 8), 16, 10).cast("long")

  /** Deterministic md5-derived hex digit value (0..15) computed in Scala —
    * must stay in lockstep with the SQL form
    * `instr('0123456789abcdef', substr(md5(s),1,1)) - 1`.
    */
  def md5HexDigit(s: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val hex = d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    Integer.parseInt(hex.substring(0, 1), 16)
  }

  /** Random-hyperplane weights for cosine LSH: plane p, dim i gets weight
    * `(md5HexDigit("hp:p:i") - 7.5) / 8.0` — reproducible in SQL, so the
    * oracle can re-derive the identical planes inline.
    */
  def hyperplaneWeights(planes: Int, dims: Int): Seq[Seq[Double]] =
    (0 until planes).map { p =>
      (0 until dims).map(i => (md5HexDigit(s"hp:$p:$i") - 7.5) / 8.0)
    }

  /** Fixed IVF coarse-quantizer centroids, derived the same way (salt
    * "cent") so the oracle can re-derive identical cell assignments. A
    * production deployment would train these with k-means and broadcast
    * them; the assignment/search plumbing is identical.
    */
  def centroidWeights(cents: Int, dims: Int): Seq[Seq[Double]] =
    (0 until cents).map { c =>
      (0 until dims).map(i => (md5HexDigit(s"cent:$c:$i") - 7.5) / 8.0)
    }

  /** Johnson–Lindenstrauss projection weights (salt "jl"), same exact
    * binary-fraction derivation as [[hyperplaneWeights]] — a fixed
    * pseudo-random projection matrix any engine re-derives inline.
    */
  def projectionWeights(outDims: Int, dims: Int): Seq[Seq[Double]] =
    (0 until outDims).map { p =>
      (0 until dims).map(i => (md5HexDigit(s"jl:$p:$i") - 7.5) / 8.0)
    }

  /** Product-quantization codebooks, derived the same way (salt "pq"):
    * subspace m, code c → a subDims-dim sub-centroid. All values are
    * exact binary fractions ((2d-15)/16), so dot products and squared
    * norms are bit-identical across engines.
    */
  def pqCodebooks(m: Int, ksub: Int, subDims: Int): Seq[Seq[Seq[Double]]] =
    (0 until m).map { mm =>
      (0 until ksub).map { c =>
        (0 until subDims).map(i => (md5HexDigit(s"pq:$mm:$c:$i") - 7.5) / 8.0)
      }
    }
}
