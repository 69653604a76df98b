package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic random-hyperplane material shared by the embedding LSH
  * operators (q35 embed near-dup, q36 LSH ANN) and their oracles.
  *
  * Plane p's sign on dimension d is +1 iff the first hex char of
  * md5("p_d") is in 0-7 — a coin flip both engines can replay exactly,
  * so the ±1 matrix is a compile-time constant here and a literal in the
  * oracle SQL. 16 planes × 64 dims.
  */
object Vectors {
  val NPlanes = 16
  val Dims = 64

  /** signs for an arbitrary plane count: plane p's coin on dimension d
    * depends only on (p, d), so widening the signature EXTENDS the
    * 16-plane matrix rather than reshuffling it — `signsFor(16)` is
    * exactly [[signs]], and a 64-plane signature's low 16 bits equal
    * the oracle-pinned 16-bit signature. */
  def signsFor(nPlanes: Int): IndexedSeq[IndexedSeq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until nPlanes).map { p =>
      (0 until Dims).map { d =>
        val hex = md.digest(s"${p}_${d}".getBytes("UTF-8"))
        // first hex char < '8' == top bit of first byte clear
        if ((hex(0) & 0x80) == 0) 1 else -1
      }
    }
  }

  /** signs(p)(d) ∈ {+1, -1}. */
  val signs: IndexedSeq[IndexedSeq[Int]] = signsFor(NPlanes)

  /** Spark literal: ARRAY<ARRAY<DOUBLE>> of ±1.0, indexed plane → dim,
    * for `nPlanes` planes ([[signsFor]]) — the planes argument of
    * [[graft.functions.SignBits]]. Plain doubles keep each plane's fold
    * a bare multiply-add, the same shape DuckDB's list_dot_product
    * evaluates over [[duckPlanesLitN]]. */
  def planesLit(nPlanes: Int): Column =
    array(signsFor(nPlanes).map(row => array(row.map(s => lit(s.toDouble)): _*)): _*)

  /** DuckDB literal: DOUBLE[][] of the same matrix, for list_dot_product. */
  def duckPlanesLit: String =
    signs.map(_.map(s => s"$s.0").mkString("[", ",", "]")).mkString("[", ",", "]")

  /** [[duckPlanesLit]] at an arbitrary plane count (the wide-signature
    * oracles build the identical extended matrix). */
  def duckPlanesLitN(nPlanes: Int): String =
    signsFor(nPlanes).map(_.map(s => s"$s.0").mkString("[", ",", "]"))
      .mkString("[", ",", "]")

  /** embeddings → (vec_id, v DOUBLE[], norm, sig) where sig packs the 16
    * hyperplane sign bits. Dot products are strict left folds (oracle
    * bit-parity with list_dot_product). Callers persist this when they
    * reuse it across joins.
    */
  def signed(embeddings: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    signedN(embeddings, NPlanes)

  /** [[signed]] at an arbitrary signature width (≤ 63 bits in one
    * BIGINT) — the SCALE knob (r19): 16 planes give at most 2^(16/b)
    * distinct values per band, a bucket-count CEILING that saturates
    * around ~10^5 vectors (every bucket's contents then grow linearly
    * with the corpus and the candidate join quadratically — the
    * measured sf10 q35 spill). Production near-dup at 100 TB runs
    * wider signatures (64 planes × 4 bands = 16 bits/band = 65 536
    * bucket values per band) and a near-dup τ (≥ 0.9), which keeps
    * buckets bounded by the DATA's twin clusters, not by the signature
    * alphabet. The 16-plane form stays the oracle-pinned default. */
  def signedN(embeddings: org.apache.spark.sql.DataFrame,
              nPlanes: Int): org.apache.spark.sql.DataFrame = {
    // 64 is safe: bit 63's contribution is Long.MIN_VALUE and the adds
    // are disjoint-bit (≡ OR), and banded readers mask after shifting,
    // so a negative sig decodes exactly
    require(nPlanes >= 1 && nPlanes <= 64,
      s"signature must fit one BIGINT: got $nPlanes planes")
    import org.apache.spark.sql.functions.{col, expr}
    import graft.functions.VectorFunctions._
    // one SignBits kernel per row: a single pass over the planes, every
    // plane's fold the DotProduct fold, in one codegen'd loop
    embeddings
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("sig", signBits(col("v"), planesLit(nPlanes)))
      .withColumn("norm", l2norm(col("v")))
      .select(col("vec_id"), col("v"), col("norm"), col("sig"))
  }
}
