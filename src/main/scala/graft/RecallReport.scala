package graft

/** Measured-recall probe for the sign-bit LSH family at arbitrary
  * scale (r20 — VERDICT r19 #1: the sf10 wide-signature near-dup run
  * reported 6.79M pairs against an UNKNOWN denominator; this main puts
  * the measured [[graft.operators.Dedup.embedRecallReport]] s-curve
  * next to any such number). Prints the per-decile table to stderr and
  * ONE JSON summary line to stdout: measured vs expected catch rate in
  * the at/above-τ buckets (= recall against exact ground truth on the
  * deterministic sample) and in the below-τ buckets (= the
  * wasted-verify rate the candidate join pays).
  *
  * Usage: runMain graft.RecallReport <sfDir> <sigBits> <nBands>
  *          <sampleMod> [tau=0.9]
  */
object RecallReport {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val sigBits = args(1).toInt
    val nBands = args(2).toInt
    val sampleMod = args(3).toInt
    val tau = if (args.length > 4) args(4).toDouble else 0.9
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val emb = graft.core.Tables(spark, dir, "embeddings")
      val rep = graft.operators.Dedup.embedRecallReport(
        emb, sigBits, nBands, sampleMod).collect()
      rep.foreach { r =>
        System.err.println(f"[recall] bucket ${r.getDouble(0)}%5.1f " +
          f"pairs ${r.getLong(1)}%10d caught ${r.getLong(2)}%10d " +
          f"measured ${r.getDouble(3)}%8.6f expected ${r.getDouble(4)}%8.6f")
      }
      // τ partitions buckets: a bucket [b, b+0.1) is at/above τ when
      // b >= τ (the conservative read — the boundary bucket straddles)
      val (above, below) = rep.partition(_.getDouble(0) >= tau)
      def agg(rs: Array[org.apache.spark.sql.Row]): (Long, Long) =
        (rs.map(_.getLong(1)).sum, rs.map(_.getLong(2)).sum)
      val (ap, ac) = agg(above)
      val (bp, bc) = agg(below)
      def ratio(n: Long, d: Long): String =
        if (d == 0) "null" else f"${n.toDouble / d}%.6f"
      println(s"""{"sf":"$dir","sig_bits":$sigBits,"n_bands":$nBands,""" +
        s""""sample_mod":$sampleMod,"tau":$tau,""" +
        s""""pairs_at_or_above_tau":$ap,"caught_at_or_above_tau":$ac,""" +
        s""""recall_measured":${ratio(ac, ap)},""" +
        s""""pairs_below_tau":$bp,"caught_below_tau":$bc,""" +
        s""""candidate_rate_below_tau":${ratio(bc, bp)}}""")
    } finally {
      graft.core.Caches.release()
      spark.stop()
    }
  }
}
