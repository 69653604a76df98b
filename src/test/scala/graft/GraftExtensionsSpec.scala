package graft

import graft.functions.HashKernels

class GraftExtensionsSpec extends SparkSpec {

  test("registered SQL functions evaluate the native expressions") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT
        |  graft_dot(array(1D, 2D, 3D), array(2D, 0.5D, 1D)) AS d,
        |  graft_sign_bits(array(1D, 2D), array(array(1D, 1D), array(-1D, 0D), array(0D, 1D))) AS sb,
        |  minhash_sigs(array('aa', 'bb'), 4) AS sigs,
        |  rolling_minhash('abcdefghij', 8) AS fp""".stripMargin).head()
    assert(r.getDouble(0) == 6.0)
    assert(r.getLong(1) == 5L) // planes 0 and 2 positive, plane 1 negative
    val expSigs = (0 until 4).map(s => Seq("aa", "bb")
      .map(x => HashKernels.mulMod61(HashKernels.seedMult(s), HashKernels.hash60(x))).min)
    assert(r.getSeq[Long](2) == expSigs)
    val expFp = (0 to 2).map(i => HashKernels.hash60("abcdefghij".substring(i, i + 8))).min
    assert(r.getLong(3) == expFp)
  }

  test("shingle/simhash/set-intersection SQL functions evaluate the kernels") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT
        |  word_shingles(array('a', 'b', 'c', 'a', 'b', 'c'), 3) AS shs,
        |  simhash60(array('x', 'x', 'y')) AS sh,
        |  sorted_hashes(array('p', 'q', 'p')) AS hs,
        |  sorted_intersect_count(array(1L, 3L, 5L), array(2L, 3L, 5L, 9L)) AS n""".stripMargin)
      .head()
    // 6 tokens -> 4 windows, distinct + first-occurrence order keeps 3
    assert(r.getSeq[String](0) == Seq("a b c", "b c a", "c a b"))
    assert(r.getLong(1) != 0L) // exact value covered by Dedup oracle parity
    assert(r.getSeq[Long](2) == Seq("p", "q").map(HashKernels.hash60).sorted)
    assert(r.getInt(3) == 2)
    // posting_pairs: i<j pairs surviving the τ size filter — of the three
    // pairs only (1,3) has min(n)/max(n) ≥ 0.5 (10/12; 10/40 and 12/40 fail)
    val pp = spark.sql(
      """SELECT posting_pairs(
        |  array(struct(1L, 10, 3L), struct(2L, 40, 5L), struct(3L, 12, 4L)),
        |  0.5D) AS ps""".stripMargin).head()
    val rows = pp.getSeq[org.apache.spark.sql.Row](0)
    assert(rows.map(p => (p.getLong(0), p.getLong(1), p.getInt(2), p.getInt(3),
      p.getLong(4), p.getLong(5))) == Seq((1L, 3L, 10, 12, 3L, 4L)))
  }

  test("extensions class injects the same functions into a fresh session") {
    val ext = new GraftExtensions()
    val extensions = new org.apache.spark.sql.SparkSessionExtensions
    ext(extensions) // must not throw; function list is shared with register()
    assert(GraftFunctions.descriptors.map(_._1.funcName).sorted ==
      Seq("graft_dot", "graft_sign_bits", "minhash_sigs", "posting_pairs", "rolling_minhash",
        "simhash60", "sorted_hashes", "sorted_intersect_count", "word_shingles"))
  }
}
