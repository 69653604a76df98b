package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{DotProduct, MinHashSigs, PostingPairs, RollingMinHash, SignBits, SimHash60, SortedHashes, SortedIntersectCount, WordShingles}

/** SparkSessionExtensions entry point: makes the native expressions
  * available to SQL users —
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * [[GraftFunctions.register]] on an existing session) enables
  *
  *   graft_dot(ARRAY<DOUBLE>, ARRAY<DOUBLE>)       -> DOUBLE
  *   graft_sign_bits(ARRAY<DOUBLE>, ARRAY<ARRAY<DOUBLE>>) -> BIGINT
  *   minhash_sigs(ARRAY<STRING>, n)                -> ARRAY<BIGINT>
  *   rolling_minhash(STRING, k)                    -> BIGINT
  *   word_shingles(ARRAY<STRING>, n)               -> ARRAY<STRING>
  *   simhash60(ARRAY<STRING>)                      -> BIGINT
  *   sorted_hashes(ARRAY<STRING>)                  -> ARRAY<BIGINT>
  *   sorted_intersect_count(ARRAY<BIGINT>, ARRAY<BIGINT>) -> INT
  *   posting_pairs(ARRAY<STRUCT>, tau)             -> ARRAY<STRUCT> (i<j pairs)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.descriptors.foreach(ext.injectFunction)
}

object GraftFunctions {

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal INT, got $other")
  }

  private def doubleLit(e: Expression, fn: String): Double = e match {
    case Literal(v: Double, _) => v
    case Literal(v: Int, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal DOUBLE, got $other")
  }

  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))),
    (FunctionIdentifier("graft_sign_bits"),
      new ExpressionInfo(classOf[SignBits].getName, "graft_sign_bits"),
      (es: Seq[Expression]) => SignBits(es(0), es(1))),
    (FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
      (es: Seq[Expression]) => MinHashSigs(es(0), intLit(es(1), "minhash_sigs"))),
    (FunctionIdentifier("rolling_minhash"),
      new ExpressionInfo(classOf[RollingMinHash].getName, "rolling_minhash"),
      (es: Seq[Expression]) => RollingMinHash(es(0), intLit(es(1), "rolling_minhash"))),
    (FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (es: Seq[Expression]) => WordShingles(es(0), intLit(es(1), "word_shingles"))),
    (FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[SimHash60].getName, "simhash60"),
      (es: Seq[Expression]) => SimHash60(es(0))),
    (FunctionIdentifier("sorted_hashes"),
      new ExpressionInfo(classOf[SortedHashes].getName, "sorted_hashes"),
      (es: Seq[Expression]) => SortedHashes(es(0))),
    (FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      (es: Seq[Expression]) => SortedIntersectCount(es(0), es(1))),
    (FunctionIdentifier("posting_pairs"),
      new ExpressionInfo(classOf[PostingPairs].getName, "posting_pairs"),
      (es: Seq[Expression]) => PostingPairs(es(0), doubleLit(es(1), "posting_pairs"))))

  /** Imperative registration on an already-built session. */
  def register(spark: SparkSession): Unit = {
    val registry: FunctionRegistry = spark.sessionState.functionRegistry
    descriptors.foreach { case (id, info, builder) =>
      registry.registerFunction(id, info, builder)
    }
  }
}
