package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array, col, expr}

import graft.functions.VectorFunctions._

/** The SQL-expression twin of [[Vectors.signedN]]: the signature as it
  * was built before the [[graft.functions.SignBits]] kernel — one
  * [[graft.functions.DotProduct]] per plane gathered into a `dots`
  * array, its bits summed by an `aggregate` lambda. VectorExpressionsSpec
  * checks the kernel against it bit for bit, and PlanLintSpec checks
  * that its lint flags it; no query runs it.
  *
  * The optimizer inlines `dots` into the lambda (CollapseProject), so
  * this form evaluates nPlanes² dot products per row, interpreted. The
  * one value it gives differently: a null `v` signs to 0 here (every
  * `dots[p]` is null, and the CASE reads null as not positive), to NULL
  * in the kernel. */
object VectorsSqlTwins {

  def signedNFold(embeddings: DataFrame, nPlanes: Int): DataFrame = {
    val dots = array(Vectors.signsFor(nPlanes).map(row =>
      dot(col("v"), constVec(row.map(_.toDouble)))): _*)
    embeddings
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("dots", dots)
      .withColumn("sig", expr(
        s"""aggregate(sequence(0, ${nPlanes - 1}), CAST(0 AS BIGINT), (acc, p) ->
          |  acc + (CASE WHEN dots[p] > 0D THEN shiftleft(CAST(1 AS BIGINT), p) ELSE CAST(0 AS BIGINT) END))""".stripMargin))
      .withColumn("norm", l2norm(col("v")))
      .select(col("vec_id"), col("v"), col("norm"), col("sig"))
  }
}
