package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

import graft.SparkSpec
import graft.functions.VectorFunctions._
import graft.operators.{Vectors, VectorsSqlTwins}

class VectorExpressionsSpec extends SparkSpec {

  test("DotProduct matches the interpreted left-fold bit-for-bit") {
    import spark.implicits._
    val df = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val both = df.select(
      dot($"v", $"v").as("native"),
      expr("aggregate(zip_with(v, v, (x, y) -> x * y), 0D, (acc, x) -> acc + x)").as("folded"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
      java.lang.Double.doubleToLongBits(r.getDouble(1))))
  }

  test("DotProduct is null-safe and handles constants") {
    import spark.implicits._
    val df = Seq((Some(Seq(1.0, 2.0, 3.0))), (None: Option[Seq[Double]]))
      .toDF("v")
    val out = df.select(dot($"v", constVec(Seq(2.0, 0.5, 1.0))).as("d")).collect()
    assert(out(0).getDouble(0) == 1.0 * 2.0 + 2.0 * 0.5 + 3.0 * 1.0)
    assert(out(1).isNullAt(0))
  }

  test("DotProduct participates in whole-stage codegen") {
    import spark.implicits._
    val df = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .select(dot($"v", $"v").as("d"))
      .filter($"d" > 0)
    // the "*(n)" prefix marks operators fused into a WholeStageCodegen span
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[graft_dot""".r.findFirstIn(plan).isDefined,
      s"graft_dot not in a codegen span:\n$plan")
  }

  /** (vec_id, embedding ARRAY<DOUBLE>): the corpus' own vectors plus the
    * edge cases — null array, null elements, zero, -0.0, NaN, ±Inf, a
    * vector shorter than the planes and an empty one. */
  private def edgeVectors() = {
    val real = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
    val d = Vectors.Dims
    val rng = new scala.util.Random(9)
    def rand(): Seq[java.lang.Double] = Seq.fill(d)(Double.box(rng.nextDouble() * 2 - 1))
    val edges: Seq[(Long, Seq[java.lang.Double])] = Seq(
      -1L -> null,
      -2L -> rand().zipWithIndex.map { case (x, i) => if (i % 5 == 0) null else x },
      -3L -> Seq.fill(d)(Double.box(0.0)),
      -4L -> Seq.fill(d)(Double.box(-0.0)),
      -5L -> rand().updated(7, Double.box(Double.NaN)),
      -6L -> rand().updated(3, Double.box(Double.PositiveInfinity)),
      -7L -> rand().updated(3, Double.box(Double.PositiveInfinity))
        .updated(9, Double.box(Double.NegativeInfinity)),
      -8L -> rand().take(5),
      -9L -> Seq.empty)
    val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(DoubleType, containsNull = true))))
    val rows = edges.map { case (id, v) => org.apache.spark.sql.Row(id, v) }
    real.union(spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema))
  }

  test("SignBits equals the dots + aggregate twin bit for bit at 1, 16, 60 and 64 planes") {
    val emb = edgeVectors().cache()
    try Seq(1, 16, 60, 64).foreach { n =>
      val kernel = Vectors.signedN(emb, n).select(col("vec_id"), col("sig").as("k"))
      val twin = VectorsSqlTwins.signedNFold(emb, n).select(col("vec_id"), col("sig").as("t"))
      val got = kernel.join(twin, "vec_id").collect()
        .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
      assert(got.size == emb.count(), s"$n planes: rows lost in the join")
      got.foreach {
        // the one deliberate difference: a null vector has no signature
        case (-1L, (k, t)) => assert(k.isEmpty && t.contains(0L), s"$n planes, null v")
        case (id, (k, t)) => assert(k.isDefined && k == t,
          s"$n planes, vec $id: kernel ${k.map(x => java.lang.Long.toBinaryString(x.asInstanceOf[Long]))} " +
            s"twin ${t.map(x => java.lang.Long.toBinaryString(x.asInstanceOf[Long]))}")
      }
      // the cases that pin a bit each way: zero and -0.0 sign to 0, a
      // NaN sum sets every bit (Spark orders NaN above 0), empty is 0
      assert(got(-3L)._1.contains(0L) && got(-4L)._1.contains(0L) && got(-9L)._1.contains(0L))
      assert(got(-5L)._1.contains(if (n == 64) -1L else (1L << n) - 1))
    } finally emb.unpersist()
  }

  test("SignBits runs inside a whole-stage-codegen span whose methods HotSpot compiles") {
    val signed = Vectors.signedN(spark.read.parquet(s"$sfDir/embeddings.parquet"), 60)
    val plan = signed.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[[^\n]*graft_sign_bits""".r.findFirstIn(plan).isDefined,
      s"graft_sign_bits not in a codegen span:\n$plan")
    // HotSpot never JIT-compiles a method of more than 8,000 bytes of
    // bytecode (DontCompileHugeMethods, on by default); the unrolled
    // per-plane Column form generated a 13,608-byte one at 60 planes
    val spans = signed.queryExecution.debug.codegenToSeq()
    assert(spans.nonEmpty)
    spans.foreach { case (subtree, _, stats) =>
      assert(stats.maxMethodCodeSize < 8000,
        s"${stats.maxMethodCodeSize}-byte method in:\n$subtree")
    }
  }

  test("graft_sign_bits refuses more than 64 planes and wrong argument types") {
    import spark.implicits._
    val v = Seq(Seq(1.0, -1.0)).toDF("v")
    val wide = intercept[Exception](
      v.select(signBits($"v", Vectors.planesLit(65))).collect())
    assert(Iterator.iterate[Throwable](wide)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains("at most 64 planes"))), wide)
    intercept[org.apache.spark.sql.AnalysisException](
      v.select(signBits($"v", $"v")).collect())
  }
}
