package graft.perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded copies of the tables the registry subset reads, in the
  * schemas `graft.core.Tables` loads: `<dir>/<name>.parquet`, one
  * parquet directory per table, at the sizes of the smallest test
  * scale factor (sf0.001, `TESTDATA.md`). Every value is a pure function of the seed.
  *   - `lineitem`: 6,000 rows over 1,500 orders, TPC-H-like columns.
  *   - `documents`: 500 texts of 8 to 90 words from a 40-word
  *     vocabulary; one in ten is a near copy (two words changed) of an
  *     earlier document, so the dedup joins have pairs to find.
  *   - `embeddings`: 500 unit vectors of 64 floats around ten label
  *     centres. */
object TableGen {
  val LineItems = 6000
  val Orders = 1500
  val Documents = 500
  val Embeddings = 500
  val Dims = 64
  val Labels = 10

  private val vocab = Array("the", "a", "fast", "slow", "big", "small", "key", "value", "order", "sort",
    "table", "scan", "merge", "part", "window", "hash", "join", "batch", "stream", "spark", "dup", "group",
    "query", "row", "data", "filter", "customer", "line", "agg", "column", "vector", "index", "page",
    "shard", "token", "model", "score", "cache", "block", "node")
  private val langs = Array("en", "en", "en", "fr", "de", "es", "zh")

  private def rng(seed: Long, table: Int): SplittableRandom = new SplittableRandom(Gen.mix(seed, table.toLong))

  def write(spark: SparkSession, seed: Long, dir: String): Unit = {
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    save("lineitem", lineitemSchema, lineitem(seed))
    save("documents", documentsSchema, documents(seed))
    save("embeddings", embeddingsSchema, embeddings(seed))
  }

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType), StructField("l_shipdate", TimestampType)))

  private val day0 = java.time.LocalDate.of(1995, 1, 2)
  private val shipDays = 2498 // through 2001-11-04

  def lineitem(seed: Long): Seq[Row] = {
    val r = rng(seed, 1)
    Seq.tabulate(LineItems) { _ =>
      val qty = (1 + r.nextInt(50)).toDouble
      val price = 900.0 + r.nextInt(20000) / 10.0
      val ship = day0.plusDays(r.nextInt(shipDays).toLong)
      val status = if (ship.isBefore(java.time.LocalDate.of(1998, 6, 17))) "F" else "O"
      val flag = if (status == "O") "N" else Seq("A", "R", "N")(r.nextInt(3))
      Row(r.nextInt(Orders).toLong, r.nextInt(200).toLong, r.nextInt(10).toLong, 1 + r.nextInt(7), qty,
        math.round(qty * price * 100) / 100.0, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, flag, status,
        Timestamp.valueOf(ship.atStartOfDay()))
    }
  }

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))

  def documents(seed: Long): Seq[Row] = {
    val r = rng(seed, 2)
    val texts = new Array[Array[String]](Documents)
    for (i <- 0 until Documents) {
      texts(i) =
        if (i > 0 && r.nextInt(10) == 0) {
          val copy = texts(r.nextInt(i)).clone()
          for (_ <- 0 until 2) copy(r.nextInt(copy.length)) = vocab(r.nextInt(vocab.length))
          copy
        } else Array.fill(8 + r.nextInt(83))(vocab(r.nextInt(vocab.length)))
    }
    Seq.tabulate(Documents) { i =>
      val text = texts(i).mkString(" ")
      Row(i.toLong, text, langs(r.nextInt(langs.length)), s"src${i % 20}", text.length.toLong)
    }
  }

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  def embeddings(seed: Long): Seq[Row] = {
    val r = rng(seed, 3)
    val centres = Array.fill(Labels, Dims)(r.nextDouble() * 2 - 1)
    Seq.tabulate(Embeddings) { i =>
      val label = r.nextInt(Labels)
      val v = centres(label).map(_ + (r.nextDouble() - 0.5) * 0.8)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
  }
}
