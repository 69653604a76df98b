package graft

import org.apache.spark.sql.functions._

/** Synthesizes a larger scale factor from an existing testdata
  * directory, for scaling runs past the largest driver-provided SF
  * (SURVEY §6: the floor-then-linear claims deserve a measured point at
  * 10× the gated scale, and the container ships no sf1.0).
  *
  * Every FACT table is replicated `factor`× with shifted primary
  * keys — the full-registry scaling pass (r14) needs every query
  * family stressed, not just the document/lineitem ones:
  *   - `documents`: each replica's text is PERTURBED with a
  *     per-replica suffix so the scaled corpus carries near-dup
  *     structure (each doc gains factor−1 near-identical variants — a
  *     10× crawl with duplication, deliberately HARDER for the
  *     dedup/graph family than independent text) instead of a
  *     degenerate exact-dup explosion.
  *   - `lineitem` + `orders`: orderkeys shift by the SAME base (the
  *     max over both tables) so the fact-fact join stays aligned;
  *     `o_custkey` is untouched, so the customer dimension fans in
  *     factor× — the realistic shape (facts grow, dims don't).
  *   - `events`: event_id/user_id shift; timestamps stay — the stream
  *     gets factor× DENSER (more events per window/session/user-set),
  *     which is the hard direction for windowed/stateful ops.
  *   - `embeddings`: vec_id shifts, each replica's vector is nudged by
  *     a per-replica epsilon — factor−1 near-identical neighbors per
  *     vector, the ANN stress case.
  * Dimension tables (region/nation/customer/supplier/part) are copied
  * verbatim. Usage: `runMain graft.ScaleData <srcDir> <outDir> <factor>`.
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = args(2).toInt
    require(factor >= 2, s"factor must be >= 2, got $factor")
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))

    val replicas = spark.range(factor).select(col("id").cast("int").as("_rep"))

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val maxDoc = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    docs.crossJoin(replicas)
      .select(
        (col("doc_id") + col("_rep") * maxDoc).as("doc_id"),
        when(col("_rep") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" rep"), col("_rep"))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // lineitem + orders shift orderkeys by ONE shared base so the
    // fact-fact join (q03/q04/...) stays aligned per replica
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val maxOrd = math.max(
      li.agg(max(col("l_orderkey"))).head().getLong(0),
      ord.agg(max(col("o_orderkey"))).head().getLong(0)) + 1
    li.crossJoin(replicas)
      .select((Seq((col("l_orderkey") + col("_rep") * maxOrd).as("l_orderkey")) ++
        li.columns.filterNot(_ == "l_orderkey").map(col)): _*)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    ord.crossJoin(replicas)
      .select((Seq((col("o_orderkey") + col("_rep") * maxOrd).as("o_orderkey")) ++
        ord.columns.filterNot(_ == "o_orderkey").map(col)): _*)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    // events: ids shift, timestamps stay — factor× DENSER stream
    val ev = spark.read.parquet(s"$src/events.parquet")
    val evMaxima = ev.agg(max(col("event_id")), max(col("user_id"))).head()
    val maxEv = evMaxima.getLong(0) + 1
    val maxUser = evMaxima.getLong(1) + 1
    ev.crossJoin(replicas)
      .select((Seq(
        (col("event_id") + col("_rep") * maxEv).as("event_id"),
        (col("user_id") + col("_rep") * maxUser).as("user_id")) ++
        ev.columns.filterNot(c => c == "event_id" || c == "user_id").map(col)): _*)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // embeddings: per-replica epsilon nudge = factor−1 near-identical
    // neighbors per vector (the ANN stress case, not exact dups)
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val maxVec = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    emb.crossJoin(replicas)
      .select((Seq(
        (col("vec_id") + col("_rep") * maxVec).as("vec_id"),
        transform(col("embedding"),
          x => (x + col("_rep").cast("float") * lit(0.001f)).cast("float"))
          .as("embedding")) ++
        emb.columns.filterNot(c => c == "vec_id" || c == "embedding").map(col)): _*)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$src/$t.parquet"),
        java.nio.file.Paths.get(s"$out/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    println(s"scaled $src x$factor -> $out")
    spark.stop()
  }
}
