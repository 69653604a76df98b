package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Caches
import Graph.{CheckpointEvery, Pico, dampingRational, roundDivPos}

/** DataFrame twins of the [[Graph]] RDD loops: the same algorithms
  * declared with joins, aggregates and localCheckpoint lineage
  * barriers. GraphSpec checks each RDD core against its twin; no query
  * runs them. */
object GraphSqlTwins {

  /** Run an iterative DataFrame loop with shuffle parallelism sized to
    * its data: one shuffle partition per ~1M vertices, clamped to the
    * session default. The session conf is restored in `finally`; safe
    * because the loops execute eagerly inside `body`, so no lazy plan
    * escapes with the narrowed setting. NOT safe under concurrent
    * queries on the same session (it mutates the session-global conf);
    * the specs that call the twins run single-threaded. */
  private def withLoopParallelism[T](df: DataFrame, n: Long)(body: => T): T = {
    val spark = df.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val parts = math.max(1L, math.min(prev.toLong, n / 1000000L + 1))
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** DataFrame reference implementation of [[Graph.connectedComponents]] —
    * same algorithm, declared with joins/windows and localCheckpoint
    * lineage barriers. The differential-testing oracle for
    * the RDD core (GraphSpec asserts equality on every run); not used
    * by any gated query. */
  def connectedComponentsSql(edges0: DataFrame, maxIters: Int = 50): DataFrame = {
    val half = edges0.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val edges = Caches.persist(
      half.union(half.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    var labels = edges.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("l"))
      .localCheckpoint(true)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      // sum over zero rows is SQL NULL — normalize so the empty graph
      // converges (compareTo on null would NPE) like the RDD core does
      Option(df.agg(sum(col("l").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prev = labelSum(labels)
    var it = 0
    var done = false
    withLoopParallelism(labels, labels.count()) {
      while (!done && it < maxIters) {
        val nbrMin = edges
          .join(labels.select(col("v").as("dst"), col("l").as("nl")), "dst")
          .groupBy(col("src")).agg(min(col("nl")).as("nl"))
          .withColumnRenamed("src", "v")
        val stepped = labels.join(nbrMin, Seq("v"), "left")
          .select(col("v"), least(col("l"), coalesce(col("nl"), col("l"))).as("l"))
          .persist()
        val parents = stepped.select(col("v").as("pv"), col("l").as("pl"))
        labels = stepped.join(parents, col("l") === col("pv"), "left")
          .select(col("v"), least(col("l"), coalesce(col("pl"), col("l"))).as("l"))
          .localCheckpoint(true)
        stepped.unpersist(false)
        val cur = labelSum(labels)
        done = cur.compareTo(prev) == 0
        prev = cur
        it += 1
      }
    }
    labels.select(col("v"), col("l").as("component"))
  }

  /** DataFrame reference implementation of [[Graph.pageRank]] — identical
    * semantics declared with SQL expressions and localCheckpoint
    * lineage barriers. The differential-testing oracle for
    * the RDD core (GraphSpec asserts bit-identical ranks on every run);
    * not used by any gated query. */
  def pageRankSql(edges0: DataFrame, iters: Int = 10, damping: Double = 0.85,
                                 earlyExit: Boolean = true): DataFrame = {
    val half = edges0.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val edges = Caches.persist(
      half.union(half.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val edgesDeg = Caches.persist(edges.join(deg, "src"))
    val verts = Caches.persist(deg.select(col("src").as("v"), col("outdeg")))
    val n = verts.count()
    if (n == 0) // mirror pageRank's empty-graph early return (the
      // picounit divisions below would otherwise / by zero at plan time)
      return verts.select(col("v"), col("outdeg").cast("long").as("degree"),
        lit(0.0).as("pagerank"))
    val (dNum, dDen) = dampingRational(damping)
    val basep = roundDivPos((dDen - dNum) * Pico, dDen * n)
    var ranks: DataFrame = null
    withLoopParallelism(verts, n) {
      // ranks as integer picounits throughout (see [[Graph.Pico]]): `div` is
      // Spark SQL's integral division, so the whole loop is exact long
      // arithmetic — the same longs as the RDD kernel and the oracle
      ranks = verts.select(col("v"), lit(roundDivPos(Pico, n)).as("r"))
        .localCheckpoint(true)
      var converged = false
      var i = 1
      while (!converged && i <= iters) {
        val contribs = edgesDeg
          .join(ranks.select(col("v").as("src"), col("r")), "src")
          .select(col("dst"),
            expr("(2L * r + outdeg) div (2L * outdeg)").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        val next = ranks.select(col("v"), col("r").as("r_prev"))
          .join(contribs.withColumnRenamed("dst", "v"), Seq("v"), "left")
          .select(col("v"),
            expr(s"${basep}L + (2L * ${dNum}L * coalesce(s, 0L) + ${dDen}L) " +
              s"div (2L * ${dDen}L)").as("r"),
            col("r_prev"))
        if (i == 1 || i % CheckpointEvery == 0 || i == iters) {
          val checked = next.localCheckpoint(true)
          converged = earlyExit && checked.filter(col("r") =!= col("r_prev")).isEmpty
          ranks = checked.select(col("v"), col("r"))
        } else {
          ranks = next.select(col("v"), col("r"))
        }
        i += 1
      }
    }
    ranks.join(verts, "v")
      .select(col("v"), col("outdeg").cast("long").as("degree"),
        (col("r").cast("double") / lit(Pico.toDouble)).as("pagerank"))
  }

  /** The one-loop DataFrame twin of [[Graph.labelPropagation]] — the
    * differential oracle, never the shipped path (per-round plan
    * re-analysis; see the [[Graph]] scaladoc). Same synchronous
    * most-frequent/min-tie rule, argmax realized as max-count filter +
    * min-label (no struct-ordering tricks, so it is obviously the same
    * rule). */
  def labelPropagationSql(edges0: DataFrame, iters: Int = 5): DataFrame = {
    val half = edges0.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val edges = Caches.persist(
      half.union(half.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    var labels = Caches.persist(
      edges.select(col("src").as("v")).distinct()
        .select(col("v"), col("v").as("label")))
    var it = 0
    while (it < iters) {
      val msgs = edges
        .join(labels.select(col("v").as("src"), col("label")), "src")
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
      val mx = msgs.groupBy(col("dst")).agg(max(col("cnt")).as("mc"))
      val best = msgs.join(mx, "dst").filter(col("cnt") === col("mc"))
        .groupBy(col("dst")).agg(min(col("label")).as("nl"))
      val next = Caches.persist(
        labels.join(best.withColumnRenamed("dst", "v"), Seq("v"), "left")
          .select(col("v"), coalesce(col("nl"), col("label")).as("label")))
      next.count()
      labels = next
      it += 1
    }
    labels
  }
}
