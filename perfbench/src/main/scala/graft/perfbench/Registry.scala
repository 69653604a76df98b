package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry

/** `registry`: a subset of `SparkEntry.queries`, which reaches the
  * operator and function packages, on seeded tables. Set-up writes
  * the tables ([[TableGen]]). An untimed warm-up pass writes each
  * query's result as parquet, with its oracle SQL, for the DuckDB
  * cross-check `run.py` makes after the JVM exits; [[WarmPasses]]
  * untimed passes follow. The measured window then runs whole passes,
  * each query written to the `noop` sink, while the window has time
  * left. The stream log is idle. */
object Registry {
  /** Three of the ROADMAP's carried optimisation targets, whose warm
    * pass (about 0.4, 0.9 and 1.2 s on 4 cores) fits a run. */
  val Queries: Seq[String] = Seq("q47_percentile", "q68_lm_score", "q88_neardup_wide")
  val SetupReps = 3
  /** Untimed passes, one query after another, between the parallel
    * warm-up pass and the window. Passes keep getting faster for about
    * five passes (4.5 s, then 3.7, 3.4, 2.8 and 2.4 s on 4 cores); timed
    * from the first, a window's median sat wherever on that slope the
    * host's speed left it. */
  val WarmPasses = 4
  /** The window runs whole passes until `--seconds` have passed, and at
    * least this many, so that its medians set a slow pass aside. The
    * medians leave out passes during which the hypervisor stole more
    * than [[Host.stolen]] allows; to run this many others, the window
    * runs on for up to [[ExtraSeconds]], and failing that the medians
    * cover the least stolen this many. */
  val MinPasses = 3
  val ExtraSeconds = 6
  /** Where the warm-up pass leaves its results for the cross-check. */
  val OutDir = "registry-out"
  val TablesDir = "registry-tables"

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val setups = ArrayBuffer.empty[Double]
    for (rep <- 0 until SetupReps) {
      val dir = ctx.args.work.resolve(s"$TablesDir-$rep")
      val t0 = System.nanoTime()
      ctx.op(TableGen.write(spark, ctx.gen.seed, dir.toString))
      setups += (System.nanoTime() - t0) / 1e9
      if (rep < SetupReps - 1) Main.deleteTree(dir)
    }
    val tables = ctx.args.work.resolve(s"$TablesDir-${SetupReps - 1}")
    Files.move(tables, ctx.args.work.resolve(TablesDir))
    val dir = ctx.args.work.resolve(TablesDir).toString
    ctx.phase("set-up")

    def query(name: String, sink: org.apache.spark.sql.DataFrame => Unit): Option[Double] = {
      val t0 = System.nanoTime()
      ctx.op(SparkProbe.inGroup(spark, SparkProbe.Registry)(ctx.rec.withRequest(name)(ctx.rec.span("registry.query") {
        val b0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, dir)
        ctx.rec.sample("registry.build", (System.nanoTime() - b0) / 1e6)
        try sink(df)
        finally { graft.core.Caches.release(); spark.catalog.clearCache() }
      }))).map(_ => (System.nanoTime() - t0) / 1e6)
    }

    // warm-up, untimed: each result to parquet for the cross-check. The
    // queries run side by side here; only the window runs them in turn.
    val out = ctx.dir(OutDir)
    val warm = Queries.map(q => new Thread(() =>
      query(q, df => df.coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)), s"perfbench-$q"))
    warm.foreach(_.start())
    warm.foreach(_.join())
    val oracles = Queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
    ctx.check(oracles.size == Queries.size, s"queries without oracle SQL: ${Queries.filterNot(SparkEntry.oracleSql.contains)}")
    Files.write(out.resolve("oracle_sql.json"),
      Json.obj(oracles.map { case (q, sql) => q -> Json.str(sql) }).getBytes(UTF_8))

    def pass(): Map[String, Double] =
      Queries.flatMap(q => query(q, _.write.format("noop").mode("overwrite").save()).map(q -> _)).toMap
    for (_ <- 0 until WarmPasses) pass()

    ctx.phase("warm-up")
    ctx.rec.reset()
    ctx.tasks.foreach(_.reset())
    val compiles0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val mark = Host.start()
    val t0 = System.nanoTime()
    val windowNs = ctx.args.seconds * 1000000000L
    // each pass's wall ms, each query's wall ms in it, and the cores
    // the hypervisor stole meanwhile
    val passes = ArrayBuffer.empty[Double]
    val perPass = ArrayBuffer.empty[Map[String, Double]]
    val stolen = ArrayBuffer.empty[Double]
    def clean = stolen.count(!Host.stolen(_))
    def elapsed = System.nanoTime() - t0
    while (passes.size < MinPasses || elapsed < windowNs ||
           (clean < MinPasses && elapsed < windowNs + ExtraSeconds * 1000000000L)) {
      val p0 = System.nanoTime()
      val s0 = Host.stealTicks
      perPass += pass()
      val wallNs = System.nanoTime() - p0
      passes += wallNs / 1e6
      stolen += Host.stealCores(Host.stealTicks - s0, wallNs)
    }
    val window = Host.window(mark)
    ctx.phase("window")
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0

    // medians over the passes the hypervisor left alone, or, when too
    // few were, over the MinPasses least stolen
    val kept =
      if (clean >= MinPasses) passes.indices.filterNot(i => Host.stolen(stolen(i)))
      else passes.indices.sortBy(stolen).take(MinPasses).sorted
    val perQuery = Queries.map(q => q -> kept.flatMap(i => perPass(i).get(q))).toMap
    val medians = Queries.map(q => q -> Pct.median(perQuery(q)))
    val median = medians.toMap
    // the pass, and q68 and q88 in slots of their own; q47 is in the trace
    val e2e = Seq(
      Metric("setup_s", Pct.median(setups), "s"),
      Metric("ack_p50_ms", median("q68_lm_score"), "ms"),
      Metric("read_p50_ms", Pct.median(kept.map(passes)), "ms"),
      Metric("aux_p50_ms", median("q88_neardup_wide"), "ms"))

    val layer = Layers.common(ctx, window) ++ Layers.registry(ctx, window, compiles, passes.size) ++
      medians.map { case (q, ms) => s"registry.${q}_s" -> ms / 1e3 }

    Outcome(e2e, layer, Seq(
      "setup_s_each" -> setups.map(Json.num).mkString("[", ",", "]"),
      "queries" -> Json.str(Queries.mkString(",")),
      "pass_ms_each" -> passes.map(Json.num).mkString("[", ",", "]"),
      "pass_steal_cores_each" -> stolen.map(Json.num).mkString("[", ",", "]"),
      "passes_kept" -> kept.size.toString,
      "query_ms" -> Json.obj(Queries.map(q => q -> Pct.summary(perQuery(q)).json)),
      "query_ms_each" -> Json.obj(Queries.map(q => q -> perPass.map(_.get(q).map(Json.num).getOrElse("null")).mkString("[", ",", "]"))),
      "tables" -> Json.str(Paths.get(dir).getFileName.toString), "results" -> Json.str(OutDir)),
      window)
  }
}
