package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** graft's benchmark, one workload per run:
  * {{{
  *   Main --workload tail|backlog|registry --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  * Prints a detail line, then as its LAST stdout line one JSON object
  * with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
  * metrics untraced, the per-layer metrics traced. Its scratch files
  * go under DIR, its result and span files beside it. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      Paths.get(need("work")).toAbsolutePath)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of ${Workloads.keys.mkString(", ")}")
    require(a.seconds >= 1, s"--seconds must be at least 1, got ${a.seconds}")
    a
  }

  val Workloads: Map[String, Ctx => Outcome] =
    Map("tail" -> Tail.run, "backlog" -> Backlog.run, "registry" -> Registry.run)

  /** The settings `graft.Bench` runs the query registry with: the
    * sort-based shuffle writer, sorted bucketed scans, a codegen cache
    * that holds the fleet's classes. */
  val RegistrySettings: Seq[(String, String)] = Seq(
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  def session(work: Path, workload: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${Host.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Host.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
    if (workload == "registry") RegistrySettings.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    // exit explicitly either way: the S3 simulator's pool threads and a
    // failed workload's stray threads must not keep the JVM alive
    val code =
      try { run(parse(argv)); 0 }
      catch {
        case e: Throwable =>
          System.err.println("[perfbench] run failed:")
          e.printStackTrace()
          1
      }
    System.out.flush()
    System.exit(code)
  }

  private def run(args: Args): Unit = {
    Files.createDirectories(args.work)
    val spark = session(args.work, args.workload)
    val ctx = new Ctx(args, spark)
    ctx.phase("session")
    val out = Workloads(args.workload)(ctx)
    ctx.phase("workload")
    val metrics = if (args.trace) Layers.complete(out.layer) else out.e2e
    if (out.host.contended)
      System.err.println(s"[perfbench] contended host: ${out.host.json}; set this run aside")
    val resultsDir = args.work.getParent.resolve("results")
    val detail = Json.obj(Seq(
      "workload" -> Json.str(args.workload), "seed" -> args.seed.toString,
      "seconds" -> args.seconds.toString, "trace" -> args.trace.toString,
      "end_to_end" -> Metric.json(out.e2e)) ++
      out.detail ++ Seq("host" -> out.host.json) ++
      (if (args.trace) Seq("trace" -> ctx.traceJson(out.e2e, resultsDir)) else Nil))
    Files.createDirectories(resultsDir)
    Files.write(resultsDir.resolve(s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}.json"),
      (detail + "\n").getBytes(UTF_8))
    if (args.trace) ctx.rec.writeSpans(args.work.getParent.resolve("trace")
      .resolve(s"${args.workload}-seed${args.seed}.spans.jsonl"))
    spark.stop()
    ctx.phase("stopped")
    println(detail)
    println(Json.obj(Seq(
      "correct" -> (ctx.failed.get == 0).toString,
      "attempted" -> math.max(1L, ctx.attempted.get).toString,
      "failed" -> ctx.failed.get.toString,
      "metrics" -> Metric.json(metrics))))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally st.close()
    }
}

final case class Metric(name: String, value: Double, unit: String)

object Metric {
  def json(ms: Seq[Metric]): String = Json.obj(ms.map(m =>
    m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))
}

/** What a workload hands back: its end-to-end and per-layer metrics,
  * extra fields for the detail line, and its measured window's host
  * readings. */
final case class Outcome(e2e: Seq[Metric], layer: Map[String, Double], detail: Seq[(String, String)],
                         host: Host.Window)

/** Per-run state shared by a workload's threads. */
final class Ctx(val args: Main.Args, val spark: SparkSession) {
  val rec = new Recorder(args.trace)
  val gen = new Gen(args.seed)
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val tasks: Option[TaskTally] =
    if (args.trace) Some(new TaskTally).map { t => spark.sparkContext.addSparkListener(t); t } else None
  if (args.trace) spark.streams.addListener(new ProgressTally(rec))
  if (args.trace && args.workload == "registry") spark.listenerManager.register(new PhaseTally(rec))

  /** One operation: counted as attempted, and as failed if it throws. */
  def op[T](f: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(f)
    catch {
      case e: Exception =>
        failed.incrementAndGet()
        System.err.println(s"[perfbench] operation failed: $e")
        None
    }
  }

  /** One correctness check: counted as attempted, and as failed if false. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      System.err.println(s"[perfbench] check failed: $what")
    }
  }

  /** Note on stderr that a phase ended, with the JVM's uptime. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $name")

  def dir(name: String): Path = Files.createDirectories(args.work.resolve(name))

  /** Listener tallies complete up to now. */
  def drainListeners(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** The traced run's own overhead: its span bookkeeping time, and its
    * end-to-end values against the untraced run of the same workload
    * and seed when that run's result is on disk. */
  def traceJson(tracedE2e: Seq[Metric], resultsDir: Path): String = {
    val untraced = resultsDir.resolve(s"${args.workload}-seed${args.seed}-trace0.json")
    val vs =
      if (!Files.exists(untraced)) Nil
      else {
        val txt = new String(Files.readAllBytes(untraced), UTF_8)
        tracedE2e.flatMap { m =>
          val re = ("\"" + java.util.regex.Pattern.quote(m.name) + "\":\\{\"value\":([-0-9.eE]+)").r
          re.findFirstMatchIn(txt).map(_.group(1).toDouble).filter(_ != 0).map(u =>
            m.name -> Json.num((m.value - u) / u))
        }
      }
    Json.obj(Seq("spans" -> rec.spanCount.toString, "bookkeeping_ms" -> Json.num(rec.costMs),
      "overhead_vs_untraced" -> Json.obj(vs)))
  }
}
