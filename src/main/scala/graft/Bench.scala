package graft

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{name:sec}}.
  *
  * Each query materializes through the noop sink (full plan execution,
  * nothing collected to the driver) — `count()` would let Catalyst prune
  * work a real consumer pays for. One warm pass at sf0.001 first so JVM/
  * codegen warm-up isn't billed to the first query. Each query then runs
  * SPARK_GRAFT_BENCH_RUNS times (default 5) at the bench SF and reports
  * the per-query MEDIAN — single runs at these durations are too noisy
  * to steer optimization (VERDICT r1 item 3), and n=3 medians still let
  * one slow outlier through often enough to fake a regression on an
  * untouched query (VERDICT r2 item 1 bisect) — n=5 runs with every raw
  * sample dumped to stderr makes noise visible instead of argued about.
  *
  * The n runs are INTERLEAVED round-robin across queries (pass 1 runs
  * every query once, then pass 2, ...) rather than back-to-back per
  * query: a transient machine-contention window then contributes at
  * most ONE outlier sample to many queries' medians (which the median
  * absorbs) instead of ALL samples of the few queries unlucky enough to
  * be scheduled inside it — the failure mode that corrupted two rounds
  * of round-over-round signal (r6 inflated q33–q48 up to 11×, r7
  * q13–q30 up to 6.6×, both contiguous ID blocks = a time window
  * sweeping the old serial pass; VERDICT r7 item 1).
  *
  * The JSON line reports per-query wall-second medians at 2 decimals —
  * SCALARS, not [wall,cpu] pairs. The r8 pair format made the line
  * ~3.3 KB and the driver's 2000-char tail capture (2 KB minus sbt's
  * 72-char trailing "[success]" line = a 1928-char budget) cut q01–q18
  * from the artifact. Wall-only at 2 decimals is 1780 chars for 76
  * queries (~23 chars/entry), leaving ~150 chars of headroom; each new
  * query costs its name length + 8, and trailing zeros are stripped
  * from the map values ("0.50" → "0.5"), so the budget holds to ~83
  * queries (79 queries measure 1842 chars).
  * The cpu medians are NOT lost: the stdout line carries the AGGREGATE
  * evidence (`cpu` total + `load` start/end — enough to prove "wall
  * inflated, cpu flat, load high" from the artifact alone, r15), and
  * the PER-QUERY medians + every raw sample go to the committed
  * BENCH_DETAIL.json sidecar and stderr (the artifact must above all
  * be COMPLETE, and a second 83-entry map cannot fit the budget).
  *
  * SPARK_GRAFT_BENCH_ONLY=q08_semi_anti,q10_rollup restricts the run to
  * a comma-separated subset (bisecting; the JSON contract is unchanged).
  */
object Bench {
  /** The driver's tail capture is 2000 chars minus sbt's ~72-char
    * trailing "[success]" line. A longer stdout line silently loses its
    * HEAD (q01 onward) — the failure mode that blanked `parsed` for
    * eight rounds — so the budget is enforced, not documented:
    * [[renderLine]] callers and BenchSpec both check against it. */
  private[graft] val TailBudget = 1928

  /** 2-decimal fixed format; Locale.ROOT because the f-interpolator
    * uses the JVM default locale, and a comma-decimal locale would
    * corrupt the JSON artifact. The ONE formatting helper for both the
    * stdout line and main's stderr medians — two copies would
    * desynchronize the artifact from its diagnostics. */
  private[graft] def fmt2(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(x))

  /** fmt2 with the bench's failed-run sentinel. */
  private[graft] def f2(x: Double): String = if (x < 0) "-1" else fmt2(x)

  /** Assemble the one-line JSON artifact. Pure (testable): BenchSpec
    * renders the REAL query registry through this and fails the build
    * the moment inventory growth would overflow [[TailBudget]] — before
    * a driver round finds out the hard way.
    *
    * SELF-DIAGNOSIS (VERDICT r15 #4): the artifact now carries the
    * aggregate contention evidence itself — `cpu` (sum of per-query
    * process-CPU medians) and `load` (/proc/loadavg 1-min at pass
    * start/end) — so "wall inflated, cpu flat, load high" is provable
    * from the JSON line alone, with no stderr archaeology. The
    * PER-QUERY cpu medians cannot fit (a second 83-entry map is
    * ~1.8 KB against the 1928-char tail budget that already cut q01-q18
    * once, r8), so they go to the committed sidecar
    * [[DetailFileEnv]] file instead, alongside every raw sample. */
  private[graft] def renderLine(wallMedians: Seq[(String, Double)],
                                failures: Int, flaky: Int, sfDir: String,
                                cpuTotal: Double = -1.0,
                                load: (Double, Double) = (-1.0, -1.0),
                                withDiag: Boolean = true,
                                ctn: String = "",
                                includeLoad: Boolean = true): String = {
    // trailing zeros stripped ("0.50" -> "0.5", "2.00" -> "2"): still
    // valid JSON numbers, ~40-60 chars of budget back across 80 queries
    def f2c(x: Double): String = {
      val s = f2(x)
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse else s
    }
    def f1c(x: Double): String = {
      val s = if (x < 0) "-1" else String.format(java.util.Locale.ROOT, "%.1f", Double.box(x))
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse else s
    }
    val qs = wallMedians.map { case (k, w) => "\"" + k + "\":" + f2c(w) }
      .mkString("{", ",", "}")
    val total = wallMedians.map(_._2).filter(_ >= 0).sum
    // cpu as whole seconds, load at one decimal: the diagnosis needs
    // only the wall-vs-cpu RATIO and the other-process pressure, and
    // every char here competes with query entries for the budget
    // the steal-guard flag rides the stdout artifact ONLY when it is a
    // warning: absence == clean (the sidecar's contention block always
    // carries the verdict either way) — a quiet round must not spend
    // 12 chars of the tail budget saying "nothing happened"
    val ctnField = if (ctn.isEmpty || ctn == "ok" || !withDiag) ""
      else s""""ctn":"$ctn","""
    val loadField = if (!includeLoad) ""
      else s""""load":[${f1c(load._1)},${f1c(load._2)}],"""
    val diag = if (!withDiag) "" else
      s""""cpu":${math.round(cpuTotal)},""" + loadField + ctnField
    // sf as the basename: the directory prefix is the same every round
    // and its 15 chars are better spent keeping the diag fields in
    val sf = sfDir.split("/").filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    s"""{"metric":"total","value":${f2(total)},"unit":"sec","queries":$qs,""" +
      diag + s""""failures":$failures,"flaky":$flaky,"sf":"$sf"}"""
  }

  /** Env var naming the per-query detail sidecar (default
    * BENCH_DETAIL.json in the working directory — committed per round
    * so the judge can read per-query wall AND cpu medians plus every
    * raw sample without depending on the driver's stderr capture). */
  private[graft] val DetailFileEnv = "SPARK_GRAFT_BENCH_DETAIL"

  /** Extract the per-query wall-median map from a detail-sidecar JSON
    * (the `"wall":{...}` object). Hand-rolled like the writer — the
    * sidecar format is ours on both ends. Empty on any shape miss. */
  private[graft] def parseWallMap(detailJson: String): Map[String, Double] =
    parseNumMap(detailJson, "wall")

  /** The cpu-median sibling of [[parseWallMap]] — the steal guard's
    * reference leg needs both axes. */
  private[graft] def parseCpuMap(detailJson: String): Map[String, Double] =
    parseNumMap(detailJson, "cpu")

  private def parseNumMap(detailJson: String, key: String): Map[String, Double] = {
    val i = detailJson.indexOf("\"" + key + "\":{")
    if (i < 0) return Map.empty
    val start = detailJson.indexOf('{', i + key.length + 2)
    val end = detailJson.indexOf('}', start)
    if (start < 0 || end < 0) return Map.empty
    detailJson.substring(start + 1, end).split(",").toSeq
      .filter(_.contains(":")).flatMap { e =>
        val Array(k, v) = e.split(":", 2)
        try Some(k.trim.stripPrefix("\"").stripSuffix("\"") -> v.toDouble)
        catch { case _: NumberFormatException => None }
      }.toMap
  }

  /** Per-query wall ratios current/reference for queries present and
    * healthy in both — the SCALE CURVE evidence (VERDICT r15 #5): a
    * bench pass at sf1.0 against the committed sf0.1 sidecar prints
    * how far from linear each family sits, diffable round-over-round
    * instead of narrated. */
  private[graft] def scaleRatios(cur: Seq[(String, Double)],
                                 ref: Map[String, Double]): Seq[(String, Double)] =
    cur.flatMap { case (n, w) =>
      ref.get(n).filter(r => r > 0 && w >= 0).map(r => n -> w / r)
    }

  /** Steal-guard verdict (r20 — VERDICT r19 #2: three poisoned driver
    * sidecars in four rounds, each diagnosed AFTER commit from
    * git-archived evidence; now the bench grades itself). Two legs,
    * both riding data the run already collects:
    *
    * INTRA-RUN: samples are interleaved (pass p runs every query once),
    * so host steal during one pass inflates THAT pass's wall total
    * across many queries while its cpu total stays flat. wallSpread =
    * max/min of per-pass wall totals; a spread > 1.25 that exceeds the
    * cpu spread by > 1.15x is the documented signature.
    *
    * VS-REFERENCE (same-sf sidecar only): median per-query wall ratio
    * vs median cpu ratio — the r19 episode read wall +28% / cpu +12%
    * on a diff that touched no kernel. wallMed > 1.15 with wallMed >
    * 1.10x cpuMed flags it.
    *
    * Returns "ok", "sus" (one leg fired), or "poi" (both, or the
    * reference leg alone — cross-round poison is what reaches the
    * committed artifact). Thresholds calibrated on the r2/r7/r17/r19
    * episodes (ratios 1.28-6.6 on the poisoned side, <= 1.10 quiet).
    */
  private[graft] def contentionVerdict(
      passWall: Seq[Double], passCpu: Seq[Double],
      refRatios: Option[(Double, Double)]): String = {
    def spread(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ > 0)
      if (ok.size < 2) 1.0 else ok.max / ok.min
    }
    val wallSp = spread(passWall)
    val cpuSp = spread(passCpu)
    val intra = wallSp > 1.25 && wallSp > cpuSp * 1.15
    val ref = refRatios.exists { case (wallMed, cpuMed) =>
      wallMed > 1.15 && wallMed > cpuMed * 1.10
    }
    if (ref) "poi" else if (intra) "sus" else "ok"
  }

  /** 1-minute loadavg (other-process pressure — the contention
    * signature's third leg); -1 where /proc is unavailable. */
  private[graft] def loadAvg1(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")

    // process CPU alongside wall time: machine contention during a bench
    // pass inflates wall but not CPU (the BENCH_r02 q08 "regression"
    // signature — shuffle-heavy queries 3-9x slower on the driver pass,
    // CPU-bound kernels unchanged, nothing reproducible locally at n=5)
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    var ccRounds: Option[(Long, Int, Vector[graft.operators.Graph.CcRound])] = None
    def run(dir: String, name: String): (Double, Double) = {
      val t0 = System.nanoTime()
      val c0 = osBean.getProcessCpuTime
      try SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return (-1.0, -1.0)
      } finally {
        graft.core.Caches.release() // queries persist() reused subtrees;
        spark.catalog.clearCache()  // don't let dead cache skew timings
      }
      // the CC fixpoint accounting (VERDICT r19 #3) — keep the LAST
      // bench-sf q55 run's round table for the detail sidecar
      if (name == "q55_dedup_clusters" && dir == sfDir &&
          graft.operators.Graph.lastCcRounds.nonEmpty)
        ccRounds = Some((graft.operators.Graph.lastCcEdges,
          graft.operators.Graph.lastCcParts,
          graft.operators.Graph.lastCcRounds))
      ((System.nanoTime() - t0) / 1e9, (osBean.getProcessCpuTime - c0) / 1e9)
    }

    val loadStart = loadAvg1()
    // warm-up at the smallest sibling SF of the bench dir (JIT + codegen
    // cache), falling back to the bench dir itself off the standard layout
    val warmDir = {
      val sibling = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.001")
      if (java.nio.file.Files.isDirectory(sibling) && sibling.toString != sfDir)
        sibling.toString
      else sfDir
    }
    // bucketed-table build is ingest, not query time: do it untimed so
    // q19 measures the co-located join (first Verify/app use pays it once)
    graft.operators.Relational.ensureBucketedTables(spark, warmDir)
    graft.operators.Relational.ensureBucketedTables(spark, sfDir)

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    names.foreach(run(warmDir, _))
    def median(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0 else ok(ok.size / 2)
    }
    // interleaved passes: pass p runs EVERY query once (in name order)
    // before any query gets its (p+1)-th sample — see the scaladoc
    val samples = scala.collection.mutable.LinkedHashMap(
      names.map(n => n -> Vector.empty[(Double, Double)]): _*)
    for (_ <- 1 to runs; n <- names) samples(n) :+= run(sfDir, n)
    val rawBoth = names.map(n => n -> samples(n))
    val raw = rawBoth.map { case (n, xs) => n -> xs.map(_._1) }
    // every raw sample (wall + process-CPU) to stderr: a noisy median
    // shows up as spread here — and contention shows up as wall growing
    // while cpu stays flat — instead of as a phantom regression in
    // round-over-round comparisons
    rawBoth.foreach { case (n, xs) =>
      System.err.println(s"[bench] $n wall=[${xs.map(t => fmt2(t._1)).mkString(",")}]" +
        s" cpu=[${xs.map(t => fmt2(t._2)).mkString(",")}]")
    }
    // medians of wall and cpu taken independently (the pairing of one
    // run's wall to its cpu doesn't survive a median anyway)
    val results = rawBoth.map { case (n, xs) =>
      n -> (median(xs.map(_._1)), median(xs.map(_._2)))
    }
    // a query that failed SOME runs still reports its successful median
    // (the headline is not shrunk), but it must be visible and fatal —
    // an intermittent OOM is a regression, not a lucky speedup
    val flaky = raw.count { case (_, xs) => xs.exists(_ < 0) && xs.exists(_ >= 0) }

    // medians (wall + cpu) to stderr: the per-query cpu signal lives
    // here so the stdout artifact stays inside the tail-capture budget
    results.foreach { case (n, (w, c)) =>
      System.err.println(s"[bench] $n median wall=${f2(w)} cpu=${f2(c)}")
    }
    val failures = results.count(_._2._1 < 0)
    val loadEnd = loadAvg1()
    val cpuTotal = results.map(_._2._2).filter(_ >= 0).sum
    // ---- steal guard (r20): grade THIS run before it becomes the
    // round's committed number ----
    val passWall = (0 until runs).map(p =>
      names.flatMap(n => samples(n).lift(p)).map(_._1).filter(_ >= 0).sum)
    val passCpu = (0 until runs).map(p =>
      names.flatMap(n => samples(n).lift(p)).map(_._2).filter(_ >= 0).sum)
    // the per-query detail sidecar: wall + cpu medians AND raw samples,
    // machine-readable, committed per round — the evidence the stdout
    // line has no room for. A SPARK_GRAFT_BENCH_ONLY subset run
    // (bisection) writes a .partial variant instead of clobbering the
    // committed full-registry evidence (r15 review)
    // the reference sidecar is read BEFORE any detail write: the
    // default-env cross-sf flow would otherwise clobber the committed
    // reference first and then skip the comparison entirely (r16
    // review, third pass)
    val refPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "BENCH_DETAIL.json")
    val refJson: Option[String] =
      try {
        val rp = java.nio.file.Paths.get(refPath)
        if (java.nio.file.Files.isRegularFile(rp))
          Some(new String(java.nio.file.Files.readAllBytes(rp), "UTF-8"))
        else None
      } catch { case _: Throwable => None }
    val refSf = refJson.flatMap(j =>
      "\"sf\":\"([^\"]*)\"".r.findFirstMatchIn(j).map(_.group(1)))
    // same-sf reference: per-query wall and cpu ratio medians feed the
    // steal guard's cross-round leg (the r19 poison signature)
    val refRatioMed: Option[(Double, Double)] = refJson
      .filter(_ => refSf.contains(sfDir))
      .flatMap { rj =>
        def med(rs: Seq[Double]): Option[Double] = {
          val ok = rs.sorted
          if (ok.isEmpty) None else Some(ok(ok.size / 2))
        }
        val wallR = scaleRatios(
          results.map { case (n, (w, _)) => n -> w }, parseWallMap(rj)).map(_._2)
        val cpuR = scaleRatios(
          results.map { case (n, (_, c)) => n -> c }, parseCpuMap(rj)).map(_._2)
        for (wm <- med(wallR); cm <- med(cpuR)) yield (wm, cm)
      }
    val ctn = contentionVerdict(passWall, passCpu, refRatioMed)
    if (ctn != "ok") {
      val refTxt = refRatioMed.map { case (w, c) =>
        f" ref-ratios wall=$w%.2f cpu=$c%.2f" }.getOrElse("")
      System.err.println(s"[bench] contention verdict: " +
        (if (ctn == "poi") "POISONED — rerun on a quiet box" else
          "SUSPECT pass detected") +
        s" (pass walls ${passWall.map(fmt2).mkString("[", ",", "]")}" +
        s" cpus ${passCpu.map(fmt2).mkString("[", ",", "]")}$refTxt)")
    }
    val sfBase = sfDir.split("/").filter(_.nonEmpty).lastOption.getOrElse("sf")
    val detailPath = sys.env.getOrElse(DetailFileEnv,
      if (only.isDefined) "BENCH_DETAIL.partial.json"
      // a cross-sf run must not clobber committed evidence — neither
      // the reference sidecar it compares against NOR the default-sf
      // BENCH_DETAIL.json (a custom SPARK_GRAFT_BENCH_REF still left
      // the default path in the line of fire, ADVICE r16) — so ANY
      // ref-sf/run-sf mismatch defaults to an sf-suffixed sibling
      else if (refSf.exists(_ != sfDir)) s"BENCH_DETAIL.$sfBase.json"
      else "BENCH_DETAIL.json")
    try {
      def m(vs: Seq[(String, String)]) =
        vs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val contentionBlock = m(Seq(
        "verdict" -> ("\"" + ctn + "\""),
        "pass_wall" -> passWall.map(f2).mkString("[", ",", "]"),
        "pass_cpu" -> passCpu.map(f2).mkString("[", ",", "]")) ++
        refRatioMed.toSeq.flatMap { case (w, c) => Seq(
          "ref_wall_ratio_median" -> f2(w),
          "ref_cpu_ratio_median" -> f2(c)) })
      val ccBlock = ccRounds.toSeq.map { case (ccEdges, ccParts, rs) =>
        "cc_rounds" -> m(Seq(
          "edges" -> ccEdges.toString,
          "parts" -> ccParts.toString,
          "rounds" -> rs.map(r =>
            s"""[${r.round},${r.wallMs},"${r.sumDelta}"]""")
            .mkString("[", ",", "]")))
      }
      val detail = m(Seq(
        "sf" -> ("\"" + sfDir + "\""),
        "runs" -> runs.toString,
        "load_start" -> f2(loadStart), "load_end" -> f2(loadEnd),
        "wall_total" -> f2(results.map(_._2._1).filter(_ >= 0).sum),
        "cpu_total" -> f2(cpuTotal),
        "wall" -> m(results.map { case (n, (w, _)) => n -> f2(w) }),
        "cpu" -> m(results.map { case (n, (_, c)) => n -> f2(c) }),
        "samples_wall" -> m(rawBoth.map { case (n, xs) =>
          n -> xs.map(t => f2(t._1)).mkString("[", ",", "]") }),
        "samples_cpu" -> m(rawBoth.map { case (n, xs) =>
          n -> xs.map(t => f2(t._2)).mkString("[", ",", "]") }),
        "contention" -> contentionBlock) ++ ccBlock)
      java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        detail.getBytes("UTF-8"))
      System.err.println(s"[bench] detail -> $detailPath")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }
    // scale-ratio line (VERDICT r15 #5): when the PRE-READ reference
    // sidecar came from a DIFFERENT sf, print per-pass scaling
    // evidence — median/p90/max of the per-query wall ratios — so the
    // sf1.0 curve is a diffable artifact line, not prose. stderr: the
    // stdout budget belongs to the queries. Uses the snapshot read
    // BEFORE the detail write, so it works even when both point at
    // the same path.
    try {
      refJson.foreach { rj =>
        if (refSf.exists(_ != sfDir)) {
          val ratios = scaleRatios(
            results.map { case (n, (w, _)) => n -> w }, parseWallMap(rj))
            .map(_._2).sorted
          if (ratios.nonEmpty) {
            val med = ratios(ratios.size / 2)
            // nearest-rank p90 = ceil(0.9 n) - 1 ((9n)/10 rounds the
            // wrong way exactly when 0.9 n is integral, printing the
            // max as p90 at n = 10)
            val p90 = ratios(math.min(ratios.size - 1,
              math.ceil(0.9 * ratios.size).toInt - 1))
            System.err.println(s"[bench] scale vs ${refSf.get}: n=${ratios.size} " +
              s"median-ratio=${fmt2(med)} p90=${fmt2(p90)} " +
              s"max=${fmt2(ratios.last)} min=${fmt2(ratios.head)}")
          }
        }
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] scale-ratio skipped: ${e.getMessage}")
    }
    // failures are reported explicitly AND fail the process: a broken
    // query must never shrink the headline number into a fake speedup.
    // COMPLETENESS over diagnosis: if the diag fields would push the
    // line past the tail budget (slow round, every query ≥ 10 s), drop
    // THEM — never query entries; the sidecar still has everything
    val wall = results.map { case (n, (w, _)) => n -> w }
    // tiered fallback (r20): a slow round's line overflowed the budget
    // and dropped ALL diagnosis; now load goes first (the sidecar
    // carries it), keeping cpu + the steal-guard flag — the two fields
    // the committed artifact's contention story actually needs — and
    // only then the rest. Query entries always win the budget.
    val tiers = Seq(
      renderLine(wall, failures, flaky, sfDir, cpuTotal,
        (loadStart, loadEnd), ctn = ctn),
      renderLine(wall, failures, flaky, sfDir, cpuTotal,
        (loadStart, loadEnd), ctn = ctn, includeLoad = false),
      renderLine(wall, failures, flaky, sfDir, withDiag = false))
    val line = tiers.find(_.length <= TailBudget).getOrElse(tiers.last)
    if (line != tiers.head)
      System.err.println("[bench] diag tier dropped: full line would be " +
        s"${tiers.head.length} chars > $TailBudget (see the detail sidecar)")
    println(line)
    // the artifact must be COMPLETE above all: an over-budget line
    // would silently lose its head to the tail capture, so it fails
    // the run loudly instead (the line is still printed for forensics)
    val overBudget = line.length > TailBudget
    if (overBudget)
      System.err.println(s"[bench] FATAL: stdout line ${line.length} chars " +
        s"exceeds the $TailBudget-char tail-capture budget — the driver " +
        "would truncate it; trim query names or the format")
    spark.stop()
    if (failures > 0 || flaky > 0 || overBudget) sys.exit(1)
  }
}
