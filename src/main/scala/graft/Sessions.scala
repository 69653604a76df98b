package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main (Bench, Verify, Plans,
  * RecallReport, ScaleData) and every spec fixture builds its session
  * here, so correctness checks run the plans the bench times. */
object Sessions {

  /** Settings every graft session runs with. */
  val Shared: Seq[(String, String)] = Seq(
    // Shuffle-writer choice (r20, measured): with R = cpus reduce
    // partitions < the 200 default, EVERY no-map-side-combine shuffle
    // routed through BypassMergeSortShuffleWriter — M×R per-partition
    // files created per shuffle plus a transferTo concat whose
    // mmap/munmap per block is kernel-lock-bound: 65% of q33's
    // executor samples sat inside that writer (25% FileOutputStream
    // .open0, 20% map0/unmap0), and simultaneous munmap TLB
    // shootdowns across 32 threads are the intermittent 10-60×
    // "contention" storms that poisoned the r2/r7/r17/r19 sidecars.
    // At production scale reduce counts exceed 200, so the bypass
    // writer never runs there — forcing the serialized sort writer
    // (one file + index per map task) makes the local bench run the
    // same writer a cluster would, it does not tune FOR local mode.
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    // Sorted-bucket scans (r20): ensureBucketedTables writes ONE
    // key-sorted file per bucket (repartition on the bucket key), so
    // the scan's outputOrdering is usable and the q19/q44 sort-merge
    // joins drop their per-run re-Sorts (~10 s CPU each at sf0.1 —
    // sorting both fact tables on every run). Spark reports bucket
    // sort order only behind this flag since SPARK-28595 (the flag
    // guards the multi-file-per-bucket case, which the one-file
    // ingest layout rules out; with >1 file per bucket Spark still
    // inserts the Sort — it checks the file count per bucket).
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
    // Codegen class cache (r20, measured): the default 100-entry
    // cache cannot hold 84 queries × several codegen stages each, so
    // EVERY pass re-Janino-compiled and re-JIT'd fresh anonymous
    // classes — a quiet 2-pass full-registry profile showed C2
    // compiler threads at 129 s process CPU, EQUAL to all executor
    // task threads combined (128 s), plus ~105 s of GC churning the
    // dead classes. A long-lived session serving a query fleet is
    // exactly the 100 TB deployment shape; the cache just has to fit
    // the fleet. (StaticSQLConf — must be set before session start.)
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** Local width when a caller does not fix one: `SPARK_GRAFT_CPUS`,
    * else the host's cores. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cores]` session with `cores` shuffle partitions and the
    * [[Shared]] settings. Prints the conf the session actually holds as
    * one stderr line, so every entry point's run shows its plan inputs. */
  def local(cores: Int = defaultCores): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
    Shared.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    val sc = spark.sparkContext
    System.err.println(s"[graft] session ${sc.master} defaultParallelism=" +
      s"${sc.defaultParallelism} " +
      ("spark.sql.shuffle.partitions" +: Shared.map(_._1))
        .map(k => s"$k=${spark.conf.get(k, "")}").mkString(" "))
    spark
  }
}
