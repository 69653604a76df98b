package graft.operators

import graft.SparkSpec

/** Plan-shape + approximation checks for the relational pack. Value
  * correctness is gated by the DuckDB oracle (tools/crosscheck.py); these
  * specs assert the *physical plans* are the ones we'd want at 100 TB.
  */
class RelationalSpec extends SparkSpec {

  private def formattedPlan(df: org.apache.spark.sql.DataFrame): String = {
    val w = new java.io.StringWriter()
    Console.withOut(new java.io.PrintStream(new java.io.OutputStream {
      def write(b: Int): Unit = w.write(b)
    })) { df.explain("formatted") }
    w.toString
  }

  /** Sort nodes under the first SortMergeJoin's children in the plan
    * `df` ran with (call after an action: AQE's final plan). */
  private def sortsUnderSmj(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p.children.flatMap(nodes)
    })
    val smj = nodes(df.queryExecution.executedPlan)
      .collectFirst { case j: SortMergeJoinExec => j }
    assert(smj.isDefined, s"expected a sort-merge join:\n${df.queryExecution.executedPlan}")
    smj.get.children.flatMap(nodes).collect { case s: SortExec => s.simpleString(200) }
  }

  test("q02: filter and projection reach the parquet scan") {
    val plan = formattedPlan(Relational.q02FilterProject(spark, sfDir))
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThanOrEqual(l_quantity"),
      s"filter not pushed:\n$plan")
    // pruned read schema: only the 2 filter + 2 output columns, not all 11
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(!readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"),
      s"projection not pruned: $readSchema")
  }

  test("q03: dim side is broadcast") {
    val plan = formattedPlan(Relational.q03JoinBroadcast(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("q04: big-big join is sort-merge (no broadcast of a fact table)") {
    val plan = formattedPlan(Relational.q04JoinShuffle(spark, sfDir))
    assert(plan.contains("SortMergeJoin"), s"no sort-merge join:\n$plan")
  }

  test("q09: top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = formattedPlan(Relational.q09TopK(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject:\n$plan")
  }

  test("q01/q03 aggregate with map-side partial aggregation") {
    val plan = formattedPlan(Relational.q01Agg(spark, sfDir))
    assert("HashAggregate".r.findAllIn(plan).size >= 2, // partial + final
      s"no partial aggregation:\n$plan")
  }

  test("q19: bucketed join matches q04 with no Exchange feeding the join") {
    val bucketed = Relational.q19BucketedJoin(spark, sfDir)
    val plain = Relational.q04JoinShuffle(spark, sfDir)
    assert(bucketed.collect().toSeq == plain.collect().toSeq)
    // co-location: the SMJ reads bucketed scans directly — every Exchange
    // in the plan comes AFTER the join (aggregate/sort), never before it
    val plan = formattedPlan(bucketed)
    val finalPart = plan.split("== Initial Plan ==").head
    val joinPos = finalPart.indexOf("SortMergeJoin")
    assert(joinPos >= 0, s"expected a sort-merge join:\n$plan")
    val joinSubtree = finalPart.substring(joinPos) // children are printed below
    assert(!joinSubtree.contains("Exchange"),
      s"join inputs must be co-located (no Exchange below the SMJ):\n$plan")
    assert(plan.contains("Bucketed: true"), s"scans must be bucketed:\n$plan")
    // one sorted file per bucket: the scans already deliver the join
    // order, so the plan the bench times re-sorts neither side
    assert(sortsUnderSmj(bucketed).isEmpty,
      s"sorted bucket scans must feed the SMJ without a Sort:\n$plan")
  }

  test("q44: bucketed star matches q05; fact join co-located through the broadcast") {
    val star = Relational.q44BucketedStar(spark, sfDir)
    val plain = Relational.q05MultiJoin(spark, sfDir)
    assert(star.collect().toSeq == plain.collect().toSeq)
    val plan = formattedPlan(star).split("== Initial Plan ==").head
    val joinPos = plan.indexOf("SortMergeJoin")
    assert(joinPos >= 0, s"expected the fact-fact leg as a sort-merge join:\n$plan")
    // bucketing must carry THROUGH the supplier broadcast join: nothing
    // below the fact-fact SMJ may exchange (broadcast exchanges of the
    // dims are fine — they appear as BroadcastExchange build sides)
    val subtree = plan.substring(joinPos)
    assert(!subtree.replace("BroadcastExchange", "").contains("Exchange"),
      s"fact join inputs must be co-located:\n$plan")
    assert(sortsUnderSmj(star).isEmpty,
      s"sorted bucket scans must feed the SMJ without a Sort:\n$plan")
  }

  test("bucketed tables are reused across operators: groupBy on the bucket key has no Exchange") {
    val (_, lt) = Relational.ensureBucketedTables(spark, sfDir)
    // a second, different operator over the SAME bucketed ingest: an
    // aggregation keyed on the bucket key — bucketing satisfies the
    // required hash distribution, so the plan has no Exchange at all
    val agg = spark.table(lt).groupBy("l_orderkey")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val plan = formattedPlan(agg)
    assert(!plan.split("== Initial Plan ==").head.contains("Exchange"),
      s"bucket-key aggregation must not shuffle:\n$plan")
    assert(agg.count() > 0)
  }

  test("one bucketed ingest serves q19+q44; repeat ensure is a no-op; data change rebuilds") {
    val (ot1, lt1) = Relational.ensureBucketedTables(spark, sfDir)
    val warehouse = java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "graft_buckets")
    def listing(t: String): Seq[(String, Long)] = {
      val dir = warehouse.resolve(t)
      val st = java.nio.file.Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(p => p.getFileName.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toSeq.sorted
      } finally st.close()
    }
    val before = (listing(ot1), listing(lt1))
    // q19 and q44 both go through ensureBucketedTables — same session,
    // same source: they must resolve to the SAME tables with no rewrite
    Relational.q19BucketedJoin(spark, sfDir).collect()
    Relational.q44BucketedStar(spark, sfDir).collect()
    val (ot2, lt2) = Relational.ensureBucketedTables(spark, sfDir)
    assert((ot2, lt2) == (ot1, lt1), "repeat ensure must reuse the ingest")
    assert((listing(ot2), listing(lt2)) == before, "bucketed files must not be rewritten")
    // freshness: regenerated source parquet (new mtime) must yield a NEW
    // tag and a rebuild instead of silently serving the stale copy
    val tmp = java.nio.file.Files.createTempDirectory("graft-bucket-fresh")
    Seq("orders", "lineitem").foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(sfDir, s"$t.parquet"), tmp.resolve(s"$t.parquet"))
    }
    val (otA, _) = Relational.ensureBucketedTables(spark, tmp.toString)
    java.nio.file.Files.setLastModifiedTime(tmp.resolve("orders.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    val (otB, _) = Relational.ensureBucketedTables(spark, tmp.toString)
    assert(otA != otB, "regenerated source must get a fresh bucketed copy")
  }

  test("q51: unpivot plans as one Expand over one scan, not a union of scans") {
    val plan = formattedPlan(Relational.q51Unpivot(spark, sfDir))
    val finalPart = plan.split("== Initial Plan ==").head
    assert(finalPart.contains("Expand"), s"expected Expand fan-out:\n$plan")
    // formatted mode prints each node twice (tree + detail) — one scan
    // appears exactly twice; a 3-way union of scans would show six
    assert("Scan parquet".r.findAllIn(finalPart).size == 2,
      s"unpivot must melt in the projection over ONE table pass:\n$plan")
  }

  test("q53: approx percentile tracks the exact quartiles at accuracy=10000") {
    // at spec scale n per group << accuracy, so the sketch's rank error
    // (<= n/accuracy) is below one rank: the approx quartiles must sit
    // within one neighbor value of the exact interpolated ones
    val exact = Relational.q47Percentile(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val approx = Relational.q53ApproxPercentile(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, (q1, med, q3)) =>
      val (a1, am, a3) = approx(k)
      assert(math.abs(a1 - q1) <= 1.0, s"$k q1: $a1 vs $q1")
      assert(math.abs(am - med) <= 1.0, s"$k median: $am vs $med")
      assert(math.abs(a3 - q3) <= 1.0, s"$k q3: $a3 vs $q3")
    }
  }

  test("exactPercentiles guard: refuses oversized groups, autoSwap routes to the sketch") {
    import spark.implicits._
    val d = (1 to 100).map(i => ("big", i.toDouble)).toDF("g", "x")
      .union(Seq(("small", 1.0), ("small", 2.0)).toDF("g", "x"))
    val specs = Seq(("p50", "x", 0.5))
    // largest group (100 rows) over the bound -> refusal names the swap
    val err = intercept[IllegalArgumentException] {
      Relational.exactPercentiles(d, Seq("g"), specs, maxGroupRows = 10)
    }
    assert(err.getMessage.contains("autoSwap"))
    // autoSwap: same call shape answers via the mergeable sketch; at
    // n << accuracy the sketch is rank-exact (quantile definitions
    // differ: approx returns a data value, exact interpolates — both
    // medians here sit within one neighbor value)
    val swapped = Relational.exactPercentiles(d, Seq("g"), specs,
      maxGroupRows = 10, autoSwap = true).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(swapped("big") - 50.5) <= 1.0)
    // within the bound: exact interpolated percentile, schema unchanged
    val exact = Relational.exactPercentiles(d, Seq("g"), specs,
      maxGroupRows = 1000).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(exact("big") == 50.5 && exact("small") == 1.5)
    // empty input: probe sees no groups, exact path, zero rows
    assert(Relational.exactPercentiles(d.filter($"g" === "absent"), Seq("g"), specs)
      .collect().isEmpty)
  }

  test("q82 profileColumns: one-scan melt, null/distinct/avg semantics") {
    import spark.implicits._
    val d = Seq(
      ("a", java.lang.Long.valueOf(10L), "x"),
      ("a", java.lang.Long.valueOf(20L), null: String),
      ("a", null.asInstanceOf[java.lang.Long], "x"),
      ("b", java.lang.Long.valueOf(5L), "y")
    ).toDF("g", "n", "s")
    val p = Relational.profileColumns(d, Seq("g"), Seq("n", "s")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4),
          Option(r.getString(5)), if (r.isNullAt(7)) None else Some(r.getDouble(7))))
      .toMap
    // group a, numeric col: 3 rows, 1 null, 2 distinct, mean of (10,20)
    assert(p(("a", "n")) == ((3L, 1L, 2L, Some("10"), Some(15.0))))
    // group a, string col: distinct counts values not nulls; no numeric mean
    assert(p(("a", "s")) == ((3L, 1L, 1L, Some("x"), None)))
    assert(p(("b", "n")) == ((1L, 0L, 1L, Some("5"), Some(5.0))))
    // the scale knob: exactDistinct = false swaps the exact count for
    // the mergeable HLL sketch (bounded per-group state at 100 TB).
    // Same schema, same melt; at these cardinalities the sketch is
    // exact, so the whole profile must match the exact path cell-level
    val pa = Relational.profileColumns(d, Seq("g"), Seq("n", "s"),
      exactDistinct = false).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4),
          Option(r.getString(5)), if (r.isNullAt(7)) None else Some(r.getDouble(7))))
      .toMap
    assert(pa == p)
    // the melt must be ONE pass over the table (q51's unpivot rule):
    // a union of per-column scans would read it once per column
    val plan = Relational.q82Profile(spark, sfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    // FormattedMode prints each node in the tree AND the detail list,
    // so one physical scan appears exactly twice (the q51 convention)
    assert("Scan parquet".r.findAllIn(plan).size == 2,
      s"profile must melt in the projection over ONE table pass:\n$plan")
    // gated query sanity: every (source, column) cell, n_rows constant
    // across columns of the same source
    val out = Relational.q82Profile(spark, sfDir).collect()
    val bySource = out.groupBy(_.getString(0))
    bySource.foreach { case (src, rows) =>
      assert(rows.length == 4, s"$src: ${rows.length} columns profiled")
      assert(rows.map(_.getLong(2)).distinct.length == 1,
        s"$src: n_rows differs across columns of one table")
    }
  }

  test("q83 histogram: hand-computed buckets, max in last bin, nulls and empties safe") {
    import spark.implicits._
    // lo=0, hi=9, span=10, 5 bins of width 2: v -> v*5/10 = v/2
    val d = Seq(("a", 0L), ("a", 1L), ("a", 9L), ("b", 4L), ("b", 5L))
      .toDF("g", "v")
    val h = Relational.histogram(d, Seq("g"), "v", nBins = 5).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(h(("a", 0L)) == ((2L, 0L, 1L)))   // 0,1 -> bucket 0
    assert(h(("a", 4L)) == ((1L, 9L, 9L)))   // the MAX lands in the last bin
    assert(h(("b", 2L)) == ((2L, 4L, 5L))) // 4 -> 20/10=2, 5 -> 25/10=2
    assert(h.keySet.forall { case (_, b) => b >= 0 && b < 5 })
    // nulls are excluded from buckets but don't break the probe
    val dn = Seq(("a", java.lang.Long.valueOf(3L)), ("a", null.asInstanceOf[java.lang.Long]))
      .toDF("g", "v")
    val hn = Relational.histogram(dn, Seq("g"), "v", 4).collect()
    assert(hn.map(_.getLong(2)).sum == 1L)
    // non-integral columns refuse: lexicographic min/max would
    // mis-bound the range and break the trunc-is-floor invariant
    val typeErr = intercept[IllegalArgumentException] {
      Relational.histogram(d.select($"g", $"v".cast("string").as("v")),
        Seq("g"), "v", 4)
    }
    assert(typeErr.getMessage.contains("integral"))
    // a range wide enough to overflow the exact bucket product refuses
    val wide = Seq(("a", Long.MinValue + 1), ("a", Long.MaxValue)).toDF("g", "v")
    intercept[IllegalArgumentException] {
      Relational.histogram(wide, Seq("g"), "v", 4)
    }
    // empty and all-null inputs: zero rows, schema intact
    assert(Relational.histogram(d.filter($"v" < 0), Seq("g"), "v", 4).collect().isEmpty)
    val allNull = Seq(("a", null.asInstanceOf[java.lang.Long])).toDF("g", "v")
    assert(Relational.histogram(allNull, Seq("g"), "v", 4).collect().isEmpty)
    // bucket counts reconstruct the corpus: q83 over the real table
    val out = Relational.q83Histogram(spark, sfDir).collect()
    val total = graft.core.Tables(spark, sfDir, "documents")
      .filter($"n_chars".isNotNull).count()
    assert(out.map(_.getLong(2)).sum == total)
    assert(out.forall(r => r.getLong(3) <= r.getLong(4)))
  }

  test("histogram matches a driver-computed reference on randomized inputs (seeded)") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x837)
    (1 to 8).foreach { trial =>
      val nBins = 1 + rnd.nextInt(12)
      val rows = (0 until 50 + rnd.nextInt(200)).map { _ =>
        (s"g${rnd.nextInt(3)}", (rnd.nextInt(2000) - 1000).toLong)
      }
      val got = Relational.histogram(rows.toDF("g", "v"), Seq("g"), "v", nBins)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      // reference: same integer arithmetic, computed in plain Scala
      val lo = rows.map(_._2).min
      val span = rows.map(_._2).max - lo + 1
      val ref = rows.groupBy { case (g, v) => (g, (v - lo) * nBins / span) }
        .map { case (k, vs) =>
          k -> ((vs.size.toLong, vs.map(_._2).min, vs.map(_._2).max)) }
      assert(got == ref, s"trial $trial (nBins=$nBins) diverged")
    }
  }

  test("q12: approx distinct within 5% of exact at rsd=0.01") {
    val approx = Relational.q12ApproxDistinct(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = Relational.q07Distinct(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    exact.foreach { case (flag, (parts, supps)) =>
      val (ap, as) = approx(flag)
      assert(math.abs(ap - parts).toDouble / parts < 0.05, s"$flag parts: $ap vs $parts")
      assert(math.abs(as - supps).toDouble / supps < 0.05, s"$flag supps: $as vs $supps")
    }
  }

  test("topValues: two-level top-k equals the one-window oracle, incl. a fat id column") {
    import spark.implicits._
    val docs = graft.core.Tables(spark, sfDir, "documents")
    def asRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // real corpus, grouped and ungrouped; doc_id is the
    // high-cardinality column the two-level pass exists for (every
    // value count is 1, so rank falls entirely to the value tiebreak)
    val cols = Seq("lang", "doc_id", "n_chars")
    assert(asRows(Relational.topValues(docs, Seq("source"), cols, 5)) ==
      asRows(Relational.topValuesNaive(docs, Seq("source"), cols, 5)))
    assert(asRows(Relational.topValues(docs, Nil, cols, 7)) ==
      asRows(Relational.topValuesNaive(docs, Nil, cols, 7)))
    // partitioning must not change the report (the local pass keys on
    // spark_partition_id, but the union always holds the true top-k)
    assert(asRows(Relational.topValues(docs.repartition(13), Nil, cols, 7)) ==
      asRows(Relational.topValues(docs, Nil, cols, 7)))
    // hand fixture: counts, value-asc tie-break, nulls excluded
    val f = Seq(("x", "b"), ("x", "b"), ("x", "a"), ("x", "c"),
      ("x", null: String)).toDF("g", "s")
    val top = Relational.topValues(f, Seq("g"), Seq("s"), 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3), r.getLong(4)))
    assert(top.toSeq == Seq(("x", "s", 1, "b", 2L), ("x", "s", 2, "a", 1L)))
    intercept[IllegalArgumentException](Relational.topValues(f, Nil, Nil, 2))
    intercept[IllegalArgumentException](Relational.topValues(f, Nil, Seq("s"), 0))
    // randomized differential (seeded): skewed value distributions and
    // count ties across several k — the boundary shapes a fixed
    // fixture can miss
    val rnd = new scala.util.Random(7)
    val rand = (0 until 400).map { _ =>
      (s"g${rnd.nextInt(3)}", s"v${math.sqrt(rnd.nextInt(400)).toInt}")
    }.toDF("g", "s")
    for (k <- Seq(1, 4, 50)) {
      assert(asRows(Relational.topValues(rand, Seq("g"), Seq("s"), k)) ==
        asRows(Relational.topValuesNaive(rand, Seq("g"), Seq("s"), k)), s"k=$k")
    }
  }

  test("profileDrift: added/removed/changed/unchanged cells on mutated snapshots") {
    import spark.implicits._
    val v1 = Seq(("a", Option(10L), "x"), ("a", Option(20L), "y"),
      ("b", Option(5L), "z")).toDF("g", "n", "s")
    val v2 = Seq(("a", Option.empty[Long], "x"), ("a", Option(20L), "y"),
      ("b", Option(5L), "z"), ("c", Option(1L), "w")).toDF("g", "n", "s")
    val p1 = Relational.profileColumns(v1, Seq("g"), Seq("n", "s"))
    val p2 = Relational.profileColumns(v2, Seq("g"), Seq("n", "s"))
    val drift = Relational.profileDrift(p1, p2).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(drift == Map(
      ("a", "n") -> "changed",   // a null crept into a:n
      ("a", "s") -> "unchanged",
      ("b", "n") -> "unchanged", ("b", "s") -> "unchanged",
      ("c", "n") -> "added", ("c", "s") -> "added"))
    // the reverse direction reports the removal
    val back = Relational.profileDrift(p2, p1).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(back(("c", "n")) == "removed" && back(("c", "s")) == "removed")
    // old/new metric pairs ride along: the changed cell shows the null
    val cell = Relational.profileDrift(p1, p2)
      .filter($"g" === "a" && $"colname" === "n").head()
    assert(cell.getLong(3) == 2L && cell.getLong(4) == 2L)   // n_rows old/new
    assert(cell.getLong(5) == 0L && cell.getLong(6) == 1L)   // n_null old/new
    intercept[IllegalArgumentException](
      Relational.profileDrift(p1, p2.drop("avg_num")))

    // shared-lineage inputs (the same frame twice / one derived from the
    // other) must resolve, not trip ambiguous-self-join (ADVICE r11)
    val self = Relational.profileDrift(p1, p1).collect()
    assert(self.nonEmpty && self.forall(_.getString(2) == "unchanged"))
    assert(Relational.profileDrift(p1, p1.filter($"g" =!= "b")).collect()
      .filter(_.getString(0) == "b").forall(_.getString(2) == "removed"))
  }

  test("profileDrift relTol: sub-tolerance numeric wobble reads unchanged, real shift still flags") {
    import spark.implicits._
    // re-crawl noise: one doc of 1000 dropped, mean moves 100.0 → 100.2
    val v1 = (1 to 1000).map(i => ("a", 100L + (if (i <= 500) -1L else 1L)))
      .toDF("g", "n")
    val v2 = (1 to 999).map(i => ("a", 100L + (if (i <= 499) -1L else 1L)))
      .toDF("g", "n")
    val p1 = Relational.profileColumns(v1, Seq("g"), Seq("n"))
    val p2 = Relational.profileColumns(v2, Seq("g"), Seq("n"))
    // exact mode: n_rows 1000→999 flags the cell changed
    assert(Relational.profileDrift(p1, p2).head().getString(2) == "changed")
    // 1% tolerance: n_rows (0.1%), n_distinct (0%), avg_num (~0.1%)
    // all inside — unchanged
    assert(Relational.profileDrift(p1, p2, relTol = 0.01)
      .head().getString(2) == "unchanged")
    // a real shift still flags THROUGH the tolerance: half the rows
    // vanish (same values, so min/max/distinct are identical — only the
    // 50% n_rows drop breaches the 1% band)
    val v3 = (1 to 500).map(i => ("a", 100L + (if (i % 2 == 0) -1L else 1L)))
      .toDF("g", "n")
    val p3 = Relational.profileColumns(v3, Seq("g"), Seq("n"))
    assert(Relational.profileDrift(p1, p3, relTol = 0.01)
      .head().getString(2) == "changed")
    // min_v/max_v stay EXACT under tolerance: one value of 1000 nudged
    // so the (string-typed, lexicographic) min bound moves "101" →
    // "100" → changed even at 50% relTol, though every numeric metric
    // is inside it
    val v4 = v1.as[(String, Long)].collect().toSeq
      .patch(999, Seq(("a", 100L)), 1).toDF("g", "n")
    val p4 = Relational.profileColumns(v4, Seq("g"), Seq("n"))
    assert(Relational.profileDrift(p1, p4, relTol = 0.5)
      .head().getString(2) == "changed")
    intercept[IllegalArgumentException](
      Relational.profileDrift(p1, p2, relTol = -0.1))
  }

  test("heavyHitters: exactly the true >=minShare values, exact counts, any partitioning") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 1000 rows: a=500, b=300, c=150, 50 singletons; threshold at 10% = 100
    val vals = Seq.fill(500)("a") ++ Seq.fill(300)("b") ++ Seq.fill(150)("c") ++
      (0 until 50).map(i => s"u$i")
    val d = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    def run(df: org.apache.spark.sql.DataFrame) = try {
      Relational.heavyHitters(df, Nil, Seq("v"), minShare = 0.1, width = 64, depth = 3)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
          r.getLong(3), r.getDouble(4))).toSeq
    } finally graft.core.Caches.release()
    val got = run(d)
    assert(got == Seq(("v", 1, "a", 500L, 0.5), ("v", 2, "b", 300L, 0.3),
      ("v", 3, "c", 150L, 0.15)))
    assert(run(d.repartition(13)) == got, "membership and counts are a pure function of the data")
    // tiny width forces collisions: strays may pass the sketch probe but
    // the exact recount prunes them — output unchanged
    assert(run(d) == got)
    val tiny = try {
      Relational.heavyHitters(d, Nil, Seq("v"), minShare = 0.1, width = 2, depth = 1)
        .collect().map(r => (r.getString(2), r.getLong(3))).toSeq
    } finally graft.core.Caches.release()
    assert(tiny == Seq(("a", 500L), ("b", 300L), ("c", 150L)))
    // grouped: per-cell thresholds — g1 keeps x at 9/10, g2 keeps x at exactly 50/100
    val g = (Seq.fill(9)(("g1", "x")) :+ (("g1", "y"))) ++
      Seq.fill(50)(("g2", "x")) ++ (0 until 50).map(i => ("g2", s"s$i"))
    val gout = try {
      Relational.heavyHitters(g.toDF("g", "v"), Seq("g"), Seq("v"), minShare = 0.5,
          width = 64, depth = 3)
        .collect().map(r => (r.getString(0), r.getString(3), r.getLong(4))).toSeq
    } finally graft.core.Caches.release()
    assert(gout == Seq(("g1", "x", 9L), ("g2", "x", 50L)))
    // differential vs the exact counts on the real corpus
    val docs = graft.core.Tables(spark, sfDir, "documents")
    val n = docs.count()
    val thr = math.max(1L, math.ceil(0.02 * n).toLong)
    val exact = docs.groupBy(col("source")).count()
      .filter(col("count") >= thr)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val hh = try {
      Relational.heavyHitters(docs, Nil, Seq("source"), minShare = 0.02)
        .collect().map(r => (r.getString(2), r.getLong(3))).toSet
    } finally graft.core.Caches.release()
    assert(hh == exact)
    intercept[IllegalArgumentException](
      Relational.heavyHitters(d, Nil, Seq("v"), minShare = 0.0))
    intercept[IllegalArgumentException](
      Relational.heavyHitters(d, Nil, Nil))
    // the driver sketch is SPARSE and its collect is LIMIT-bounded:
    // a high-cardinality grouping (every row its own cell → 1000 cells
    // × 3 × 64 × 8 ≈ 1.5 MB DENSE) fits a 1 MB budget because only its
    // ≤ 3000 non-zero rows (~190 KB sparse) ever cross to the driver —
    // the r13 dense-guard draft refused this outright
    val hiOk = try {
      Relational.heavyHitters(d, Seq("id"), Seq("v"), minShare = 0.1,
        width = 64, depth = 3, maxSketchBytes = 1L << 20).count()
    } finally graft.core.Caches.release()
    assert(hiOk == 1000L, "every singleton cell keeps its own 100% value")
    // past the budget the refusal fires AFTER materializing only the
    // budgeted rows (the LIMIT stops the collect), never the sketch
    val hiCard = try {
      intercept[IllegalArgumentException](
        Relational.heavyHitters(d, Seq("id"), Seq("v"), minShare = 0.1,
          width = 64, depth = 3, maxSketchBytes = 6400L))
    } finally graft.core.Caches.release()
    assert(hiCard.getMessage.contains("non-zero sketch"), hiCard.getMessage)
  }

  test("madOutliers: robust to the outliers themselves; degenerate and null handling") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 9 inliers around 10, one huge outlier that would wreck mean/stddev:
    // median = 10, MAD = 1 → threshold 3·1.4826 = 4.4478
    val d = (Seq(8.0, 9.0, 9.0, 10.0, 10.0, 10.0, 11.0, 11.0, 12.0, 1000.0))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    try {
      val out = Relational.madOutliers(d, col("v")).collect()
        .map(r => r.getDouble(1) -> r.getBoolean(4)).toMap
      assert(out(1000.0) === true)
      assert(out.filter(_._1 < 100).values.forall(_ === false),
        "no inlier may be flagged — the robust point of MAD")
      val row = Relational.madOutliers(d, col("v")).head()
      assert(row.getDouble(2) === 10.0 && row.getDouble(3) === 1.0) // med, mad
      // a mean/stddev z-score at the same k would MISS lesser outliers
      // dragged under by the 1000; MAD flags 100 easily
      val withMid = d.union(Seq((10L, 100.0)).toDF("id", "v"))
      val mid = Relational.madOutliers(withMid, col("v")).collect()
        .map(r => r.getDouble(1) -> r.getBoolean(4)).toMap
      assert(mid(100.0) === true && mid(1000.0) === true)
      // degenerate: over half identical → MAD 0 → any deviation flags
      val cst = (Seq(5.0, 5.0, 5.0, 5.0, 6.0)).zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val cOut = Relational.madOutliers(cst, col("v")).collect()
        .map(r => r.getDouble(1) -> r.getBoolean(4)).toMap
      assert(cOut(6.0) === true && cOut(5.0) === false)
      // nulls ride through unflagged
      val withNull = Relational.madOutliers(
        Seq((1L, Some(10.0)), (2L, None), (3L, Some(10.0))).toDF("id", "v"),
        col("v")).collect().map(r => r.isNullAt(1) -> r.getBoolean(4))
      assert(withNull.filter(_._1).forall(!_._2))
      intercept[IllegalArgumentException](Relational.madOutliers(d, col("v"), k = 0.0))
      intercept[IllegalArgumentException](Relational.madOutliers(
        Seq((1L, Option.empty[Double])).toDF("id", "v"), col("v")))
      // the q47 guard, enforced: past maxRows refuse — or sketch-swap,
      // which on this fixture flags the same outlier
      val e = intercept[IllegalArgumentException](
        Relational.madOutliers(d, col("v"), maxRows = 5))
      assert(e.getMessage.contains("autoSwap"))
      val swapped = Relational.madOutliers(d, col("v"), maxRows = 5,
        autoSwap = true).collect()
        .map(r => r.getDouble(1) -> r.getBoolean(4)).toMap
      assert(swapped(1000.0) === true)
      assert(swapped.filter(_._1 < 100).values.forall(_ === false))
      // NaN inputs → NaN median: a clean refusal, not an unresolvable
      // SQL identifier from string-interpolating "NaN" into an expr
      val nan = intercept[IllegalArgumentException](
        Relational.madOutliers(
          Seq((1L, Double.NaN), (2L, Double.NaN)).toDF("id", "v"), col("v")))
      assert(nan.getMessage.contains("NaN"))
    } finally graft.core.Caches.release()
  }

  test("winsorize: tails clip to the exact band, interior untouched, guard enforced") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // values 1..20: p05 = 1.95, p95 = 19.05 (continuous-quantile)
    val d = (1 to 20).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    try {
      val out = Relational.winsorize(d, col("v")).collect()
        .map(r => r.getDouble(1) -> r.getDouble(4)).toMap
      assert(out(1.0) === 1.95 && out(20.0) === 19.05)
      (2 to 19).foreach(i => assert(out(i.toDouble) === i.toDouble))
      val row = Relational.winsorize(d, col("v")).head()
      assert(row.getDouble(2) === 1.95 && row.getDouble(3) === 19.05)
      // nulls pass through null
      val wn = Relational.winsorize(
        Seq((1L, Some(5.0)), (2L, None)).toDF("id", "v"), col("v")).collect()
      assert(wn.find(_.getLong(0) == 2L).get.isNullAt(4))
      // the shared guard
      val e = intercept[IllegalArgumentException](
        Relational.winsorize(d, col("v"), maxRows = 5))
      assert(e.getMessage.contains("autoSwap"))
      assert(Relational.winsorize(d, col("v"), maxRows = 5, autoSwap = true)
        .collect().nonEmpty)
      intercept[IllegalArgumentException](
        Relational.winsorize(d, col("v"), loPct = 0.9, hiPct = 0.1))
    } finally graft.core.Caches.release()
  }

  test("standardize: exact classic moments, robust mode shrugs off the outlier, refusals") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // values 2,4,4,4,5,5,7,9: mean 5, population stddev 2 (the textbook set)
    val d = Seq(2.0, 4.0, 4.0, 4.0, 5.0, 5.0, 7.0, 9.0).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    try {
      val out = Relational.standardize(d, col("v")).collect()
        .map(r => r.getDouble(1) -> r).toMap
      assert(out(2.0).getDouble(2) === 5.0 && out(2.0).getDouble(3) === 2.0)
      assert(out(2.0).getDouble(4) === -1.5 && out(9.0).getDouble(4) === 2.0)
      // classic mode: one huge outlier inflates sigma and crushes the rest
      val poisoned = d.union(Seq((99L, 1000.0)).toDF("id", "v"))
      val classic = Relational.standardize(poisoned, col("v")).collect()
        .map(r => r.getDouble(1) -> r.getDouble(4)).toMap
      assert(math.abs(classic(9.0)) < 0.5, "sigma inflation must crush inliers")
      // robust mode: inliers keep meaningful z's, the outlier is huge
      val robust = Relational.standardize(poisoned, col("v"), robust = true)
        .collect().map(r => r.getDouble(1) -> r.getDouble(4)).toMap
      assert(math.abs(robust(9.0)) > 1.0 && math.abs(robust(1000.0)) > 100.0)
      // nulls stay null; constant feature refuses; reruns deterministic
      val wn = Relational.standardize(
        Seq((1L, Some(1.0)), (2L, None), (3L, Some(3.0))).toDF("id", "v"),
        col("v")).collect()
      assert(wn.find(_.getLong(0) == 2L).get.isNullAt(4))
      intercept[IllegalArgumentException](Relational.standardize(
        Seq.fill(5)((1L, 7.0)).toDF("id", "v"), col("v")))
      val a = Relational.standardize(d, col("v")).collect().map(_.toString).toSeq
      val b = Relational.standardize(d.repartition(5), col("v")).collect()
        .map(_.toString).toSeq
      assert(a.sorted === b.sorted)
    } finally graft.core.Caches.release()
  }

  test("corrMatrix: exact pairwise correlations in one pass; listwise deletion; degenerate null") {
    import spark.implicits._
    // y = 2x exactly (corr 1), z = -x (corr -1 with x), w constant
    val d = (1 to 10).map(i => (i.toLong, i.toDouble, 2.0 * i, -i.toDouble, 7.0))
      .toDF("id", "x", "y", "z", "w")
    val m = Relational.corrMatrix(d, Seq("x", "y", "z", "w")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(m(("x", "y")) === Some(1.0))
    assert(m(("x", "z")) === Some(-1.0))
    assert(m(("y", "z")) === Some(-1.0))
    // a constant column has no defined correlation — null, not NaN
    assert(m(("x", "w")) === None && m(("y", "w")) === None)
    // listwise deletion: a row with one null drops everywhere
    val m2 = Relational.corrMatrix(
      d.union(d.limit(1).select($"id", $"x",
        org.apache.spark.sql.functions.lit(null).cast("double").as("y"),
        $"z", $"w")),
      Seq("x", "y")).head()
    assert(m2.getDouble(2) === 1.0)
    // vs the builtin on the same frame: agreement to rounding
    val builtin = d.agg(org.apache.spark.sql.functions.corr($"x", $"y")).head().getDouble(0)
    assert(math.abs(builtin - 1.0) <= 1e-12)
    // determinism + refusals
    assert(Relational.corrMatrix(d.repartition(7), Seq("x", "y", "z"))
      .collect().map(_.toString).toSeq ===
      Relational.corrMatrix(d, Seq("x", "y", "z")).collect().map(_.toString).toSeq)
    intercept[IllegalArgumentException](Relational.corrMatrix(d, Seq("x")))
    intercept[IllegalArgumentException](Relational.corrMatrix(d, Seq("x", "x")))
    intercept[IllegalArgumentException](
      Relational.corrMatrix(d, (1 to 17).map(_ => "x").toSeq))
  }

  test("skewReport: hand-computed shares and entropy; uniform reads 1, constant reads 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 6 of a, 2 of b: max_share 0.75, H = -(.75 ln .75 + .25 ln .25), norm by ln 2
    val d = (Seq.fill(6)("a") ++ Seq.fill(2)("b")).toDF("k")
    val r = Relational.skewReport(d, col("k")).head()
    assert(r.getLong(0) === 8L && r.getLong(1) === 2L)
    assert(r.getDouble(2) === 0.75 && r.getString(3) === "a")
    val expH = -(0.75 * StrictMath.log(0.75) + 0.25 * StrictMath.log(0.25)) /
      StrictMath.log(2.0)
    assert(math.abs(r.getDouble(4) - expH) <= 1e-6, s"entropy ${r.getDouble(4)}")
    // uniform distribution: entropy_norm = 1 exactly
    val u = (1 to 4).map(_.toString).toDF("k")
    assert(Relational.skewReport(u, col("k")).head().getDouble(4) === 1.0)
    // a single key: degenerate entropy defined as 0
    val c = Seq.fill(5)("only").toDF("k")
    val cr = Relational.skewReport(c, col("k")).head()
    assert(cr.getDouble(4) === 0.0 && cr.getDouble(2) === 1.0)
    // real corpus sanity: deterministic, bounded
    val docs = graft.core.Tables(spark, sfDir, "documents")
    val s1 = Relational.skewReport(docs, col("source")).head()
    assert(s1.getDouble(4) >= 0.0 && s1.getDouble(4) <= 1.0)
    assert(Relational.skewReport(docs.repartition(7), col("source")).head()
      .toString === s1.toString)
  }

  test("spearmanMatrix: monotone-invariant, tie-corrected, equals a driver average-rank replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    graft.core.Caches.release()
    try {
      // x distinct, y = x^3 (monotone), z = -x: Spearman pins exactly
      val d1 = (1 to 50).map(i => (i.toDouble, math.pow(i, 3), -i.toDouble))
        .toDF("x", "y", "z")
      val m1 = Relational.spearmanMatrix(d1, Seq("x", "y", "z")).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      assert(m1(("x", "y")) === 1.0)
      assert(m1(("x", "z")) === -1.0)
      assert(m1(("y", "z")) === -1.0)
      // Pearson on the same frame is NOT 1 for the cubic — the contrast
      val p = Relational.corrMatrix(d1, Seq("x", "y")).head().getDouble(2)
      assert(p < 1.0)
      // ties share their AVERAGE rank: mirrored tie structure reads -1
      graft.core.Caches.release()
      val d2 = Seq((1.0, 4.0), (2.0, 3.0), (2.0, 3.0), (3.0, 1.0)).toDF("a", "b")
      assert(Relational.spearmanMatrix(d2, Seq("a", "b")).head()
        .getDouble(2) === -1.0)
      // driver replay on a messy tied fixture
      graft.core.Caches.release()
      val rows = (1 to 40).map(i => ((i % 7).toDouble, (i % 5).toDouble))
      val d3 = rows.toDF("a", "b")
      def avgRanks(xs: Seq[Double]): Seq[Double] = {
        val sorted = xs.sorted
        xs.map { v =>
          val lt = sorted.count(_ < v); val eq = sorted.count(_ == v)
          lt + (eq + 1) / 2.0
        }
      }
      val ra = avgRanks(rows.map(_._1)); val rb = avgRanks(rows.map(_._2))
      val n = rows.length
      val (ma, mb) = (ra.sum / n, rb.sum / n)
      val cov = ra.zip(rb).map { case (x, y) => (x - ma) * (y - mb) }.sum / n
      val sd = math.sqrt(ra.map(x => (x - ma) * (x - ma)).sum / n) *
        math.sqrt(rb.map(y => (y - mb) * (y - mb)).sum / n)
      val want = BigDecimal(cov / sd).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      val got = Relational.spearmanMatrix(d3, Seq("a", "b")).head().getDouble(2)
      assert(math.abs(got - want) <= 1e-6, s"got $got want $want")
      intercept[IllegalArgumentException](
        Relational.spearmanMatrix(d1, Seq("x")))
      intercept[IllegalArgumentException](
        Relational.spearmanMatrix(d1, Seq("x", "x")))
    } finally graft.core.Caches.release()
  }

  test("spearmanMatrix: run-to-run deterministic on a wide tied corpus (r15 regression)") {
    // r15: an UNPERSISTED repartitionByRange fed spark_partition_id
    // into the two-level scan, whose two plan arms re-sampled range
    // boundaries independently — at sf1.0 (millions of distinct
    // values) the same row bucketed differently across arms and the
    // ranks went nondeterministic. Persisting the ranged counts frame
    // pins the partitioning; this re-runs the operator on the real
    // corpus and demands bit-equal output (cheap at sf0.01, and the
    // discipline now covers every spark_partition_id call site).
    graft.core.Caches.release()
    try {
      val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      val a = Relational.spearmanMatrix(li, cols).collect().toSeq
      graft.core.Caches.release()
      val b = Relational.spearmanMatrix(li, cols).collect().toSeq
      assert(a == b, s"nondeterministic spearman: $a vs $b")
    } finally graft.core.Caches.release()
  }

  test("histogramEquiDepth: near-equal uniform bins, point mass collapses deterministically") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val d = (1 to 100).toDF("v")
    val out = Relational.histogramEquiDepth(d, "v", 4).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        r.getLong(3)))
    assert(out.map(_._4).sum === 100L)
    // verify every bin count against a driver recount using the
    // operator's OWN edges (robust to the sketch's rank convention)
    val edges = out.flatMap(_._2).distinct.sorted
    assert(edges.length === 3)
    for ((bin, _, _, n) <- out) {
      val want = (1 to 100).count(v => edges.count(e => v > e) == bin)
      assert(n === want.toLong, s"bin $bin")
      assert(n >= 20L && n <= 30L, s"uniform bin $bin holds $n")
    }
    // end bins are open (-inf / +inf as nulls)
    assert(out.head._2.isEmpty && out.last._3.isEmpty)
    // 91 copies of 7 collapse all three edges: ties land in the LOWEST
    // bin, the empties are absent, the tail keeps its own bin
    val sk = (Seq.fill(90)(7) ++ (1 to 10)).toDF("v")
    val skOut = Relational.histogramEquiDepth(sk, "v", 4).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(skOut === Map(0L -> 97L, 3L -> 3L))
    // empty input: zero rows with the normal schema
    assert(Relational.histogramEquiDepth(d.filter(col("v") > 1000), "v", 4)
      .collect().isEmpty)
    intercept[IllegalArgumentException](Relational.histogramEquiDepth(d, "v", 1))
    intercept[IllegalArgumentException](
      Relational.histogramEquiDepth(d, "v", 4, accuracy = 10))
  }

  test("bootstrapCI: deterministic, partition-invariant, sane band, 1/sqrt(n) narrowing, salt re-deal") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val d = (1 to 1000).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    def run(df: org.apache.spark.sql.DataFrame, salt: Long = 0L) =
      Relational.bootstrapCI(df, col("v"), col("id"), salt = salt)
        .head()
    val r = run(d)
    val (n, mean, lo, hi) = (r.getLong(0), r.getDouble(1),
      r.getDouble(2), r.getDouble(3))
    assert(n == 1000L && mean == 500.5)
    assert(lo < mean && mean < hi, s"[$lo, $hi] must bracket $mean")
    // sanity vs the known sampling error: se = sigma/sqrt(n) ≈ 9.13 for
    // uniform 1..1000; a 95% band is ~4·se wide, allow a generous band
    val width = hi - lo
    val se = math.sqrt((1000.0 * 1000.0 - 1) / 12.0) / math.sqrt(1000.0)
    assert(width > 2 * se && width < 6 * se, s"width $width vs se $se")
    // pure function of (data, salt): reruns and partitionings agree
    assert(run(d) == r)
    assert(run(d.repartition(13)) == r, "weights key on rows, not partitions")
    val redealt = run(d, salt = 7L)
    assert(redealt != r, "salt must re-deal the resamples")
    assert(redealt.getDouble(2) < mean && mean < redealt.getDouble(3))
    // 10x the data (fresh ids) -> the band narrows like 1/sqrt(n)
    val big = (1 to 10000).map(i => (i.toLong, ((i - 1) % 1000 + 1).toDouble))
      .toDF("id", "v")
    val rb = run(big)
    val widthBig = rb.getDouble(3) - rb.getDouble(2)
    assert(widthBig < 0.55 * width,
      s"10x rows must narrow the CI ~3x: $widthBig vs $width")
    // null-key and non-finite-value rows drop (an Infinity would
    // throw inside the exact-decimal conversion mid-task otherwise)
    assert(run(d.union(Seq(
      (Option.empty[Long], Option(5.0)),
      (Option(5000L), Option(Double.PositiveInfinity)),
      (Option(5001L), Option(Double.NaN)))
      .toDF("id", "v"))) == r)
    intercept[IllegalArgumentException](
      Relational.bootstrapCI(d.filter(col("v") > 1e9), col("v"), col("id")))
    intercept[IllegalArgumentException](
      Relational.bootstrapCI(d, col("v"), col("id"), b = 5))
    intercept[IllegalArgumentException](
      Relational.bootstrapCI(d, col("v"), col("id"), alpha = 0.0))
  }

  test("bootstrapCIPerGroup: each group's CI EQUALS the ungrouped run on its slice") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // weights key on (row key, resample, salt) alone — group membership
    // must not re-deal anything, so the grouped run is EXACTLY the
    // ungrouped run per slice. Null groups are a group.
    val d = (1 to 600).map { i =>
      val g = if (i % 3 == 0) None else Some(if (i % 3 == 1) "a" else "b")
      (i.toLong, g, i.toDouble * (i % 7 + 1))
    }.toDF("id", "g", "v")
    val grouped = Relational.bootstrapCIPerGroup(
        d, col("v"), col("id"), col("g"))
      .collect().map(r => Option(r.getString(0)) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getInt(5))).toMap
    assert(grouped.keySet == Set(Some("a"), Some("b"), None))
    for (g <- grouped.keySet) {
      val slice = g match {
        case Some(x) => d.filter(col("g") === x)
        case None => d.filter(col("g").isNull)
      }
      val solo = Relational.bootstrapCI(slice, col("v"), col("id")).head()
      assert(grouped(g) == ((solo.getLong(0), solo.getDouble(1),
        solo.getDouble(2), solo.getDouble(3), solo.getInt(4))),
        s"group $g diverged from its ungrouped slice")
    }
    // deterministic + partition-invariant like the ungrouped form
    val again = Relational.bootstrapCIPerGroup(
        d.repartition(11), col("v"), col("id"), col("g"))
      .collect().map(r => Option(r.getString(0)) -> r.getDouble(2)).toMap
    assert(again == grouped.view.mapValues(_._2).toMap)
    // the accumulator-state guard refuses a group explosion
    intercept[IllegalArgumentException](Relational.bootstrapCIPerGroup(
      d, col("v"), col("id"), col("id"), maxGroups = 100))
  }
}
