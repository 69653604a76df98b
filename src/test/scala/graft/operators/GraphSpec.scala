package graft.operators

import graft.SparkSpec

/** Connected components ([[Graph.connectedComponents]]) — the cluster
  * collapse behind q55_dedup_clusters.
  */
class GraphSpec extends SparkSpec {

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    try Graph.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally graft.core.Caches.release()
  }

  test("chain, clique, isolated pair, and a bridge all collapse to the min id") {
    val edges = Seq[(Long, Long)](
      // chain 1-2-3-4-5
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      // clique on 10,11,12
      (10L, 11L), (11L, 12L), (10L, 12L),
      // isolated pair (order reversed on purpose)
      (21L, 20L),
      // bridge merging the chain and the clique
      (5L, 10L))
    val labels = cc(edges)
    assert(labels.keySet === Set(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L, 20L, 21L))
    Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L).foreach(v => assert(labels(v) === 1L, s"v=$v"))
    assert(labels(20L) === 20L && labels(21L) === 20L)
  }

  test("a 200-vertex path converges (pointer jumping, not O(diameter) rounds)") {
    val edges = (0L until 199L).map(i => (i, i + 1))
    val labels = cc(edges)
    assert(labels.size === 200)
    assert(labels.values.forall(_ == 0L))
  }

  test("local finish (r20): counted-small graphs equal the distributed fixpoint bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // random graph + adversarial shapes: chain, star hub, isolated pairs
    val edges = (Seq.tabulate(300)(_ =>
        (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)) ++
      (200L until 260L).map(i => (i, i + 1)) ++
      Seq.tabulate(40)(i => (500L, 600L + i))).filter(e => e._1 != e._2)
    val df = edges.toDF("src", "dst")
    val local = try Graph.connectedComponents(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally graft.core.Caches.release()
    assert(Graph.lastCcRounds.map(_.sumDelta) == Vector("local"),
      s"small graph must take the local path: ${Graph.lastCcRounds}")
    val dist = try Graph.connectedComponents(df, localEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally graft.core.Caches.release()
    assert(Graph.lastCcRounds.last.sumDelta == "0",
      s"localEdgeLimit=0 must force the distributed loop: ${Graph.lastCcRounds}")
    assert(local == dist)
  }

  test("per-round fixpoint accounting (r20): rounds/edges/parts recorded on both cores, zero extra jobs") {
    val edges = (0L until 199L).map(i => (i, i + 1))
    import spark.implicits._
    try Graph.connectedComponents(edges.toDF("src", "dst"), localEdgeLimit = 0)
      .collect()
    finally graft.core.Caches.release() // distributed core (the local finish has no rounds to account)
    val rounds = Graph.lastCcRounds
    assert(rounds.nonEmpty && rounds.size <= 10,
      s"200-path must converge in O(log d) recorded rounds: ${rounds.size}")
    assert(rounds.map(_.round) == (0 until rounds.size).toVector)
    assert(rounds.forall(_.wallMs >= 0))
    // the fixpoint round records delta 0; every earlier round progressed
    assert(rounds.last.sumDelta == "0", rounds.last.toString)
    assert(rounds.init.forall(r => BigInt(r.sumDelta) > 0), rounds.toString)
    // symmetrized dedup: 199 pairs -> 398 directed edges
    assert(Graph.lastCcEdges == 398L, s"edges=${Graph.lastCcEdges}")
    assert(Graph.lastCcParts >= 1)
    // salted core records the same table shape
    import spark.implicits._
    val df = edges.toDF("src", "dst")
    try Graph.connectedComponents(df, saltHubs = 4).collect()
    finally graft.core.Caches.release()
    assert(Graph.lastCcRounds.nonEmpty && Graph.lastCcRounds.last.sumDelta == "0")
    assert(Graph.lastCcParts >= 1)
  }

  test("duplicate edges, self-loops, and reversed duplicates are harmless") {
    val labels = cc(Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L)))
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("duplicateClusters on sf0.001 documents matches a brute-force closure") {
    val d = graft.core.Tables(spark, sfDir, "documents")
    val out = try Dedup.duplicateClusters(d).collect()
    finally graft.core.Caches.release()
    // brute-force reference: same edge sets, driver-side union-find
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val exact = d.select(md5(col("text")).as("h"), col("doc_id"))
      .withColumn("m", min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .filter(col("doc_id") =!= col("m"))
      .select(col("m"), col("doc_id")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val sim = try Dedup.simhashNearDup(d).select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    finally graft.core.Caches.release()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    (exact ++ sim).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = parent.keys.map(v => v -> find(v)).toMap
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap === expect)
    // cluster_size is consistent with the label multiset
    val sizes = expect.values.toSeq.groupBy(identity).map { case (k, vs) => k -> vs.size.toLong }
    out.foreach(r => assert(r.getLong(2) === sizes(r.getLong(1))))
  }

  test("pageRank: mass conserves, hubs outrank leaves, reruns are bit-identical") {
    import spark.implicits._
    // star (1 center, 3 leaves) + disconnected pair
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (10L, 11L)).toDF("src", "dst")
    def run() = try Graph.pageRank(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) finally graft.core.Caches.release()
    val out = run()
    val ranks = out.map(x => x._1 -> x._3).toMap
    assert(math.abs(out.map(_._3).sum - 1.0) < 1e-6)  // Σr = 1 up to rounding
    assert(ranks(1L) > ranks(2L))                     // hub beats leaf
    assert(Seq(2L, 3L, 4L).map(ranks).distinct.size == 1) // symmetric leaves tie
    assert(ranks(10L) == ranks(11L))
    assert(out.find(_._1 == 1L).get._2 == 3L)         // degree column
    assert(run().sameElements(out))                   // deterministic
  }

  test("pageRank early-exit is decimal-exact and bit-identical to fixed iterations") {
    import spark.implicits._
    def run(edges: org.apache.spark.sql.DataFrame, ee: Boolean) =
      try Graph.pageRank(edges, earlyExit = ee).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      finally graft.core.Caches.release()
    // regular components (disjoint pair + triangle): the uniform vector
    // is the EXACT 12-decimal fixpoint, so the loop must stop after one
    // iteration — and return exactly what all ten would have
    val regular = Seq((1L, 2L), (10L, 11L), (11L, 12L), (10L, 12L)).toDF("src", "dst")
    val fast = run(regular, ee = true)
    assert(Graph.lastIters == 1)
    val full = run(regular, ee = false)
    assert(Graph.lastIters == 10)
    assert(fast.sameElements(full))
    // hub-and-spoke: ranks keep moving (0.85^10 of the initial gap is
    // far above 1e-12), so no exact fixpoint — all ten iterations run
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val s1 = run(star, ee = true)
    assert(Graph.lastIters == 10)
    assert(s1.sameElements(run(star, ee = false)))
  }

  test("round12/dec12 kernels are bit-identical to the Spark SQL expressions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // magnitudes spanning the pagerank domain (ranks, contributions,
    // smoothing terms) plus adversarial rounding positions
    val rnd = new scala.util.Random(20260813L)
    val xs = Seq.fill(20000)(rnd.nextDouble() * math.pow(10.0, rnd.nextInt(13) - 12)) ++
      Seq(0.0, 1.0, 0.5e-12, 1.5e-12, 2.5e-12, 1.0 / 3.0, 0.1234567890125, 0.9999999999995)
    val viaSql = xs.toDF("x").select(round(col("x"), 12).as("r")).collect().map(_.getDouble(0))
    xs.zip(viaSql).foreach { case (x, s) =>
      assert(java.lang.Double.doubleToRawLongBits(Graph.round12(x)) ==
             java.lang.Double.doubleToRawLongBits(s), s"round12($x)")
    }
    // the full contribution pipeline: round → cast decimal(38,12) →
    // exact sum → cast double, vs the BigDecimal kernel
    val grouped = xs.grouped(40).toSeq
    val viaSqlSum = grouped.zipWithIndex
      .flatMap { case (g, i) => g.map(x => (i, x)) }.toDF("g", "x")
      .groupBy(col("g"))
      .agg(sum(round(col("x"), 12).cast("decimal(38,12)")).cast("double").as("s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    grouped.zipWithIndex.foreach { case (g, i) =>
      val kernel = g.map(x => Graph.dec12(Graph.round12(x)))
        .reduce(_.add(_)).doubleValue()
      assert(java.lang.Double.doubleToRawLongBits(kernel) ==
             java.lang.Double.doubleToRawLongBits(viaSqlSum(i)), s"group $i")
    }
  }

  test("RDD cores match the DataFrame reference implementations (differential)") {
    import spark.implicits._
    // messy random graphs: chains, merges, self-loops, duplicates; a
    // sparse one (many components, long chains — exercises the pointer
    // jump) and a dense one (few components — exercises hub messaging)
    val rnd = new scala.util.Random(42)
    val sparse = Seq.fill(80)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
    val dense = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
    val chain = (0L until 64L).map(i => (i, i + 1)) // diameter 64: O(log d) rounds
    val empty = Seq.empty[(Long, Long)] // zero edges: both impls must return zero rows
    val shapes = Seq(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 10L), (10L, 11L), (11L, 12L), (20L, 21L)),
      sparse, dense, chain, empty)
    shapes.foreach { edges =>
      val df = edges.toDF("src", "dst")
      val cc = try Graph.connectedComponents(df).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      finally graft.core.Caches.release()
      val ccRef = try GraphSqlTwins.connectedComponentsSql(df).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      finally graft.core.Caches.release()
      assert(cc == ccRef)
      val pr = try Graph.pageRank(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
      finally graft.core.Caches.release()
      val prRef = try GraphSqlTwins.pageRankSql(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
      finally graft.core.Caches.release()
      // bit-identical ranks, not approximately equal
      assert(pr == prRef)
    }
    // and on the real near-dup graph of the sf0.001 documents table
    val d = graft.core.Tables(spark, sfDir, "documents")
    val pairs = try Dedup.simhashNearDup(d)
      .select(org.apache.spark.sql.functions.col("doc_a").as("src"),
        org.apache.spark.sql.functions.col("doc_b").as("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    finally graft.core.Caches.release()
    val pdf = pairs.toDF("src", "dst")
    val pr = try Graph.pageRank(pdf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    finally graft.core.Caches.release()
    val prRef = try GraphSqlTwins.pageRankSql(pdf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    finally graft.core.Caches.release()
    assert(pr == prRef)
  }

  test("hub salting splits a 1e5-degree hub's partition and keeps results identical") {
    import spark.implicits._
    val hubDeg = 100000
    // one hub (vertex 0) with 1e5 spokes, plus a messy off-hub tail so
    // the salted loop also exercises cold vertices and a second component
    val rnd = new scala.util.Random(7)
    val hub = (1 to hubDeg).map(i => (0L, i.toLong))
    val tail = Seq.fill(500)((200000L + rnd.nextInt(300), 200000L + rnd.nextInt(300)))
    val df = (hub ++ tail).toDF("src", "dst")
    val k = 8

    // partition-width: the hub is detected hot and its adjacency list is
    // spread over the salt lanes instead of sitting in one partition
    val (salted, deg, _, hot, threshold) = Graph.saltedPrep(df, k)
    try {
      assert(hot.value.size == 1 && hot.value.contains(0L))
      assert(threshold > 0 && threshold < hubDeg) // the hub is over it
      assert(deg.lookup(0L) == Seq(hubDeg.toLong))
      val widths = salted.mapPartitions(it => Iterator.single(it.size)).collect()
      // unsalted, one partition would hold all 1e5 hub-keyed rows; salted,
      // no partition may hold more than a small multiple of total/parts
      assert(widths.max < hubDeg * 3 / 10,
        s"max partition width ${widths.max} — hub adjacency list not split")
      assert(widths.count(_ > 0) >= k / 2) // really spread, not 2 fat lanes
    } finally graft.core.Caches.release()

    // results through the salted path are IDENTICAL to the plain path:
    // labels bit-equal (min is idempotent across replicated lanes) ...
    def ccRun(salt: Int) = try Graph.connectedComponents(df, saltHubs = salt)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    finally graft.core.Caches.release()
    assert(ccRun(k) == ccRun(1))
    // ... and ranks bit-equal (decimal-exact sums are associative, so
    // lane-partial contributions total to the same decimal)
    def prRun(salt: Int) = try Graph.pageRank(df, saltHubs = salt)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    finally graft.core.Caches.release()
    assert(prRun(k) == prRun(1))

    // a graph with NO hot vertices through the salted path still matches
    // (everything rides lane 0; threshold boundary exercised)
    val cold = Seq.fill(80)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong)).toDF("src", "dst")
    def ccCold(salt: Int) = try Graph.connectedComponents(cold, saltHubs = salt)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    finally graft.core.Caches.release()
    assert(ccCold(k) == ccCold(1))
  }

  test("labelPropagation: bridged triangles stay two communities where CC welds one; RDD = SQL") {
    import spark.implicits._
    // two triangles joined by one bridge (3-4): the near-dup shape where
    // a single coincidental pair must NOT merge two mirror clusters
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("src", "dst")
    def lpa(iters: Int) = try Graph.labelPropagation(tri, iters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally graft.core.Caches.release()
    // hand-traced synchronous rounds settle at {1,2,3}→1, {4,5,6}→3
    val settled = lpa(4)
    assert(settled == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L), s"got $settled")
    assert(lpa(6) == settled, "already stable — more rounds change nothing")
    // CC on the same edges gives ONE component — the contrast LPA exists for
    val cc = try Graph.connectedComponents(tri).collect()
      .map(r => r.getLong(1)).distinct.toSeq
    finally graft.core.Caches.release()
    assert(cc == Seq(1L))
    // synchronous determinism on an oscillating star: exact snapshot at
    // each fixed round count, pure function of (edges, iters)
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    def starAt(iters: Int) = try Graph.labelPropagation(star, iters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally graft.core.Caches.release()
    assert(starAt(1) == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    assert(starAt(2) == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
    assert(starAt(2) == starAt(2), "fixed-round snapshot is reproducible")
    // differential: RDD loop == DataFrame twin on a seeded random graph
    val rnd2 = new scala.util.Random(11)
    val g = Seq.fill(120)((rnd2.nextInt(40).toLong, rnd2.nextInt(40).toLong))
      .filter(p => p._1 != p._2).toDF("src", "dst")
    val rddOut = try Graph.labelPropagation(g, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally graft.core.Caches.release()
    val sqlOut = try GraphSqlTwins.labelPropagationSql(g, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally graft.core.Caches.release()
    assert(rddOut == sqlOut)
    intercept[IllegalArgumentException](Graph.labelPropagation(tri, iters = 0))
  }

  test("kCore: peeling order, core degrees, empty core, brute-force differential") {
    import spark.implicits._
    // triangle {1,2,3} with a tail 3-4-5: the 2-core is the triangle
    // (5 peels at round 1, which drops 4 to degree 1 at round 2);
    // duplicate and reversed edges and a self-loop must not count
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (2L, 1L), (6L, 6L)).toDF("src", "dst")
    try {
      val core2 = Graph.kCore(g, k = 2).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(core2 === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
      // k past the degeneracy: zero rows, normal schema
      val core3 = Graph.kCore(g, k = 3)
      assert(core3.columns.toSeq === Seq("vertex", "core_degree"))
      assert(core3.count() === 0L)
      graft.core.Caches.release()
      // brute-force differential on a seeded random graph: iterative
      // in-memory peeling must agree exactly
      val rnd = new scala.util.Random(7)
      val pairs = Seq.fill(150)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(p => p._1 != p._2).distinct
      val gd = pairs.toDF("src", "dst")
      val adj = scala.collection.mutable.Map[Long, scala.collection.mutable.Set[Long]]()
      pairs.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, scala.collection.mutable.Set()) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set()) += a
      }
      val k = 3
      var changed = true
      while (changed) {
        val drop = adj.collect { case (v, ns) if ns.size < k => v }.toSeq
        changed = drop.nonEmpty
        drop.foreach { v => adj.remove(v); adj.values.foreach(_ -= v) }
      }
      val want = adj.map { case (v, ns) => v -> ns.size.toLong }.toMap
      val got = Graph.kCore(gd, k).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want)
      graft.core.Caches.release()
      // repartition invariance
      val got2 = Graph.kCore(gd.repartition(9), k).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got2 === want)
      graft.core.Caches.release()
      // a path graph peels two endpoints per round: depth > maxIters
      // refuses loudly instead of returning a half-peeled subgraph
      val path = (0L until 12L).sliding(2).map(s => (s(0), s(1))).toSeq
        .toDF("src", "dst")
      val e = intercept[IllegalArgumentException](
        Graph.kCore(path, k = 2, maxIters = 2))
      assert(e.getMessage.contains("did not converge"))
      intercept[IllegalArgumentException](Graph.kCore(g, k = 1))
    } finally graft.core.Caches.release()
  }
}
