package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  test("one seed gives the same payloads and positions; another seed different ones") {
    val a = new Gen(7L)
    val b = new Gen(7L)
    val c = new Gen(8L)
    assert(a.batch(0, 3L, 50) == b.batch(0, 3L, 50))
    assert(a.batch(0, 3L, 50) != c.batch(0, 3L, 50))
    assert((0 until 100).map(i => a.position(1, i, 10, 20)) == (0 until 100).map(i => b.position(1, i, 10, 20)))
    assert((0 until 100).map(i => a.position(1, i, 0, 1000)) != (0 until 100).map(i => c.position(1, i, 0, 1000)))
  }

  test("payloads are one-line JSON records and differ across calls, records and streams") {
    val g = new Gen(1L)
    val recs = g.batch(0, 0L, 50) ++ g.batch(0, 1L, 50) ++ g.batch(1, 0L, 50)
    assert(recs.distinct.size == recs.size)
    recs.foreach { r =>
      assert(r.startsWith("{") && r.endsWith("}") && !r.contains('\n'))
      assert(r.length >= 60 && r.length <= 200, r)
    }
  }

  test("positions stay in [from, until)") {
    val g = new Gen(3L)
    val ps = (0 until 10000).map(i => g.position(2, i, 900, 1000))
    assert(ps.forall(p => p >= 900 && p < 1000))
    assert(ps.distinct.size > 90)
    assertThrows[IllegalArgumentException](g.position(2, 0, 5, 5))
  }
}

class PctSpec extends AnyFunSuite {
  private def sorted(n: Int) = Array.tabulate(n)(i => (i + 1).toDouble)

  test("nearest rank is the value at rank ceil(p/100 * n)") {
    val s = sorted(10)
    assert(Pct.nearestRank(s, 50) == 5.0)
    assert(Pct.nearestRank(s, 90) == 9.0)
    assert(Pct.nearestRank(s, 91) == 10.0)
    assert(Pct.nearestRank(s, 100) == 10.0)
    assert(Pct.nearestRank(s, 0.1) == 1.0)
    assert(Pct.nearestRank(Array(4.0), 99) == 4.0)
  }

  test("the highest supported percentile keeps at least ten samples beyond it") {
    assert(Pct.highestSupported(9).isEmpty)
    assert(Pct.highestSupported(40).contains(75.0))
    assert(Pct.highestSupported(100).contains(90.0))
    assert(Pct.highestSupported(200).contains(95.0))
    assert(Pct.highestSupported(999).contains(95.0))
    assert(Pct.highestSupported(1000).contains(99.0))
    assert(Pct.highestSupported(10000).contains(99.9))
    for (n <- 1 to 3000; p <- Pct.highestSupported(n)) assert(Pct.beyond(n, p) >= Pct.MinBeyond)
  }

  test("a summary reports the count, the median and the supported high point") {
    val s = Pct.summary(scala.util.Random.shuffle((1 to 1000).map(_.toDouble)))
    assert(s == Pct.Summary(1000, 500.0, 99.0, 990.0))
    assert(Pct.summary(Seq(3.0, 1.0, 2.0)) == Pct.Summary(3, 2.0, 100.0, 3.0))
    assert(Pct.summary(Nil) == Pct.Summary(0, 0.0, 0.0, 0.0))
    assert(Pct.of(Nil, 50) == 0.0)
  }
}

class OpenLoopSpec extends AnyFunSuite {
  test("calls are due on the schedule, and a call that overruns makes the next ones late") {
    var now = 0L
    val loop = new OpenLoop(10.0, () => now, ns => now += ns) // due every 100 ms
    val dues = scala.collection.mutable.ArrayBuffer.empty[Long]
    val calls = loop.run(1000000000L) { (i, due) =>
      dues += due
      // call 2 takes 250 ms; every other call 10 ms
      now += (if (i == 2) 250000000L else 10000000L)
    }
    assert(calls == 10)
    assert(dues == (0 until 10).map(_ * 100000000L))
    // call 3, due at 300 ms, starts when call 2 ends at 450 ms; call 4,
    // due at 400 ms, starts when call 3 ends at 460 ms
    val late = loop.lateMs
    assert(late.take(3) == Seq(0.0, 0.0, 0.0))
    assert(late(3) == 150.0)
    assert(late(4) == 60.0)
    assert(late.drop(5).forall(_ == 0.0))
  }
}

class StealTrackSpec extends AnyFunSuite {
  test("steal between readings reads as cores, and the threshold flags a twentieth of them") {
    var now = 0L
    var ticks = 0L
    val t = new Host.StealTrack(() => ticks, () => now)
    // readings each second; 50 ticks (half a core) stolen in the second second
    for (add <- Seq(0L, 0L, 50L, 0L)) { now += 1000000000L; ticks += add; t.read() }
    assert(t.cores(1000000000L, 2000000000L) == 0.0)
    assert(t.cores(2000000000L, 3000000000L) == 0.5)
    // a stretch between readings widens to the readings around it
    assert(t.cores(2500000000L, 2600000000L) == 0.5)
    assert(t.cores(1000000000L, 9000000000L) == 50 / 100.0 / 3)
    assert(new Host.StealTrack(() => 0L, () => 0L).cores(0L, 1L) == 0.0)
    assert(Host.stolen(0.051 * Host.cores) && !Host.stolen(0.049 * Host.cores))
  }
}

class TableGenSpec extends AnyFunSuite {
  test("one seed gives the same tables; another seed different ones") {
    assert(TableGen.lineitem(7L) == TableGen.lineitem(7L))
    assert(TableGen.documents(7L) == TableGen.documents(7L))
    assert(TableGen.embeddings(7L) == TableGen.embeddings(7L))
    assert(TableGen.lineitem(7L) != TableGen.lineitem(8L))
    assert(TableGen.documents(7L) != TableGen.documents(8L))
    assert(TableGen.embeddings(7L) != TableGen.embeddings(8L))
  }

  test("rows fit their schemas and the sizes the registry reads") {
    val li = TableGen.lineitem(1L)
    assert(li.size == TableGen.LineItems && li.forall(_.length == TableGen.lineitemSchema.size))
    assert(li.map(_.getString(9)).toSet == Set("F", "O"))
    val docs = TableGen.documents(1L)
    assert(docs.size == TableGen.Documents && docs.forall(_.length == TableGen.documentsSchema.size))
    assert(docs.forall(r => r.getLong(4) == r.getString(1).length))
    val vecs = TableGen.embeddings(1L)
    assert(vecs.size == TableGen.Embeddings)
    vecs.foreach { r =>
      val v = r.getSeq[Float](1)
      assert(v.size == TableGen.Dims && math.abs(math.sqrt(v.map(x => x.toDouble * x).sum) - 1.0) < 1e-5)
    }
  }

  test("about one document in ten is a near copy of an earlier one") {
    val words = TableGen.documents(3L).map(_.getString(1).split(" "))
    val nearCopies = words.indices.count { i =>
      (0 until i).exists(j => words(j).length == words(i).length &&
        words(j).indices.count(k => words(j)(k) != words(i)(k)) <= 2)
    }
    assert(nearCopies > TableGen.Documents / 20 && nearCopies < TableGen.Documents / 5)
  }
}
