package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Randomized algebraic properties of the codegen kernels, checked
  * directly against naive reference implementations (no Spark session —
  * these are the exact JVM methods `doGenCode` invokes). Deterministic
  * seed so failures replay.
  */
class KernelPropertySpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(42)

  private def strArray(xs: Seq[String]): GenericArrayData =
    new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])
  private def longArray(xs: Seq[Long]): GenericArrayData =
    new GenericArrayData(xs.toArray)

  test("mulMod61 equals wide-integer reference arithmetic") {
    val p = BigInt(2).pow(61) - 1
    (1 to 20000).foreach { _ =>
      val a = rnd.nextLong() & ((1L << 60) - 1)
      val h = rnd.nextLong() & ((1L << 60) - 1)
      assert(BigInt(HashKernels.mulMod61(a, h)) == (BigInt(a) * BigInt(h)) % p,
        s"a=$a h=$h")
    }
  }

  test("sortedIntersectCount equals set-intersection cardinality") {
    (1 to 500).foreach { _ =>
      val a = Seq.fill(rnd.nextInt(40))(rnd.nextInt(30).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(40))(rnd.nextInt(30).toLong).distinct.sorted
      val exp = (a.toSet & b.toSet).size
      assert(HashKernels.sortedIntersectCount(longArray(a), longArray(b)) == exp,
        s"a=$a b=$b")
    }
  }

  test("sortedHash60 is the sorted distinct image of hash60") {
    (1 to 300).foreach { _ =>
      val xs = Seq.fill(rnd.nextInt(30))(s"tok${rnd.nextInt(15)}")
      val got = {
        val arr = HashKernels.sortedHash60(strArray(xs))
        (0 until arr.numElements()).map(arr.getLong)
      }
      val exp = xs.distinct.map(HashKernels.hash60).sorted
      assert(got == exp, s"xs=$xs")
    }
  }

  test("simhash60 is invariant under token permutation (commutative votes)") {
    (1 to 200).foreach { _ =>
      val xs = Seq.fill(rnd.nextInt(25) + 1)(s"w${rnd.nextInt(10)}")
      val shuffled = rnd.shuffle(xs)
      assert(HashKernels.simhash60(strArray(xs)) ==
        HashKernels.simhash60(strArray(shuffled)), s"xs=$xs")
    }
  }

  test("minHashSigs: duplicate-invariant and sig(A ++ B) = min(sig(A), sig(B))") {
    (1 to 200).foreach { _ =>
      val a = Seq.fill(rnd.nextInt(15) + 1)(s"s${rnd.nextInt(20)}")
      val b = Seq.fill(rnd.nextInt(15) + 1)(s"s${rnd.nextInt(20)}")
      def sigs(xs: Seq[String]): Seq[Long] = {
        val arr = HashKernels.minHashSigs(strArray(xs), 8)
        (0 until arr.numElements()).map(arr.getLong)
      }
      // min over a multiset == min over its set
      assert(sigs(a ++ a) == sigs(a))
      // the defining merge property of min-hash signatures
      val merged = sigs(a ++ b)
      val expected = sigs(a).zip(sigs(b)).map { case (x, y) => math.min(x, y) }
      assert(merged == expected, s"a=$a b=$b")
    }
  }

  test("postingPairs equals the naive i<j enumeration with the size filter") {
    (1 to 300).foreach { _ =>
      val n = rnd.nextInt(12)
      val tau = Seq(0.3, 0.5, 0.8)(rnd.nextInt(3))
      val entries = (0 until n).map { i =>
        (i.toLong * 7 + 1, rnd.nextInt(50) + 1, rnd.nextInt(20).toLong)
      }.sortBy(_._1)
      val input = new GenericArrayData(entries.map { case (id, ns, nr) =>
        new GenericInternalRow(Array[Any](id, ns, nr)): Any
      }.toArray)
      val got = {
        val arr = HashKernels.postingPairs(input, tau)
        (0 until arr.numElements()).map { i =>
          val r = arr.getStruct(i, 6)
          (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4), r.getLong(5))
        }
      }
      val exp = for {
        i <- 0 until n
        j <- (i + 1) until n
        (ia, na, ra) = entries(i)
        (ib, nb, rb) = entries(j)
        if math.min(na, nb) + 1e-9 >= tau * math.max(na, nb)
      } yield (ia, ib, na, nb, ra, rb)
      assert(got == exp, s"entries=$entries tau=$tau")
    }
  }

  test("rollingMin equals the min over all k-substring hashes") {
    (1 to 300).foreach { _ =>
      val s = Seq.fill(rnd.nextInt(30))(('a' + rnd.nextInt(5)).toChar).mkString
      val k = rnd.nextInt(8) + 2
      val got = HashKernels.rollingMin(UTF8String.fromString(s), k)
      if (s.length < k) assert(got == Long.MaxValue)
      else {
        val exp = (0 to s.length - k).map(i => HashKernels.hash60(s.substring(i, i + k))).min
        assert(got == exp, s"s=$s k=$k")
      }
    }
  }

  test("SignBits' interpreted path sets bit p iff the left fold v·plane_p is positive") {
    val kernel = SignBits(BoundReference(0, ArrayType(DoubleType), nullable = true),
      BoundReference(1, ArrayType(ArrayType(DoubleType)), nullable = true))
    def special(): Double = rnd.nextInt(40) match {
      case 0 => Double.NaN
      case 1 => Double.PositiveInfinity
      case 2 => -0.0
      case 3 => 0.0
      case _ => rnd.nextGaussian()
    }
    (1 to 500).foreach { _ =>
      val nPlanes = rnd.nextInt(64) + 1
      val dims = rnd.nextInt(70)
      val v = Seq.fill(dims)(special())
      val planes = Seq.fill(nPlanes)(Seq.fill(rnd.nextInt(70))(if (rnd.nextBoolean()) 1.0 else -1.0))
      val exp = planes.zipWithIndex.foldLeft(0L) { case (bits, (plane, p)) =>
        val dot = v.zip(plane).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
        if (dot > 0.0 || dot.isNaN) bits | (1L << p) else bits
      }
      val row = new GenericInternalRow(Array[Any](
        new GenericArrayData(v.toArray[Any]),
        new GenericArrayData(planes.map(pl => new GenericArrayData(pl.toArray[Any]): Any).toArray)))
      assert(kernel.eval(row) == exp, s"v=$v planes=$planes")
    }
    assert(kernel.eval(new GenericInternalRow(Array[Any](null, longArray(Nil)))) == null)
  }
}
