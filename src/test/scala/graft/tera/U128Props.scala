package graft.tera

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property-based checks of the 128-bit arithmetic against BigInt, and of
  * the generator/partitioner invariants (SURVEY.md §5).
  */
object U128Props extends Properties("U128") {

  private val M = BigInt(1) << 128
  private def big(x: U128): BigInt =
    (BigInt(x.hi) & ((BigInt(1) << 64) - 1)) << 64 | (BigInt(x.lo) & ((BigInt(1) << 64) - 1))

  private val genU128: Gen[U128] = for {
    hi <- Gen.choose(Long.MinValue, Long.MaxValue)
    lo <- Gen.choose(Long.MinValue, Long.MaxValue)
  } yield U128(hi, lo)

  property("add matches BigInt mod 2^128") = forAll(genU128, genU128) { (a, b) =>
    big(a + b) == (big(a) + big(b)) % M
  }

  property("mul matches BigInt mod 2^128") = forAll(genU128, genU128) { (a, b) =>
    big(a * b) == (big(a) * big(b)) % M
  }

  property("compare matches BigInt") = forAll(genU128, genU128) { (a, b) =>
    Integer.signum(a.compare(b)) == big(a).compare(big(b))
  }

  property("hex round-trips") = forAll(genU128) { a =>
    BigInt(a.toHex, 16) == big(a)
  }

  property("skipAhead(n+1) == next(skipAhead(n))") =
    forAll(Gen.choose(0L, 1L << 40)) { n =>
      TeraRandom.skipAhead(n + 1) == TeraRandom.next(TeraRandom.skipAhead(n))
    }

  property("prefix partitioner is monotone in the key") =
    forAll(Gen.choose(1, 64), Gen.listOfN(2, Gen.listOfN(10, Gen.choose(0, 255)))) {
      (parts, keys) =>
        val p = new TeraSort.PrefixRangePartitioner(parts)
        val Seq(k1, k2) = keys.map(_.map(_.toByte).toArray)
        val c = java.util.Arrays.compareUnsigned(k1, k2)
        val (b1, b2) = (p.getPartition(k1), p.getPartition(k2))
        Prop(if (c < 0) b1 <= b2 else if (c > 0) b1 >= b2 else b1 == b2) :| s"$b1 vs $b2"
    }

  property("partition sort orders keys sharing a 0-10 byte prefix") =
    forAll(Gen.choose(0, 10), Gen.choose(0, 300), Gen.long) { (shared, n, seed) =>
      val rnd = new scala.util.Random(seed)
      val prefix = Array.fill[Byte](shared)(rnd.nextInt().toByte)
      val recs = Seq.tabulate(n) { i =>
        (prefix ++ Array.fill[Byte](TeraGen.KeyLen - shared)(rnd.nextInt().toByte),
          Array.fill[Byte](TeraGen.ValueLen)(i.toByte))
      }
      def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
      val got = TeraSort.sortPartition(recs.iterator).toSeq
      val want = recs.sortBy(_._1)(TeraSort.byteArrayOrdering)
      Prop(got.map(r => hex(r._1)) == want.map(r => hex(r._1)) &&
        got.map(r => hex(r._1 ++ r._2)).sorted == want.map(r => hex(r._1 ++ r._2)).sorted) :|
        s"$shared shared bytes, $n records"
    }

  property("elf hash stays in partition range") =
    forAll(Gen.choose(1, 100), Gen.listOf(Gen.choose(0, 255))) { (parts, bytes) =>
      val bucket = new graft.core.ElfHashPartitioner(parts)
        .getPartition(bytes.map(_.toByte).toArray)
      bucket >= 0 && bucket < parts
    }
}
