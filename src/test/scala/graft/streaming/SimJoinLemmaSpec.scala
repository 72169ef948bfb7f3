package graft.streaming

import scala.util.Random

import graft.SparkSuite

/** Pins the COMPLETENESS LEMMA that makes [[StreamingSimJoin]] exact
  * across arbitrary per-key interleavings within one micro-batch (class
  * doc, "COMPLETENESS LEMMA"): for every pair at 3-gram Jaccard ≥ 0.6,
  * the SMALLEST shared gram (in the fixed ascending-hash order) sits
  * inside BOTH documents' prefixes, so both rows enroll on that key and
  * whichever is processed second finds the first — no global processing
  * order required. A future edit to the prefix length cannot silently
  * break same-batch completeness without failing this suite.
  *
  * (Seeded generator loops rather than ScalaCheck: the scalatest/
  * scalacheck bridge artifact isn't in the offline cache — same idiom as
  * KplRoundTripProps.)
  */
class SimJoinLemmaSpec extends SparkSuite {

  /** The production prefix length: `n − ⌈0.6·n⌉ + 1`. MUST match the SQL
    * in StreamingSimJoin.apply AND the batch TrainingOps.hSimjoinPrefix;
    * the formula-parity test below pins the SQL side.
    */
  private def plen(n: Long): Long = n - ((3 * n + 4) / 5) + 1

  /** Generate (a, b) as sorted distinct long arrays with an EXACTLY known
    * intersection: a shared core of size k plus disjoint per-side extras
    * sized so J = k / (k + xa + xb) ≥ 0.6 (extras drawn outside the core
    * and outside each other).
    */
  private def genPair(r: Random): (Array[Long], Array[Long], Long) = {
    val k = 3 + r.nextInt(198) // core size 3..200
    val maxExtras = (2 * k) / 3 // J >= 0.6  <=>  xa + xb <= 2k/3
    val total = r.nextInt(maxExtras + 1)
    val xa = r.nextInt(total + 1)
    val xb = total - xa
    val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (seen.size < k + xa + xb) seen += (r.nextLong() >>> 4) // 60-bit like md5-prefix
    val vals = seen.toArray
    val core = vals.take(k)
    val ea = vals.slice(k, k + xa)
    val eb = vals.slice(k + xa, k + xa + xb)
    val a = (core ++ ea).sorted
    val b = (core ++ eb).sorted
    (a, b, core.min)
  }

  test("lemma: ∀ pairs at J ≥ 0.6, the min shared gram is inside BOTH prefixes") {
    var checked = 0
    (0 until 400).foreach { i =>
      val r = new Random(7000 + i)
      val (a, b, minShared) = genPair(r)
      val ni = a.toSet.intersect(b.toSet).size.toLong
      val nu = a.length + b.length - ni
      // integer threshold check identical to the Processor's 5*ni >= 3*nu
      assert(5 * ni >= 3 * nu, s"generator must produce J >= 0.6 pairs (trial $i)")
      val posA = a.indexOf(minShared)
      val posB = b.indexOf(minShared)
      assert(posA >= 0 && posA < plen(a.length),
        s"trial $i: min shared gram at pos $posA escapes a's prefix ${plen(a.length)} (na=${a.length}, ni=$ni)")
      assert(posB >= 0 && posB < plen(b.length),
        s"trial $i: min shared gram at pos $posB escapes b's prefix ${plen(b.length)} (nb=${b.length}, ni=$ni)")
      checked += 1
    }
    assert(checked == 400)
  }

  test("the lemma is not vacuous: just below the threshold an adversarial pair escapes a prefix") {
    // n = 20, plen = 20 - 12 + 1 = 9. Give side a 9 extras ALL SMALLER than
    // the core: the min shared gram sits at position 9 == plen, outside the
    // prefix. With core k = 11 shared grams, J = 11 / (20 + 11 - 11) = 0.55.
    val core = (100L to 110L).toArray // k = 11
    val extras = (1L to 9L).toArray
    val a = (extras ++ core).sorted // na = 20
    val b = core // nb = 11
    val ni = 11L
    val nu = a.length + b.length - ni
    assert(5 * ni < 3 * nu, "this pair must sit BELOW J = 0.6")
    val posA = a.indexOf(core.min).toLong
    assert(posA >= plen(a.length),
      "below the threshold the min shared gram CAN escape the prefix — the lemma's bound is tight")
  }

  test("lemma consequence: both sides carry enroll=true on the min shared gram key") {
    // The Processor enrolls a row iff pos < plen; the lemma says both
    // sides do on g* — the double enrollment that closes same-batch pairs
    // without any cross-task ordering assumption.
    (0 until 100).foreach { i =>
      val r = new Random(9000 + i)
      val (a, b, minShared) = genPair(r)
      val enrollA = a.indexOf(minShared) < plen(a.length)
      val enrollB = b.indexOf(minShared) < plen(b.length)
      assert(enrollA && enrollB, s"trial $i: pair lacks a doubly-enrolled shared key")
    }
  }

  test("formula parity: the spec's plen matches the streaming SQL expression for n = 3..500") {
    val fromSql = spark.range(3, 501).toDF("n")
      .selectExpr("n", "n - ((3 * n + 4) DIV 5) + 1 AS plen")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (3L to 500L).foreach { n =>
      assert(fromSql(n) == plen(n), s"SQL plen diverges from the pinned formula at n=$n")
    }
  }
}
