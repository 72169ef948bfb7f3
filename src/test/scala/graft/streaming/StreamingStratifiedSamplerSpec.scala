package graft.streaming

/** The streaming sampler, [[StreamingStratifiedSampler]]: the bottom-k merge
  * is order- and batching-insensitive, so after any prefix the latest
  * per-stratum row equals batch `h_stratified_sample` over the rows seen —
  * the `Sampler` row of [[TwinContracts]]. */
class StreamingStratifiedSamplerSpec extends TwinSuite {

  test("mergeBottomK is commutative, associative, idempotent, and split-invariant") {
    import StreamingStratifiedSampler.{mergeBottomK, SampleEntry}
    // deterministic pseudo-random entries, duplicates included on purpose
    def entry(i: Long): SampleEntry =
      SampleEntry(draw = (i * 2654435761L) % 997, doc_id = i % 61, n_chars = i % 13)
    val pool = (0L until 200L).map(entry).toVector
    val k = 10
    val whole = mergeBottomK(pool, Vector.empty, k)
    for (seed <- 1 to 20) {
      val shuffled = new scala.util.Random(seed).shuffle(pool)
      val (a, b) = shuffled.splitAt(seed * 7 % pool.size)
      val ka = mergeBottomK(a, Vector.empty, k)
      val kb = mergeBottomK(b, Vector.empty, k)
      // commutative + split-invariant: any split, any order, same sample
      assert(mergeBottomK(ka, kb, k) == whole, s"seed $seed: split changed the sample")
      assert(mergeBottomK(kb, ka, k) == whole, s"seed $seed: order changed the sample")
      // associative over a 3-way split
      val (b1, b2) = b.splitAt(b.size / 2)
      val lhs = mergeBottomK(mergeBottomK(a, b1, k), b2, k)
      val rhs = mergeBottomK(a, mergeBottomK(b1, b2, k), k)
      assert(lhs == whole && rhs == whole, s"seed $seed: associativity broke")
      // idempotent: re-merging a sample (redelivery) is a no-op
      assert(mergeBottomK(whole, whole, k) == whole)
      assert(mergeBottomK(whole, a, k) == mergeBottomK(whole ++ a, Vector.empty, k))
    }
  }
}
