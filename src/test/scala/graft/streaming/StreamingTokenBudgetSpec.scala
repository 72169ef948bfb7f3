package graft.streaming

/** The streaming admission ledger, [[StreamingTokenBudget]]: the admitted
  * set + cut boundary is order- and batching-insensitive, so after any
  * prefix the latest per-lang row equals the batch `h_token_budget_mix`
  * prefix cut over the rows seen — the `TokenBudget` row of
  * [[TwinContracts]]. */
class StreamingTokenBudgetSpec extends TwinSuite {

  import StreamingTokenBudget._

  test("ledger recut/insert/merge is commutative, associative, idempotent, split-invariant") {
    // deterministic pseudo-random entries with VARIED weights — the
    // weighted prefix cut is where naive admitted-only state goes wrong
    // (a doc under the local cut but over the global one); duplicates
    // planted on purpose
    def entry(i: Long): Adm = Adm(
      draw = (i * 2654435761L) % 997, doc_id = i % 61, toks = 1L + (i * 7919L) % 40L)
    val pool = (0L until 240L).map(entry).toVector
    for (budget <- Seq(50L, 300L, 1500L, 100000L); seed <- 1 to 20) {
      val whole = recut(pool, Long.MaxValue, Long.MaxValue, budget)
      val shuffled = new scala.util.Random(seed).shuffle(pool)
      val (a, b) = shuffled.splitAt(seed * 11 % pool.size)
      val la = recut(a, Long.MaxValue, Long.MaxValue, budget)
      val lb = recut(b, Long.MaxValue, Long.MaxValue, budget)
      // commutative + split-invariant: any split, any order, same ledger
      assert(merge(la, lb, budget) == whole, s"b=$budget seed=$seed: split changed the cut")
      assert(merge(lb, la, budget) == whole, s"b=$budget seed=$seed: order changed the cut")
      // associative over a 3-way split (incremental arrival)
      val (b1, b2) = b.splitAt(b.size / 2)
      val lhs = insert(insert(la, b1, budget), b2, budget)
      val rhs = merge(la, insert(recut(b1, Long.MaxValue, Long.MaxValue, budget), b2, budget), budget)
      assert(lhs == whole && rhs == whole, s"b=$budget seed=$seed: associativity broke")
      // idempotent: redelivery of the ledger's own rows is a no-op
      assert(merge(whole, whole, budget) == whole)
      assert(insert(whole, whole.admitted, budget) == whole)
    }
  }
}
