package graft.streaming

import graft.SparkSpec
import graft.operators.CorpusOps

/** The seventeenth twin, [[StreamingDomainRollup]]: over the full
  * synthesized fetch log (originals and re-crawl variants) in adversarial
  * order, the per-domain (n_docs, n_raw_urls, n_canon_urls, n_hosts) row
  * equals batch `h_domain_rollup`'s columns — the `DomainRollup` row of
  * [[TwinContracts]]. The twin shares the batch canonicalization
  * projection, so this is a contract on the stateful ledger. */
class StreamingDomainRollupSpec extends TwinSuite {

  test("re-fetch of a seen raw URL under a NEW doc_id still counts the doc (round-19 advice)") {
    // a real crawl can re-fetch one URL under a new doc id — the doc/canon/
    // host ledgers must count independently of raw-URL idempotence (only
    // n_raw dedups on the raw URL, mirroring the at-least-once replay guard)
    val base = CorpusOps.domainRawUrls(spark, SparkSpec.sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1))).take(20).toSeq
    val refetch = base.map { case (id, u) => (id + 5000000L, u) }
    def referee(rows: Seq[(Long, String)]) = TwinContracts.DomainRollup.referee(rows)

    // the re-fetch wave doubles n_docs but must move NO other ledger
    val exp = referee(base ++ refetch)
    assert(exp.values.map(_._1).sum == 2L * base.map(_._1).distinct.length,
      "referee sanity: re-fetch wave must double the distinct-doc count")
    assert(exp == referee(base).map { case (d, (nd, nr, nc, nh)) => d -> (2 * nd, nr, nc, nh) },
      "referee sanity: raw/canon/host ledgers must be unmoved by the re-fetch wave")

    val run = TwinContracts.DomainRollup.run().start()
    try {
      run.add(base)
      assert(TwinContracts.DomainRollup.view(run) == referee(base), "base wave diverged from the referee")
      run.add(refetch)
      assert(TwinContracts.DomainRollup.view(run) == exp,
        "re-fetched URLs under new doc ids were not counted as new docs")
    } finally run.stop()
  }
}
