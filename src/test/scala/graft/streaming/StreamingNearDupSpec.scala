package graft.streaming

/** [[StreamingNearDup]]: planted near-dups are flagged against residents
  * ingested earlier and unrelated docs are not (the planted-near-dup
  * workload batch h_neardup_minhash verifies against brute force). Its arms
  * and rules are the `NearDup` row of [[TwinContracts]]. */
class StreamingNearDupSpec extends TwinSuite
