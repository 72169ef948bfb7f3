package graft.streaming

/** The eighth batch/stream twin, [[StreamingBloomGate]]: the per-shard filter
  * byte-equals the batch `BloomFilterAggregate` over the same keys, `n_seen`
  * counts rows already present before the batch, a replay moves no filter
  * byte (the counting columns inflate), and a restart continues the same
  * filters. Its arms and rules are the `BloomGate` row of [[TwinContracts]]. */
class StreamingBloomGateSpec extends TwinSuite
