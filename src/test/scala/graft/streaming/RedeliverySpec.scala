package graft.streaming

/** The adversarial redelivery contract for the six oldest twins: a source
  * that replays an already-processed batch (at-least-once delivery: raw
  * sockets, NSQ requeues, manual backfills) must degrade each twin exactly
  * as COVERAGE.md's redelivery table says. Each test is the replay [[Arm]]
  * of its twin's [[TwinContracts]] row. */
class RedeliverySpec extends TwinSuite
