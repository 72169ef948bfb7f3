package graft.streaming

/** [[StreamingNovelty]]: the standing corpus as one wave and the ingest batch
  * as two more reproduce batch `h_novelty_incremental` exactly, even when
  * the ingest wave is cut mid-gram (the max(novel) roll-up is split
  * invariant). Its arms and rules are the `Novelty` row of
  * [[TwinContracts]]. */
class StreamingNoveltySpec extends TwinSuite
