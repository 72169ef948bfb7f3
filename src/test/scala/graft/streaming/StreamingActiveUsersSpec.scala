package graft.streaming

/** The seventh batch/stream twin, [[StreamingActiveUsers]]: its state-resident
  * datasketches HLL (lgK=14, HLL_8) gives day estimates exactly equal to
  * batch `hll_sketch_agg(user_id, 14)` over the same rows (register state
  * is a content-determined max, so shard union ≡ one-shot build), the
  * emitted compact bytes feed `hll_union_agg` directly ([[StreamingActiveUsers.report]]
  * reproduces g_active_users_approx's estimate arm), and a replayed wave
  * changes no byte. Its arms and rules are the `ActiveUsers` row of
  * [[TwinContracts]]. */
class StreamingActiveUsersSpec extends TwinSuite
