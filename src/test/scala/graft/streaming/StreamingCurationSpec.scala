package graft.streaming

/** The composed curation twin, [[StreamingCuration]]: after any prefix the
  * admitted set and every waterfall counter equal the batch waterfall over
  * the rows delivered (h_dedup_exact's survivor → h_curation_funnel's
  * quality gate → h_token_budget_mix's prefix cut), the budget admits from
  * post-quality mass only, a replay moves nothing but `n_seen`, and a
  * restart keeps all three stages. Its arms and rules are the `Curation`
  * row of [[TwinContracts]]. */
class StreamingCurationSpec extends TwinSuite
