package graft.streaming

/** The sixteenth twin, [[StreamingChao]]: over the replay-doubled ingest
  * corpus in adversarial order, the per-language (n_sampled, d_obs, f1,
  * f2, chao_est) row equals batch `h_dup_chao`'s sample columns, and every
  * prefix equals the batch rule over the rows delivered. Its arms and
  * rules are the `Chao` row of [[TwinContracts]]. */
class StreamingChaoSpec extends TwinSuite
