package graft.streaming

/** The eighteenth twin, [[StreamingPiiCensus]]: over the full planted corpus
  * in adversarial order the per-(lang, pattern) row equals batch
  * `h_pii_census`'s (n_docs_hit, n_hits, span_chars, n_resid) columns. It
  * shares the batch detection projection, so this is a contract on the
  * stateful ledger. Its arms and rules are the `PiiCensus` row of
  * [[TwinContracts]]. */
class StreamingPiiCensusSpec extends TwinSuite
