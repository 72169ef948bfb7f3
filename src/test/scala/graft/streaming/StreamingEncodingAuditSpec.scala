package graft.streaming

/** The nineteenth twin, [[StreamingEncodingAudit]]: over the full corrupted
  * corpus in adversarial order the per-(lang, source) row equals batch
  * `h_encoding_audit`'s (n_docs, n_moji, n_repl, n_ctrl, n_crlf) columns.
  * It shares the batch detection projection, so this is a contract on the
  * stateful ledger. Its arms and rules are the `EncodingAudit` row of
  * [[TwinContracts]]. */
class StreamingEncodingAuditSpec extends TwinSuite
