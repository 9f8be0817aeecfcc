package graft

/** Committed connector-boundary payload fixtures (`fixtures/payloads/`).
  *
  * The extract/flatten layer (graft.extract.Payloads, reference
  * portfolio-etl.py:54-429) reads API payload *files* — there is no star-
  * schema parquet for it, so its correctness rows run over these committed
  * fixtures instead: the Spark readers and the DuckDB `read_json` oracles
  * (Oracles.walmartFlatten &c.) consume the same bytes, giving N1-N7 the
  * same exact-hash gate as every parquet-backed query.
  *
  * The fixtures deliberately carry the reference APIs' edge cases: dirty
  * quantities (`"n/a"` → null), null/missing skus and quantities,
  * out-of-window order dates, CANCELED orders, and multi- vs single-line
  * orders at every nesting depth.
  */
object Fixtures {
  val dir: String = sys.env.getOrElse("GRAFT_FIXTURES_DIR",
    new java.io.File("fixtures/payloads").getAbsolutePath)
}
