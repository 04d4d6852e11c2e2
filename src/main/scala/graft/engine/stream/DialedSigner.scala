package graft.engine.stream

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Corpus-width dial plumbing for STREAMING dedup over a growing bronze
  * table (r16, verdict #6): a batch pipeline reads the corpus size once
  * per query, but a long-lived stream's bronze table grows UNDER the
  * query — a signature width pinned at batch 0 quietly reintroduces the
  * superlinear collision growth the width ladder exists to prevent once
  * the corpus doubles past the pinned rung (the r14 "What's wrong #3"
  * shape, now on the streaming path). Each micro-batch therefore
  * re-derives the simhash width from the bronze dir through the SAME
  * (dir, file-listing fingerprint) freshened cache the batch queries
  * use ([[graft.engine.Tables.freshen]]): within a rung the cached
  * count costs nothing, and the first batch after the corpus grows past
  * a ladder boundary re-keys at the wider width mid-stream —
  * StreamingDialSpec streams across the 5000-doc boundary and asserts
  * the width actually moves.
  */
object DialedSigner {

  /** The simhash signature width the CURRENT bronze corpus dictates —
    * fingerprint-freshened, so an in-place-grown dir re-reads its count.
    */
  def currentSimhashBits(s: SparkSession, bronzeDir: String): Int =
    graft.queries.Dedup.simhashBits(graft.queries.Dedup.docN(s, bronzeDir))

  /** Sign one micro-batch of (doc_id, text) documents at the current
    * dial width. Returns the signed (doc_id, simhash) frame and the
    * width used, so foreachBatch callers can route/collide on the
    * signature while the spec pins the mid-stream re-key.
    *
    * Signatures are computed over the CAPPED shingle space — the same
    * stop-shingle subtraction the batch path's simHashSigs applies
    * (r17 ADVICE: signing raw graft_shingles(ws) made a doc signed
    * mid-stream carry a different signature than the same doc signed by
    * the batch queries whenever the corpus had hot shingles, so
    * collisions joined across the two paths could silently miss pairs).
    * The hot set enters as a literal from the fingerprint-freshened
    * cache: free within a rung, re-derived when bronze grows. Documents
    * whose every shingle is hot drop out, exactly as in the batch path.
    */
  def signBatch(s: SparkSession, batch: DataFrame,
      bronzeDir: String): (DataFrame, Int) = {
    val bits = currentSimhashBits(s, bronzeDir)
    val mask = (1L << bits) - 1
    val hot = graft.queries.Dedup.hotShingleArrayFor(s, bronzeDir)
    val hotLit =
      if (hot.isEmpty) "CAST(array() AS ARRAY<BIGINT>)"
      else hot.mkString("array(", "L, ", "L)")
    val signed = batch
      .selectExpr("doc_id",
        s"${graft.queries.Portable.sparkWords("lower(text)")} AS ws")
      .where("size(ws) >= 3")
      .selectExpr("doc_id",
        s"graft_minus_sorted(graft_shingles(ws), $hotLit) AS sh_arr")
      .where("size(sh_arr) >= 1")
      .selectExpr("doc_id", s"graft_simhash(sh_arr) & ${mask}L AS simhash")
    (signed, bits)
  }
}
