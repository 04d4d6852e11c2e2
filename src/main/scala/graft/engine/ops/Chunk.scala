package graft.engine.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Context-window chunking of documents into training samples: one row
  * per overlapping fixed-size window ([[WindowChars]] chars every
  * [[StrideChars]], so consecutive chunks share WindowChars-StrideChars
  * chars of context). Row-local generate+explode over the scan — no
  * shuffle whatever the document-length distribution, because the
  * generator fans out WITHIN each task. Empty documents still emit their
  * single (empty) chunk so downstream sample accounting sees every input
  * id.
  *
  * The single chunking code path: the declared `chunk_documents` query
  * and the ContractSpec losslessness test both go through here, so the
  * window/stride the oracle checks is the one the lossless test holds.
  */
object Chunk {
  /** Chars per chunk. */
  val WindowChars = 120
  /** Chunk start-to-start distance; WindowChars - StrideChars overlap. */
  val StrideChars = 100

  /** (doc_id, chunk_idx, chunk) for a frame bearing doc_id + text.
    * NULL text is normalized to '' up front: without it Spark's greatest()
    * ignores the NULL operand (emitting one NULL chunk) while DuckDB's
    * range(NULL) emits zero rows — a cross-engine divergence latent until
    * the first NULL document arrives. The '' normalization keeps the
    * "every input id emits its chunk row" accounting contract instead.
    */
  def chunks(docs: DataFrame): DataFrame =
    docs
      .withColumn("text", coalesce(col("text"), lit("")))
      .withColumn("k",
        greatest(ceil(length(col("text")) / lit(StrideChars.toDouble)),
          lit(1.0)).cast("long"))
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), col("k") - 1)).as("chunk_idx"))
      .selectExpr("doc_id", "chunk_idx",
        s"substring(text, CAST(chunk_idx * $StrideChars + 1 AS INT), $WindowChars) AS chunk")
}
