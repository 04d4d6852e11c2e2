package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.engine.ops.Scale

/** End-to-end corpus curation — the composed training-data pipeline every
  * individual operator in this library exists to serve, runnable as one
  * job:
  *
  *   0. blocklist scrub (text_blocklist_filter's rule with the
  *      pipeline's configured term list — the C4 discipline: a doc
  *      containing any listed term drops outright);
  *   1. quality filter  (Gopher/C4-style rules — docs_quality_filter's
  *      verdict chain, keeping only 'ok');
  *   2. near-dup removal (MinHash-LSH pairs -> connected components ->
  *      keep each cluster's canonical min-id document);
  *   3. deterministic split (content-hash train/val/test — stable under
  *      reprocessing and under the dedup that just ran);
  *   4. sharded export  (content-hash shard per split: reproducible
  *      shard membership for downstream loaders);
  *   5. context-window chunking of the train split (chunk_documents'
  *      overlapping 120/100 windows — the documents->training-samples
  *      step, applied AFTER dedup/split so no eval chunk shares a
  *      source doc with train).
  *
  * Every stage is the same code the oracle-gated queries run; this main
  * just composes them and prints the funnel. At 100 TB the exact same
  * plan applies — each stage is scan-shaped, candidate-restricted, or a
  * bounded iteration (see the per-op Scaladoc).
  *
  * Usage: sbt "runMain graft.CuratePipeline [sfDir]"
  */
object CuratePipeline {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.Sessions.local(32, "graft-curate")
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = Files.createTempDirectory("graft_curated_").toString

    val raw = Tables.documents(spark, d)
    val total = raw.count()

    // 0. blocklist scrub (same row-local rule as text_blocklist_filter;
    //    the demo list is one fixture term)
    val docs = raw.where(
      "size(array_intersect(filter(split(lower(text), ' '), w -> w <> ''), " +
        "array('dup'))) = 0")
    val nUnblocked = docs.count()

    // 1. quality filter (same rules as docs_quality_filter)
    val scored = docs
      .selectExpr("doc_id", "text", "lang",
        "CAST(size(filter(split(lower(text), ' '), w -> w <> '')) AS BIGINT) AS nw",
        "CAST(size(filter(filter(split(lower(text), ' '), w -> w <> ''), " +
          "w -> w IN ('the', 'a', 'or', 'and'))) AS BIGINT) AS stop")
    val kept = scored.where("nw >= 20 AND nw <= 90 AND stop > 0")
      .select(col("doc_id"), col("text"), col("lang"))
    val nKept = kept.count()

    // 2. near-dup removal: cluster membership from the declared query,
    //    drop every member that is not its cluster's canonical min id
    val clusters = SparkEntry.queries("dedup_clusters")(spark, d)
    val dupDrops = clusters.where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    // plain anti-join, NO broadcast hint: the dup-doc set is
    // corpus-proportional at 100 TB (the dedup_rate_by_source lesson);
    // AQE still broadcasts it at runtime while it measures small
    val deduped = kept.join(dupDrops, Seq("doc_id"), "left_anti")
    val nDeduped = deduped.count()

    // 3. deterministic content-hash split (same arithmetic as
    //    split_train_eval: stable across runs and repartitioning)
    val split = deduped.selectExpr("doc_id", "text", "lang",
      """CASE WHEN graft_strhash(text) % 10 < 8 THEN 'train'
              WHEN graft_strhash(text) % 10 < 9 THEN 'val'
              ELSE 'test' END AS split""")
    val splitCounts = split.groupBy(col("split")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // 4. reproducible sharded export per split
    for (sp <- Seq("train", "val", "test"))
      Scale.writeContentSharded(
        split.where(col("split") === sp).drop("split"), s"$out/$sp", 4, "text")
    val train = spark.read.parquet(s"$out/train").persist()
    val nTrainDocs = train.count()
    val exported = nTrainDocs +
      spark.read.parquet(s"$out/val").count() +
      spark.read.parquet(s"$out/test").count()

    // 5. chunk the train split into training samples — the SAME chunker
    //    the oracle-gated chunk_documents query runs (one code path, so
    //    the gated window arithmetic is what trainers receive)
    graft.engine.ops.Chunk.chunks(train)
      .write.mode("overwrite").parquet(s"$out/train_chunks")
    // 6. diversity audit of the exported train split (text_distinct_ngrams'
    //    distinct-1 ratio) — the degenerate-repetition tripwire a
    //    curation run reads before handing the corpus to trainers
    val divRow = train
      .selectExpr("explode(filter(split(lower(text), ' '), w -> w <> '')) AS w")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("types"), coalesce(sum(col("c")), lit(0L)).as("tokens"))
      .collect().head
    val diversityPpm = divRow.getLong(0) * 1000000L / math.max(divRow.getLong(1), 1L)
    train.unpersist()
    val nChunks = spark.read.parquet(s"$out/train_chunks").count()

    println(s"[curate] total=$total unblocked=$nUnblocked quality_kept=$nKept " +
      s"after_dedup=$nDeduped " +
      s"splits=${splitCounts.toSeq.sorted.mkString(",")} exported=$exported " +
      s"train_chunks=$nChunks train_distinct1_ppm=$diversityPpm -> $out")
    println(s"[curate] ${if (exported == nDeduped && nDeduped <= nKept &&
        nKept <= nUnblocked && nUnblocked <= total && nChunks >= nTrainDocs) "OK"
      else "UNEXPECTED"}")
    spark.stop()
  }
}
