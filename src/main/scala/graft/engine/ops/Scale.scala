package graft.engine.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cluster-scale physical-layout helpers: bucketed co-located joins and
  * key salting for skewed aggregations. Neither exists in the reference
  * (its pipeline is join-free and agg-light); they are the layout tools a
  * 100 TB deployment of this engine leans on and are asserted by
  * ScaleOpsSpec (bucketed join plans with NO Exchange; salted results
  * equal unsalted).
  */
object Scale {

  /** Persist a DataFrame as a bucketed+sorted catalog table. Two tables
    * bucketed the same way join with zero shuffle (scan-time
    * co-location) — the pre-partitioning strategy for repeated fact-fact
    * joins.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Z-order (Morton-interleaved) file layout: range-partition and sort
    * the rows by the interleaved bits of two clustering keys before
    * writing, so parquet min/max column statistics stay NARROW on BOTH
    * dimensions — scans filtering on either key (or a box on both) prune
    * most files. This is the multi-dimensional counterpart of plain
    * sort-by-one-key layout, and the standard answer for 100 TB tables
    * queried along two axes (e.g. user x time). The z expression is the
    * oracle-checked Portable.sparkZ integer form (low 16 bits per key).
    */
  def writeZOrdered(df: DataFrame, keyA: String, keyB: String, path: String,
      files: Int = 8): Unit = {
    // native codegen Morton key (bit-identical to Portable.sparkZ; the
    // z-key is computed for every row laid out, so the generated loop
    // beats the 16-term expression tree)
    df.withColumn("_z",
        expr(s"graft_morton(CAST($keyA AS BIGINT) & 65535, CAST($keyB AS BIGINT) & 65535)"))
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Deterministic content-sharded export: every row's shard is a pure
    * function of its content key (hash mod shards), so shard membership
    * is REPRODUCIBLE across reprocessing runs and independent of input
    * partitioning — the property a training-data export needs so that
    * downstream loaders, split manifests, and resumable jobs all agree
    * on which shard a document lives in. One task writes each shard
    * (repartition on the shard id), shards land as partition dirs.
    */
  def writeContentSharded(df: DataFrame, path: String, shards: Int, keyCol: String): Unit =
    df.withColumn("_shard", pmod(xxhash64(col(keyCol)), lit(shards)))
      .repartition(shards, col("_shard"))
      .write.partitionBy("_shard").mode("overwrite").parquet(path)

  /** Skew-safe equi-join by salting: every fact row gets a deterministic
    * salt in [0, saltBuckets), the dimension side is replicated once per
    * salt value, and the join key becomes (key, salt) — so a
    * pathologically hot key spreads over saltBuckets partitions instead
    * of landing on one straggler task. The salt never escapes: the
    * result multiset is exactly the plain join's (the oracle gate checks
    * this value-for-value). Use when the dim side is modest and a fact
    * key is hot; for ad-hoc skew prefer AQE's runtime skew-join split,
    * and for huge dim sides salt only the measured-hot keys instead of
    * replicating everything.
    */
  def saltedJoin(
      fact: DataFrame,
      dim: DataFrame,
      key: String,
      saltBuckets: Int = 8,
      saltFrom: Seq[String] = Nil): DataFrame = {
    val salts = dim.sparkSession.range(saltBuckets)
      .select(col("id").cast("int").as("_salt"))
    val dimR = dim.crossJoin(salts)
    // the salt only needs content-determinism (stable under retries and
    // repartitioning), not full-row entropy: callers that know a compact
    // unique key pass it via saltFrom — hashing the whole row forces the
    // scan to READ every column, defeating column pruning (a full-width
    // fact scan just to compute a salt the projection then discards)
    val saltCols = if (saltFrom.nonEmpty) saltFrom else fact.columns.toSeq
    val factS = fact.withColumn("_salt",
      pmod(xxhash64(struct(saltCols.map(col): _*)), lit(saltBuckets)).cast("int"))
    factS.join(dimR, Seq(key, "_salt")).drop("_salt")
  }

  /** Hot-key cap for pair-generation self-joins — the cappedShingles
    * pattern (MinHash/LSH dedup) lifted to a reusable op. A blocking key
    * with n members contributes n(n-1)/2 candidate pairs, so ONE
    * pathological key (a part in every order, a basket holding the whole
    * catalog) turns a linear pair stage quadratic on its block. The cap
    * enforces the bound instead of documenting it (documented bounds
    * rot — the r8 1M-doc LSH episode): aggregate per-key group sizes
    * (map-side combinable, skew-tolerant), broadcast the tiny over-cap
    * key set, anti-join it away. Never a count().over(Window) — that
    * would shuffle the full frame into per-key partitions, materializing
    * exactly the hot partition the cap exists to drop. Dropping a hot
    * key is the MinHash stop-shingle argument: a blocking key shared by
    * more than `maxGroup` actors carries no pairwise-affinity signal.
    */
  def capHotKeys(df: DataFrame, key: Column, maxGroup: Int): DataFrame = {
    // the input feeds BOTH the hot-set aggregate and the anti-join —
    // cache it through the engine registry (released at the next
    // declared query's drain) so the upstream plan executes once
    val keyed = graft.engine.Persisted.add(df)
    val hot = keyed.groupBy(key.as("_hk")).agg(count(lit(1)).as("_hn"))
      .where(col("_hn") > maxGroup)
      .select(col("_hk"))
    keyed.join(broadcast(hot), key === col("_hk"), "left_anti")
  }

  /** Two-phase salted aggregation for skewed grouping keys: spread each
    * hot key over `saltBuckets` partial groups (salt derived
    * deterministically from the row content), aggregate partially, then
    * aggregate the partials. sum/count re-aggregate losslessly.
    */
  def saltedSumCount(
      df: DataFrame,
      key: Column,
      value: Column,
      saltBuckets: Int = 16): DataFrame = {
    val salted = df
      .withColumn("_salt", pmod(hash(struct(df.columns.map(col).toSeq: _*)), lit(saltBuckets)))
      .groupBy(key.as("_key"), col("_salt"))
      .agg(sum(value).as("_psum"), count(lit(1)).as("_pcnt"))
    salted
      .groupBy(col("_key"))
      .agg(sum(col("_psum")).as("sum_value"), sum(col("_pcnt")).as("n"))
  }
}
