package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.Tables

/** Deduplication operators over the documents table: exact (hash
  * group-by), MinHash signatures + LSH band candidate pairs, SimHash with
  * chunk-blocked Hamming pairs, and exact n-gram Jaccard pairs.
  *
  * The reference explicitly defers dedup to a later Silver layer
  * (reference: README.md:58-72 discusses and rejects dropDuplicates and
  * MERGE at ingest); these queries are the §7.6 extension surface a
  * 100 TB training-data pipeline needs.
  *
  * Signature extraction is a SHUFFLE-FREE map over the document scan:
  * one codegen'd expression (graft.functions.ShingleHashes) turns the
  * word array into shingle hashes per row, and graft_minhash folds the
  * 16 signature minima in the same pass — no explode, no window, no
  * per-element lambda interpretation. Only the genuinely relational
  * steps shuffle:
  *
  *   - MinHash: LSH candidates come from a self-join on (band,
  *     band-key), never an all-pairs product. At scale the band join is
  *     the textbook shingle-LSH plan (band key is uniformly distributed
  *     mod P, so no skew).
  *   - SimHash: Hamming-<=3 search joins on 4 x 8-bit chunks (pigeonhole:
  *     any pair within distance 3 shares at least one exact chunk), again
  *     avoiding the cross join.
  *   - Exact Jaccard joins distinct shingles on their hash — docs sharing
  *     zero shingles never meet.
  *
  * All arithmetic mirrors the DuckDB oracle value-for-value (Portable).
  */
object Dedup extends QueryPack {
  import Portable._

  private val JaccThreshold = "0.5"

  /** Containment verification threshold — |A∩B| / min(|A|,|B|) at or
    * above this passes. Shared between dedup_containment_pairs and the
    * bandWindowAudit completeness leg (r17 ADVICE: the audit previously
    * hard-coded the literal, so a production threshold change would
    * leave WindowCompletenessSpec enforcing the stale value).
    */
  private[graft] val ContainmentThreshold = "0.8"

  /** Every 16th doc_id lands in the exact-Jaccard audit stratum of
    * dedup_jaccard_pairs (~1/256 of all pairs). Deterministic — the same
    * documents audit on every run and in the oracle.
    */
  private val ExactStratumMod = 16

  /** Every 50th doc_id plays the "held-out benchmark" role in
    * dedup_decontam. Deterministic, so the oracle sees the same split.
    */
  private val DecontamMod = 50

  /** Rank-proximity pair window for the blocked verifiers (r15, the r14
    * verdict's exact-trio audit): within a candidate block (editdist's
    * (prefix, length-band) block; containment's (band, key) bucket),
    * each document pairs only with its `NeighborWindow` nearest
    * PREDECESSORS in doc_id order. This bounds per-block work/output at
    * W·|block| — linear in the corpus — instead of C(|block|, 2), which
    * the 30×/100× audits measured as the dominant scale cost (the 100×
    * editdist block reaches 400 members = 80k levenshteins per block).
    * Completeness within a block is exact whenever |block| ≤ W+1; for
    * the MULTI-BAND minhash buckets the candidate set can stay exact
    * even past that bound (a pair beyond the window in one band's
    * bucket collides inside the window of another — sf0.1 has a
    * 12-member bucket yet zero lost candidates). Both gate claims are
    * ENFORCED by WindowCompletenessSpec (r16, verdict #3): editdist's
    * single-key blocks must measure ≤ W+1, and the banded candidate
    * union must have windowed == unwindowed set parity — so a testdata
    * refresh that breaks either fails loudly instead of silently
    * comparing window-truncated lists.
    * For |block| > W+1 the window is an APPROXIMATION at the pair level
    * (r16, ADVICE): the candidate chain keeps every block member
    * connected, but verification (jacc/containment/levenshtein) can
    * fail a consecutive link whose beyond-window pair would have
    * passed, so pair outputs and downstream clusters can diverge from
    * unwindowed semantics in large blocks. That is the standard
    * sorted-neighborhood trade — accepted deliberately for the at-scale
    * regime, NOT claimed lossless. The oracle mirrors the window
    * through the same ROW_NUMBER arithmetic, so the gate compares the
    * same (windowed) semantics on both engines at every corpus size.
    */
  private[graft] val NeighborWindow = 8

  /** Largest block in a blocked-verifier keying — the quantity the
    * [[NeighborWindow]] completeness bound is stated over (pair lists
    * are exact iff every block has ≤ W+1 members). Exposed for
    * WindowCompletenessSpec, which enforces the bound at the gate
    * corpora (r16, verdict #3).
    */
  private[graft] def maxBlockSize(df: DataFrame, cols: Seq[String]): Long = {
    val byCols = cols.map(col)
    df.groupBy(byCols: _*).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).collect()(0).getLong(0)
  }

  /** Max block size of editdist's (12-char prefix, length band)
    * blocking — the SINGLE-KEY windowed verifier, where the ≤ W+1 bound
    * is exactly the completeness condition (one blocking key, so a
    * beyond-window pair has no second chance to surface).
    */
  private[graft] def editdistBlockMax(s: SparkSession, d: String): Long =
    maxBlockSize(Tables.documents(s, d).selectExpr(
      "substring(regexp_replace(lower(text), '[^ -~]', ''), 1, 12) AS pfx",
      "n_chars div 16 AS band"), Seq("pfx", "band"))

  /** Audit of the minhash (band, key) bucket window that feeds the
    * shared verified-pair tier and dedup_containment_pairs: returns
    * (windowed candidates, candidates LOST to the window, lost
    * candidates that would have VERIFIED). The multi-band keying has no
    * per-bucket ≤ W+1 completeness condition, and raw candidate-set
    * parity does not hold either (sf0.1: a 12-member bucket loses 7 of
    * 905 candidates) — the gate-exactness claim that IS true, and that
    * r15 verified empirically as bit-identical pair lists, is that no
    * lost candidate passes any verifier threshold (jacc ≥ 0.5 for the
    * tier, containment ≥ 0.8 for dedup_containment_pairs). That is the
    * claim WindowCompletenessSpec enforces (r16, verdict #3): third
    * component == 0, or the gate is comparing truncated VERIFIED lists.
    */
  private[graft] def bandWindowAudit(s: SparkSession, d: String): (Long, Long, Long) = {
    val bands = sharedBands(s, d)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("band"), col("key")).orderBy(col("doc_id"))))
      .persistScoped()
    val a = bands.toDF("doc_a", "band", "key", "rn_a")
    val b = bands.toDF("doc_b", "band2", "key2", "rn_b")
    val windowed = a.join(b,
        col("band") === col("band2") && col("key") === col("key2") &&
          col("rn_b") > col("rn_a") &&
          col("rn_b") <= col("rn_a") + NeighborWindow)
      .select(col("doc_a"), col("doc_b")).distinct()
    val unwindowed = a.join(b,
        col("band") === col("band2") && col("key") === col("key2") &&
          col("rn_b") > col("rn_a"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val missing = unwindowed.exceptAll(windowed).persistScoped()
    val shd = sharedCappedShingles(s, d)
    val sizes = shd.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // pairs with zero shingle overlap drop out of the inner join — they
    // trivially fail both thresholds
    val lostVerified = missing
      .join(shd.toDF("doc_a", "sh"), "doc_a")
      .join(shd.toDF("doc_b2", "sh2"),
        col("doc_b") === col("doc_b2") && col("sh") === col("sh2"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .where(s"CAST(inter AS DOUBLE) / (na + nb - inter) >= $JaccThreshold " +
        s"OR CAST(inter AS DOUBLE) / least(na, nb) >= $ContainmentThreshold")
      .count()
    (windowed.count(), missing.count(), lostVerified)
  }

  /** SimHash signature-width ladder (r15, from the 100× audit): the
    * 32-bit/8-bit-chunk configuration is a bench-corpus dial — its 1024
    * pigeonhole buckets go hot as the corpus grows (at 500k docs the
    * chunk join scored ~2B candidates for ~24M true pairs). Signature
    * WIDTH is the corpus-size knob with the recall guarantee intact:
    * ht+1 pigeonhole chunks (ht = 3·bits/32, see dedup_simhash_pairs)
    * leave ≥1 chunk untouched by any ≤ht flipped bits — the chunk
    * count rides the threshold, because a fixed chunk count breaks the
    * guarantee once ht reaches it (r16 ADVICE: at bits ≥ 44 the old
    * fixed-4 split silently dropped pairs) — and +4 bits per doc-count
    * doubling past
    * the 5000-doc anchor doubles the bucket space per doubling —
    * per-bucket occupancy, and so candidates, stay linear. The hamming
    * threshold scales with the width ((3·bits)/32 integer — hamming
    * between near-dup signatures grows ∝ bits), and the 64-bit shingle
    * hashes bound the ladder at 64. At the anchor corpora the ladder
    * resolves to exactly the historical 32/8/3 configuration, so every
    * gate result is unchanged; the oracle mirrors bits/chunk/threshold
    * through one COUNT(*)-driven CASE (integer-for-integer, the
    * embedding-LSH lshw discipline).
    */
  private val SimHashAnchorDocs = 5000L
  private[graft] def simhashBits(n: Long): Int = {
    var bits = SimHashBits
    var cap = SimHashAnchorDocs
    while (n > cap && bits < Portable.SimHashMaxBits) { bits += 4; cap *= 2 }
    bits
  }
  private def duckSimHashBitsArms: String = {
    val steps = (Portable.SimHashMaxBits - SimHashBits) / 4
    val arms = (0 until steps).map(k =>
      s"WHEN n <= ${SimHashAnchorDocs * (1L << k)} THEN ${SimHashBits + 4 * k}")
      .mkString(" ")
    s"CASE $arms ELSE ${Portable.SimHashMaxBits} END"
  }

  /** Documents count backing the document-side dials, cached per
    * (dir, fingerprint) — see [[Tables.freshen]].
    */
  private val docCounts =
    new scala.collection.concurrent.TrieMap[(String, Long), Long]
  private[graft] def docN(s: SparkSession, d: String): Long =
    Tables.freshen(docCounts, d, "documents")(Tables.documents(s, d).count())

  /** The collected stop-shingle array for the corpus at `d`, cached per
    * (dir, fingerprint). The STREAMING signer needs the hot set as a
    * driver-side value so each micro-batch can apply the SAME
    * doc-frequency cap the batch signatures see (r17 ADVICE: signing the
    * raw shingle space made stream signatures incomparable to batch
    * signatures whenever the corpus had hot shingles) — within a rung the
    * cached array costs nothing, and a grown bronze dir re-derives. Tiny
    * by construction (shingles in > MaxShingleDocFreq docs).
    */
  private val hotShingleArrays =
    new scala.collection.concurrent.TrieMap[(String, Long), Array[Long]]
  private[graft] def hotShingleArrayFor(s: SparkSession, d: String): Array[Long] =
    Tables.freshen(hotShingleArrays, d, "documents") {
      val r = hotShingleArr(s, d).head
      if (r.isNullAt(0)) Array.empty[Long] else r.getSeq[Long](0).toArray
    }

  // ---- Spark-side shared subplans --------------------------------------

  /** (doc_id, sh_arr): per-document word-3-gram shingle hash ARRAY,
    * computed entirely row-local — the scalar graft_strhash inside a
    * transform lambda plus index arithmetic, no explode, no window, no
    * shuffle. This is the 100 TB shape: signature extraction maps
    * straight over the document scan.
    */
  private def shingleArr(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .selectExpr("doc_id", s"${sparkWords("lower(text)")} AS ws")
      .where("size(ws) >= 3")
      .selectExpr("doc_id", "graft_shingles(ws) AS sh_arr")
  }

  /** (doc_id, sh): exploded shingle rows — only the set-intersection
    * (Jaccard) and SimHash paths need the relational form.
    */
  private def shingleRows(s: SparkSession, d: String): DataFrame =
    shingleArr(s, d).select(col("doc_id"), explode(col("sh_arr")).as("sh"))

  /** The stop-shingle set as a single broadcastable row {hot:
    * array<bigint>} — shingles in more than MaxShingleDocFreq docs.
    * Computed from a caller-supplied DISTINCT (doc_id, sh) frame so
    * composed queries share one materialization of the shingle space.
    */
  private def hotShingleArrFrom(shdRaw: DataFrame): DataFrame =
    shdRaw.groupBy(col("sh")).agg(count(lit(1)).as("_df"))
      .where(col("_df") > MaxShingleDocFreq)
      .agg(expr("sort_array(collect_list(sh))").as("hot"))

  private def hotShingleArr(s: SparkSession, d: String): DataFrame =
    hotShingleArrFrom(shingleRows(s, d).distinct())

  /** Per-document shingle array with the doc-frequency cap applied INSIDE
    * the row: the hot set (tiny by construction) broadcasts as one array
    * row and a codegen'd HOF filter drops its members, so signature
    * extraction stays a narrow map over the corpus. Documents whose every
    * shingle is hot drop out entirely — they have no dedup-relevant
    * feature space (the verify stage's capped rows can't pair them
    * either, so the exclusion is consistent end-to-end).
    *
    * Why signatures must see the CAPPED space (r8, caught at 1M docs;
    * SURVEY.md §8.13): a shingle shared by a large fraction of the
    * corpus wins the MinHash minimum for every document containing it,
    * collapsing whole LSH bands into one bucket — the measured 1M-doc
    * corpus produced single buckets of 1,785 docs and 36.8M candidate
    * pairs (4.5x superlinear) from exactly this. Real corpora have such
    * shingles ("of the and"-class word 3-grams), so at 100 TB the
    * uncapped-signature plan is quadratic on its hottest bucket.
    */
  private def cappedShingleArrOver(s: SparkSession, d: String, hot: DataFrame): DataFrame =
    shingleArr(s, d)
      .crossJoin(broadcast(hot))
      // graft_minus_sorted: binary search against the SORTED broadcast hot
      // array — O(log |hot|) per shingle. The straightforward
      // filter(sh_arr, x -> NOT array_contains(hot, x)) is a linear scan
      // whose per-row cost grows with the hot-set size; at 1M docs it
      // measured dominating signature extraction (hot grows with the
      // corpus; SURVEY.md §8.13), so the cap's hot path gets the native
      // expression.
      .selectExpr("doc_id", "graft_minus_sorted(sh_arr, hot) AS sh_arr")
      .where("size(sh_arr) >= 1")

  /** Per-row MinHash signature: 16 array_min folds over the CAPPED
    * shingle array. The signature map itself never shuffles — each
    * document's signature is a pure function of its row plus the
    * broadcast hot set.
    */
  private def minHashSig(s: SparkSession, d: String): DataFrame =
    minHashSigOver(s, d, hotShingleArr(s, d))

  private def minHashSigOver(s: SparkSession, d: String, hot: DataFrame): DataFrame =
    cappedShingleArrOver(s, d, hot)
      .selectExpr("doc_id", "graft_minhash(sh_arr) AS sig")
      .selectExpr("doc_id" +:
        (0 until MinHashK).map(i => s"element_at(sig, ${i + 1}) AS s$i"): _*)

  private def bandKeyExpr(cols: Seq[String]): String =
    cols.foldLeft(s"CAST(0 AS BIGINT)")((acc, c) => s"(($acc) * 31 + $c) % $P")

  /** (doc_id, band, key) — MinHash signature folded per LSH band. */
  private[queries] def minHashBandsFrom(sig: DataFrame): DataFrame = {
    val bands = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => s"s${b * RowsPerBand + r}")
      struct(lit(b).as("band"), expr(bandKeyExpr(cols)).as("key"))
    }
    sig.select(col("doc_id"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Stop-shingle guard: a shingle occurring in more than this many docs
    * is dropped from the feature space (consistently, so sizes and
    * intersections stay coherent). Inert at test scale (max observed doc
    * frequency is far below it) but load-bearing at corpus scale, where a
    * single ultra-common shingle would turn the self-join quadratic on
    * its bucket. Mirrored in the DuckDB oracle.
    */
  private val MaxShingleDocFreq = 1000

  /** Minimum cross-doc repeat span (words) `dedup_suffix_repeats`
    * reports: candidates must share the full prefix-doubling round
    * log2(span) rank, i.e. a >= MinRepeatSpanWords-word common prefix.
    * This is the operator's REPORTING THRESHOLD, not a fixture
    * accident: Lee et al. 2021 dedup at a 50-token floor for the same
    * reason (shorter repeats are idiom, not duplication). A corpus
    * whose longest cross-doc repeat is below the threshold yields an
    * EMPTY report by design — OperatorInvariantsSpec asserts exactly
    * that dichotomy instead of assuming non-emptiness.
    */
  val MinRepeatSpanLog2 = 4
  val MinRepeatSpanWords: Int = 1 << MinRepeatSpanLog2

  /** Hot-part cap for the co-purchase graph ops (graph_jaccard_links,
    * graph_lpa_communities): a part bought by n customers contributes
    * n(n-1)/2 pairs to the blocked self-join, so one catalog-wide
    * staple turns the pair stage quadratic on its block. ENFORCED via
    * Scale.capHotKeys (r9; previously a "TPC-H part df ~30" comment —
    * documented bounds rot, the r8 LSH episode is the precedent), and
    * mirrored in the DuckDB oracles. Inert at test SF (max part degree
    * ~30) but load-bearing at corpus scale; an ultra-common part
    * carries no co-purchase-affinity signal, the stop-shingle argument.
    */
  val MaxCoPurchaseDegree = 256

  /** Customer-part co-purchase incidence (c, p), hot-part capped — the
    * shared graph ALL the co-purchase ops analyze (graph_jaccard_links,
    * graph_lpa_communities, graph_sssp). Cached in the cross-query
    * SHARED tier (r10; was persistScoped, which the per-query drain
    * released — each graph query rebuilt the identical two-table join +
    * distinct + cap, ~2-3 s of repeated work per bench run): the frame
    * is a pure function of the input dir, so one build serves the whole
    * family for the session's lifetime.
    */
  private def coPurchases(s: SparkSession, d: String): DataFrame =
    graft.engine.Persisted.shared(s, s"coPurchases|$d") {
      graft.engine.ops.Scale.capHotKeys(
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"))
          .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .selectExpr("CAST(o_custkey AS BIGINT) AS c",
            "CAST(l_partkey AS BIGINT) AS p")
          .distinct(),
        col("p"), MaxCoPurchaseDegree)
    }

  /** The weighted co-purchase PAIR graph (ca, cb, common >= 2) in the
    * shared tier (r11): graph_jaccard_links, graph_lpa_communities and
    * graph_sssp each re-ran the identical cp self-join + count aggregate
    * over the (already shared) incidence — the single most expensive
    * stage of the graph family. Derived frames stay per-query (sssp's
    * inverse weights, lpa's >= 4 strong-tie filter).
    */
  private def sharedCoPurchasePairs(s: SparkSession, d: String): DataFrame =
    graft.engine.Persisted.shared(s, s"coPurchasePairs|$d") {
      val cp = coPurchases(s, d).select(col("c"), col("p"))
      cp.toDF("ca", "p").join(cp.toDF("cb", "p2"),
          col("p") === col("p2") && col("ca") < col("cb"))
        .groupBy(col("ca"), col("cb")).agg(count(lit(1)).as("common"))
        .where(col("common") >= 2)
    }

  /** The distinct (doc_id, sh) shingle space in the cross-query SHARED
    * tier (r11, the coPurchases precedent): SEVEN declared queries build
    * the identical corpus-scale explode + distinct (the LSH family,
    * containment, decontam, novelty, source overlap, incremental), and
    * the per-query drain forced each to re-pay it. Pure function of the
    * input dir; released by drainShared at session close.
    */
  private def sharedShingleRaw(s: SparkSession, d: String): DataFrame =
    graft.engine.Persisted.shared(s, s"shingleRaw|$d") {
      shingleRows(s, d).distinct()
    }

  /** The stop-shingle-capped feature space over [[sharedShingleRaw]],
    * shared for the same reason (every consumer of shingles must go
    * through the cap — see [[cappedShingles]]).
    */
  // private[graft]: LadderRecallSpec verifies constructed truth pairs
  // against this exact feature space (r17, verdict #3)
  private[graft] def sharedCappedShingles(s: SparkSession, d: String): DataFrame =
    graft.engine.Persisted.shared(s, s"cappedShingles|$d") {
      cappedShingles(sharedShingleRaw(s, d))
    }

  /** The VERIFIED near-dup pair list in the shared tier — the single
    * biggest cross-query rebuild before r11: dedup_minhash_pairs,
    * dedup_clusters, dedup_keep_best, dedup_rate_by_source,
    * split_leakage_audit, graph_pagerank_dups and dedup_jaccard_pairs'
    * LSH branch each re-ran the full shingle → signature → band →
    * candidate → exact-verify funnel for the identical result. It
    * reads its band rows from [[sharedBands]].
    */
  private def sharedDupPairs(s: SparkSession, d: String): DataFrame =
    graft.engine.Persisted.shared(s, s"lshDupPairs|$d") {
      minHashDupPairsOver(sharedCappedShingles(s, d), sharedBands(s, d))
    }

  /** The standard (doc_id, band, key) LSH band rows — shared (r11):
    * the pair funnel, the incremental verdicts and the containment
    * pairs each re-ran the corpus signature stage to rebuild the same
    * band frame.
    */
  private def sharedBands(s: SparkSession, d: String): DataFrame =
    graft.engine.Persisted.shared(s, s"mh_bands|$d") {
      minHashBandsFrom(minHashSigOver(s, d,
        hotShingleArrFrom(sharedShingleRaw(s, d))))
    }

  /** Bench hook: build + materialize the shared tier's frames for the
    * given dir OUTSIDE Bench's per-query timed region, so their cost
    * lands on an explicit setup line instead of being silently excluded
    * by min-of-2 timing (run 1 of the first consumer would pay each
    * build, run 2 would hit the cache, and the min would discard it —
    * making per-query numbers build-order-dependent).
    */
  private[graft] def warmShared(s: SparkSession, d: String): Unit =
    warmItems(s, d).foreach(_())

  /** Independent warm chains, exposed so Bench can run them as
    * concurrent Spark jobs (the co-purchase graph and the shingle-LSH
    * funnel share nothing).
    */
  private[graft] def warmItems(s: SparkSession, d: String): Seq[() => Unit] = Seq(
    () => { coPurchases(s, d).count(); sharedCoPurchasePairs(s, d).count(); () },
    () => { sharedDupLabels(s, d).count(); () } // pulls dupPairs + shingle frames
  )

  /** Oracle twin of [[coPurchases]]: `cp` = the capped incidence. */
  private val duckCoPurchases: String =
    s"""cp0 AS MATERIALIZED (
          SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS c,
                          CAST(l.l_partkey AS BIGINT) AS p
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        cp AS MATERIALIZED (
          SELECT c, p FROM cp0 WHERE p NOT IN (
            SELECT p FROM cp0 GROUP BY p
            HAVING count(*) > $MaxCoPurchaseDegree))"""

  /** (doc_a, doc_b, jacc): exact Jaccard via distinct-shingle self-join.
    * Pass a PERSISTED distinct-shingle frame: it feeds three scans (two
    * join sides plus sizes) — at cluster scale this is the staged
    * intermediate table of the textbook shingle-LSH plan.
    */
  /** Apply the stop-shingle doc-frequency cap to a distinct-shingle
    * frame — EVERY consumer of the shingle feature space must go through
    * this (the oracle's shd CTE applies the same cap), or engine and
    * oracle diverge on corpora where the cap binds.
    */
  private def cappedShingles(shd: DataFrame): DataFrame = {
    // groupBy + broadcast anti-join, NOT count().over(Window.partitionBy):
    // the windowed form shuffles the entire exploded shingle table into
    // per-shingle partitions — and the ultra-common shingle the cap exists
    // to drop is exactly the hot partition that window would have to
    // materialize first. The aggregate does map-side partial counts
    // (skew-tolerant), the surviving hot-shingle set is tiny (shingles in
    // > MaxShingleDocFreq docs), and the anti-join against it broadcasts,
    // so the shingle table itself is never shuffled for the cap.
    val hot = shd.groupBy(col("sh")).agg(count(lit(1)).as("_df"))
      .where(col("_df") > MaxShingleDocFreq)
      .select(col("sh"))
    // re-assert (doc_id, sh) order: a using-column join moves `sh` first,
    // and downstream consumers rename positionally via toDF
    shd.join(broadcast(hot), Seq("sh"), "left_anti")
      .select(col("doc_id"), col("sh"))
  }

  /** All-pairs exact Jaccard over an already-capped (and persisted —
    * it feeds three scans) distinct-shingle frame. Quadratic in the
    * co-shingled pairs of its INPUT, so callers must bound that input:
    * the declared query feeds it a deterministic 1/16 document stratum;
    * only [[jaccardAllPairs]] runs it unrestricted.
    */
  private def jaccardOver(shd: DataFrame): DataFrame = {
    val sizes = shd.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = shd.toDF("doc_a", "sh")
      .join(shd.toDF("doc_b", "sh2"), col("sh") === col("sh2") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .withColumn("jacc", expr("CAST(inter AS DOUBLE) / (na + nb - inter)"))
  }

  /** Unrestricted exact-Jaccard baseline (quadratic in co-shingled
    * pairs). NOT a declared query — LadderRecallSpec uses it at sf0.01
    * as the ground truth the candidate-restricted path must not miss.
    */
  private[graft] def jaccardAllPairs(s: SparkSession, d: String): DataFrame =
    jaccardOver(cappedShingles(shingleRows(s, d).distinct()).persistScoped())

  /** SimHash over SHINGLE hashes, not word hashes: the corpus vocabulary
    * is tiny (~30 words), so word-presence simhashes collide corpus-wide
    * (measured 16k hamming-<=3 pairs); 3-gram shingles have enough entropy
    * that hamming <= 3 isolates the true near-dups (measured 24 pairs vs
    * 25 exact-Jaccard pairs).
    *
    * Computed ROW-LOCALLY by the graft_simhash codegen expression over the
    * per-document shingle array — signature extraction never shuffles
    * (the previous explode + groupBy(doc_id) with 32 conditional sums
    * shuffled the whole exploded shingle table; same math, oracle
    * unchanged).
    */
  private def simHashSigs(s: SparkSession, d: String): DataFrame = {
    // full-width row-local signature, masked to the corpus ladder's
    // width (r15, see simhashBits) — at the anchor corpora the mask is
    // the historical 32 bits, bit-identical output
    val mask = (1L << simhashBits(docN(s, d))) - 1
    cappedShingleArrOver(s, d, hotShingleArr(s, d))
      .selectExpr("doc_id", s"graft_simhash(sh_arr) & ${mask}L AS simhash")
  }

  /** (doc_a, doc_b, jacc): LSH band candidates verified by exact Jaccard
    * >= threshold. Signatures map shuffle-free over the scan; the band
    * table is persisted because the self-join reads it twice.
    * Exact-Jaccard verification is RESTRICTED to candidate pairs: join
    * candidates to each side's shingles instead of intersecting every
    * co-shingled pair in the corpus — at a dup-heavy 100 TB corpus the
    * unrestricted intersection is orders of magnitude larger than the
    * candidate set (measured 150s -> seconds at a 50k-doc
    * 10x-duplicate stress corpus).
    */
  private def minHashDupPairs(s: SparkSession, d: String): DataFrame =
    sharedDupPairs(s, d)

  /** Min-label connected components over the verified dup pairs —
    * shared (r11): four declared queries (clusters, keep_best,
    * rate_by_source, leakage_audit) each re-ran the same eager label
    * propagation over the same shared pair list. Deterministic (min
    * vertex id per component), so memoizing the labels is pure reuse.
    */
  private def sharedDupLabels(s: SparkSession, d: String): DataFrame =
    graft.engine.Persisted.shared(s, s"dup_labels|$d") {
      // truncate lineage before iterating (the graph_kcore_dups
      // discipline): the iterative op re-plans its input per round, and
      // the LSH pipeline's plan is deep — persist alone leaves the
      // planning cost in every round
      graft.engine.ops.ConnectedComponents.run(
        minHashDupPairs(s, d)
          .select(col("doc_a"), col("doc_b")).localCheckpoint())
    }

  /** Candidate-verified pairs over the capped distinct-shingle frame
    * and the (doc_id, band, key) band rows — both from the shared tier,
    * so a query that needs BOTH the LSH pairs and another view of the
    * shingle feature space (dedup_jaccard_pairs' audit stratum)
    * materializes the shingle pipeline once, not twice.
    */
  private def minHashDupPairsOver(shd: DataFrame, bands0: DataFrame): DataFrame = {
    // rank-proximity candidate window (r15, see NeighborWindow): the
    // shared verified-pair tier is consumed by a dozen queries, and at
    // the 100× corpus its unwindowed band join made the tier's build
    // the dominant setup cost (252 s — true-pair mass grows with the
    // square of the dup-family size). Pair lists verified bit-identical
    // at both gate corpora; every oracle mirrors through duckCand.
    val bands = bands0.withColumn("rn", row_number().over(
      Window.partitionBy(col("band"), col("key")).orderBy(col("doc_id"))))
    val cand = bands.toDF("doc_a", "band", "key", "rn_a")
      .join(bands.toDF("doc_b", "band2", "key2", "rn_b"),
        col("band") === col("band2") && col("key") === col("key2") &&
          col("rn_b") > col("rn_a") &&
          col("rn_b") <= col("rn_a") + NeighborWindow)
      .select(col("doc_a"), col("doc_b")).distinct()
    val sizes = shd.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val interCounted = cand
      .join(shd.toDF("doc_a", "sh"), "doc_a")
      .join(shd.toDF("doc_b2", "sh2"),
        col("doc_b") === col("doc_b2") && col("sh") === col("sh2"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    interCounted
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .withColumn("jacc", expr("CAST(inter AS DOUBLE) / (na + nb - inter)"))
      .where(s"jacc >= $JaccThreshold")
  }

  /** Incremental-dedup verdicts over an arbitrary incoming/existing
    * split (predicates over doc_id): the declared dedup_incremental
    * instantiates the deterministic 20% stratum; OperatorInvariantsSpec
    * probes verbatim-duplicate incoming docs against their copies. The
    * candidate join is always incoming-bands x existing-bands on (band,
    * key) — per-batch cost O(batch x collisions), independent of corpus
    * size.
    */
  private[graft] def incrementalVerdicts(
      s: SparkSession, d: String, inPred: String, exPred: String): DataFrame = {
    val shd = sharedCappedShingles(s, d)
    val bands = sharedBands(s, d)
    val cand = bands.where(inPred).toDF("doc_in", "band", "key")
      .join(bands.where(exPred).toDF("doc_ex", "band2", "key2"),
        col("band") === col("band2") && col("key") === col("key2"))
      .select(col("doc_in"), col("doc_ex")).distinct()
    val sizes = shd.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val jacc = cand
      .join(shd.toDF("doc_in", "sh"), "doc_in")
      .join(shd.toDF("doc_ex2", "sh2"),
        col("doc_ex") === col("doc_ex2") && col("sh") === col("sh2"))
      .groupBy(col("doc_in"), col("doc_ex")).agg(count(lit(1)).as("inter"))
      .join(sizes.toDF("doc_in", "na"), "doc_in")
      .join(sizes.toDF("doc_ex", "nb"), "doc_ex")
      .withColumn("jacc", expr("CAST(inter AS DOUBLE) / (na + nb - inter)"))
      .where(s"jacc >= $JaccThreshold")
    val best = jacc
      .withColumn("rn", row_number().over(Window.partitionBy(col("doc_in"))
        .orderBy(col("jacc").desc, col("doc_ex"))))
      .where("rn = 1")
      .select(col("doc_in").as("doc_id"), col("doc_ex"), col("jacc"))
    Tables.documents(s, d).where(inPred).select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "CASE WHEN doc_ex IS NULL THEN 'new' ELSE 'dup' END AS verdict",
        "CAST(doc_ex AS BIGINT) AS best_match",
        s"${Q.scaledLong("jacc", 4)} AS jacc_bp")
      .orderBy(col("doc_id"))
  }

  // ---- DuckDB oracle shared CTEs ---------------------------------------

  /** words/wh/sh shingle-hash chain over any (doc_id, text) source — the
    * same fragment serves the documents table and the literal VALUES
    * corpus of the streaming dedup roundtrip.
    */
  private[queries] def duckShingleChain(src: String): String = s"""
    words AS (
      SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w
      FROM (SELECT doc_id, ${duckWords("lower(text)")} AS ws FROM $src) t
      WHERE len(ws) >= 3),
    wh AS (SELECT doc_id, pos, ${duckStrHash("w")} AS wh FROM words),
    sh AS (
      SELECT doc_id,
             ((wh * 37 + lead(wh, 1) OVER (PARTITION BY doc_id ORDER BY pos)) % $P * 37
               + lead(wh, 2) OVER (PARTITION BY doc_id ORDER BY pos)) % $P AS sh
      FROM wh
      QUALIFY lead(wh, 2) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL)"""

  /** The doc-frequency cap over any `sh` chain: `hot` is the stop-shingle
    * set, `shd` the capped DISTINCT feature space (Jaccard/sizes/novelty),
    * `shc` the capped rows WITH multiplicity (SimHash's occurrence-signed
    * bit sums). Mirrors the engine's hotShingleArrFrom/cappedShingleArrOver
    * exactly; reused by the streaming dedup roundtrip's literal corpus.
    */
  private[queries] val duckCap: String = s"""
    shd_raw AS (SELECT DISTINCT doc_id, sh FROM sh),
    hot AS (SELECT sh FROM shd_raw GROUP BY sh HAVING count(*) > $MaxShingleDocFreq),
    shd AS (SELECT doc_id, sh FROM shd_raw WHERE sh NOT IN (SELECT sh FROM hot)),
    shc AS (SELECT doc_id, sh FROM sh WHERE sh NOT IN (SELECT sh FROM hot))"""

  private[queries] val duckBase: String =
    s"""${duckShingleChain("documents")}, $duckCap"""

  /** Signatures over the CAPPED distinct space (r8): min is duplicate-
    * insensitive so distinct vs multiplicity is immaterial, and a doc
    * whose every shingle is hot simply has no `sig` row — same exclusion
    * as the engine's size >= 1 guard.
    */
  private[queries] val duckSig: String = {
    val mins = (0 until MinHashK)
      .map(i => s"min((${minHashA(i)} * sh + ${minHashB(i)}) % $P) AS s$i").mkString(", ")
    s"sig AS (SELECT doc_id, $mins FROM shd GROUP BY doc_id)"
  }

  private[queries] val duckBands: String = {
    val selects = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => s"s${b * RowsPerBand + r}")
      s"SELECT doc_id, $b AS band, ${bandKeyExpr(cols)} AS key FROM sig"
    }
    s"bands AS (${selects.mkString(" UNION ALL ")})"
  }

  /** The LSH candidate CTE with the rank-proximity window (r15, see
    * NeighborWindow) — shared by every verified-pair oracle, exactly as
    * the engine's minHashDupPairsOver windows the one shared tier.
    * Within-bucket doc_id rank order makes rn_b > rn_a equivalent to
    * doc_b > doc_a, so the emitted (doc_a < doc_b) orientation is
    * unchanged.
    */
  private[queries] def duckCand: String = s"""
    rb AS (
      SELECT doc_id, band, key,
             row_number() OVER (PARTITION BY band, key ORDER BY doc_id) AS rn
      FROM bands),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM rb a JOIN rb b
        ON a.band = b.band AND a.key = b.key
       AND b.rn > a.rn AND b.rn <= a.rn + $NeighborWindow)"""

  /** Transitive-closure cluster labels over the verified dup pairs —
    * requires WITH RECURSIVE plus $duckBase/$duckSig/$duckBands/$duckJacc/
    * $duckCand in front; exposes `labels(doc_id, cluster_id)`. Shared by
    * dedup_clusters and the composed curate_funnel oracle.
    */
  private[queries] val duckClusterLabels: String = s"""
    dup AS MATERIALIZED (
      SELECT c.doc_a, c.doc_b
      FROM cand c JOIN jacc j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
      WHERE j.jacc >= $JaccThreshold),
    edges AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM dup
      UNION
      SELECT doc_b AS a, doc_a AS b FROM dup),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    verts AS (SELECT DISTINCT a AS v FROM edges),
    labels AS (
      SELECT v AS doc_id, least(v, min(b)) AS cluster_id
      FROM verts JOIN reach ON reach.a = v GROUP BY v)"""

  private[queries] val duckJacc: String = s"""
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shd GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
      FROM shd a JOIN shd b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    jacc AS (
      SELECT i.doc_a, i.doc_b,
             CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) AS jacc
      FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
                   JOIN sizes sb ON sb.doc_id = i.doc_b)"""

  /** Full-width signature sums + the width-ladder consts (`shw`: bits,
    * signature mask, hamming threshold ht, pigeonhole chunk count
    * nc = ht + 1) + the masked `sim` — see [[simhashBits]].
    */
  /** DuckDB twin of [[graft.functions.GraftFunctions.mix64]] (r17): the
    * two-round xorshift64 finalizer, emulated in UBIGINT because DuckDB
    * computes `<<` in the signed domain and overflow-checks at 2^63 —
    * each wrapping left shift becomes a pre-masked multiply
    * ((x & (2^(64-k)-1)) * 2^k never exceeds 2^64-2^k), `>>> k` becomes
    * unsigned division. Lateral column aliases keep each stage evaluated
    * once. Validated value-identical to the JVM mixer.
    */
  private val duckSimHashMix: String = {
    def u(v: Long) = s"CAST($v AS UBIGINT)"
    s"""(SELECT doc_id,
               CAST(sh AS UBIGINT) AS u0,
               xor(u0, (u0 & ${u((1L << 51) - 1)}) * ${u(1L << 13)}) AS a0,
               xor(a0, a0 // ${u(1L << 7)}) AS b0,
               xor(b0, (b0 & ${u((1L << 47) - 1)}) * ${u(1L << 17)}) AS c0,
               xor(c0, (c0 & ${u((1L << 51) - 1)}) * ${u(1L << 13)}) AS a1,
               xor(a1, a1 // ${u(1L << 7)}) AS b1,
               xor(b1, (b1 & ${u((1L << 47) - 1)}) * ${u(1L << 17)}) AS shm
        FROM shc)"""
  }

  private val duckSimHash: String = {
    // bit extraction by unsigned division: shm is UBIGINT and can carry
    // bit 63, which a signed `>>` would sign-extend
    val sums = (0 until Portable.SimHashMaxBits)
      .map(j => s"sum(CASE WHEN ((shm // CAST(${1L << j} AS UBIGINT)) % 2) = 1 THEN 1 ELSE -1 END) AS b$j").mkString(", ")
    val packed = (0 until Portable.SimHashMaxBits)
      .map(j => s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""shw AS (
          SELECT bits, (CAST(1 AS BIGINT) << bits) - 1 AS mask,
                 (3 * bits) // 32 AS ht,
                 (3 * bits) // 32 + 2 AS nc
          FROM (SELECT $duckSimHashBitsArms AS bits
                FROM (SELECT COUNT(*) AS n FROM documents) nn) t),
        sums AS (SELECT doc_id, $sums FROM $duckSimHashMix GROUP BY doc_id),
        sim AS (SELECT doc_id, CAST($packed AS BIGINT) & mask AS simhash
                FROM sums, shw)"""
  }

  // ---- declared queries ------------------------------------------------

  def defs: Map[String, QueryDef] = Map(
    "dedup_exact" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("kept_doc"), count(lit(1)).as("n_copies"))
        .select(col("kept_doc"), col("n_copies"))
        .orderBy(col("kept_doc")),
      Some("""
        SELECT min(doc_id) AS kept_doc, CAST(count(*) AS BIGINT) AS n_copies
        FROM documents GROUP BY text ORDER BY kept_doc""")),

    // Exact duplicate SPANS below document granularity (Lee et al. 2022,
    // "Deduplicating Training Data Makes Language Models Better": their
    // suffix-array pass removes repeated substrings that whole-doc and
    // shingle-set dedup both miss — boilerplate riding inside otherwise
    // distinct documents). The distributed approximation: every 50-char
    // window at stride 25 (any duplicated run >= 75 chars must contain a
    // shared aligned-enough window), keyed by the PORTABLE rolling hash
    // of the window so the shuffle carries 8-byte keys, never text —
    // grouping by span hash is exactly how this runs at 100 TB, and
    // because both engines compute the SAME hash the oracle checks it
    // verbatim. Candidates are hash groups, ≈ output; nothing quadratic.
    // Top-50 by multiplicity with full tie-breaks keeps the output
    // deterministic and bounded.
    "dedup_substring_spans" -> QueryDef(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("n_docs").desc, col("n_occ").desc, col("h"))
        Tables.documents(s, d)
          .where(length(col("text")) >= 50)
          .selectExpr("doc_id", "lower(text) AS t")
          .selectExpr("doc_id", "t",
            "explode(sequence(0, CAST((length(t) - 50) / 25 AS INT))) AS p")
          .selectExpr("doc_id", s"${sparkStrHash("substring(t, p * 25 + 1, 50)")} AS h")
          .groupBy(col("h"))
          .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
          .where(col("n_docs") >= 2)
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 50)
          .selectExpr("CAST(rn AS BIGINT) AS rn", "h",
            "CAST(n_docs AS BIGINT) AS n_docs", "CAST(n_occ AS BIGINT) AS n_occ")
          .orderBy(col("rn"))
      },
      Some(s"""
        WITH d AS (
          SELECT doc_id, lower(text) AS t FROM documents WHERE length(text) >= 50),
        sp AS (
          SELECT doc_id,
                 ${duckStrHash("substr(t, CAST(p * 25 + 1 AS INT), 50)")} AS h
          FROM d, LATERAL unnest(range(0,
               (CAST(length(t) AS BIGINT) - 50) // 25 + 1)) AS u(p)),
        g AS (
          SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                 CAST(count(*) AS BIGINT) AS n_occ
          FROM sp GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        r AS (
          SELECT h, n_docs, n_occ,
                 row_number() OVER (ORDER BY n_docs DESC, n_occ DESC, h) AS rn
          FROM g)
        SELECT CAST(rn AS BIGINT) AS rn, h, n_docs, n_occ
        FROM r WHERE rn <= 50 ORDER BY rn""")),

    "dedup_minhash_sig" -> QueryDef(
      (s, d) => minHashSig(s, d).orderBy(col("doc_id")),
      Some(s"""
        WITH $duckBase, $duckSig
        SELECT * FROM sig ORDER BY doc_id""")),

    "dedup_minhash_pairs" -> QueryDef(
      (s, d) => minHashDupPairs(s, d)
        .selectExpr("doc_a", "doc_b", "round(jacc, 4) AS jacc")
        .orderBy(col("doc_a"), col("doc_b")),
      Some(s"""
        WITH $duckBase, $duckSig, $duckBands, $duckJacc, $duckCand
        SELECT c.doc_a, c.doc_b, round(j.jacc, 4) AS jacc
        FROM cand c JOIN jacc j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
        WHERE j.jacc >= $JaccThreshold
        ORDER BY 1, 2""")),

    // INCREMENTAL dedup — the continuous-crawl shape: a small incoming
    // batch (deterministic 20% stratum, doc_id % 10 >= 8) is checked
    // against the EXISTING corpus only. Candidates come from joining the
    // incoming band table against the corpus band table — never
    // incoming x incoming, never corpus x corpus — so per-batch work is
    // O(batch x collisions) regardless of corpus size; at 100 TB the
    // corpus band table is the persisted LSH index every arriving crawl
    // shard probes. Verification is candidate-restricted exact Jaccard
    // (same arithmetic as dedup_minhash_pairs), and every incoming doc
    // gets a verdict: 'dup' with its best corpus match (max jacc, min id
    // tie-break) or 'new'. Docs too short to shingle are 'new' by
    // construction in both engines.
    "dedup_incremental" -> QueryDef(
      (s, d) => incrementalVerdicts(s, d, "doc_id % 10 >= 8", "doc_id % 10 < 8"),
      Some(s"""
        WITH $duckBase, $duckSig, $duckBands,
        cand_inc AS (
          SELECT DISTINCT a.doc_id AS doc_in, b.doc_id AS doc_ex
          FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
          WHERE a.doc_id % 10 >= 8 AND b.doc_id % 10 < 8),
        sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shd GROUP BY doc_id),
        inter_inc AS (
          SELECT c.doc_in, c.doc_ex, CAST(count(*) AS BIGINT) AS inter
          FROM cand_inc c JOIN shd x ON x.doc_id = c.doc_in
                          JOIN shd y ON y.doc_id = c.doc_ex AND y.sh = x.sh
          GROUP BY 1, 2),
        jacc_inc AS (
          SELECT i.doc_in, i.doc_ex,
                 CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) AS jacc
          FROM inter_inc i JOIN sizes sa ON sa.doc_id = i.doc_in
                           JOIN sizes sb ON sb.doc_id = i.doc_ex),
        best AS (
          SELECT doc_in, doc_ex, jacc,
                 row_number() OVER (PARTITION BY doc_in
                                    ORDER BY jacc DESC, doc_ex) AS rn
          FROM jacc_inc WHERE jacc >= $JaccThreshold)
        SELECT d.doc_id,
               CASE WHEN b.doc_ex IS NULL THEN 'new' ELSE 'dup' END AS verdict,
               CAST(b.doc_ex AS BIGINT) AS best_match,
               ${Q.scaledLong("b.jacc", 4)} AS jacc_bp
        FROM documents d LEFT JOIN best b ON b.doc_in = d.doc_id AND b.rn = 1
        WHERE d.doc_id % 10 >= 8
        ORDER BY d.doc_id""")),

    // Duplicate GROUPS from duplicate pairs: connected components over
    // the verified MinHash pairs (min-label propagation, one shuffle per
    // round, 2-3 rounds on near-clique dup clusters — see
    // engine/ops/ConnectedComponents). cluster_id = min doc_id of the
    // component, i.e. the canonical document a dedup pass would keep.
    // The oracle computes the same fixpoint via a recursive-CTE
    // transitive closure.
    "dedup_clusters" -> QueryDef(
      (s, d) => {
        sharedDupLabels(s, d)
          .selectExpr("CAST(v AS BIGINT) AS doc_id",
            "CAST(lbl AS BIGINT) AS cluster_id")
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH RECURSIVE $duckBase, $duckSig, $duckBands, $duckJacc, $duckCand, $duckClusterLabels
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(cluster_id AS BIGINT) AS cluster_id
        FROM labels ORDER BY doc_id""")),

    // Split-LEAKAGE audit: near-duplicate clusters must not straddle
    // train/val/test — a test doc with a training-set near-twin inflates
    // eval (Lee et al. 2021 measure exactly this leak in C4/RealNews;
    // GroupShuffleSplit is the sklearn-side fix). The audit compares two
    // assignment rules over the verified near-dup clusters: the naive
    // per-DOC id-hash shuffle split leaks (members draw independent
    // splits, so most multi-doc clusters straddle — the positive
    // control), while the GROUP-keyed rule (hash the cluster label, one
    // draw per cluster) is structurally leak-free:
    // leaky_groups_by_group must be 0.
    //
    // Scale shape: cluster labels come from the same LSH -> verified
    // pairs -> bounded-round connected components chain dedup_clusters
    // pays; the label frame (dup docs only, tiny vs the corpus) joins
    // back to the doc-id scan, singletons keep their own id as group.
    // Everything after is one groupBy on the numeric group key and a
    // single-row integer fold — no text shuffles, no floats.
    "split_leakage_audit" -> QueryDef(
      (s, d) => {
        val labels = sharedDupLabels(s, d)
          .selectExpr("CAST(v AS BIGINT) AS doc_id",
            "CAST(lbl AS BIGINT) AS cluster_id")
        Tables.documents(s, d).select(col("doc_id"))
          .join(labels, Seq("doc_id"), "left")
          .selectExpr("doc_id", "coalesce(cluster_id, doc_id) AS grp")
          .selectExpr("grp",
            s"(doc_id * 1103515245 + 12345) % $P % 10 AS dh",
            s"(grp * 1103515245 + 12345) % $P % 10 AS gh")
          .selectExpr("grp",
            "CASE WHEN dh < 8 THEN 'train' WHEN dh < 9 THEN 'val' ELSE 'test' END AS dsp",
            "CASE WHEN gh < 8 THEN 'train' WHEN gh < 9 THEN 'val' ELSE 'test' END AS gsp")
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("dsp")).as("nd"),
            countDistinct(col("gsp")).as("ng"))
          .where(col("n") >= 2)
          .agg(
            count(lit(1)).as("n_dup_groups"),
            coalesce(sum(col("n")), lit(0L)).as("n_dup_docs"),
            coalesce(sum(when(col("nd") > 1, 1L).otherwise(0L)), lit(0L))
              .as("leaky_groups_by_doc"),
            coalesce(sum(when(col("nd") > 1, col("n")).otherwise(0L)), lit(0L))
              .as("leaky_docs_by_doc"),
            coalesce(sum(when(col("ng") > 1, 1L).otherwise(0L)), lit(0L))
              .as("leaky_groups_by_group"))
      },
      Some(s"""
        WITH RECURSIVE $duckBase, $duckSig, $duckBands, $duckJacc, $duckCand, $duckClusterLabels,
        b AS (
          SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS grp
          FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
        sp AS (
          SELECT grp,
                 CASE WHEN (doc_id * 1103515245 + 12345) % $P % 10 < 8 THEN 'train'
                      WHEN (doc_id * 1103515245 + 12345) % $P % 10 < 9 THEN 'val'
                      ELSE 'test' END AS dsp,
                 CASE WHEN (grp * 1103515245 + 12345) % $P % 10 < 8 THEN 'train'
                      WHEN (grp * 1103515245 + 12345) % $P % 10 < 9 THEN 'val'
                      ELSE 'test' END AS gsp
          FROM b),
        g2 AS (
          SELECT grp, CAST(count(*) AS BIGINT) AS n,
                 CAST(count(DISTINCT dsp) AS BIGINT) AS nd,
                 CAST(count(DISTINCT gsp) AS BIGINT) AS ng
          FROM sp GROUP BY grp HAVING count(*) >= 2)
        SELECT CAST(count(*) AS BIGINT) AS n_dup_groups,
               CAST(coalesce(sum(n), 0) AS BIGINT) AS n_dup_docs,
               CAST(coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS leaky_groups_by_doc,
               CAST(coalesce(sum(CASE WHEN nd > 1 THEN n ELSE 0 END), 0) AS BIGINT) AS leaky_docs_by_doc,
               CAST(coalesce(sum(CASE WHEN ng > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS leaky_groups_by_group
        FROM g2""")),

    // Per-SOURCE duplication report — the curation dashboard number that
    // decides which ingest feeds get down-weighted or cut: for each
    // document source, how many docs sit in a verified near-dup cluster
    // and the exact ppm rate. The dup-doc set joins the documents scan
    // by plain doc_id equi-join with NO broadcast hint: at 100 TB the
    // duplicate set is corpus-proportional (that is why you dedup), so a
    // forced broadcast is an executor OOM at the design point — AQE
    // still broadcasts it at runtime while it measures small. The only
    // other corpus-side shuffle is the small per-source aggregate. The
    // oracle re-derives cluster membership through the same recursive
    // transitive closure dedup_clusters checks.
    "dedup_rate_by_source" -> QueryDef(
      (s, d) => {
        val dupDocs = sharedDupLabels(s, d)
          .selectExpr("CAST(v AS BIGINT) AS doc_id")
          .withColumn("isdup", lit(1L))
        Tables.documents(s, d).select(col("doc_id"), col("source"))
          .join(dupDocs, Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(coalesce(col("isdup"), lit(0L))).as("n_dup"))
          .selectExpr("source", "CAST(n_docs AS BIGINT) AS n_docs",
            "CAST(n_dup AS BIGINT) AS n_dup",
            "CAST(n_dup * 1000000 DIV n_docs AS BIGINT) AS dup_ppm")
          .orderBy(col("source"))
      },
      Some(s"""
        WITH RECURSIVE $duckBase, $duckSig, $duckBands, $duckJacc, $duckCand, $duckClusterLabels
        SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(l.doc_id) AS BIGINT) AS n_dup,
               CAST(count(l.doc_id) * 1000000 // count(*) AS BIGINT) AS dup_ppm
        FROM documents d LEFT JOIN (SELECT DISTINCT doc_id FROM labels) l
          ON l.doc_id = d.doc_id
        GROUP BY d.source ORDER BY d.source""")),

    // Quality-aware canonical selection: production dedup keeps the BEST
    // member of each near-dup cluster, not the minimum id — here the
    // longest document (n_chars, tie-break min id), the common
    // keep-longest heuristic for crawl snapshots that truncate. One
    // window + one aggregate over the cluster-label frame (dup docs
    // only). The labels join carries NO broadcast hint: duplicate
    // labels are corpus-proportional at 100 TB (same reasoning as
    // dedup_rate_by_source) — the plain doc_id equi-join lets AQE
    // broadcast while the set measures small and shuffle when it
    // doesn't. The oracle re-derives membership through the same
    // recursive transitive closure and picks the same representative.
    "dedup_keep_best" -> QueryDef(
      (s, d) => {
        val labels = sharedDupLabels(s, d)
          .selectExpr("CAST(v AS BIGINT) AS doc_id",
            "CAST(lbl AS BIGINT) AS cluster_id")
        val scored = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
          .join(labels, Seq("doc_id"))
        val w = Window.partitionBy(col("cluster_id"))
          .orderBy(col("n_chars").desc, col("doc_id"))
        scored.withColumn("rn", row_number().over(w))
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_members"),
            min(when(col("rn") === 1, col("doc_id"))).as("keeper_doc"),
            min(when(col("rn") === 1, col("n_chars"))).as("keeper_chars"))
          .orderBy(col("cluster_id"))
      },
      Some(s"""
        WITH RECURSIVE $duckBase, $duckSig, $duckBands, $duckJacc, $duckCand, $duckClusterLabels,
        m AS (
          SELECT l.cluster_id, l.doc_id, d.n_chars,
                 row_number() OVER (PARTITION BY l.cluster_id
                   ORDER BY d.n_chars DESC, l.doc_id) AS rn
          FROM labels l JOIN documents d ON l.doc_id = d.doc_id)
        SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(min(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS keeper_doc,
               CAST(min(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS keeper_chars
        FROM m GROUP BY cluster_id ORDER BY cluster_id""")),

    // Canonical-document centrality: fixed-iteration integer PageRank
    // over the same verified dup-pair graph dedup_clusters labels. The
    // centrality score replaces the arbitrary min-id canonical-doc rule
    // with "keep the most-connected representative" — and because every
    // update is BIGINT arithmetic (floor divisions, integer sums), three
    // rounds of power iteration hash-match the DuckDB re-derivation
    // exactly, which no floating-point PageRank can do across engines.
    // Scale shape: one shuffle per round on the destination vertex; the
    // plan is localCheckpoint-truncated per round (see engine/ops/
    // PageRank.scala).
    "graph_pagerank_dups" -> QueryDef(
      (s, d) => {
        val pairs = minHashDupPairs(s, d)
          .select(col("doc_a"), col("doc_b")).localCheckpoint()
        graft.engine.ops.PageRank.run(pairs, iters = 3)
          .selectExpr("CAST(v AS BIGINT) AS doc_id", "CAST(rank AS BIGINT) AS rank")
          .orderBy(col("doc_id"))
      },
      Some {
        val damp = graft.engine.ops.PageRank.Scale * 15 / 100
        def round(prev: String, next: String) = s"""
          $next AS (
            SELECT e.b AS v,
                   CAST($damp + (85 * sum(r.r // d.deg)) // 100 AS BIGINT) AS r
            FROM edges e JOIN $prev r ON e.a = r.v JOIN deg d ON e.a = d.a
            GROUP BY e.b)"""
        s"""
        WITH $duckBase, $duckSig, $duckBands, $duckJacc, $duckCand,
        dup AS MATERIALIZED (
          SELECT c.doc_a, c.doc_b
          FROM cand c JOIN jacc j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
          WHERE j.jacc >= $JaccThreshold),
        edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM dup
                  UNION ALL SELECT doc_b, doc_a FROM dup),
        deg AS MATERIALIZED (SELECT a, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY a),
        r0 AS (SELECT a AS v, CAST(${graft.engine.ops.PageRank.Scale} AS BIGINT) AS r FROM deg),
        ${round("r0", "r1")},
        ${round("r1", "r2")},
        ${round("r2", "r3")}
        SELECT v AS doc_id, r AS rank FROM r3 ORDER BY doc_id"""
      }),

    // k-core decomposition (k=2, two peeling rounds) over the verified
    // dup-pair graph — the graph-density lens on duplication that web
    // curation pipelines use to separate DENSE duplication (template
    // farms, mirror clusters: every member near-dups many others) from
    // incidental pairs: a vertex survives the 2-core only if at least two
    // of its neighbors also survive, so chains and isolated pairs peel
    // away while cliques remain. Like the PageRank and k-means queries,
    // the declared op is a FIXED number of rounds (the fixpoint loop
    // peels until stable at corpus scale; two rounds already
    // distinguishes chains from cliques and keeps the oracle loop-free).
    // Scale shape per round: one degree aggregation plus two semi-joins
    // against the shrinking survivor set — never a cross join, and the
    // edge list only shrinks.
    "graph_kcore_dups" -> QueryDef(
      (s, d) => {
        // truncate lineage at the edge list (the PageRank/CC discipline):
        // the dup-pair graph is the tiny near-dup survivor set, but its
        // LSH pipeline plan is deep — without truncation every peel
        // round re-plans (and partially re-executes) the whole pipeline
        // per reference, measured 5.8s warm at sf0.1 vs ~1.5s for the
        // pair query itself. localCheckpoint materializes the edges once;
        // the peels then run over a leaf relation.
        val dup = minHashDupPairs(s, d)
          .select(col("doc_a"), col("doc_b")).localCheckpoint()
        def degrees(e: DataFrame): DataFrame =
          e.select(col("doc_a").as("v"))
            .union(e.select(col("doc_b").as("v")))
            .groupBy(col("v")).agg(count(lit(1)).as("n"))
        def peel(e: DataFrame): DataFrame = {
          val keep = degrees(e).where(col("n") >= 2).select(col("v"))
          e.join(keep, e("doc_a") === keep("v"), "left_semi")
            .join(keep, e("doc_b") === keep("v"), "left_semi")
        }
        val e1 = peel(dup).localCheckpoint()
        val core = peel(e1).localCheckpoint()
        degrees(core)
          .selectExpr("CAST(v AS BIGINT) AS doc_id", "CAST(n AS BIGINT) AS degree")
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH $duckBase, $duckSig, $duckBands, $duckJacc, $duckCand,
        dup AS MATERIALIZED (
          SELECT c.doc_a, c.doc_b
          FROM cand c JOIN jacc j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
          WHERE j.jacc >= $JaccThreshold),
        d1 AS (SELECT v, count(*) AS n FROM (
                 SELECT doc_a AS v FROM dup UNION ALL SELECT doc_b FROM dup)
               GROUP BY v),
        k1 AS (SELECT v FROM d1 WHERE n >= 2),
        e1 AS MATERIALIZED (SELECT doc_a, doc_b FROM dup
               WHERE doc_a IN (SELECT v FROM k1) AND doc_b IN (SELECT v FROM k1)),
        d2 AS (SELECT v, count(*) AS n FROM (
                 SELECT doc_a AS v FROM e1 UNION ALL SELECT doc_b FROM e1)
               GROUP BY v),
        k2 AS (SELECT v FROM d2 WHERE n >= 2),
        e2 AS MATERIALIZED (SELECT doc_a, doc_b FROM e1
               WHERE doc_a IN (SELECT v FROM k2) AND doc_b IN (SELECT v FROM k2)),
        dfin AS (SELECT v, CAST(count(*) AS BIGINT) AS degree FROM (
                   SELECT doc_a AS v FROM e2 UNION ALL SELECT doc_b FROM e2)
                 GROUP BY v)
        SELECT CAST(v AS BIGINT) AS doc_id, degree FROM dfin ORDER BY doc_id""")),

    // Containment similarity over the LSH candidates: |A∩B| / min(|A|,|B|)
    // instead of Jaccard's |A∩B| / |A∪B|. Containment is what catches a
    // short document EMBEDDED in a longer one (boilerplate wrapping,
    // quote-and-extend, page-within-crawl) — the asymmetric duplication
    // Jaccard structurally under-scores: a 100-shingle doc fully
    // contained in a 1000-shingle doc has containment 1.0 but Jaccard
    // 0.1. Candidates come from the same banded-minhash equi-join,
    // BOUNDED by the rank-proximity window (r15, see NeighborWindow:
    // per-bucket work W·n instead of n²/2 — the 30×/100× audits'
    // output-quadratic shape), and verification is candidate-
    // restricted; the two thresholds differ
    // (containment >= 0.8 vs jacc >= 0.5) because containment dominates
    // Jaccard pointwise. Emitting both scores per surviving pair makes
    // the asymmetry visible in the gated output.
    "dedup_containment_pairs" -> QueryDef(
      (s, d) => {
        val shd = sharedCappedShingles(s, d)
        // rank-proximity candidate window (r15, see NeighborWindow): the
        // banded equi-join stays, but a doc only pairs with its W
        // nearest bucket predecessors — per-bucket work W·n, not n²/2
        val bands = sharedBands(s, d)
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("band"), col("key")).orderBy(col("doc_id"))))
        val cand = bands.toDF("doc_a", "band", "key", "rn_a")
          .join(bands.toDF("doc_b", "band2", "key2", "rn_b"),
            col("band") === col("band2") && col("key") === col("key2") &&
              col("rn_b") > col("rn_a") &&
              col("rn_b") <= col("rn_a") + NeighborWindow)
          .select(col("doc_a"), col("doc_b")).distinct()
        val sizes = shd.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        cand
          .join(shd.toDF("doc_a", "sh"), "doc_a")
          .join(shd.toDF("doc_b2", "sh2"),
            col("doc_b") === col("doc_b2") && col("sh") === col("sh2"))
          .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
          .join(sizes.toDF("doc_a", "na"), "doc_a")
          .join(sizes.toDF("doc_b", "nb"), "doc_b")
          .withColumn("cont", expr("CAST(inter AS DOUBLE) / least(na, nb)"))
          .where(s"cont >= $ContainmentThreshold")
          .selectExpr("doc_a", "doc_b", "round(cont, 4) AS cont",
            "round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jacc")
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""
        WITH $duckBase, $duckSig, $duckBands, $duckCand,
        sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shd GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter
          FROM cand c JOIN shd a ON a.doc_id = c.doc_a
                      JOIN shd b ON b.doc_id = c.doc_b AND b.sh = a.sh
          GROUP BY 1, 2),
        sc AS (
          SELECT i.doc_a, i.doc_b,
                 CAST(i.inter AS DOUBLE) / least(sa.n, sb.n) AS cont,
                 CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) AS jacc
          FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
                       JOIN sizes sb ON sb.doc_id = i.doc_b)
        SELECT doc_a, doc_b, round(cont, 4) AS cont, round(jacc, 4) AS jacc
        FROM sc WHERE cont >= $ContainmentThreshold
        ORDER BY doc_a, doc_b""")),

    // Triangle enumeration over the verified dup-pair graph: mutual
    // near-dup triples are the strongest duplication signal (a clique of
    // three pairwise-similar documents is almost never coincidental,
    // unlike a chain a-b-c that transitive clustering also merges).
    // Because dup pairs are emitted id-ordered (doc_a < doc_b), the edge
    // set is already ORIENTED — each triangle a<b<c is found exactly once
    // by the two equi-joins, with no permutation dedup and no direction
    // blow-up. That orientation trick is what keeps distributed triangle
    // counting tractable at scale; the dup-pair graph itself is tiny
    // relative to the corpus (it's the near-dup survivors), so both
    // joins broadcast in practice while the plan still degrades to
    // shuffle equi-joins if a pathological corpus inflates it.
    "graph_triangles_dups" -> QueryDef(
      (s, d) => {
        val e = minHashDupPairs(s, d)
          .select(col("doc_a"), col("doc_b")).persistScoped()
        e.toDF("a", "b")
          .join(e.toDF("b2", "c"), col("b") === col("b2"))
          .join(e.toDF("a2", "c2"),
            col("a") === col("a2") && col("c") === col("c2"))
          .select(col("a"), col("b"), col("c"))
          .orderBy(col("a"), col("b"), col("c"))
      },
      Some(s"""
        WITH $duckBase, $duckSig, $duckBands, $duckJacc, $duckCand,
        dup AS MATERIALIZED (
          SELECT c.doc_a, c.doc_b
          FROM cand c JOIN jacc j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
          WHERE j.jacc >= $JaccThreshold)
        SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
        FROM dup e1 JOIN dup e2 ON e1.doc_b = e2.doc_a
                    JOIN dup e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
        ORDER BY a, b, c""")),

    // HITS hubs/authorities (two integer-exact half-steps) over the
    // verified dup-pair graph — the mutual-reinforcement centrality that
    // complements PageRank's random-walk rank: a document is a strong
    // hub if it near-dups many strong authorities and vice versa, which
    // on duplication graphs separates template sources (high hub) from
    // widely-copied canonical pages (high authority). Unnormalized
    // power iteration from h0 = 1 keeps every score a BIGINT (a1 = in-
    // degree, h1 = sum of neighbor a1, a2 = sum of neighbor h1), so two
    // rounds hash-match the DuckDB re-derivation exactly — same
    // integer-exactness contract as graph_pagerank_dups.
    //
    // Scale shape per half-step: one equi-join of the edge list against
    // the previous score vector plus one destination-keyed aggregation —
    // the standard message-passing shape, one shuffle per half-step, and
    // the edge list is localCheckpoint-truncated once so iterations
    // never re-run the LSH pipeline.
    "graph_hits_dups" -> QueryDef(
      (s, d) => {
        val dup = minHashDupPairs(s, d)
          .select(col("doc_a"), col("doc_b")).localCheckpoint()
        val edges = dup.toDF("src", "dst")
          .union(dup.select(col("doc_b"), col("doc_a")).toDF("src", "dst"))
        val a1 = edges.groupBy(col("dst")).agg(count(lit(1)).as("a1"))
          .withColumnRenamed("dst", "v")
        val h1 = edges.join(a1.withColumnRenamed("v", "dst"), Seq("dst"))
          .groupBy(col("src")).agg(sum(col("a1")).as("h1"))
          .withColumnRenamed("src", "v")
        val a2 = edges.join(h1.withColumnRenamed("v", "src"), Seq("src"))
          .groupBy(col("dst")).agg(sum(col("h1")).as("a2"))
          .withColumnRenamed("dst", "v")
        h1.join(a2, Seq("v"))
          .selectExpr("CAST(v AS BIGINT) AS doc_id",
            "CAST(h1 AS BIGINT) AS hub", "CAST(a2 AS BIGINT) AS auth")
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH $duckBase, $duckSig, $duckBands, $duckJacc, $duckCand,
        dup AS MATERIALIZED (
          SELECT c.doc_a, c.doc_b
          FROM cand c JOIN jacc j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
          WHERE j.jacc >= $JaccThreshold),
        edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM dup
                  UNION ALL SELECT doc_b, doc_a FROM dup),
        a1 AS (SELECT dst AS v, CAST(count(*) AS BIGINT) AS a1
               FROM edges GROUP BY dst),
        h1 AS (SELECT e.src AS v, CAST(sum(a.a1) AS BIGINT) AS h1
               FROM edges e JOIN a1 a ON e.dst = a.v GROUP BY e.src),
        a2 AS (SELECT e.dst AS v, CAST(sum(h.h1) AS BIGINT) AS a2
               FROM edges e JOIN h1 h ON e.src = h.v GROUP BY e.dst)
        SELECT h1.v AS doc_id, h1.h1 AS hub, a2.a2 AS auth
        FROM h1 JOIN a2 ON h1.v = a2.v ORDER BY doc_id""")),

    // Exact n-gram Jaccard with a BOUNDED worst case: the declared result
    // is the LSH-candidate-verified pairs UNION an exact all-pairs pass
    // over a deterministic 1/16 document stratum. The stratum is the
    // exactness audit — any >=threshold pair inside it that LSH banding
    // missed would surface here as a row the candidate branch lacks —
    // while the full-corpus branch stays candidate-restricted, so no
    // declared query is quadratic in co-shingled pairs any more (the
    // unrestricted baseline lives on as jaccardAllPairs, exercised by
    // LadderRecallSpec). At larger corpora the modulus scales with corpus
    // size to keep the audit a fixed budget. Both branches compute
    // jacc with identical arithmetic over the same capped feature
    // space, so the UNION dedups exactly.
    "dedup_jaccard_pairs" -> QueryDef(
      (s, d) => {
        val shd = sharedCappedShingles(s, d)
        val lsh = sharedDupPairs(s, d)
          .select(col("doc_a"), col("doc_b"), col("jacc"))
        val exact = jaccardOver(shd.where(s"doc_id % $ExactStratumMod = 0"))
          .where(s"jacc >= $JaccThreshold")
          .select(col("doc_a"), col("doc_b"), col("jacc"))
        lsh.unionByName(exact).distinct()
          .selectExpr("doc_a", "doc_b", "round(jacc, 4) AS jacc")
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""
        WITH $duckBase, $duckSig, $duckBands, $duckJacc, $duckCand
        SELECT doc_a, doc_b, round(jacc, 4) AS jacc FROM (
          SELECT j.doc_a, j.doc_b, j.jacc
          FROM cand c JOIN jacc j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
          WHERE j.jacc >= $JaccThreshold
          UNION
          SELECT doc_a, doc_b, jacc FROM jacc
          WHERE jacc >= $JaccThreshold
            AND doc_a % $ExactStratumMod = 0 AND doc_b % $ExactStratumMod = 0
        ) u ORDER BY doc_a, doc_b""")),

    // Benchmark decontamination — the training-data hygiene pass that
    // removes corpus documents overlapping a held-out eval set (the
    // GPT-3/Gopher n-gram–collision rule). A deterministic 1/50 doc
    // stratum plays the benchmark role; a corpus doc is contaminated if
    // it shares ANY capped 3-gram shingle with any benchmark doc.
    // Shape at 100 TB: eval suites are thousands of documents vs
    // billions in the corpus, so the benchmark's distinct-shingle set is
    // tiny and BROADCASTS — the corpus side is one scan + broadcast
    // hash join + per-doc count, never shuffled on shingle.
    "dedup_decontam" -> QueryDef(
      (s, d) => {
        val shd = sharedCappedShingles(s, d)
        val benchSh = shd.where(s"doc_id % $DecontamMod = 0")
          .select(col("sh")).distinct()
        shd.where(s"doc_id % $DecontamMod != 0")
          .join(broadcast(benchSh), Seq("sh"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shared"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH $duckBase,
        bench AS (SELECT DISTINCT sh FROM shd WHERE doc_id % $DecontamMod = 0)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
        FROM shd JOIN bench USING (sh)
        WHERE doc_id % $DecontamMod <> 0
        GROUP BY doc_id ORDER BY doc_id""")),

    // Within-document repetition ratio (the C4/Gopher-style quality
    // signal: heavily repeated n-grams mark boilerplate/spam): fraction
    // of duplicate 3-gram shingles per doc, row-local over the same
    // shingle array the dedup path extracts — scan once, reuse the
    // signature feature space for a quality feature.
    "text_repetition" -> QueryDef(
      (s, d) => shingleArr(s, d)
        .selectExpr("doc_id",
          "CAST(size(sh_arr) AS BIGINT) AS n_shingles",
          "CAST(size(array_distinct(sh_arr)) AS BIGINT) AS n_distinct",
          s"${Q.scaledLong("1.0 - CAST(size(array_distinct(sh_arr)) AS DOUBLE) / size(sh_arr)", 4)} AS rep_e4")
        .orderBy(col("doc_id")),
      Some(s"""
        WITH $duckBase
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(count(DISTINCT sh) AS BIGINT) AS n_distinct,
               ${Q.scaledLong("1.0 - CAST(count(DISTINCT sh) AS DOUBLE) / count(*)", 4)} AS rep_e4
        FROM sh GROUP BY doc_id ORDER BY doc_id""")),

    "dedup_simhash_sig" -> QueryDef(
      (s, d) => simHashSigs(s, d).orderBy(col("doc_id")),
      Some(s"""
        WITH $duckBase, $duckSimHash
        SELECT doc_id, simhash FROM sim ORDER BY doc_id""")),

    // Pigeonhole CHUNK-PAIR blocking at the LADDER width (r15 ladder;
    // r16 chunk-count-rides-threshold; r17 pair keys): with nc = ht+2
    // chunks, a pair within the hamming threshold ht leaves at least
    // TWO chunks untouched (its errors hit at most ht of them), so it
    // collides on at least one pair of clean chunks — blocking on all
    // C(nc,2) concatenated chunk-pair keys keeps recall exact by
    // construction at every rung (LadderRecallSpec brute-force-checks
    // this at the 44-bit rung). Pair keys exist because single-chunk
    // key space saturates near 2^(32/3) regardless of width — see the
    // builder comment below. The r15 fixed-4-chunk form broke recall at
    // bits ≥ 44 (gate-blind: the oracle mirrored the blocking); the
    // chunk layout is floor(c·bits/nc) so widths stay balanced when
    // nc ∤ bits; width, layout, and threshold all ride the same
    // doc-count ladder the oracle mirrors through `shw`.
    //
    // The chunk join runs over DISTINCT SIGNATURES, expanded back to
    // document pairs afterwards (r15, from the 100× audit): a dup-heavy
    // corpus concentrates thousands of documents on identical or
    // near-identical signatures (the short-doc majority-bias cluster —
    // 512 docs share one 8-bit chunk key at sf0.1, ×100 copies at the
    // scale dirs), and a doc-level chunk join is quadratic in that
    // cluster at ANY ladder width (measured: two straggler tasks, 1.3B
    // pair combos at 100×). Distinct sigs collapse every verbatim-dup
    // family to one representative; identical-sig doc pairs come back
    // as a pure hamming-0 expansion (output-bound by definition) and
    // cross-sig pairs expand only for signature pairs that PASSED the
    // threshold. Exact same pair set — a plan transform, not a dial.
    "dedup_simhash_pairs" -> QueryDef(
      (s, d) => {
        val bits = simhashBits(docN(s, d))
        val ht = (3 * bits) / 32
        // CHUNK-PAIR blocking (r17, from the 100× refresh): single-chunk
        // keys have width bits/nc ≈ 32/3 regardless of the ladder rung —
        // the key space SATURATES near 2^11, so once the corpus outgrows
        // it (mix64 made near-dup signatures genuinely distinct at 500k
        // docs) every key holds hundreds of signatures and the equi-join
        // enumerates C(occupancy, 2) per key (measured 33.6 → 71.3 s at
        // 100× after the entropy fix). With nc = ht+2 chunks, a pair
        // within the threshold leaves ≥ 2 chunks untouched (errors hit
        // ≤ ht of them), so it collides on at least one PAIR of clean
        // chunks — blocking on all C(nc,2) concatenated chunk-pair keys
        // keeps recall exact (LadderRecallSpec enforces it) while the
        // key space SQUARES (~2^22): random collisions vanish and the
        // join is output-bound on true near-dup clusters at any corpus.
        val nc = ht + 2
        val sim = simHashSigs(s, d).persistScoped()
        val sigs = sim.select(col("simhash")).distinct()
        def lo(c: Int) = (c * bits) / nc
        def cw(c: Int) = ((c + 1) * bits) / nc - lo(c)
        val chunks = for { i <- 0 until nc; j <- (i + 1) until nc } yield
          struct(lit(i * nc + j).as("chunk"),
            expr(s"(shiftright(simhash, ${lo(i)}) & ${(1L << cw(i)) - 1}L) " +
              s"* ${1L << cw(j)}L + " +
              s"(shiftright(simhash, ${lo(j)}) & ${(1L << cw(j)) - 1}L)").as("key"))
        val blocked = sigs
          .select(col("simhash"), explode(array(chunks: _*)).as("ck"))
          .select(col("simhash"), col("ck.chunk").as("chunk"), col("ck.key").as("key"))
        val sigPairs = blocked.toDF("sim_a", "chunk", "key")
          .join(blocked.toDF("sim_b", "chunk2", "key2"),
            col("chunk") === col("chunk2") && col("key") === col("key2") &&
              col("sim_a") < col("sim_b"))
          .where(s"bit_count(sim_a ^ sim_b) <= $ht")
          .select(col("sim_a"), col("sim_b")).distinct()
        val cross = sigPairs
          .join(sim.toDF("da", "sim_a"), "sim_a")
          .join(sim.toDF("db", "sim_b"), "sim_b")
          .selectExpr("least(da, db) AS doc_a", "greatest(da, db) AS doc_b",
            "CAST(bit_count(sim_a ^ sim_b) AS INT) AS hamming")
        val within = sim.toDF("doc_a", "simhash")
          .join(sim.toDF("doc_b", "sim2"),
            col("simhash") === col("sim2") && col("doc_a") < col("doc_b"))
          .selectExpr("doc_a", "doc_b", "CAST(0 AS INT) AS hamming")
        cross.unionByName(within)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""
        WITH $duckBase, $duckSimHash,
        sigs AS (SELECT DISTINCT simhash FROM sim),
        chunks AS (
          SELECT simhash, c1 * nc + c2 AS chunk,
                 ((simhash >> CAST((c1 * bits) // nc AS INTEGER)) &
                  ((CAST(1 AS BIGINT) <<
                    CAST(((c1 + 1) * bits) // nc - (c1 * bits) // nc AS INTEGER)) - 1))
                 * (CAST(1 AS BIGINT) <<
                    CAST(((c2 + 1) * bits) // nc - (c2 * bits) // nc AS INTEGER))
                 + ((simhash >> CAST((c2 * bits) // nc AS INTEGER)) &
                    ((CAST(1 AS BIGINT) <<
                      CAST(((c2 + 1) * bits) // nc - (c2 * bits) // nc AS INTEGER)) - 1))
                   AS key
          FROM sigs, shw, range(0, 7) ca(c1), range(0, 7) cb(c2)
          WHERE c1 < c2 AND c2 < nc),
        sp AS (
          SELECT DISTINCT a.simhash AS sa, b.simhash AS sb
          FROM chunks a JOIN chunks b
            ON a.chunk = b.chunk AND a.key = b.key AND a.simhash < b.simhash, shw
          WHERE bit_count(xor(a.simhash, b.simhash)) <= ht),
        crossp AS (
          SELECT least(x.doc_id, y.doc_id) AS doc_a,
                 greatest(x.doc_id, y.doc_id) AS doc_b,
                 CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
          FROM sp JOIN sim x ON x.simhash = sp.sa
                  JOIN sim y ON y.simhash = sp.sb),
        withinp AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(0 AS INT) AS hamming
          FROM sim a JOIN sim b
            ON a.simhash = b.simhash AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, hamming
        FROM (SELECT * FROM crossp UNION ALL SELECT * FROM withinp) u
        ORDER BY doc_a, doc_b""")),

    // N-gram NOVELTY curve: per document, the fraction of its distinct
    // shingles never seen in any earlier document (arrival order =
    // doc_id) — the redundancy-decay readout used to ORDER training
    // data and to decide when a crawl snapshot stops paying for itself
    // (novelty of late documents collapsing toward 0 = the corpus is
    // saturating). One shingle-keyed first-occurrence aggregation plus
    // one per-doc aggregation — both map-side combinable; at 100 TB
    // first-occurrence is the same shuffle the dedup index already
    // pays, so the curve rides along for free. Routed through
    // cappedShingles (r7 ADVICE) like every other consumer of the
    // shingle feature space: the cap is what makes "rides the dedup
    // index shuffle" true (the index is built over the capped space) and
    // what keeps an ultra-common shingle from making the sh-keyed
    // first-occurrence aggregate a hot partition. Semantics note:
    // novelty is measured over the DEDUP-RELEVANT shingles — a stop
    // shingle in >MaxShingleDocFreq docs carries no novelty signal by
    // definition, so excluding it is the curve you actually want.
    "dedup_ngram_novelty" -> QueryDef(
      (s, d) => {
        val shd = sharedCappedShingles(s, d)
        val firsts = shd.groupBy(col("sh")).agg(min(col("doc_id")).as("fd"))
        shd.join(firsts, "sh")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
          .selectExpr("doc_id", "n_shingles", "n_novel",
            s"${Q.scaledLong(
              "CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE)", 4)} AS novelty_e4")
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH $duckBase,
        f AS (SELECT sh, min(doc_id) AS fd FROM shd GROUP BY sh),
        per AS (
          SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
                 CAST(sum(CASE WHEN f.fd = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
          FROM shd s JOIN f USING (sh) GROUP BY s.doc_id)
        SELECT doc_id, n_shingles, n_novel,
               ${Q.scaledLong(
          "CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE)", 4)} AS novelty_e4
        FROM per ORDER BY doc_id""")),

    // SOURCE-level corpus overlap: pairwise Jaccard between each
    // source's (capped) shingle space — the crawl-planning readout that
    // says "source A is 60% a re-crawl of source B, stop paying for it".
    // Two estimators per pair, both deterministic and both mirrored in
    // the oracle: the EXACT Jaccard over the distinct (source, shingle)
    // frame, and the MinHash-union estimate (each source's 16-component
    // signature is the min over ALL its docs' shingle hashes — the
    // union-sketch property: sig(A ∪ B) = componentwise min — and
    // matching components / 16 estimates J). within_bound checks the
    // estimate against the binomial 3-sigma envelope at K = 16
    // (sqrt(J(1-J)/16) <= 0.125, so 0.375 + rounding headroom) —
    // computed identically in both engines, so the gate would catch
    // either side drifting.
    //
    // Scale shape: per-source signatures are ONE map-side-combinable min
    // aggregate producing 16 numbers per source — at 100 TB this is the
    // only pass that touches the corpus, and source sketches compose
    // across shards/days by the same min. The exact twin's self-join on
    // sh has per-shingle fanout bounded by the SOURCE count (20), never
    // the doc count; at production scale you keep only the sketch side.
    "dedup_source_overlap" -> QueryDef(
      (s, d) => {
        val srcSh = sharedCappedShingles(s, d)
          .join(Tables.documents(s, d).select(col("doc_id"), col("source")), "doc_id")
          .select(col("source"), col("sh")).distinct().persistScoped()
        val minCols = (0 until MinHashK).map(i =>
          min(expr(s"(${minHashA(i)} * sh + ${minHashB(i)}) % $P")).as(s"s$i"))
        // one source-keyed aggregation for the signature AND the size
        // (r17, guide §2.4): both grouped the same cached frame by
        // source — the count rides the min-aggregate's exchange, so the
        // second pass + exchange disappears; same integers.
        // The S-bounded signature/size frame then COLLECTS (r18, guide
        // §1.2 — the doremi local-relation discipline): the old shape
        // re-derived sig/sizes as two frames and joined FOUR
        // source-cardinality-bounded sides through broadcast exchanges
        // (each an AQE stage-job per run); S is ~20, so the pair
        // assembly — signature match counts and the size pairs — is
        // driver arithmetic on the SAME collected BIGINTs, re-embedded
        // as a local relation. Only the corpus-derived `inter` aggregate
        // stays distributed; every output expression is unchanged Spark
        // SQL over the same integers, so values are identical.
        val sigRows = srcSh.groupBy(col("source"))
          .agg(minCols.head, minCols.tail :+ count(lit(1)).as("n"): _*)
          .collect()
        val inter = srcSh.toDF("src_a", "sh")
          .join(srcSh.toDF("src_b", "sh2"),
            col("sh") === col("sh2") && col("src_a") < col("src_b"))
          .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("inter"))
        // the '<' pair filter replicates Spark's STRING '<' exactly:
        // unsigned UTF-8 byte order (Java String '<' would diverge on
        // non-ASCII source keys — the doremi z-fold discipline)
        def ltUtf8(x: String, y: String): Boolean =
          java.util.Arrays.compareUnsigned(
            x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            y.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
        val pairRows = for {
          a <- sigRows.toSeq
          b <- sigRows.toSeq
          if ltUtf8(a.getString(0), b.getString(0))
        } yield {
          val m = (0 until MinHashK)
            .count(i => a.getLong(i + 1) == b.getLong(i + 1)).toLong
          org.apache.spark.sql.Row(a.getString(0), b.getString(0),
            a.getLong(MinHashK + 1), b.getLong(MinHashK + 1), m)
        }
        val pairSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("src_a",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("src_b",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("na",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("nb",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("m",
            org.apache.spark.sql.types.LongType, nullable = false)))
        s.createDataFrame(
            java.util.Arrays.asList(pairRows: _*), pairSchema)
          .join(inter, Seq("src_a", "src_b"), "left")
          .selectExpr("src_a", "src_b", "na", "nb",
            "coalesce(inter, CAST(0 AS BIGINT)) AS inter", "m")
          .selectExpr("src_a", "src_b", "na", "nb",
            s"${Q.scaledLong(
              "CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)", 4)} AS exact_e4",
            "m * 625 AS est_e4")
          .selectExpr("src_a", "src_b", "na", "nb", "exact_e4", "est_e4",
            "CAST(CASE WHEN abs(est_e4 - exact_e4) <= 4000 THEN 1 ELSE 0 END AS BIGINT) AS within_bound")
          .orderBy(col("src_a"), col("src_b"))
      },
      Some(s"""
        WITH $duckBase,
        srcsh AS (
          SELECT DISTINCT doc.source, s.sh
          FROM shd s JOIN documents doc ON doc.doc_id = s.doc_id),
        sig AS (
          SELECT source, ${(0 until MinHashK)
          .map(i => s"min((${minHashA(i)} * sh + ${minHashB(i)}) % $P) AS s$i")
          .mkString(", ")}
          FROM srcsh GROUP BY source),
        sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM srcsh GROUP BY source),
        inter AS (
          SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS inter
          FROM srcsh a JOIN srcsh b ON a.sh = b.sh AND a.source < b.source
          GROUP BY 1, 2),
        est AS (
          SELECT a.source AS src_a, b.source AS src_b,
                 ${(0 until MinHashK)
          .map(i => s"(CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END)").mkString(" + ")} AS m
          FROM sig a JOIN sig b ON a.source < b.source),
        base AS (
          SELECT sa.source AS src_a, sb.source AS src_b, sa.n AS na, sb.n AS nb,
                 coalesce(i.inter, CAST(0 AS BIGINT)) AS inter, e.m
          FROM sizes sa JOIN sizes sb ON sa.source < sb.source
          LEFT JOIN inter i ON i.src_a = sa.source AND i.src_b = sb.source
          JOIN est e ON e.src_a = sa.source AND e.src_b = sb.source),
        scored AS (
          SELECT src_a, src_b, na, nb,
                 ${Q.scaledLong(
          "CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)", 4)} AS exact_e4,
                 CAST(m * 625 AS BIGINT) AS est_e4
          FROM base)
        SELECT src_a, src_b, na, nb, exact_e4, est_e4,
               CAST(CASE WHEN abs(est_e4 - exact_e4) <= 4000 THEN 1 ELSE 0 END AS BIGINT) AS within_bound
        FROM scored ORDER BY src_a, src_b""")),

    // Fuzzy dedup by EDIT DISTANCE — the character-level complement to
    // the shingle family: shingles miss dense single-character noise
    // (OCR errors, mojibake) that Levenshtein catches. Candidates are
    // blocked on (12-char normalized prefix, length//16 band) — prefix
    // blocking bounds the join exactly like an LSH band — AND windowed
    // to the NeighborWindow nearest block predecessors (r15), so
    // per-block verification is W·|block| even when a verbatim-prefix
    // family inflates a block (400 members at the 100× audit); the
    // distance itself is capped to the first 120 chars: O(120²) per
    // candidate, row-local, inside codegen. At 100 TB the prefix key is
    // uniformly distributed (real corpora: prepend a cheap content hash
    // of the first line) and a MinHash band would pre-filter candidates
    // before any distance runs.
    //
    // CROSS-ENGINE UNIT CONTRACT (r7 ADVICE): Spark's levenshtein counts
    // Unicode codepoints, DuckDB's counts BYTES — one multibyte-character
    // edit scores differently per engine. Both sides therefore strip to
    // printable ASCII first (regexp `[^ -~]`, identical in both regex
    // dialects), making codepoints == bytes by construction; on a real
    // multilingual corpus keep the strip (edit distance over raw UTF-8
    // bytes is meaningless anyway) or swap in a codepoint-aware distance.
    "dedup_editdist_pairs" -> QueryDef(
      (s, d) => {
        // persistScoped (r11): both sides of the blocked self-join read
        // this frame — uncached, the corpus-wide regexp normalization
        // ran twice (the staged-intermediate discipline)
        // rank-proximity pair window (r15, see NeighborWindow): the 100×
        // audit's editdist block reaches 400 members (verbatim-prefix
        // families), and C(400,2) capped levenshteins per block is the
        // quadratic the window removes — each doc now verifies against
        // its W nearest block predecessors only (chain connectivity, so
        // cluster-completeness survives; exact whenever |block| ≤ W+1,
        // which covers the gate corpora: max block 4)
        val b = Tables.documents(s, d).selectExpr("doc_id",
          "substring(regexp_replace(lower(text), '[^ -~]', ''), 1, 120) AS lt",
          "substring(regexp_replace(lower(text), '[^ -~]', ''), 1, 12) AS pfx",
          "n_chars div 16 AS band")
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("pfx"), col("band")).orderBy(col("doc_id"))))
          .persistScoped()
        // candidates enumerate by RANK ARITHMETIC, not by join predicate
        // (r16, the 300× notch): the r15 shape equi-joined on (pfx,
        // band) and windowed with rank conjuncts — which bounds the
        // VERIFICATION work at W·n but still ENUMERATES C(|block|, 2)
        // key-equal combos per block just to evaluate the cheap rank
        // conjuncts (the r15 conjunct-ordering fix moved the quadratic
        // from the levenshtein to the enumeration, where the 100×
        // corpus could still afford it). A dup-heavy corpus makes that
        // the dominant cost: at 300× (verbatim families × 300 copies
        // share a prefix block) the combo count grows with the SQUARE
        // of the copy factor — measured 18.9 s at 100× → 319.5 s at
        // 300× on 3× the data. Each doc now EXPLODES its ≤ W
        // predecessor ranks (sequence(rn−W, rn−1)) and equi-joins on
        // (pfx, band, rn) — the rank is unique within a block, so the
        // join enumerates EXACTLY the W·n windowed candidates and only
        // they pay the levenshtein. Same pair set by construction; the
        // oracle's windowed self-join is semantically identical SQL.
        val probes = b.toDF("doc_b", "lb", "pfx", "band", "rn_b")
          .where(col("rn_b") >= 2)
          .select(col("doc_b"), col("lb"), col("pfx"), col("band"),
            explode(expr(
              s"sequence(greatest(rn_b - $NeighborWindow, 1), rn_b - 1)"))
              .as("rn_a"))
        probes
          .join(b.toDF("doc_a", "la", "pfx2", "band2", "rn_a2"),
            col("pfx") === col("pfx2") && col("band") === col("band2") &&
              col("rn_a") === col("rn_a2") &&
              expr("levenshtein(la, lb) <= 20"))
          .selectExpr("doc_a", "doc_b",
            "CAST(levenshtein(la, lb) AS BIGINT) AS dist")
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""
        WITH b AS (
          SELECT doc_id,
                 substr(regexp_replace(lower(text), '[^ -~]', '', 'g'), 1, 120) AS lt,
                 substr(regexp_replace(lower(text), '[^ -~]', '', 'g'), 1, 12) AS pfx,
                 n_chars // 16 AS band
          FROM documents),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY pfx, band ORDER BY doc_id) AS rn
          FROM b)
        SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
               CAST(levenshtein(a.lt, b2.lt) AS BIGINT) AS dist
        FROM r a JOIN r b2
          ON a.pfx = b2.pfx AND a.band = b2.band
         AND b2.rn > a.rn AND b2.rn <= a.rn + $NeighborWindow
        WHERE levenshtein(a.lt, b2.lt) <= 20
        ORDER BY doc_a, doc_b""")),

    // Common-neighbor Jaccard link prediction on the customer-part
    // co-purchase bipartite graph — the collaborative-filtering
    // primitive ("these two buyers' baskets overlap most"): exactly the
    // doc-shingle Jaccard machinery above, re-aimed at a graph whose
    // neighbor structure is NOT all-cliques (the verified dup graph is:
    // any two docs sharing most shingles also band-collide, so
    // distance-2 non-edges don't exist there and link prediction is
    // vacuous — tested at sf0.01 and sf0.1). Counts are exact integers;
    // the score is one rational division. Scale shape: the pair join is
    // keyed on partkey with per-part fanout ENFORCED <=
    // MaxCoPurchaseDegree by Scale.capHotKeys (r9; inert at TPC-H's
    // ~30 part degree, load-bearing on a real catalog's staples — the
    // cappedShingles pattern, oracle-mirrored), common >= 2 prunes
    // noise pairs before the
    // degree joins (keyed equi-joins, hint-free — AQE broadcasts the
    // customer-scale degree table only while it measures small), and
    // the top-20 exits via TakeOrderedAndProject — never a global sort.
    "graph_jaccard_links" -> QueryDef(
      (s, d) => {
        // the incidence AND the pair graph both come from the shared
        // tier — the degree aggregate reads the former, the link scores
        // the latter
        val cp = coPurchases(s, d)
        val sizes = cp.groupBy(col("c")).agg(count(lit(1)).as("n"))
        sharedCoPurchasePairs(s, d)
          // NO broadcast hint on the degree table: customers scale with
          // the corpus, so forcing it is a broadcast-OOM at 100x. The
          // pair frame is already keyed on the customer ids — plain
          // equi-joins shuffle pairs only, and AQE still broadcasts the
          // degree side while it measures small.
          .join(sizes.toDF("ca", "na"), "ca")
          .join(sizes.toDF("cb", "nb"), "cb")
          .selectExpr("ca AS cust_a", "cb AS cust_b", "common", "na", "nb",
            s"${Q.scaledLong(
              "CAST(common AS DOUBLE) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - CAST(common AS DOUBLE))",
              6)} AS jacc_e6")
          .orderBy(col("jacc_e6").desc, col("cust_a"), col("cust_b"))
          .limit(20)
      },
      Some(s"""
        WITH $duckCoPurchases,
        sizes AS (SELECT c, CAST(count(*) AS BIGINT) AS n FROM cp GROUP BY c),
        pairs AS (
          SELECT a.c AS ca, b.c AS cb, CAST(count(*) AS BIGINT) AS common
          FROM cp a JOIN cp b ON a.p = b.p AND a.c < b.c
          GROUP BY 1, 2
          HAVING count(*) >= 2)
        SELECT p.ca AS cust_a, p.cb AS cust_b, p.common,
               sa.n AS na, sb.n AS nb,
               ${Q.scaledLong(
          "CAST(p.common AS DOUBLE) / (CAST(sa.n AS DOUBLE) + CAST(sb.n AS DOUBLE) - CAST(p.common AS DOUBLE))",
          6)} AS jacc_e6
        FROM pairs p JOIN sizes sa ON sa.c = p.ca JOIN sizes sb ON sb.c = p.cb
        ORDER BY jacc_e6 DESC, cust_a, cust_b LIMIT 20""")),

    // Label-propagation community detection (Raghavan et al. 2007) over
    // the co-purchase graph — the community lens the link-prediction op
    // (graph_jaccard_links) shares a graph with: three SYNCHRONOUS
    // WEIGHTED-LPA rounds from self-labels, each vertex adopting the
    // label with the largest incident co-purchase WEIGHT (shared-part
    // count; tie -> smallest label). The weights matter twice: they make
    // the argmax a pure integer comparison (no float scores, no
    // randomized order — the classic async-LPA nondeterminism is
    // designed out), and they break the uniform-count bootstrap tie of
    // round 1 that would otherwise collapse sync LPA into min-label
    // flooding (measured: unweighted, the whole graph converged to one
    // community — weighted, vertices follow their strongest co-purchase
    // edges and distinct communities survive). Edges keep only STRONG
    // ties (>= 4 shared parts): community detection presupposes sparse
    // inter-cluster connectivity, and at the >= 2 threshold the
    // co-purchase graph is dense enough that one giant community is the
    // honest answer. Complements
    // ConnectedComponents (pure reachability) with density-sensitive
    // grouping: a bridge vertex between two dense clusters joins the
    // heavier side instead of gluing the components together.
    //
    // Scale shape per round: one keyed join (edges x labels, shuffles on
    // the vertex id) + one (vertex, label) count aggregate (map-side
    // combinable) + one vertex-partitioned argmax window — never a
    // cross join; lineage cut per round with eager localCheckpoint (the
    // CC/PageRank/suffix-array discipline). Output: top-20 communities
    // by size with exact integer tie-breaks.
    // Single-source shortest paths over the weighted co-purchase graph —
    // bounded synchronous Bellman-Ford (4 relaxation rounds), the
    // remaining classic of the distributed-graph family (CC = pure
    // reachability, PageRank/HITS = centrality, LPA = communities,
    // k-core/triangles = density; SSSP = METRIC structure). Edge length
    // is the inverse tie strength 1e6 div common (strong co-purchase =
    // short hop), source = the smallest vertex id, and the report is
    // the 20 nearest vertices under the 4-HOP-BOUNDED metric — the
    // k-hop SSSP variant production graph systems run when the report
    // is local neighborhood structure, not full convergence (full
    // Bellman-Ford is the same loop run |V|-1 rounds; the horizon is a
    // declared parameter of the operator, mirrored exactly by the
    // oracle's four unrolled rounds). Unreached vertices simply never
    // materialize a distance.
    //
    // Scale shape per round: FRONTIER-based relaxation — only vertices
    // whose distance improved last round join against the edge table
    // (classic delta-stepping economy: round 1 touches the source's
    // adjacency, not the whole graph), and the edge table is
    // pre-partitioned on the join key and cached (persistScoped), so
    // rounds reuse its layout instead of re-shuffling edges four times.
    // Per round: one keyed join + one map-side-combinable min + one
    // vertex-keyed merge; lineage cut every round (the suffix-array
    // discipline — the per-round frames are vertex-sized and each
    // round's output has two consumers).
    // Edges come from the hot-part-capped incidence, so per-part fanout
    // is bounded. Exact integer distances; oracle mirrors the four
    // unrolled rounds.
    "graph_sssp" -> QueryDef(
      (s, d) => {
        val pairs = sharedCoPurchasePairs(s, d)
          .selectExpr("ca", "cb", "CAST(1000000 div common AS BIGINT) AS w")
        val edges = pairs.union(pairs.selectExpr("cb", "ca", "w"))
          .toDF("u", "v", "w").repartition(col("u")).persistScoped()
        val src = edges.agg(min(col("u")).as("s"))
        var dist = edges.crossJoin(broadcast(src))
          .where(col("u") === col("s"))
          .select(col("u").as("v"), lit(0L).as("dist"))
          .distinct().localCheckpoint()
        var frontier = dist
        for (r <- 1 to 4) {
          val relaxed = edges.join(frontier.toDF("u", "du"), Seq("u"))
            .select(col("v"), (col("du") + col("w")).as("nd"))
            .groupBy(col("v")).agg(min(col("nd")).as("nd"))
          val merged = dist.join(relaxed, Seq("v"), "full")
            .selectExpr("v", "dist AS old",
              """CASE WHEN dist IS NULL THEN nd
                      WHEN nd IS NULL THEN dist
                      ELSE least(dist, nd) END AS dist""")
          // cut EVERY round: both the frontier filter and the next
          // round's full-join consume `m`, so a lazy persist would
          // re-execute the round per consumer before the cache
          // materializes (measured 1.6 -> 23 s when tried — the bench
          // perf gate caught it); the eager vertex-sized checkpoint is
          // the cheap side of that trade
          val m = merged.localCheckpoint()
          frontier = m.where(col("old").isNull || col("dist") < col("old"))
            .select(col("v"), col("dist"))
          dist = m.select(col("v"), col("dist"))
        }
        dist.selectExpr("CAST(v AS BIGINT) AS cust", "dist")
          .orderBy(col("dist"), col("cust"))
          .limit(20)
      },
      Some {
        val roundCtes = (1 to 4).map { r =>
          val p = r - 1
          s"""d$r AS MATERIALIZED (
            SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
              SELECT v, dist FROM d$p
              UNION ALL
              SELECT e.v, d$p.dist + e.w AS dist
              FROM edges e JOIN d$p ON e.u = d$p.v) q
            GROUP BY v)"""
        }.mkString(",\n        ")
        s"""
        WITH $duckCoPurchases,
        pr AS MATERIALIZED (
          SELECT a.c AS ca, b.c AS cb, CAST(count(*) AS BIGINT) AS common
          FROM cp a JOIN cp b ON a.p = b.p AND a.c < b.c
          GROUP BY 1, 2 HAVING count(*) >= 2),
        wpr AS (SELECT ca, cb, CAST(1000000 // common AS BIGINT) AS w FROM pr),
        edges AS MATERIALIZED (
          SELECT ca AS u, cb AS v, w FROM wpr
          UNION ALL SELECT cb, ca, w FROM wpr),
        d0 AS (
          SELECT CAST(min(u) AS BIGINT) AS v, CAST(0 AS BIGINT) AS dist
          FROM edges HAVING count(*) > 0),
        $roundCtes
        SELECT CAST(v AS BIGINT) AS cust, dist
        FROM d4 ORDER BY dist, cust LIMIT 20"""
      }),

    "graph_lpa_communities" -> QueryDef(
      (s, d) => {
        val pairs = sharedCoPurchasePairs(s, d)
          .where(col("common") >= 4)
          .select(col("ca"), col("cb"), col("common"))
        val edges = pairs.union(pairs.select(col("cb"), col("ca"), col("common")))
          .toDF("a", "b", "w").localCheckpoint()
        var lbl = edges.select(col("a").as("v")).distinct()
          .withColumn("l", col("v")).localCheckpoint()
        for (_ <- 1 to 3) {
          val nbr = edges.join(lbl.toDF("b", "nl"), "b")
            .select(col("a"), col("nl"), col("w"))
          val top = nbr.groupBy(col("a"), col("nl")).agg(sum(col("w")).as("cnt"))
            .withColumn("rn", row_number().over(
              Window.partitionBy(col("a")).orderBy(col("cnt").desc, col("nl"))))
            .where(col("rn") === 1).select(col("a").as("v"), col("nl").as("l2"))
          lbl = lbl.join(top, Seq("v"), "left")
            .selectExpr("v", "coalesce(l2, l) AS l").localCheckpoint()
        }
        lbl.groupBy(col("l"))
          .agg(count(lit(1)).as("n_members"), min(col("v")).as("min_member"))
          .selectExpr("CAST(l AS BIGINT) AS community",
            "CAST(n_members AS BIGINT) AS n_members",
            "CAST(min_member AS BIGINT) AS min_member")
          .orderBy(col("n_members").desc, col("community")).limit(20)
      },
      Some {
        val roundCtes = (1 to 3).map { r =>
          val p = r - 1
          s"""n$r AS (
            SELECT e.a, pl.l AS nl, CAST(sum(e.w) AS BIGINT) AS cnt
            FROM edges e JOIN l$p pl ON e.b = pl.v GROUP BY e.a, pl.l),
        t$r AS (
            SELECT a AS v, nl AS l2 FROM (
              SELECT a, nl, row_number() OVER (PARTITION BY a
                ORDER BY cnt DESC, nl) AS rn FROM n$r) q
            WHERE rn = 1),
        l$r AS MATERIALIZED (
            SELECT pl.v, coalesce(t.l2, pl.l) AS l
            FROM l$p pl LEFT JOIN t$r t ON t.v = pl.v)"""
        }.mkString(",\n        ")
        s"""
        WITH $duckCoPurchases,
        pr AS MATERIALIZED (
          SELECT a.c AS ca, b.c AS cb, CAST(count(*) AS BIGINT) AS common
          FROM cp a JOIN cp b ON a.p = b.p AND a.c < b.c
          GROUP BY 1, 2 HAVING count(*) >= 4),
        edges AS MATERIALIZED (SELECT ca AS a, cb AS b, common AS w FROM pr
                  UNION ALL SELECT cb, ca, common FROM pr),
        l0 AS MATERIALIZED (SELECT DISTINCT a AS v, a AS l FROM edges),
        $roundCtes
        SELECT CAST(l AS BIGINT) AS community,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(min(v) AS BIGINT) AS min_member
        FROM l3 GROUP BY l ORDER BY n_members DESC, community LIMIT 20"""
      }),

    // SUFFIX-ARRAY exact substring dedup — the Lee et al. 2021
    // ("Deduplicating Training Data Makes Language Models Better")
    // method: build the corpus suffix array and read verbatim repeats off
    // adjacent-suffix longest-common-prefixes. This is the EXACT
    // complement to the probabilistic family (MinHash finds near-dups;
    // the suffix array finds every literal cross-document span).
    // Word-level suffixes (Lee et al. dedup token spans, not chars),
    // built by GENERALIZED PREFIX DOUBLING (Manber-Myers at radix 16,
    // SuffixArray.ranksFromWords): a pass ranks each suffix by the
    // 16-tuple of current-span ranks at p, p+s, .., p+15s (sentinel
    // past the end), so two passes fully resolve docs <= 127 words.
    // Candidates = suffix-order-ADJACENT pairs from DIFFERENT
    // docs sharing the full span-16 rank (>= 16-word common prefix):
    // for any two docs sharing an L-word span (L >= 16), every suffix
    // between their two span-suffixes shares >= L words of prefix, and
    // the doc id changes somewhere in that interval — so some ADJACENT
    // pair is cross-doc with lcp >= L, and the report's maximum is the
    // true maximum cross-doc repeat. Exact LCP per candidate by first
    // mismatch scan (explode + min — no O(n^2) prefix re-compare), then
    // top-15 with the span's rolling-hash fingerprint so both engines
    // must agree on the repeated words byte-for-byte.
    //
    // Scale shape: positions travel as (doc, p, rank) integer triples —
    // never text (plan-asserted); each pass is one per-doc lead window
    // plus a DISTRIBUTED bucketed rank with a driver-side row-count
    // stitch (rank() class-head semantics — order-isomorphic to the
    // dense rank with identical tie classes, see the op's Scaladoc).
    // Candidate extraction is likewise distributed (r9):
    // GlobalOrder.lead1 runs lead() within rank-range buckets and
    // exchanges one boundary row per bucket — no single task ever holds
    // the full position frame. The exact-LCP explode touches only the
    // filtered survivors.
    "dedup_suffix_repeats" -> QueryDef(
      (s, d) => {
        // construction lives in engine/ops/SuffixArray.scala (radix-16
        // prefix doubling, distributed bucketed rank() + per-pass
        // lineage cut); this query adds candidate extraction and the
        // exact-LCP report
        val ws0 = Tables.documents(s, d)
          .selectExpr("doc_id", s"${sparkWords("lower(text)")} AS ws")
          .where(expr("size(ws) > 0 AND size(ws) <= 127"))
          .persistScoped()
        // word-keyed round 0 (r11), dictionary-encoded when the vocab
        // is bounded (r16): SuffixArray.ranksFromWords encodes words to
        // dense integer ranks and PACKS the pass-1 sort tuple into ~3
        // longs (order-isomorphic), falling back to the direct
        // word-string tuple sort only for vocabularies past
        // DictVocabMax — at the 100× corpus the string sort was 199 s
        // of the query's 227 s. 2^7 = 128 > the generator's
        // 99-word max; the bound round is the MinRepeatSpanWords-word-
        // prefix rank for candidate filtering, frozen as a column
        // riding through the later passes.
        val pos = ws0
          .select(col("doc_id"), posexplode(col("ws")))
          .selectExpr("doc_id", "CAST(pos + 1 AS BIGINT) AS p",
            "doc_id * 128 + CAST(pos + 1 AS BIGINT) AS gid", "col AS w")
        val sa = graft.engine.ops.SuffixArray.ranksFromWords(
            pos, rounds = 7, boundRound = MinRepeatSpanLog2)
          .selectExpr("doc_id", "p", "gid", "rk", "rk_bound AS rk16", "_sab")
        // suffix-order adjacency WITHOUT a single-task global window
        // (r9): bucket by the construction's exported near-uniform rank
        // bucket (_sab — monotone in rk, tie-preserving, so the lead is
        // value-identical to lead() over the global (rk, gid) order at
        // any corpus size; r15 swaps lead1's quantile sketch for this
        // row-local bucket, removing one corpus aggregate), run lead()
        // within each bucket in parallel, and exchange ONE boundary row
        // per bucket for the seams
        // the PREVIOUS position's span-16 rank, one per-doc lag window
        // (r18, guide §2.3): given two suffixes with EQUAL span-16 ranks
        // at (p_a, p_b), their preceding words are equal iff the span-16
        // ranks at (p_a - 1, p_b - 1) are equal — the (p-1)-suffix's
        // 16-tuple is (prev word) ++ (first 15 components of the
        // p-suffix's tuple), and the last 15 components agree by the
        // rk16 equality. So the left-maximality test moves BEFORE the
        // word-array joins, on integer rank columns the frame already
        // carries — the join then ships arrays for only the left-maximal
        // survivors instead of every adjacent candidate (at the 300x
        // copy-family corpus that is a ~50x pair cut before the heaviest
        // shuffle).
        val saP = sa.withColumn("prk16", lag(col("rk16"), 1).over(
          Window.partitionBy(col("doc_id")).orderBy(col("p"))))
        val cand = graft.engine.ops.GlobalOrder
          .lead1With(saP, col("_sab"), Seq(col("rk"), col("gid")),
            Seq("doc_id", "p", "rk16", "prk16"))
          .where(col("doc_id_nx").isNotNull && col("doc_id") =!= col("doc_id_nx") &&
            col("rk16") === col("rk16_nx"))
          // LEFT-MAXIMAL repeats only: a pair whose preceding words also
          // match is a nested tail of a longer repeat and would crowd
          // the report with p, p+1, p+2... shifts of the same span —
          // tested on the integer prev-ranks (see above), value-identical
          // to comparing the preceding words themselves
          .where(col("p") === 1 || col("p_nx") === 1 ||
            col("prk16") =!= col("prk16_nx"))
          .selectExpr("doc_id AS doc_a", "p AS p_a", "doc_id_nx AS doc_b", "p_nx AS p_b")
        val lcp = cand
          .join(ws0.selectExpr("doc_id AS doc_a", "ws AS ws_a"), Seq("doc_a"))
          .join(ws0.selectExpr("doc_id AS doc_b", "ws AS ws_b"), Seq("doc_b"))
          .selectExpr("doc_a", "p_a", "doc_b", "p_b", "ws_a", "ws_b",
            "least(size(ws_a) - p_a, size(ws_b) - p_b) + 1 AS m")
          .selectExpr("doc_a", "p_a", "doc_b", "p_b", "m",
            "explode(sequence(1, m)) AS i", "ws_a", "ws_b")
          .selectExpr("doc_a", "p_a", "doc_b", "p_b", "m",
            """CASE WHEN element_at(ws_a, CAST(p_a + i - 1 AS INT))
                       = element_at(ws_b, CAST(p_b + i - 1 AS INT))
                    THEN CAST(NULL AS BIGINT) ELSE i - 1 END AS mm""")
          .groupBy(col("doc_a"), col("p_a"), col("doc_b"), col("p_b"), col("m"))
          .agg(min(col("mm")).as("firstmm"))
          .selectExpr("doc_a", "p_a", "doc_b", "p_b",
            "CAST(coalesce(firstmm, m) AS BIGINT) AS lcp")
        lcp.join(ws0.selectExpr("doc_id AS doc_a", "ws AS wsa"), Seq("doc_a"))
          .selectExpr("lcp", "doc_a", "p_a", "doc_b", "p_b",
            s"${sparkStrHash("array_join(slice(wsa, CAST(p_a AS INT), CAST(lcp AS INT)), ' ')")} AS span_fp")
          .orderBy(col("lcp").desc, col("doc_a"), col("p_a"), col("doc_b"), col("p_b"))
          .limit(15)
      },
      Some {
        val roundCtes = (1 to 7).map { k =>
          val off = 1 << (k - 1)
          val p = k - 1
          s"""c$k AS MATERIALIZED (
            SELECT a.doc_id, a.p, a.gid,
                   CAST(dense_rank() OVER (ORDER BY a.rk, coalesce(b.rk, -1)) AS BIGINT) AS rk
            FROM c$p a LEFT JOIN c$p b ON a.doc_id = b.doc_id AND b.p = a.p + $off)"""
        }.mkString(",\n        ")
        s"""
        WITH w0 AS (
          SELECT doc_id, ${duckWords("lower(text)")} AS ws FROM documents),
        wl AS MATERIALIZED (SELECT doc_id, ws FROM w0 WHERE len(ws) > 0 AND len(ws) <= 127),
        pos AS MATERIALIZED (
          SELECT doc_id, CAST(i AS BIGINT) AS p, list_extract(ws, CAST(i AS INT)) AS w
          FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM wl) q),
        wr AS (
          SELECT w, CAST(row_number() OVER (ORDER BY w) AS BIGINT) AS rk
          FROM (SELECT DISTINCT w FROM pos) dw),
        c0 AS (
          SELECT doc_id, p, doc_id * 128 + p AS gid, rk
          FROM pos JOIN wr USING (w)),
        $roundCtes,
        sa AS (
          SELECT c7.doc_id, c7.p, c7.gid, c7.rk, c4.rk AS rk16
          FROM c7 JOIN c4 ON c7.gid = c4.gid),
        adj AS (
          SELECT doc_id AS doc_a, p AS p_a, rk16,
                 lead(doc_id) OVER wo AS doc_b, lead(p) OVER wo AS p_b,
                 lead(rk16) OVER wo AS rk16_b
          FROM sa WINDOW wo AS (ORDER BY rk, gid)),
        cnd AS (
          SELECT doc_a, p_a, doc_b, p_b FROM adj
          WHERE doc_b IS NOT NULL AND doc_a <> doc_b AND rk16 = rk16_b),
        ext AS (
          SELECT cnd.doc_a, cnd.p_a, cnd.doc_b, cnd.p_b, wa.ws AS ws_a, wb.ws AS ws_b,
                 least(len(wa.ws) - cnd.p_a, len(wb.ws) - cnd.p_b) + 1 AS m
          FROM cnd JOIN wl wa ON wa.doc_id = cnd.doc_a
                   JOIN wl wb ON wb.doc_id = cnd.doc_b
          WHERE cnd.p_a = 1 OR cnd.p_b = 1 OR
                list_extract(wa.ws, CAST(cnd.p_a - 1 AS INT))
                  <> list_extract(wb.ws, CAST(cnd.p_b - 1 AS INT))),
        mm AS (
          SELECT doc_a, p_a, doc_b, p_b, m,
                 min(CASE WHEN list_extract(ws_a, CAST(p_a + i - 1 AS INT))
                               = list_extract(ws_b, CAST(p_b + i - 1 AS INT))
                          THEN CAST(NULL AS BIGINT) ELSE i - 1 END) AS firstmm
          FROM (SELECT ext.*, unnest(range(1, m + 1)) AS i FROM ext) q
          GROUP BY doc_a, p_a, doc_b, p_b, m),
        lc AS (
          SELECT doc_a, p_a, doc_b, p_b,
                 CAST(coalesce(firstmm, m) AS BIGINT) AS lcp
          FROM mm)
        SELECT lcp, lc.doc_a, p_a, doc_b, p_b,
               ${duckStrHash("array_to_string(list_slice(wa.ws, CAST(p_a AS INT), CAST(p_a + lcp - 1 AS INT)), ' ')")} AS span_fp
        FROM lc JOIN wl wa ON wa.doc_id = lc.doc_a
        ORDER BY lcp DESC, doc_a, p_a, doc_b, p_b LIMIT 15"""
      })
  )
}
