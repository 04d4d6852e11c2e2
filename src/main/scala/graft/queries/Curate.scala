package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.Tables

/** The composed corpus-curation funnel UNDER THE ORACLE GATE — quality
  * filter, near-dup removal and split, declared as one query emitting
  * the stage-by-stage integer counts so the driver value-checks the
  * END-TO-END pipeline, not just its parts:
  *
  *   1_total        corpus size
  *   2_quality      docs surviving the Gopher/C4-style rules
  *                  (docs_quality_filter's 'ok' class);
  *   3_dedup        after dropping every non-canonical member of a
  *                  MinHash-LSH duplicate cluster (dedup_clusters);
  *   4_split_*      deterministic content-hash train/val/test counts
  *                  over the surviving docs (split_train_eval's rule).
  *
  * Every stage reuses the oracle-checked primitive's exact arithmetic
  * (TextOps score/stopword exprs, Dedup's cluster-label CTE chain,
  * Portable.strHash), so the DuckDB re-derivation composes the existing
  * CTEs rather than re-specifying the semantics.
  *
  * Scale shape: quality filtering and splitting are narrow maps over the
  * document scan; the cluster-drop set arrives via an equi anti-join on
  * doc_id (no forced broadcast — the dup set is corpus-proportional, AQE
  * decides); the only iterative piece is the bounded-round connected
  * components inside dedup_clusters.
  */
object Curate extends QueryPack {
  import Portable._

  def defs: Map[String, QueryDef] = Map(
    "curate_funnel" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        // split is a pure row-local function of text, so compute it BEFORE
        // the anti-join: the dedup-drop shuffle then carries (doc_id,
        // split) — a long and a 5-char tag — instead of full document
        // text. At 100 TB that is the difference between shuffling the
        // corpus and shuffling an id list.
        // qual feeds two consumers (the 2_quality count and the
        // anti-join), dd feeds two more (the 3_dedup count and the split
        // rollup); both are persisted (doc_id, split) id-lists — a few
        // bytes per row — so the full-text scan + rolling hash runs ONCE,
        // not once per downstream count
        val qual = docs
          .selectExpr("doc_id", "text", s"${sparkWords("lower(text)")} AS ws")
          .where(s"size(ws) >= 20 AND size(ws) <= 90 AND ${TextOps.sparkScore(TextOps.stopwords)} > 0")
          .selectExpr("doc_id",
            s"""CASE WHEN ${sparkStrHash("text")} % 10 < 8 THEN 'train'
                     WHEN ${sparkStrHash("text")} % 10 < 9 THEN 'val'
                     ELSE 'test' END AS split""")
          .persistScoped()
        val labels = Dedup.defs("dedup_clusters").build(s, d)
        val drops = labels.where(col("doc_id") =!= col("cluster_id"))
          .select(col("doc_id"))
        val dd = qual.join(drops, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("split"))
          .persistScoped()
        val splits = dd
          .groupBy(col("split")).agg(count(lit(1)).as("n"))
          .select(concat(lit("4_split_"), col("split")).as("stage"), col("n"))
        docs.agg(count(lit(1)).as("n"))
          .select(lit("1_total").as("stage"), col("n"))
          .unionByName(qual.agg(count(lit(1)).as("n"))
            .select(lit("2_quality").as("stage"), col("n")))
          .unionByName(dd.agg(count(lit(1)).as("n"))
            .select(lit("3_dedup").as("stage"), col("n")))
          .unionByName(splits)
          .orderBy(col("stage"))
      },
      Some(s"""
        WITH RECURSIVE ${Dedup.duckBase}, ${Dedup.duckSig}, ${Dedup.duckBands},
        ${Dedup.duckJacc}, ${Dedup.duckCand}, ${Dedup.duckClusterLabels},
        qual AS (
          SELECT doc_id, text
          FROM (SELECT doc_id, text, ${duckWords("lower(text)")} AS ws FROM documents) t
          WHERE len(ws) >= 20 AND len(ws) <= 90 AND ${TextOps.duckScore(TextOps.stopwords)} > 0),
        drops AS (SELECT doc_id FROM labels WHERE doc_id <> cluster_id),
        dd AS (
          SELECT doc_id, text FROM qual
          WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
        sp AS (
          SELECT CASE WHEN ${duckStrHash("text")} % 10 < 8 THEN 'train'
                      WHEN ${duckStrHash("text")} % 10 < 9 THEN 'val'
                      ELSE 'test' END AS split
          FROM dd)
        SELECT stage, n FROM (
          SELECT '1_total' AS stage, CAST(count(*) AS BIGINT) AS n FROM documents
          UNION ALL
          SELECT '2_quality', CAST(count(*) AS BIGINT) FROM qual
          UNION ALL
          SELECT '3_dedup', CAST(count(*) AS BIGINT) FROM dd
          UNION ALL
          SELECT '4_split_' || split, CAST(count(*) AS BIGINT) FROM sp GROUP BY split
        ) u ORDER BY stage""")),

    // Exact quota apportionment (largest-remainder / Hamilton method):
    // allocate exactly 1000 sample slots across sources proportional to
    // their document counts — floor quotas first, then the leftover
    // slots go to the largest remainders (source name breaks ties).
    // Every step is integer arithmetic + one rank window, so the
    // allocation is exact, sums to precisely 1000, and hash-matches the
    // oracle. This is how a sampler turns fractional shares into whole
    // examples without drift.
    "curate_quota_alloc" -> QueryDef(
      (s, d) => {
        val S = 1000L
        val counts = Tables.documents(s, d)
          .groupBy(col("source")).agg(count(lit(1)).as("n"))
        val tot = counts.agg(sum(col("n")).as("total"))
        val base = counts.crossJoin(broadcast(tot))
          .selectExpr("source", "n",
            s"CAST(n * $S AS BIGINT) div total AS base",
            s"CAST(n * $S AS BIGINT) % total AS rem")
        val leftover = base.agg((lit(S) - sum(col("base"))).as("extra"))
        val w = Window.orderBy(col("rem").desc, col("source"))
        base.crossJoin(broadcast(leftover))
          .withColumn("rk", row_number().over(w))
          .selectExpr("source", "n",
            "CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT) AS quota")
          .orderBy(col("source"))
      },
      Some("""
        WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
                   FROM documents GROUP BY source),
        t AS (SELECT sum(n) AS total FROM c),
        b AS (SELECT source, n, (n * 1000) // total AS base,
                     (n * 1000) % total AS rem
              FROM c CROSS JOIN t),
        l AS (SELECT 1000 - sum(base) AS extra FROM b),
        r AS (SELECT source, n, base, rem,
                     row_number() OVER (ORDER BY rem DESC, source) AS rk
              FROM b)
        SELECT source, n,
               CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT) AS quota
        FROM r CROSS JOIN l ORDER BY source""")),

    // TOKEN-budget quota allocation — the same largest-remainder integer
    // machinery as curate_quota_alloc, but on the unit that actually
    // constrains an LLM training run: tokens, not documents. The global
    // budget is half the corpus's tokens (self-scaling, so the query is
    // meaningful at every SF); each source gets its exact-integer
    // largest-remainder token quota, and the greedy fill-count (how many
    // whole docs, in id order, fit the quota) comes from one per-source
    // cumulative window — the manifest a trainer feed materializes.
    // Scale shape: one corpus scan for per-doc token counts, one
    // per-source aggregate, the bounded quota table broadcast back, and
    // one per-source prefix window.
    "curate_token_budget" -> QueryDef(
      (s, d) => {
        val dt = Tables.documents(s, d)
          .selectExpr("source", "doc_id",
            s"CAST(size(${sparkWords("text")}) AS BIGINT) AS ntok")
        val counts = dt.groupBy(col("source")).agg(sum(col("ntok")).as("tok"))
        val tot = counts.agg(sum(col("tok")).as("total"),
          expr("sum(tok) div 2").as("budget"))
        val base = counts.crossJoin(broadcast(tot))
          .selectExpr("source", "tok",
            "tok * budget div total AS base", "(tok * budget) % total AS rem",
            "budget")
        val leftover = base.agg((min(col("budget")) - sum(col("base"))).as("extra"))
        val w = Window.orderBy(col("rem").desc, col("source"))
        val quotas = base.crossJoin(broadcast(leftover))
          .withColumn("rk", row_number().over(w))
          .selectExpr("source", "tok",
            "CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT) AS quota_tok")
        val wCum = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        dt.withColumn("cum", sum(col("ntok")).over(wCum))
          .join(broadcast(quotas), Seq("source"))
          .groupBy(col("source"))
          .agg(min(col("tok")).as("tok"), min(col("quota_tok")).as("quota_tok"),
            sum(when(col("cum") <= col("quota_tok"), 1L).otherwise(0L)).as("n_docs_fit"))
          .orderBy(col("source"))
      },
      Some(s"""
        WITH dt AS (
          SELECT source, doc_id,
                 CAST(len(${duckWords("text")}) AS BIGINT) AS ntok
          FROM documents),
        c AS (SELECT source, CAST(sum(ntok) AS BIGINT) AS tok FROM dt GROUP BY source),
        t AS (SELECT CAST(sum(tok) AS BIGINT) AS total,
                     CAST(sum(tok) // 2 AS BIGINT) AS budget FROM c),
        b AS (SELECT source, tok, (tok * budget) // total AS base,
                     (tok * budget) % total AS rem, budget
              FROM c CROSS JOIN t),
        l AS (SELECT CAST(min(budget) - sum(base) AS BIGINT) AS extra FROM b),
        q AS (SELECT source, tok, base, rem,
                     row_number() OVER (ORDER BY rem DESC, source) AS rk
              FROM b),
        quotas AS (
          SELECT source, tok,
                 CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT) AS quota_tok
          FROM q CROSS JOIN l),
        cum AS (
          SELECT dt.source, dt.ntok,
                 sum(dt.ntok) OVER (PARTITION BY dt.source ORDER BY dt.doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 qs.quota_tok, qs.tok
          FROM dt JOIN quotas qs ON dt.source = qs.source)
        SELECT source, CAST(min(tok) AS BIGINT) AS tok,
               CAST(min(quota_tok) AS BIGINT) AS quota_tok,
               CAST(sum(CASE WHEN cum <= quota_tok THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_fit
        FROM cum GROUP BY source ORDER BY source""")),

    // Temperature-based source mixing — the sampling-weight table a
    // multi-source training run derives before drawing examples
    // (upweight small sources, τ = 0.5 ⇒ weight ∝ √n). sqrt is an IEEE
    // correctly-rounded op (identical across engines, unlike pow/log),
    // and the one cross-row double — the Σ√n denominator — is folded
    // over the SORTED per-source list on both engines, so the fold order
    // is pinned and the shares exit bit-identical as scaled BIGINTs.
    // Scale shape: one tiny aggregate per source plus a broadcast of the
    // 1-row denominator.
    "curate_source_mix" -> QueryDef(
      (s, d) => {
        val counts = Tables.documents(s, d)
          .groupBy(col("source")).agg(count(lit(1)).as("n"))
          .withColumn("sq", sqrt(col("n")))
        val total = counts.agg(
          expr("aggregate(array_sort(collect_list(sq)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
            .as("tot"))
        counts.crossJoin(broadcast(total))
          .selectExpr("source", "n", s"${Q.scaledLong("sq / tot", 6)} AS share_e6")
          .orderBy(col("source"))
      },
      Some(s"""
        WITH c AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n, sqrt(count(*)) AS sq
          FROM documents GROUP BY source),
        t AS (
          SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(sq))),
                             (acc, v) -> acc + v) AS tot
          FROM c)
        SELECT source, n, ${Q.scaledLong("sq / tot", 6)} AS share_e6
        FROM c CROSS JOIN t ORDER BY source""")),

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    // document under the corpus unigram LM (text_unigram_logprob's exact
    // arithmetic), split the corpus into head/middle/tail terciles of
    // fluency, and report the (source x bucket) doc/token distribution —
    // the table a curation run reads to decide which tail slices to drop
    // and which sources skew noisy. Docs rank by the e6-ROUNDED score
    // with doc_id tie-break, so tercile assignment is stable across
    // engines (raw float association noise cannot reorder a 6-decimal
    // tie-broken sort key).
    //
    // Scale shape: LM counts broadcast to the scoring scan (the
    // text_unigram_logprob contract); terciles come from
    // GlobalOrder.ntileCol (r9, was a single-task global ntile over
    // every scored document — docs grow with the corpus) — bucketed
    // distributed row_number + exact ntile arithmetic, value-identical
    // to SQL ntile(3) at any corpus size.
    "curate_ccnet_buckets" -> QueryDef(
      (s, d) => {
        // tc-weighted scoring over the shared unigram root (r11): a
        // doc's mean token log-prob sums tc * ln(c/n) over its DISTINCT
        // terms — algebraically equal to the per-occurrence avg, fewer
        // float addends; the oracle mirrors the weighted form
        val dt = TextOps.docTermCounts(s, d)
        val lm = dt.groupBy(col("term")).agg(sum(col("tc")).as("c"))
        // the 1-row token total collects once and re-enters as a literal
        // (r17, the doremi/job-collapse discipline): the broadcast
        // crossJoin form cost its own AQE exchange job per run; an
        // integer literal is arithmetic-identical (`c * 1.0 / n` divides
        // by the same double either way)
        val tRow = dt.agg(sum(col("tc"))).head
        val n = if (tRow.isNullAt(0)) 0L else tRow.getLong(0)
        val scored = dt.join(broadcast(lm), "term")
          .groupBy(col("doc_id"), col("source"))
          .agg(sum(col("tc")).as("n_tokens"),
            expr(Q.scaledLong(s"sum(tc * ln(c * 1.0 / ${n}L)) / sum(tc)", 6)).as("lp6"))
        graft.engine.ops.GlobalOrder
          .ntileCol(scored, 3, -col("lp6"), Seq(col("doc_id")), "bucket")
          .groupBy(col("source"), col("bucket"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
          .selectExpr("source", "CAST(bucket AS BIGINT) AS bucket",
            "n_docs", "CAST(n_tokens AS BIGINT) AS n_tokens")
          .orderBy(col("source"), col("bucket"))
      },
      Some(s"""
        WITH dt AS (
          SELECT doc_id, source, term, CAST(count(*) AS BIGINT) AS tc
          FROM (SELECT doc_id, source, unnest(${duckWords("lower(text)")}) AS term
                FROM documents) t
          GROUP BY doc_id, source, term),
        lm AS (SELECT term, CAST(sum(tc) AS BIGINT) AS c FROM dt GROUP BY term),
        tot AS (SELECT CAST(sum(tc) AS BIGINT) AS n FROM dt),
        scored AS (
          SELECT doc_id, source, CAST(sum(tc) AS BIGINT) AS n_tokens,
                 ${Q.scaledLong("sum(tc * ln(c * 1.0 / n)) / sum(tc)", 6)} AS lp6
          FROM dt JOIN lm USING (term) CROSS JOIN tot
          GROUP BY doc_id, source),
        b AS (
          SELECT source, n_tokens,
                 ntile(3) OVER (ORDER BY lp6 DESC, doc_id) AS bucket
          FROM scored)
        SELECT source, CAST(bucket AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        FROM b GROUP BY source, bucket ORDER BY source, bucket""")),

    // DSIR data selection (Xie et al. 2023, Data Selection via Importance
    // Resampling): score every raw-pool document by how much its hashed
    // n-gram feature distribution resembles a target domain — here the
    // 'en' slice plays the target, the rest the raw pool, features are
    // 64 hashed unigram buckets, and the per-bucket importance log-weight
    // is ln(p_target / p_raw) with Laplace smoothing. The portability
    // trick: log-weights QUANTIZE to e6 BIGINTs per bucket (64 rows)
    // BEFORE the per-document sum, so each doc's score is an exact
    // integer sum — immune to the float association-order noise a
    // per-doc sum of raw doubles would hit. Deterministic top-50 selects
    // the manifest.
    //
    // Scale shape: two bounded bucket aggregations (64 rows each), the
    // 64-row weight table broadcasts to the token scan, and the doc
    // score is one doc-keyed aggregation — the fact shuffles once, by
    // doc_id. At 100 TB the bucket count rises (the paper uses 10^4
    // hashed bigram buckets); the plan is unchanged.
    "curate_dsir_select" -> QueryDef(
      (s, d) => {
        // tc-weighted over the shared unigram root (r11): the per-doc
        // score sums a QUANTIZED integer weight, so tc * lw_e6 equals
        // the per-occurrence sum exactly — values identical, oracle
        // unchanged
        val toks = TextOps.docTermCounts(s, d)
          .selectExpr("doc_id", "lang", s"${sparkStrHash("term")} % 64 AS b",
            "tc")
        val tgt = toks.where(col("lang") === "en")
          .groupBy(col("b")).agg(sum(col("tc")).as("ct"))
        val raw = toks.where(col("lang") =!= "en")
          .groupBy(col("b")).agg(sum(col("tc")).as("cr"))
        // nt/nr derive from the 64-row bucket frame, not the corpus
        // (r17, guide §1.2/§2.4): the totals are exactly the sums of
        // the per-bucket sums (integer addition over the same BIGINTs),
        // so the two extra corpus-frame aggregation branches — each a
        // full pass over the cached token frame plus its own broadcast
        // exchange — collapse into one aggregate of the persisted
        // 64-row frame. coalesce keeps the empty-slice NULL → 0 rule.
        val bc = s.range(64).toDF("b")
          .join(tgt, Seq("b"), "left").join(raw, Seq("b"), "left")
          .persistScoped()
        val tots = bc.agg(coalesce(sum(col("ct")), lit(0L)).as("nt"),
          coalesce(sum(col("cr")), lit(0L)).as("nr"))
        val buckets = bc
          .crossJoin(broadcast(tots))
          .selectExpr("b", s"${Q.scaledLong(
            "ln((coalesce(ct, 0) + 1.0) / (nt + 64.0)) - ln((coalesce(cr, 0) + 1.0) / (nr + 64.0))",
            6)} AS lw_e6")
        toks.where(col("lang") =!= "en")
          .join(broadcast(buckets), Seq("b"))
          .groupBy(col("doc_id"))
          .agg(sum(col("tc")).as("n_tokens"),
            sum(expr("tc * lw_e6")).as("score_e6"))
          .orderBy(col("score_e6").desc, col("doc_id"))
          .limit(50)
          .selectExpr("doc_id", "CAST(n_tokens AS BIGINT) AS n_tokens",
            "score_e6")
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, lang, ${duckStrHash("term")} % 64 AS b
          FROM (SELECT doc_id, lang, unnest(${duckWords("lower(text)")}) AS term
                FROM documents) t),
        tgt AS (SELECT b, count(*) AS ct FROM toks WHERE lang = 'en' GROUP BY b),
        raw AS (SELECT b, count(*) AS cr FROM toks WHERE lang <> 'en' GROUP BY b),
        nt AS (SELECT count(*) AS nt FROM toks WHERE lang = 'en'),
        nr AS (SELECT count(*) AS nr FROM toks WHERE lang <> 'en'),
        buckets AS (
          SELECT r.b, ${Q.scaledLong(
          "ln((coalesce(ct, 0) + 1.0) / (nt + 64.0)) - ln((coalesce(cr, 0) + 1.0) / (nr + 64.0))",
          6)} AS lw_e6
          FROM range(0, 64) r(b)
          LEFT JOIN tgt ON r.b = tgt.b LEFT JOIN raw ON r.b = raw.b
          CROSS JOIN nt CROSS JOIN nr),
        sc AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(lw_e6) AS BIGINT) AS score_e6
          FROM toks JOIN buckets ON toks.b = buckets.b
          WHERE lang <> 'en' GROUP BY doc_id)
        SELECT doc_id, n_tokens, score_e6
        FROM sc ORDER BY score_e6 DESC, doc_id LIMIT 50""")),

    // Epoch allocation under a data-constrained budget (the Muennighoff
    // et al. 2023 repetition regime): given the temperature-sampling
    // target shares (curate_source_mix's sqrt weights) and a global
    // token budget of half the corpus, how many FULL passes over each
    // source does the mix imply, plus the fractional last epoch — the
    // repeat-count table a data-constrained training run is driven by.
    // share -> target tokens -> (full epochs, e6 fraction) is all BIGINT
    // division/remainder once the share is e6-quantized; the only double
    // is the sqrt weight (IEEE correctly-rounded, sorted fold — the
    // curate_source_mix contract).
    //
    // Scale shape: per-source aggregates (20 rows), one broadcast 1-row
    // denominator — nothing touches the fact twice.
    "curate_mix_epochs" -> QueryDef(
      (s, d) => {
        val counts = Tables.documents(s, d)
          .selectExpr("source", s"CAST(size(${sparkWords("text")}) AS BIGINT) AS ntok")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("avail_tok"))
          .withColumn("sq", sqrt(col("n_docs")))
        val tot = counts.agg(
          expr("aggregate(array_sort(collect_list(sq)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
            .as("tot"),
          sum(col("avail_tok")).as("corpus_tok"))
        counts.crossJoin(broadcast(tot))
          .selectExpr("source", "n_docs", "avail_tok",
            s"${Q.scaledLong("sq / tot", 6)} AS share_e6",
            "corpus_tok div 2 AS budget")
          .selectExpr("source", "n_docs", "avail_tok", "share_e6",
            "(share_e6 * budget) div 1000000 AS target_tok")
          .selectExpr("source", "n_docs", "avail_tok", "share_e6", "target_tok",
            "target_tok div avail_tok AS epochs_full",
            "((target_tok % avail_tok) * 1000000) div avail_tok AS frac_e6")
          .orderBy(col("source"))
      },
      Some(s"""
        WITH c AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(len(${duckWords("text")})) AS BIGINT) AS avail_tok,
                 sqrt(count(*)) AS sq
          FROM documents GROUP BY source),
        t AS (
          SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(sq))),
                             (acc, v) -> acc + v) AS tot,
                 CAST(sum(avail_tok) AS BIGINT) AS corpus_tok
          FROM c),
        x AS (
          SELECT source, n_docs, avail_tok,
                 ${Q.scaledLong("sq / tot", 6)} AS share_e6,
                 corpus_tok // 2 AS budget
          FROM c CROSS JOIN t),
        y AS (
          SELECT source, n_docs, avail_tok, share_e6,
                 (share_e6 * budget) // 1000000 AS target_tok
          FROM x)
        SELECT source, n_docs, avail_tok, share_e6, target_tok,
               CAST(target_tok // avail_tok AS BIGINT) AS epochs_full,
               CAST(((target_tok % avail_tok) * 1000000) // avail_tok AS BIGINT) AS frac_e6
        FROM y ORDER BY source""")),

    // Temperature-scaled source mixing (the multilingual-sampling rule
    // from Lample & Conneau 2019, reused for source mixing by the
    // Gopher/LLaMA lineage): sampling weight w_i ∝ p_i^T with T = 0.7,
    // where p_i is the source's token share — T < 1 flattens the mix so
    // head sources stop dominating and tail sources are upsampled,
    // without the hard inversion a uniform mix would cause. Complements
    // curate_quota_alloc (sqrt-share = the T = 0.5 point with a
    // different normalization).
    //
    // Scale shape: one map-side-combinable (source, token-count)
    // aggregate over the corpus; everything after operates on the
    // source-cardinality frame (tiny). The p_i^T powers use libm pow
    // under the documented ulp contract; the normalizer Z = sum p_i^T
    // folds in source-sorted order so the double sum has one
    // association order in both engines.
    "curate_temperature_mix" -> QueryDef(
      (s, d) => {
        val counts = Tables.documents(s, d)
          .selectExpr("source", s"CAST(size(${sparkWords("lower(text)")}) AS BIGINT) AS ntok")
          .groupBy(col("source")).agg(sum(col("ntok")).as("n_tok"))
        val tot = counts.agg(sum(col("n_tok")).as("t"))
        val pw = counts.crossJoin(broadcast(tot))
          .selectExpr("source", "n_tok",
            "CAST(n_tok AS DOUBLE) / CAST(t AS DOUBLE) AS p",
            "pow(CAST(n_tok AS DOUBLE) / CAST(t AS DOUBLE), 0.7) AS pw")
        val z = pw
          .agg(sort_array(collect_list(struct(col("source"), col("pw")))).as("arr"))
          .selectExpr(
            "aggregate(arr, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.pw) AS z")
        pw.crossJoin(broadcast(z))
          .selectExpr("source", "n_tok",
            s"${Q.scaledLong("p", 6)} AS p_e6",
            s"${Q.scaledLong("pw / z", 6)} AS w_e6")
          .orderBy(col("source"))
      },
      Some(s"""
        WITH c AS (
          SELECT source, CAST(sum(len(${duckWords("lower(text)")})) AS BIGINT) AS n_tok
          FROM documents GROUP BY source),
        t AS (SELECT CAST(sum(n_tok) AS BIGINT) AS t FROM c),
        pw AS (
          SELECT source, n_tok,
                 CAST(n_tok AS DOUBLE) / CAST(t AS DOUBLE) AS p,
                 pow(CAST(n_tok AS DOUBLE) / CAST(t AS DOUBLE), 0.7) AS pw
          FROM c CROSS JOIN t),
        z AS (
          SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(pw ORDER BY source)), (acc, x) -> acc + x) AS z
          FROM pw)
        SELECT source, n_tok,
               ${Q.scaledLong("p", 6)} AS p_e6,
               ${Q.scaledLong("pw / z", 6)} AS w_e6
        FROM pw CROSS JOIN z ORDER BY source""")),

    // One DoReMi domain-reweighting round (Xie et al. 2023, "DoReMi:
    // Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    // each domain's EXCESS LOSS — how much worse the proxy model does on
    // the domain than the reference — drives a multiplicative-weights
    // update, upweighting domains the model hasn't learned. Here the
    // proxy/reference losses are derived deterministically from the
    // corpus itself: domain loss = the source's unigram cross-entropy
    // under the CORPUS LM (text_unigram_logprob's model, aggregated per
    // source), reference loss = the corpus LM's own entropy, so excess
    // > 0 exactly for sources whose term distribution the corpus-wide
    // model fits poorly. One MW step from uniform init (eta = 1):
    // alpha_i ∝ exp(excess_i), then DoReMi's uniform smoothing
    // (1-c) * alpha/Z + c/K with c = 0.01.
    //
    // Scale shape: everything derives from ONE compact (source, term)
    // count aggregate with map-side combine (quality_js_divergence's
    // plan); global term counts broadcast back onto it, the per-source
    // CE folds run term-sorted over each source's own vocabulary, and
    // the MW step operates on the source-cardinality frame. Doubles
    // appear only in the ln/exp stage over the bounded vocab — each
    // fold has ONE association order in both engines (term-sorted /
    // source-sorted lists), so the only cross-engine wiggle is the
    // documented transcendental ulp contract.
    "curate_doremi_round" -> QueryDef(
      (s, d) => {
        // (source, term) counts re-aggregated from the shared unigram
        // root (r11) — summing per-doc counts equals counting raw rows
        val st = TextOps.docTermCounts(s, d)
          .groupBy(col("source"), col("term")).agg(sum(col("tc")).as("c"))
          .persistScoped()
        // JOB-COLLAPSED to the two-action floor (r17, verdict #4; the
        // r16 collapse took the old six-broadcast shape 44 → 15 jobs by
        // collecting the scalars t / ref_ce / z / k as three sequential
        // driver actions — but t+ref_ce both derive from the
        // vocab-bounded global counts, and z/k/alpha from the
        // source-bounded ex rows, so two collects suffice):
        //   action 1 collects the term-sorted (term, gc) array and
        //     derives t (integer sum, order-free) AND ref_ce on the
        //     driver — the fold replicates the previous in-Spark
        //     `aggregate(sort_array(...), 0.0, acc + contrib)` exactly:
        //     same term order, same left-assoc a*(-ln(a/t))/t per
        //     element, and StrictMath.log IS what Spark's ln codegen
        //     calls (spark-catalyst 4.1 UnaryLogExpression), so the
        //     doubles are bit-identical;
        //   action 2 collects ex (source, n_tok, ce, excess, w) — the
        //     per-source CE stays a distributed fold over the cached
        //     st — and the driver derives z by the same source-sorted
        //     (UTF-8 byte order = sort_array order) w fold plus k;
        //   the result frame is then a LOCAL relation of the collected
        //     rows with the SAME final quantization expressions — a
        //     collected double re-embeds bit-exactly, so the output is
        //     hash-identical while the final plan carries zero
        //     exchanges, zero Generate, zero jobs beyond the write.
        // gt stays UNpersisted: its consumer re-aggregates the CACHED
        // st — a vocab-bounded groupBy per use
        val gt = st.groupBy(col("term")).agg(sum(col("c")).as("gc"))
        val gRow = gt
          .agg(sort_array(collect_list(struct(col("term"), col("gc")))).as("garr"))
          .head
        val garr =
          if (gRow.isNullAt(0)) Seq.empty[org.apache.spark.sql.Row]
          else gRow.getSeq[org.apache.spark.sql.Row](0)
        val t = garr.iterator.map(_.getLong(1)).sum
        val td = t.toDouble
        var refCe = 0.0
        garr.foreach { r =>
          val gc = r.getLong(1).toDouble
          refCe += gc * (-StrictMath.log(gc / td)) / td
        }
        val ex = st.join(broadcast(gt), "term")
          .selectExpr("source", "term", "c",
            s"CAST(c AS DOUBLE) * (-ln(CAST(gc AS DOUBLE) / CAST($t AS DOUBLE))) AS nll")
          .groupBy(col("source"))
          .agg(sum(col("c")).as("n_tok"),
            sort_array(collect_list(struct(col("term"), col("nll")))).as("arr"))
          .selectExpr("source", "n_tok",
            "aggregate(arr, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.nll) / CAST(n_tok AS DOUBLE) AS ce")
          .selectExpr("source", "n_tok", "ce",
            s"greatest(0.0, ce - CAST('$refCe' AS DOUBLE)) AS excess")
          .withColumn("w", expr("exp(excess)"))
        val exRows = ex.collect()
        // z folds w in sort_array's order — UNSIGNED UTF-8 byte order on
        // the source key, replicated exactly (Java String order would
        // diverge on non-ASCII keys)
        val bySource = exRows.sortBy(_.getString(0))(
          Ordering.comparatorToOrdering((a: String, b: String) =>
            java.util.Arrays.compareUnsigned(
              a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
              b.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
        var z = 0.0
        bySource.foreach(r => z += r.getDouble(4))
        val k = exRows.length
        // rows enter ALREADY in oracle order (binary source sort — what
        // DuckDB's ORDER BY source and Spark's orderBy both produce on
        // this key), so no Sort/Exchange re-grows on the local relation
        s.createDataFrame(java.util.Arrays.asList(bySource: _*), ex.schema)
          .selectExpr("source", "n_tok",
            s"${Q.scaledLong("ce", 6)} AS ce_e6",
            s"${Q.scaledLong("excess", 6)} AS excess_e6",
            s"${Q.scaledLong(s"0.99 * w / CAST('$z' AS DOUBLE) + 0.01 / CAST($k AS DOUBLE)", 6)} AS alpha_e6")
      },
      Some(s"""
        WITH terms AS (
          SELECT source, unnest(${duckWords("lower(text)")}) AS term FROM documents),
        st AS (
          SELECT source, term, CAST(count(*) AS BIGINT) AS c
          FROM terms GROUP BY source, term),
        gt AS (SELECT term, CAST(sum(c) AS BIGINT) AS gc FROM st GROUP BY term),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM st),
        ce AS (
          SELECT source, CAST(sum(c) AS BIGINT) AS n_tok,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(CAST(c AS DOUBLE) * (-ln(CAST(gc AS DOUBLE) / CAST(t AS DOUBLE)))
                        ORDER BY term)),
                   (acc, x) -> acc + x) / CAST(sum(c) AS DOUBLE) AS ce
          FROM st JOIN gt USING (term) CROSS JOIN tot GROUP BY source),
        refce AS (
          SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(CAST(gc AS DOUBLE) * (-ln(CAST(gc AS DOUBLE) / CAST(t AS DOUBLE)))
                        / CAST(t AS DOUBLE) ORDER BY term)),
                   (acc, x) -> acc + x) AS ref_ce
          FROM gt CROSS JOIN tot),
        k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM ce),
        ex AS (
          SELECT source, n_tok, ce, ref_ce,
                 greatest(0.0, ce - ref_ce) AS excess,
                 exp(greatest(0.0, ce - ref_ce)) AS w
          FROM ce CROSS JOIN refce),
        z AS (
          SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(w ORDER BY source)), (acc, x) -> acc + x) AS z
          FROM ex)
        SELECT source, n_tok,
               ${Q.scaledLong("ce", 6)} AS ce_e6,
               ${Q.scaledLong("excess", 6)} AS excess_e6,
               ${Q.scaledLong("0.99 * w / z + 0.01 / CAST(k AS DOUBLE)", 6)} AS alpha_e6
        FROM ex CROSS JOIN z CROSS JOIN k ORDER BY source"""))
  )
}
