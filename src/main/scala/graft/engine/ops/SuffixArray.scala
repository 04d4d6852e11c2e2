package graft.engine.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed suffix-array construction by generalized prefix doubling
  * (Manber–Myers with a radix-16 step), the backbone of
  * `dedup_suffix_repeats` — the Lee et al. 2021 exact-substring dedup
  * method.
  *
  * Rank semantics: `rk` is the POSITION-COUNT rank — the number of
  * strictly smaller suffixes under the current span order, plus one
  * (SQL `rank()`, the class-head index in the suffix array) — NOT the
  * dense rank. The two induce identical orderings and identical
  * equivalence classes (all any consumer relies on), and count ranks
  * make the per-bucket offset stitch a plain row count.
  *
  * Construction (r11): where classic doubling pays one corpus-wide
  * ranking pass per ×2 of span, each pass here multiplies the span by
  * up to 16 — a position's 16·s-word prefix is fully determined by the
  * 16-tuple of span-s ranks at (p, p+s, ..., p+15s), all of which come
  * from the SAME per-doc `lead` window, so the wide tuple costs one
  * extra sort key per component, not one extra pass. 2^7-word corpora
  * (the 127-word doc cap) therefore build in TWO passes: words → 16,
  * then 16 → 128. Each pass buckets by the previous rank (a monotone
  * key, so classes never span buckets), ranks each bucket in parallel,
  * and stitches with driver-side row-count offsets (a fan-row collect
  * and a [[DriverLit]] lookup — no second corpus job; the fan follows
  * `spark.sql.shuffle.partitions`, see [[passFan]]). Pass widths are
  * chosen so the `boundRound` span lands exactly on a pass boundary,
  * where the bound rank is simply that pass's output rank.
  * Passes stop at the prefix-doubling FIXPOINT: a pass that splits no
  * class (distinct-rank count unchanged) leaves every larger span's
  * partition equal by induction, so remaining passes are identity —
  * verbatim duplicate suffixes keep exact rank ties to the end.
  *
  * Scale notes: positions travel as (doc, p, rank) integer triples —
  * never text. A pass is one per-doc window exchange plus one bucketed
  * rank exchange over the corpus; no single task ever holds the global
  * order (the buckets are `fan` contiguous rank ranges), and each pass
  * cuts lineage with an eager `localCheckpoint` (the
  * ConnectedComponents discipline).
  */
object SuffixArray {

  /** Prefix-doubling ranks. Input: (doc_id, p, gid, rk) with `rk` the
    * round-0 token rank (any order-isomorphic integer) and `p` DENSE
    * 1..n within each doc (the posexplode contract) — density is what
    * lets a pass fetch the rank at p + i·s with per-doc `lead(rk, i·s)`
    * windows instead of keyed self-joins (value-identical: a position
    * past the doc end is NULL either way, mapped to the −1 sentinel so
    * shorter suffixes sort first). Returns the final frame (doc_id, p,
    * gid, rk) plus the frozen `rk_bound` column — the rank under
    * 2^boundRound-word-prefix equivalence — for candidate filtering.
    * `rk` carries position-count (class-head) semantics, see the
    * object Scaladoc: order-isomorphic to the dense rank with
    * identical tie classes.
    */
  def ranks(pos0: DataFrame, rounds: Int, boundRound: Int): DataFrame = {
    val cur = pos0.localCheckpoint()
    if (rounds <= 0)
      return cur.withColumn("rk_bound", col("rk"))
        .withColumn("_sab", lit(0L))
    val curMax = Option(cur.agg(max(col("rk"))).head.get(0))
      .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    // initClasses = -1: the contract allows ANY order-isomorphic
    // round-0 integer, so max(rk) is not necessarily the round-0 class
    // count and must not seed the fixpoint comparison (a sparse rank
    // set could alias the pass-1 class count and declare stability
    // spuriously); pass 1 therefore never early-exits on the fixpoint,
    // only on the all-singletons row-count check inside the loop
    passes(cur, rounds, boundRound, firstKey = "rk",
      firstBucket = None, firstSentinel = lit(-1L),
      initClasses = -1L, initMax = curMax)
  }

  /** As [[ranks]], but round 0 is the WORD COLUMN itself: input
    * (doc_id, p, gid, w) with non-empty words and dense per-doc p. The
    * first pass sorts its 16-tuple of word STRINGS directly (the empty
    * string is the past-end sentinel — it sorts before every real word,
    * exactly the −1 effect) and buckets by quantile-equalized
    * boundaries over the packed two-code-point prefix, a monotone
    * prefix of the code-point string order (see the inline note).
    * This folds the old round-0 machinery — distinct-word frame,
    * distributed word rank, broadcast join back to positions, and the
    * positions checkpoint — into pass 1; output is identical because
    * any order-isomorphic round-0 key yields the same rank() values.
    */
  def ranksFromWords(pos: DataFrame, rounds: Int, boundRound: Int): DataFrame = {
    // no meaningful zero-pass result exists in word mode (ranks() can
    // hand back its numeric round-0 rk; a word column cannot be one)
    require(rounds >= 1, "ranksFromWords needs at least one pass")
    // DICTIONARY-ENCODED pass 1 (r16, verdict #1 — the 100× profile):
    // pass 1 as shipped sorts 27.5M rows of 16-STRING tuples, 199 s of
    // the query's 227 s at the 100× corpus, while the corpus vocabulary
    // is tiny (130 distinct words; real corpora: ~1e5–1e6 — Heaps' law
    // keeps vocab orders of magnitude below positions). When the vocab
    // fits [[DictVocabMax]], encode words to DENSE 1..V integer ranks
    // first — the ranking stays engine-side (a single-partition
    // row_number over the vocab frame, so the order is Spark's own
    // string order, never a driver sort whose UTF-16 order could
    // diverge on supplementary planes) and broadcasts back onto
    // positions — then PACK the 16 tuple components into
    // ceil(16/⌊63/bits(V)⌋) big-endian longs (order-isomorphic to the
    // component tuple by construction): the pass-1 sort compares ~3
    // longs instead of 16 strings and the exchange carries ~6-long rows
    // instead of 16-string rows. Ranks are identical — the dictionary
    // is order-preserving and packing is order-preserving — so rk,
    // rk_bound, the fixpoint and the oracle contract are unchanged.
    // Corpora whose vocabulary overflows the bound keep the string
    // pass 1 below (the detection distinct is noise next to the string
    // sort it precedes).
    // the distinct is checkpointed so the dictionary build and every
    // boundary/pass action read it once — uncheckpointed, each action
    // re-ran the corpus-wide distinct through broadcast(dict)'s lineage.
    // The dictionary path reads the CALLER's lineage here and once more
    // for the encode join, instead of checkpointing the word-string
    // positions (r18, guide §5): at the 300x corpus that checkpoint held
    // ~5 GB of strings alive through both rank passes, and the live-block
    // pressure (not the data volume) was what turned the passes
    // superlinear — the callers feed a cached/cheap tokenize lineage, so
    // one extra read costs far less than the held memory did
    val vocab0 = pos.select(col("w")).distinct().localCheckpoint()
    val v = vocab0.count()
    if (v == 0)
      // empty corpus: schema-stable empty result
      return pos.selectExpr("doc_id", "p", "gid", "CAST(1 AS BIGINT) AS rk")
        .withColumn("rk_bound", col("rk")).withColumn("_sab", lit(0L))
    if (v <= DictVocabMax)
      return dictionaryPasses(pos, vocab0, v, rounds, boundRound)
    // string fallback (vocab past DictVocabMax): checkpoint the word
    // positions once so the boundary/pass actions don't re-run the
    // caller's tokenize lineage per action
    val posD = pos.localCheckpoint()
    // QUANTILE-EQUALIZED pass-1 bucketing (r12, r11 VERDICT #2): the old
    // first-character-code bucket is monotone but Zipf-skewed on real
    // text (natural-language first letters concentrate on a dozen
    // values). Equalize like GlobalOrder: pack the first TWO code points
    // into one long — `cp1 * 2^21 + cp2`, exactly monotone wrt Spark's
    // code-point string order because ascii()/substring are
    // code-point-based (verified incl. supplementary planes; absent
    // chars pack as 0, matching the '' sentinel sorting first) — take
    // approx_percentile boundaries over it, and bucket each row by the
    // count of boundaries strictly below its packed key. Equal words
    // share a packed key, so classes never split across buckets; any
    // monotone tie-preserving bucketing yields identical ranks (the
    // GlobalOrder correctness argument), so values are unchanged.
    // the positions frame has multiple consumers (vocab detection, the
    // boundary aggregate, pass 1's window) — posD above checkpointed it
    // once so each reads materialized integer/word triples instead of
    // re-running the caller's tokenize lineage
    passes(posD, rounds, boundRound, firstKey = "w",
      firstBucket = Some { (boundarySrc, paired) =>
        val bnds = wordBoundaries(boundarySrc, passFan(boundarySrc))
        // the packed prefix is PROJECTED ONCE, then bucketed
        paired.withColumn("_pk", expr(PackedPrefixSql))
          .withColumn("_b", DriverLit.bucketOf(col("_pk"), bnds))
          .drop("_pk")
      },
      firstSentinel = lit(""),
      initClasses = -1L, initMax = 0L)
  }

  /** Vocabulary bound for the dictionary-encoded pass 1: a 2^20-word
    * dictionary broadcasts in ~tens of MB and its single-partition
    * rank sorts in ~a second — both trivially affordable next to the
    * string pass 1 they replace — while bits(2^20) = 21 still packs 3
    * tuple components per long (sort width 6 longs, vs 16 strings).
    */
  private[graft] val DictVocabMax: Long = 1L << 20

  /** Pass bucket fan: 8x the shuffle parallelism (r18, guide §2.5). With
    * fan == partition count, hashing bucket ids into the shuffle
    * partitions is balls-in-bins — the fullest task carries 3-4 buckets
    * and the rank window straggles on it; 8x more buckets than
    * partitions bounds that collision variance and keeps each bucket's
    * sort run small enough to stay in memory. The 512 cap bounds what
    * the driver handles per pass — the per-bucket counts collect and the
    * literal boundary and offset arrays — at cluster-scale parallelism.
    * Values are fan-invariant (GlobalOrderSpec pins it).
    */
  private def passFan(df: DataFrame): Int = math.min(512, 8 * GlobalOrder.fanOf(df))

  /** Dictionary-mode pass 1 + tie refinement (see the
    * [[ranksFromWords]] note): words become dense 1..V ranks, the
    * 2^stepLog-component sort tuple packs into big-endian longs, and
    * pass 1 sorts/checkpoints the NARROW packed frame; later passes are
    * the shared [[refineFrom]] loop on integer ranks. The past-end
    * sentinel packs as 0 < every rank, exactly the '' / −1 sentinel
    * ordering of the other modes.
    */
  private def dictionaryPasses(pos0: DataFrame, vocab0: DataFrame, v: Long,
      rounds: Int, boundRound: Int): DataFrame = {
    val bnd = math.min(math.max(boundRound, 0), rounds)
    val stepLog = math.min(4, if (bnd > 0) bnd else rounds)
    val nComp = 1 << stepLog
    val dict = vocab0.repartition(1).withColumn("_wrk",
      row_number().over(Window.orderBy(col("w"))).cast("long"))
    // the ENCODED positions are the checkpointed frame (r18, guide §5):
    // narrow integer rows (vs the word-string frame the old posD
    // checkpoint held), read by the boundary mini-window and pass 1,
    // then released the moment pass 1's own checkpoint materializes
    val enc = pos0.join(broadcast(dict), "w").drop("w")
      .withColumnRenamed("_wrk", "rk")
      .localCheckpoint()
    val bpc = (64 - java.lang.Long.numberOfLeadingZeros(v)).toInt
    val npg = math.max(1, 63 / bpc)
    def packGroups(comps: Seq[org.apache.spark.sql.Column]) =
      comps.grouped(npg).toSeq.zipWithIndex.map { case (g, gi) =>
        g.zipWithIndex.map { case (c, j) =>
          shiftleft(c, bpc * (g.size - 1 - j)) }.reduce(_ + _).as(s"_pk$gi")
      }
    // boundaries from a 10%-OF-DOCS mini window over just the first
    // packed group (boundaries only steer load balance — any monotone
    // set yields identical ranks — so a deterministic doc subset is as
    // good as the corpus and keeps pass 1 to ONE full lead-window
    // execution; sampling rows instead would corrupt the leads)
    val nMini = math.min(npg, nComp)
    val mini = withLeads(enc.where(pmod(col("doc_id"), lit(10)) === 0),
      col("rk"), 1 until nMini, lit(0L))
    val miniComps = col("rk") +: (1 until nMini).map(i => col(s"_rkb$i"))
    // exact sketch in ONE job: the mini frame is already a 10% subset,
    // so longBoundaries' sample-then-fallback would only add a second
    // window execution (its fallback always fires at gate-corpus sizes)
    val bnds = DriverLit.boundaries(
      mini.select(packGroups(miniComps).head.as("_pk")), col("_pk"), passFan(enc))
    val paired = withLeads(enc, col("rk"), 1 until nComp, lit(0L))
    val packs = packGroups(
      col("rk") +: (1 until nComp).map(i => col(s"_rkb$i")))
    val m = packs.size
    val sortKeys = (0 until m).map(i => col(s"_pk$i"))
    val wb = Window.partitionBy(col("_b")).orderBy(sortKeys: _*)
    // one chain — encode, leads, pack NARROW (doc_id, p, gid, m packed
    // longs), bucket, rank — with a single checkpoint post-rank; the
    // packed sort keys are PROJECTED OUT before the checkpoint (r18,
    // guide §5: they are dead once the rank window has consumed them,
    // and keeping them in the checkpointed blocks held ~2 GB extra at
    // the 300x corpus)
    val local = paired.select(
        Seq(col("doc_id"), col("p"), col("gid")) ++ packs: _*)
      .withColumn("_b", DriverLit.bucketOf(col("_pk0"), bnds))
      .withColumn("_lrk", rank().over(wb).cast("long"))
      .withColumn("_csz", count(lit(1)).over(
        wb.rangeBetween(Window.currentRow, Window.currentRow)).cast("long"))
      .select(col("doc_id"), col("p"), col("gid"), col("_b"),
        col("_lrk"), col("_csz"))
      .localCheckpoint()
    // pass 1 is materialized — the encoded frame's blocks are dead
    freeCheckpoint(enc)
    val (cur, totalRows, newClasses) = stitchPass1(local, Nil)
    val stable = newClasses == totalRows
    val (cur2, frozen) =
      if (stepLog == bnd && bnd > 0)
        (cur.withColumn("rk_bound", col("rk")), true)
      else (cur, false)
    refineFrom(cur2, stepLog, rounds, bnd, frozen, totalRows, stable)
  }

  /** The packed two-code-point prefix of `w` as a long — exactly
    * monotone wrt Spark's code-point string order (see the
    * [[ranksFromWords]] note).
    */
  private[graft] val PackedPrefixSql =
    "(CAST(ascii(substring(w, 1, 1)) AS BIGINT) * 2097152 + " +
      "CAST(ascii(substring(w, 2, 1)) AS BIGINT))"

  /** Pass-1 quantile boundaries over the packed word prefix. Boundaries
    * only steer LOAD BALANCE (any monotone boundary set yields
    * identical ranks — the GlobalOrder argument), so a fixed-seed 10%
    * sample feeds the sketch: the aggregate stays one cheap pass as the
    * corpus grows, and a sample's quantile wobble moves bucket WIDTHS,
    * never results. A tiny sample (< ~5k rows — small corpora) falls
    * back to the exact full-frame sketch, where sampling noise could
    * otherwise collapse most rows into a couple of buckets. Exposed
    * `private[graft]` so GlobalOrderSpec measures the boundaries the
    * production pass actually uses.
    */
  private[graft] def wordBoundaries(df: DataFrame, fan: Int): Seq[Long] =
    longBoundaries(df.select(expr(s"$PackedPrefixSql AS _pk")), fan)

  /** As [[wordBoundaries]], over a caller-supplied `_pk` long column
    * (the dictionary path's first packed rank group, see
    * [[ranksFromWords]]).
    */
  private[graft] def longBoundaries(base: DataFrame, fan: Int): Seq[Long] = {
    val row = base.sample(withReplacement = false, 0.1, seed = 42L)
      .agg(DriverLit.sketch(col("_pk"), fan), count(lit(1))).head
    val bndsSampled = DriverLit.bounds(row, 0)
    if (bndsSampled.nonEmpty && row.getLong(1) >= 5000) bndsSampled
    else DriverLit.boundaries(base, col("_pk"), fan)
  }

  /** Release the materialized blocks of a DEAD localCheckpoint (r18,
    * guide §5): a checkpointed frame's blocks otherwise live until the
    * context cleaner GCs the RDD, and this op holds references through
    * the whole construction — at the 300x corpus the accumulated live
    * checkpoints (positions + pass 1 + every refine pass) overflowed the
    * storage pool and the resulting eviction/GC thrash turned the rank
    * passes superlinear. Callers must only release a frame once NOTHING
    * will read it again (a localCheckpoint's lineage is truncated, so an
    * unpersisted one cannot be recomputed). Collects every LogicalRDD
    * leaf under the plan (the frame may carry lazy projections on top of
    * its checkpoint).
    */
  private def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))

  /** The shared pass loop: pass 1 may key on a caller-supplied column
    * (string mode) with its own monotone bucketing stage and sentinel
    * (the stage receives (boundary source = pre-pairing frame, paired
    * frame) and must return the paired frame with `_b` added); every
    * later pass keys on the numeric `rk`. `initClasses` < 0 skips the
    * fixpoint comparison for the first pass (class count of a raw key
    * column is unknown without an extra aggregate).
    *
    * Later passes refine TIES ONLY (r15): pass 1's rank window also
    * emits the class size `_csz` (the peers count over the same
    * exchange — RANGE CURRENT ROW..CURRENT ROW counts rows equal on
    * the full key tuple), and each later pass re-ranks only rows whose
    * class still has >1 member, partitioned by the CLASS ID itself:
    * with position-count semantics the stitch is row-local arithmetic
    * (new rk = class head + in-class rank − 1 — rows in earlier classes
    * are strictly smaller by induction, in-class order refines within),
    * so the global bucketing, the driver offset stitch, and the
    * per-bucket counts collect all vanish from later passes, and the
    * rank exchange carries only the TIED rows (the corpus's residual
    * dup mass) instead of every position. Singleton-class rows keep
    * their final rank untouched. The fixpoint is read off the same
    * refinement: a pass splits nothing iff no refined row moved
    * (in-class rank 1 everywhere), and ranks are final when no class
    * has >1 member.
    */
  private def passes(cur0: DataFrame, rounds: Int, boundRound: Int,
      firstKey: String,
      firstBucket: Option[(DataFrame, DataFrame) => DataFrame],
      firstSentinel: org.apache.spark.sql.Column,
      initClasses: Long, initMax: Long): DataFrame = {
    val bnd = math.min(math.max(boundRound, 0), rounds)
    // advance up to ×16 in pass 1, but land exactly on the bound span
    // so rk_bound is the tuple-prefix rank of this same pass
    val stepLog = math.min(4, if (bnd > 0) bnd else rounds)
    val nLead = (1 << stepLog) - 1
    val paired = withLeads(cur0, col(firstKey), 1 to nLead, firstSentinel)
    val rkbCols = (1 to nLead).map(i => col(s"_rkb$i"))
    val keys = col(firstKey) +: rkbCols
    val mx = math.max(initMax, 1L)
    // fan scales with the session's shuffle parallelism (r12; a
    // fixed 32 meant per-task volume grew with corpus size). The
    // pass-1 boundary closure runs against `cur0` (pre-pairing) so
    // its aggregate never re-executes the lead-window shuffle
    val fan = GlobalOrder.fanOf(paired)
    val bucketed = firstBucket match {
      case Some(fb) => fb(cur0, paired)
      case None => paired.withColumn("_b", expr(s"((rk - 1) * $fan) div $mx"))
    }
    val wb = Window.partitionBy(col("_b")).orderBy(keys: _*)
    // the lead tuple and the raw key are dead once the rank window has
    // consumed them: project them out BEFORE the checkpoint (r18, guide
    // §5 — in string mode they are 16 strings per row of checkpointed
    // block memory); drop-based projection keeps carried columns in place
    val local = bucketed
      .withColumn("_lrk", rank().over(wb).cast("long"))
      .withColumn("_csz", count(lit(1)).over(
        wb.rangeBetween(Window.currentRow, Window.currentRow)).cast("long"))
      .drop((1 to nLead).map(i => s"_rkb$i") ++
        (if (firstKey != "rk") Seq(firstKey) else Nil): _*)
      .localCheckpoint()
    val (cur, totalRows, newClasses) = stitchPass1(local, Nil)
    // fixpoint at pass 1: a caller-declared prior class count (rare;
    // numeric mode with a known round-0 partition) or all-singletons
    val stable = (initClasses >= 0 && newClasses == initClasses) ||
      newClasses == totalRows
    val (cur2, frozen) =
      if (stepLog == bnd && bnd > 0)
        (cur.withColumn("rk_bound", col("rk")), true)
      else (cur, false)
    refineFrom(cur2, stepLog, rounds, bnd, frozen, totalRows, stable)
  }

  /** `df` plus `_rkb1`, `_rkb2`, ...: the per-doc lead of `src` at each
    * of `offsets` (`default` past the doc's end), in ONE projection — a
    * withColumn per lead re-analyses the growing plan once per column.
    */
  private def withLeads(df: DataFrame, src: org.apache.spark.sql.Column,
      offsets: Seq[Int], default: org.apache.spark.sql.Column): DataFrame = {
    val wdoc = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    df.select(col("*") +: offsets.zipWithIndex.map { case (o, i) =>
      coalesce(lead(src, o).over(wdoc), default).as(s"_rkb${i + 1}")
    }: _*)
  }

  /** Row-count offset stitch for a pass-1 `local` frame (bucketed rank
    * + class size, checkpointed): with rank() semantics the stitch adds
    * the number of rows in earlier buckets (all strictly smaller — the
    * bucketing is monotone and classes never span buckets); the
    * distinct count drives the fixpoint exit. Returns (stitched frame,
    * total rows, class count).
    */
  private def stitchPass1(local: DataFrame,
      dropCols: Seq[String]): (DataFrame, Long, Long) = {
    val cnts = local.groupBy(col("_b"))
      .agg(count(lit(1)).as("_cnt"), countDistinct(col("_lrk")).as("_ncls"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val offExpr = DriverLit.offsets("_b", cnts.map(c => c._1 -> c._2).toSeq)
    val cur = local.withColumn("rk", col("_lrk") + offExpr)
      .drop(dropCols ++ Seq("_b", "_lrk"): _*)
    (cur, cnts.map(_._2).sum, cnts.map(_._3).sum)
  }

  /** The tie-refinement pass loop from `startSpanLog` on: only classes
    * with >1 member can change; the class id (the shared rk) is the
    * window partition, so the stitch is rk + in-class rank − 1 with no
    * driver round-trip — the global bucketing, the driver offset
    * stitch, and the per-bucket counts collect all vanish from later
    * passes, and the rank exchange carries only the TIED rows (the
    * corpus's residual dup mass). Singleton-class rows keep their final
    * rank untouched. The fixpoint is read off the same refinement: a
    * pass splits nothing iff no refined row moved (in-class rank 1
    * everywhere), and ranks are final when no class has >1 member.
    * Shared by the string/numeric pass 1 ([[passes]]) and the
    * dictionary pass 1 ([[ranksFromWords]]).
    */
  private def refineFrom(cur0: DataFrame, startSpanLog: Int, rounds: Int,
      bnd: Int, frozen0: Boolean, totalRows: Long, stable0: Boolean): DataFrame = {
    var cur = cur0
    var spanLog = startSpanLog
    var frozen = frozen0
    var stable = stable0
    while (spanLog < rounds && !stable) {
      // advance up to ×16 per pass, landing exactly on the bound span
      val stepLog = math.min(4,
        (if (!frozen && bnd > spanLog) bnd else rounds) - spanLog)
      val step = 1L << spanLog
      val nLead = (1 << stepLog) - 1
      val paired = withLeads(cur, col("rk"), (1 to nLead).map(i => (i * step).toInt),
        lit(-1L))
      val rkbCols = (1 to nLead).map(i => col(s"_rkb$i"))
      val freezeNow = !frozen && spanLog + stepLog == bnd
      val wcls = Window.partitionBy(col("rk")).orderBy(rkbCols: _*)
      val refined = paired.where(col("_csz") > 1)
        .withColumn("_lrk", rank().over(wcls).cast("long"))
        .withColumn("_ncsz", count(lit(1)).over(
          wcls.rangeBetween(Window.currentRow, Window.currentRow)).cast("long"))
        .withColumn("rk", col("rk") + col("_lrk") - 1)
        .withColumn("_mv", col("_lrk") > 1)
        .drop((1 to nLead).map(i => s"_rkb$i") ++ Seq("_lrk", "_csz"): _*)
        .withColumnRenamed("_ncsz", "_csz")
      val singles = cur.where(col("_csz") === 1)
        .withColumn("_mv", lit(false))
      val prev = cur
      cur = singles.unionByName(refined).localCheckpoint()
      // the new pass checkpoint is materialized — the previous pass's
      // blocks are dead (r18, guide §5; see [[freeCheckpoint]])
      freeCheckpoint(prev)
      val st = cur.agg(
        sum(when(col("_csz") > 1, 1L).otherwise(0L)).as("_nref"),
        max(col("_mv")).as("_moved")).head
      val nRef = if (st.isNullAt(0)) 0L else st.getLong(0)
      val moved = !st.isNullAt(1) && st.getBoolean(1)
      cur = cur.drop("_mv")
      // no refined row moved ⇒ no class split this pass ⇒ every larger
      // span's partition is equal by induction; nRef == 0 ⇒ ranks final
      stable = nRef == 0 || !moved
      if (freezeNow) {
        // the bound span ends exactly at this pass (stepLog lands on
        // it), so the bound rank IS this pass's full-tuple rank
        cur = cur.withColumn("rk_bound", col("rk"))
        frozen = true
      }
      spanLog += stepLog
    }
    // stable-early (ranks final, so the bound rank equals the final
    // rank) or rounds <= boundRound: freeze now
    if (!cur.columns.contains("rk_bound"))
      cur = cur.withColumn("rk_bound", col("rk"))
    // consumer bucket column: suffix ranks are near-uniform over
    // 1..totalRows by construction, so downstream global-order helpers
    // can bucket with row-local arithmetic instead of paying their own
    // quantile sketch over the corpus (see [[GlobalOrder.lead1With]]);
    // monotone in rk and ties share a bucket, the full bucketing
    // contract. totalRows is known from pass 1's stitch collect.
    // the pass fan: the consumer (GlobalOrder.lead1With) partitions its
    // lead window by this bucket, so the same collision argument holds
    val fanOut = passFan(cur)
    cur
      .withColumn("_sab",
        if (totalRows > 0) expr(s"((rk - 1) * $fanOut) div $totalRows")
        else lit(0L))
      .drop("_csz")
  }
}
