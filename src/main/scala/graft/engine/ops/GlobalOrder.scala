package graft.engine.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed replacements for unpartitioned corpus-scale windows —
  * `Window.orderBy(...)` with no partitionBy funnels the ENTIRE input
  * through one task, the classic 100 TB scale-killer that looks fine at
  * test SF. Every helper here computes value-identical results to the
  * single-task window by the histogram-bucket two-pass scheme:
  *
  *   1. bucket each row by a monotone integer function of its first
  *      sort key (quantile-equalized: the count of approx-quantile
  *      boundaries below the key, so buckets stay BALANCED under any
  *      key distribution; equal keys land in the same bucket by
  *      construction, so bucket boundaries never split ties of the
  *      PRIMARY key);
  *   2. run the window WITHIN each bucket in parallel
  *      (`Window.partitionBy(_gb)`);
  *   3. stitch buckets with per-bucket offsets: at most `fan` rows,
  *      one per non-empty bucket, collected to the driver and spliced
  *      back as literals ([[DriverLit]]) — no unpartitioned window
  *      remains anywhere in the plan.
  *
  * Companion of [[SuffixArray.ranks]]'s internal pass (which buckets by a
  * previous dense rank); these generalize to any long-typed sort key.
  * Degenerate distributions (all keys equal) collapse to one bucket —
  * the data has no order information to parallelize over; callers with
  * such keys should bucket on a different column.
  */
object GlobalOrder {

  /** Conf override for the bucket fan (tests pin it; unset/<=0 falls
    * back to `spark.sql.shuffle.partitions`).
    */
  val FanConf = "spark.graft.order.fan"

  /** Bucket fan (r12, r11 VERDICT #2): proportional to the session's
    * shuffle parallelism instead of a fixed 32 — a fixed fan means
    * per-task volume grows linearly with corpus size. The offset/stitch
    * frames stay bounded at `fan` rows (thousands at cluster scale —
    * still trivially driver/broadcast-sized). Values are identical for
    * ANY fan: every helper's correctness argument only needs the
    * bucketing to be a monotone tie-preserving function of the key
    * (GlobalOrderSpec pins value-identity at fan 32 and 256).
    */
  private[graft] def fanOf(df: DataFrame): Int = {
    val conf = df.sparkSession.sessionState.conf
    val o = conf.getConfString(FanConf, "0").toInt
    if (o > 0) o else math.max(2, conf.numShufflePartitions)
  }

  /** Internal cut point: each helper's keyed frame is consumed twice
    * (the driver-side offset/boundary action, then the windowed result),
    * and DataFrame plans are TREES — every reference clones the whole
    * subtree, so a chained call compounds both re-execution and Catalyst
    * re-analysis geometrically (measured: three chained ntileCol calls
    * cost ~10 s of pure planning on a 0.2 s query when left uncut).
    * Two regimes:
    *
    *   - SHALLOW plan (<= 24 analyzed nodes): lazy persist through the
    *     engine registry — execution runs once, the cloned subtrees are
    *     cheap to re-analyze, and no eager job is paid (a chained
    *     helper's input is the previous helper's already-shallow
    *     output, so chains stay in this regime);
    *   - DEEP plan: eager localCheckpoint (the ConnectedComponents /
    *     suffix-array discipline) — executes once AND replaces every
    *     downstream reference with a LogicalRDD leaf, cutting the
    *     re-analysis. Blocks are released by the context cleaner when
    *     the result is garbage collected.
    */
  private def cut(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    val nodes = plan.collect { case p => p }.size
    // PASSTHROUGH (r18, guide §5): a plan that is nothing but row-local
    // projections/filters over already-materialized checkpoint leaves
    // (the suffix-array output feeding lead1With) re-executes as a cheap
    // block re-read — persisting it would hold a second full copy of
    // the corpus frame in the storage pool for zero avoided work
    val passthrough = plan.collectFirst {
      case p if !(p.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD] ||
        p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project] ||
        p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter] ||
        p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias]) => p
    }.isEmpty
    if (passthrough) df
    else if (nodes > 24) df.localCheckpoint()
    else graft.engine.Persisted.add(df)
  }

  /** Adds `_gb` (bucket) and `_gok` (the long key) over a [[cut]] keyed
    * frame (one evaluation, bounded re-analysis). Bucketing is
    * QUANTILE-EQUALIZED (r9; plain span scaling re-creates the
    * straggler task under clustered keys — scores piling near one
    * value, zipf counts, one busy second inside a decade of epoch
    * micros): ONE approx_percentile pass yields the fan-1 key values at
    * the i/fan row-share quantiles — collected to the driver and
    * re-embedded as literals (r18; the broadcast-crossJoin form paid an
    * extra AQE exchange job per helper) — and each row's bucket is the
    * count of boundaries strictly below its key ([[DriverLit.bucketOf]]).
    * Buckets therefore hold ~1/fan of the ROWS for ANY key distribution,
    * up to key-VALUE granularity (an ultra-hot tied value is irreducible: equal keys
    * must share a bucket, or tie-break ordering would split across the
    * seam — a 10M-row zipf frame measured 4% hottest-bucket share
    * against a 90% value cluster, SURVEY.md §8.14; GlobalOrderSpec pins
    * the balance at 20k rows).
    *
    * The bucket is a monotone function of the key VALUE alone, so
    * boundaries never split ties and never reorder keys — which is the
    * entire correctness contract: the helpers' RESULTS are provably
    * identical for any monotone tie-preserving bucketing (the offset
    * stitch corrects any split), so the sketch's merge-order wobble in
    * WHERE boundaries land affects load balance only, never values
    * (GlobalOrderSpec pins value-identity on tie-heavy, gappy,
    * degenerate, and zipf keys).
    */
  private def bucketed(df: DataFrame, key: Column): DataFrame = {
    val keyed = cut(df.withColumn("_gok", key.cast("long")))
    keyed.withColumn("_gb", DriverLit.bucketOf(col("_gok"),
      DriverLit.boundaries(keyed, col("_gok"), fanOf(df))))
  }

  /** Test/diagnostic hook: the per-bucket row counts [[bucketed]] would
    * produce for (df, key) — the balance evidence under skew.
    */
  private[graft] def bucketCounts(df: DataFrame, key: Column): DataFrame =
    bucketed(df, key).groupBy(col("_gb")).agg(count(lit(1)).as("n"))

  /** Distributed global `row_number()` ordered by (key, ties...) — the
    * (key, ties) sort must totally order the rows for a deterministic
    * result, exactly as the single-task window requires. Result column:
    * `out` (BIGINT, 1-based).
    */
  def rowNumber(df: DataFrame, key: Column, ties: Seq[Column],
      out: String = "_grn"): DataFrame =
    rowNumberWith(bucketed(df, key), col("_gok") +: ties, out)
      .drop("_gok", "_gb")

  /** Distributed global `row_number()` with a CALLER-SUPPLIED bucket
    * column `_gb` already present: `_gb` must be a deterministic
    * monotone non-decreasing function of the sort prefix (so bucket
    * boundaries never split the sort order) — e.g. the span-scaled
    * integer key ([[rowNumber]]) or the first-character code of a
    * lexicographically sorted string key. Leaves `_gb` in place for the
    * caller to drop.
    */
  def rowNumberWith(df: DataFrame, sort: Seq[Column],
      out: String): DataFrame = {
    // offsets from the PRE-window frame (r18, guide §2.4/§1.2): windows
    // preserve cardinality, so per-bucket row counts computed before the
    // window equal those computed after — one bounded collect replaces
    // the old eager checkpoint of the WINDOWED frame plus a broadcast
    // join (two jobs and a full materialization per helper call), and
    // the stitched result is then consumed exactly once, streaming into
    // its consumer. `df` is consumed twice (the counts action + the
    // result); internal callers pass a [[cut]] frame, and the public
    // contract requires a deterministic input (as any two-pass
    // consumption always has).
    val wloc = Window.partitionBy(col("_gb")).orderBy(sort: _*)
    val cnts = df.groupBy(col("_gb").cast("long").as("_gb"))
      .agg(count(lit(1)).as("_gcnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    df.withColumn("_glrn", row_number().over(wloc).cast("long"))
      .withColumn(out, col("_glrn") + DriverLit.offsets("_gb", cnts))
      .drop("_glrn")
  }

  /** Distributed global running sum of `value` over the (key, ties...)
    * order, INCLUSIVE of the current row (`rowsBetween(unboundedPreceding,
    * currentRow)` semantics). Result column: `out` (BIGINT).
    */
  def runningSum(df: DataFrame, key: Column, ties: Seq[Column],
      value: Column, out: String = "_gcum"): DataFrame =
    runningSums(df, key, ties, Seq(value -> out))

  /** As [[runningSum]], additionally returning the GRAND TOTAL of the
    * summed value — already known on the driver from the per-bucket
    * offset collect (r18), so callers that previously re-aggregated the
    * cumulative frame (or the corpus) for the total can embed it as a
    * literal and consume the stitched frame exactly once.
    */
  def runningSumTotal(df: DataFrame, key: Column, ties: Seq[Column],
      value: Column, out: String = "_gcum"): (DataFrame, Long) = {
    val (res, totals) = runningSumsTotals(df, key, ties, Seq(value -> out))
    (res, totals.head)
  }

  /** Multi-column [[runningSum]]: every (value -> out) pair's inclusive
    * running sum over the SAME (key, ties...) order in one bucketed
    * pass — one window over literal per-bucket offsets (the two-sample
    * EDF shape: both samples' cumulatives ride together).
    */
  def runningSums(df: DataFrame, key: Column, ties: Seq[Column],
      values: Seq[(Column, String)]): DataFrame =
    runningSumsTotals(df, key, ties, values)._1

  /** [[runningSums]] + every value's grand total (see
    * [[runningSumTotal]]). Offsets come from the PRE-window frame (r18):
    * windows preserve cardinality, so per-bucket value sums computed
    * before the window equal those computed after — one bounded collect
    * replaces the old eager checkpoint of the windowed frame plus a
    * broadcast join, and the stitched frame streams into its consumer.
    */
  def runningSumsTotals(df: DataFrame, key: Column, ties: Seq[Column],
      values: Seq[(Column, String)]): (DataFrame, Seq[Long]) = {
    val wloc = Window.partitionBy(col("_gb")).orderBy(col("_gok") +: ties: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val idx = values.indices
    val b = bucketed(df, key)
    val rows = b.groupBy(col("_gb"))
      .agg(sum(values.head._1.cast("long")).as("_gbs0"),
        idx.drop(1).map(i => sum(values(i)._1.cast("long")).as(s"_gbs$i")): _*)
      .collect()
    // per-bucket sums may be NULL (all-null values in a bucket): the SQL
    // running sum skips nulls, so a null bucket contributes 0 to every
    // later bucket's offset — exactly the old coalesce'd window stitch
    val perBucket = idx.map { i =>
      rows.map(r =>
        (r.getLong(0), if (r.isNullAt(i + 1)) 0L else r.getLong(i + 1))).toSeq
    }
    val res = idx.foldLeft(b) { (r, i) =>
      r.withColumn(values(i)._2,
        sum(values(i)._1).over(wloc).cast("long") +
          DriverLit.offsets("_gb", perBucket(i)))
    }.drop("_gok", "_gb")
    (res, idx.map(i => perBucket(i).map(_._2).sum))
  }

  /** Distributed global running MAX of `value` over the (key, ties...)
    * order, EXCLUSIVE of the current row (`rowsBetween(unboundedPreceding,
    * -1)` semantics — the skyline/dominance shape); the globally first
    * row gets NULL, exactly as the single-task window would. Result
    * column: `out` (BIGINT).
    */
  def runningMaxExclusive(df: DataFrame, key: Column, ties: Seq[Column],
      value: Column, out: String = "_gmax"): DataFrame = {
    // per-bucket maxes from the PRE-window frame (r18, same argument as
    // [[runningSumsTotals]]: the window does not change which rows a
    // bucket holds); the prior-bucket running max folds on the driver
    val wlocX = Window.partitionBy(col("_gb")).orderBy(col("_gok") +: ties: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val b = bucketed(df, key)
    // one bounded collect: every OBSERVED bucket id, with its value max
    // (NULL when the bucket's values are all null — it still needs the
    // prior max of EARLIER buckets, so presence matters)
    val maxes = b.groupBy(col("_gb")).agg(max(value.cast("long")).as("_gbm"))
      .collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toSeq.sortBy(_._1)
    // exclusive prefix max per bucket: NULL where no earlier bucket
    // holds a non-null value (the first bucket, all-null priors)
    val noMax = lit(null).cast("long")
    val pmExpr = DriverLit.lookup("_gb", maxes.indices.map { i =>
      maxes(i)._1 -> maxes.take(i).flatMap(_._2).maxOption.fold(noMax)(lit)
    }, noMax)
    // greatest skips NULLs (bucket-first rows, first bucket), returning
    // NULL only when both sides are — the global first row
    b.withColumn("_glmx", max(value).over(wlocX).cast("long"))
      .withColumn(out, greatest(col("_glmx"), pmExpr))
      .drop("_gok", "_gb", "_glmx")
  }

  /** Distributed global `ntile(n)` over the (key, ties...) order — exact
    * SQL ntile semantics reproduced arithmetically from the distributed
    * row number: with N rows, the first N mod n tiles hold ceil(N/n)
    * rows, the rest floor(N/n). Result column: `out` (BIGINT, 1-based).
    */
  def ntileCol(df: DataFrame, n: Int, key: Column, ties: Seq[Column],
      out: String): DataFrame =
    ntileCols(df, ties, Seq((n, key, out)))

  /** Multi-metric [[ntileCol]]: every (n, key, out) spec's global ntile
    * over the SAME tie columns, sharing the expensive corpus-scale work
    * across metrics — ONE [[cut]] of the input, ONE aggregate producing
    * every metric's boundary array AND the total row count, ONE exploded
    * per-bucket count (the RFM shape: three chained ntileCol calls each
    * paid their own boundary and count passes; the per-metric bucket
    * window + fan-row offset stitch are irreducible because each metric
    * orders the frame differently).
    * Value-identical to chaining [[ntileCol]]: each spec's ntile depends
    * only on its own (key, ties) order, never on another spec's output.
    */
  def ntileCols(df: DataFrame, ties: Seq[Column],
      specs: Seq[(Int, Column, String)]): DataFrame = {
    val idx = specs.indices
    val keyed = cut(idx.foldLeft(df) { (b, i) =>
      b.withColumn(s"_gok$i", specs(i)._2.cast("long"))
    })
    // action 1: every metric's boundary array + the global row count,
    // collected once and spliced back as literals (r18 — the broadcast
    // crossJoin form paid an AQE exchange job, and each metric's stitch
    // paid an eager checkpoint plus a broadcast-join: two jobs per
    // metric; offsets now come from the pre-window bucket counts, which
    // the window cannot change)
    val fan = fanOf(df)
    val bndRow = keyed.agg(DriverLit.sketch(col("_gok0"), fan),
      idx.drop(1).map(i => DriverLit.sketch(col(s"_gok$i"), fan)) :+
        count(lit(1)): _*).head
    val tot = bndRow.getLong(idx.size)
    val withBuckets = idx.foldLeft(keyed) { (b, i) =>
      b.withColumn(s"_gb$i",
        DriverLit.bucketOf(col(s"_gok$i"), DriverLit.bounds(bndRow, i)))
    }
    // action 2: every metric's per-bucket counts in ONE exploded pass
    // over the cached keyed frame (fan x specs rows to the driver)
    val cnts = withBuckets.select(explode(array(idx.map(i =>
        struct(lit(i).as("_gsp"), col(s"_gb$i").as("_gbv"))): _*)).as("_ge"))
      .groupBy(col("_ge._gsp").as("_gsp"), col("_ge._gbv").as("_gbv"))
      .agg(count(lit(1)).as("_gcnt"))
      .collect().map(r => (r.getInt(0), (r.getLong(1), r.getLong(2))))
    val banded = idx.foldLeft(withBuckets) { (cur, i) =>
      val wloc = Window.partitionBy(col(s"_gb$i"))
        .orderBy(col(s"_gok$i") +: ties: _*)
      val offs = DriverLit.offsets(s"_gb$i",
        cnts.collect { case (sp, e) if sp == i => e }.toSeq)
      cur.withColumn("_gntrn", row_number().over(wloc).cast("long") + offs)
        .withColumn(specs(i)._3, DriverLit.ntile(col("_gntrn"), tot, specs(i)._1))
        .drop("_gntrn")
    }
    banded.drop(idx.flatMap(i => Seq(s"_gok$i", s"_gb$i")): _*)
  }

  /** Distributed global `lead(c, 1)` for each column in `leadCols` over
    * the (key, ties...) order: in-bucket lead in parallel, then the seam
    * rows (each bucket's LAST row) take their successor from the next
    * non-empty bucket's FIRST row — one boundary row exchanged per
    * bucket, never a global sort. The globally last row keeps NULL
    * leads, exactly as the single-task window would. Rows tied on
    * (key, ties...) are ordered by the lead columns, so the result is the
    * global lead over (key, ties..., leadCols...) whatever the ties.
    * Appends `<col><suffix>` for each lead column. Lead columns must be atomic
    * (numeric, string, boolean, date, timestamp); an array or struct
    * column throws IllegalArgumentException.
    */
  def lead1(df: DataFrame, key: Column, ties: Seq[Column],
      leadCols: Seq[String], suffix: String = "_nx"): DataFrame =
    lead1Impl(bucketed(df, key), "_gb", col("_gok") +: ties, leadCols, suffix)

  /** As [[lead1]], but with a CALLER-SUPPLIED bucket column instead of
    * the quantile sketch — for keys the caller knows to be near-uniform
    * (e.g. suffix-array ranks over 1..N, whose producer exports `_sab`),
    * where the approx_percentile pass is a pure extra corpus aggregate.
    * The caller owns the contract: `bucket` must be a monotone function
    * of the (key, ties) order that never splits key ties, with ids in
    * [0, 65536) — an id outside throws IllegalArgumentException naming
    * `bucket`.
    */
  def lead1With(df: DataFrame, bucket: Column, sort: Seq[Column],
      leadCols: Seq[String], suffix: String = "_nx"): DataFrame =
    lead1Impl(cut(df.withColumn("_gok", lit(0L))
      .withColumn("_gb", bucket.cast("long"))), bucket.toString, sort,
      leadCols, suffix)

  /** `label` names the bucket column in [[DriverLit.lookup]]'s id check. */
  private def lead1Impl(bdf: DataFrame, label: String, sort: Seq[Column],
      leadCols: Seq[String], suffix: String): DataFrame = {
    // lead columns must be atomic: the seam patch re-embeds their
    // values as typed literals, which arrays and structs do not survive
    leadCols.foreach { c =>
      import org.apache.spark.sql.types._
      val dt = bdf.schema(c).dataType
      require(dt match {
        case LongType | IntegerType | ShortType | ByteType | BooleanType |
             StringType | DoubleType | FloatType | DateType |
             TimestampType | _: DecimalType => true
        case _ => false
      }, s"lead1: lead column '$c' has non-atomic type ${dt.simpleString}")
    }
    // the lead columns extend the order, so tied sort tuples resolve
    // the same way in the window and in the seam's min_by: the result
    // is a global lead() over (sort ++ leadCols)
    val order = sort ++ leadCols.map(col)
    val wloc = Window.partitionBy(col("_gb")).orderBy(order: _*)
    // SINGLE-PASS seam patch (r18, guide §5/§2.4):
    // each bucket's first row — the value the previous bucket's LAST row
    // needs as its lead — is min_by over the order tuple on the PRE-window
    // frame, one bounded collect; the seam substitution is then a
    // row-local literal CASE evaluated only on seam rows. The old shape
    // checkpointed the whole WINDOWED frame (at the 300x suffix corpus a
    // multi-GB materialization) and re-read it three times through a
    // union + broadcast join. min_by's struct ordering is ascending
    // lexicographic — exactly the orderBy(order) contract (all helpers
    // pass plain ascending columns; a SortOrder inside struct() fails
    // analysis loudly, never silently misorders).
    val firstRows = bdf
      .groupBy(col("_gb").cast("long").as("_gbl"))
      .agg(min_by(struct(leadCols.map(col): _*), struct(order: _*)).as("_gfx"))
      .collect().map(r => (r.getLong(0), r.getStruct(1))).toSeq.sortBy(_._1)
    // bucket -> the NEXT non-empty bucket's first row (empty buckets
    // have no seam rows, so consecutive-present pairing bridges them);
    // the last bucket's seam row is the global last row, whose lead is
    // NULL. One literal lookup, not a CASE chain (r18): fan-1 whens per
    // lead column blew the generated method past the 64KB Janino limit
    // at a 256 fan; the lookup only evaluates on seam rows.
    val nexts = firstRows.map(_._1).zip(firstRows.drop(1).map(f => Option(f._2)) :+ None)
    def patchFor(c: String, j: Int): Column = {
      val dt = bdf.schema(c).dataType
      val none = lit(null).cast(dt)
      DriverLit.lookup("_gb", nexts.map { case (b, row) =>
        b -> row.filterNot(_.isNullAt(j)).fold(none)(r => lit(r.get(j)).cast(dt))
      }, none, label)
    }
    // all lead columns in one projection (a withColumn per column
    // re-analyses the growing plan once per column)
    bdf.withColumn("_ghn", lead(lit(1), 1).over(wloc))
      .select(col("*") +: leadCols.zipWithIndex.map { case (c, j) =>
        when(col("_ghn").isNotNull, lead(col(c), 1).over(wloc))
          .otherwise(patchFor(c, j)).as(c + suffix)
      }: _*)
      .drop("_gok", "_gb", "_ghn")
  }
}
