package graft.engine.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** How a driver-collected bounded result goes back into a plan as
  * literals — the one pattern the distributed-window ops share: collect
  * at most `fan` rows (quantile boundaries, per-bucket totals, seam
  * rows), then splice them into the next plan instead of joining a frame
  * back. Every count, offset, boundary and bucket id it emits is BIGINT
  * by construction (Scala `Long` values, `lit(Long)` literals), so no
  * spliced arithmetic can fold in 32 bits.
  *
  * Every collect these builders consume is bounded by the fan by
  * construction (one row per bucket, or one aggregate row), so there is
  * no separate bounded-collect guard.
  */
private[graft] object DriverLit {

  /** Bucket ids a [[lookup]] accepts: `[0, MaxBucket)`. Every caller's
    * fan is below 512; the cap keeps a dense array driver-trivial and
    * turns a stray (negative or huge) caller bucket into a loud error
    * instead of an ANSI out-of-range index at run time.
    */
  private val MaxBucket: Long = 1L << 16

  /** Aggregate column for the `fan - 1` key values at the i/fan
    * row-share quantiles, `approx_percentile(key, array(1/fan, ...),
    * 10000)` (ascending `array<bigint>`; NULL over an empty frame). Read
    * it back with [[bounds]].
    */
  def sketch(key: Column, fan: Int): Column =
    percentile_approx(key.cast("long"),
      array((1 until fan).map(i => lit(i.toDouble / fan)): _*), lit(10000))

  /** The boundaries a [[sketch]] column produced at `row(i)`; NULL means
    * none.
    */
  def bounds(row: Row, i: Int): Seq[Long] =
    if (row.isNullAt(i)) Nil else row.getSeq[Long](i)

  /** [[sketch]] of `key` over `df` as its own one-aggregate job. A fan
    * below 2 is a single bucket: it needs no boundaries, so no job runs.
    */
  def boundaries(df: DataFrame, key: Column, fan: Int): Seq[Long] =
    if (fan < 2) Nil else bounds(df.agg(sketch(key, fan)).head, 0)

  /** Bucket id of `key`: the count of `bnds` strictly below it, by
    * graft_bucket's binary search over the sorted literal array (O(log
    * fan) per row; a straight-line CASE sum stops being JIT-compiled past
    * ~128 terms). No boundaries is one bucket, id 0.
    */
  def bucketOf(key: Column, bnds: Seq[Long]): Column =
    if (bnds.isEmpty) lit(0L)
    else call_function("graft_bucket", key.cast("long"), typedLit(bnds))

  /** Per-bucket literal lookup: `entries` maps every bucket id the frame
    * holds to its value, and the result is `element_at(arr, bucket + 1)`
    * over a dense `max id + 1` literal array, `missing` at the ids no
    * entry names — O(1) per row, where a literal-map `element_at` scans
    * every key. Since every row's bucket is an entry, the index is in
    * range. `label` names the bucket in the id-range error.
    */
  def lookup(bucket: String, entries: Seq[(Long, Column)], missing: Column,
      label: String = ""): Column = {
    entries.foreach { case (id, _) =>
      require(id >= 0 && id < MaxBucket,
        s"bucket column ${if (label.isEmpty) bucket else label} holds id $id; " +
          s"bucket ids must lie in [0, $MaxBucket)")
    }
    if (entries.isEmpty) missing
    else {
      val byId = entries.toMap
      val dense = (0L to entries.map(_._1).max).map(byId.getOrElse(_, missing))
      element_at(array(dense: _*), (col(bucket) + lit(1L)).cast("int"))
    }
  }

  /** Exclusive prefix offset per bucket: the sum of `totals` over every
    * lower bucket id, looked up by [[lookup]] (0 for the first bucket).
    */
  def offsets(bucket: String, totals: Seq[(Long, Long)]): Column = {
    val sorted = totals.sortBy(_._1)
    lookup(bucket, sorted.map(_._1).zip(sorted.scanLeft(0L)(_ + _._2).map(lit)), lit(0L))
  }

  /** SQL `ntile(n)` of the 1-based global row number `rn` among `tot`
    * rows: the first `tot % n` tiles hold `tot / n + 1` rows, the rest
    * `tot / n`. The quotient, remainder and seam are Scala `Long`s
    * computed here, so the plan only compares and divides BIGINTs.
    */
  def ntile(rn: Column, tot: Long, n: Int): Column = {
    val (q, r) = (tot / n, tot % n)
    val seam = r * (q + 1)
    def div(a: Column, b: Long) = call_function("div", a, lit(b))
    when(rn <= lit(seam), div(rn - lit(1L), q + 1) + lit(1L))
      .otherwise(div(rn - lit(1L + seam), math.max(q, 1L)) + lit(r + 1))
  }
}
