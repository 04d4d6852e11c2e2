package graft.engine.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level data-skipping ledger (r12, r11 VERDICT #6) — the one
  * 100 TB scan lever the engine declared but had not yet closed the loop
  * on: a manifest of per-file column statistics written AT SINK TIME, and
  * a reader that plans its file list FROM the manifest, so a selective
  * predicate touches only the files whose [min, max] ranges overlap it.
  *
  * This is exactly what Iceberg's manifests do implicitly for the
  * reference's sink (`/root/reference/src/consumer/data_sinks.py:134-147`
  * — Iceberg file metadata carries per-column bounds the scan planner
  * prunes with); with no Iceberg runtime jar in this environment the
  * ledger is the Spark-expressible equivalent: parquet footers already
  * hold row-group min/max, but footer pruning still LISTS and OPENS every
  * file — the manifest moves the bounds into one tiny sidecar so planning
  * reads ONE object, the way Iceberg/Delta plan 100k-file tables.
  *
  * Layout discipline makes the ledger effective: files written z-ordered
  * ([[Scale.writeZOrdered]]) or range-sorted keep each file's min/max
  * NARROW on the clustering keys, so bounds actually exclude files. The
  * manifest lives under `<path>/_manifest` — an underscore-prefixed
  * directory, which Spark/Hadoop listings ignore (the `_SUCCESS`
  * convention), so plain `spark.read.parquet(path)` of the data is
  * unaffected.
  *
  * Scale shape: the stats aggregation is one pass over the just-written
  * files grouped by file name (at sink time, when the data is hot); the
  * manifest is |files| rows of a few longs. Planning collects only the
  * FILE LIST to the driver — bounded by file count, the same
  * driver-side planning Iceberg does with manifests (100k files = 100k
  * tiny rows, not data).
  */
object StatsManifest {

  private val ManifestDir = "_manifest"

  /** Types the ledger can bound exactly as longs. Shared with the sink's
    * stats-column selection so the two can never drift (r12 self-review).
    */
  val IntegralTypes: Set[org.apache.spark.sql.types.DataType] = Set(
    org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
    org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)

  /** Write `df` to `path` z-ordered on (keyA, keyB), then write the
    * per-file stats manifest for the two keys (plus row counts). Stats
    * columns must be integral (the ledger tracks long bounds).
    */
  def writeZOrderedWithStats(df: DataFrame, keyA: String, keyB: String,
      path: String, files: Int = 8): Unit = {
    Scale.writeZOrdered(df, keyA, keyB, path, files)
    writeStats(df.sparkSession, path, Seq(keyA, keyB))
  }

  /** Build + write the manifest for already-written parquet data: one
    * aggregation keyed by file name producing `(file, n, <c>_min,
    * <c>_max ...)`, coalesced to a single sidecar file.
    */
  def writeStats(spark: SparkSession, path: String, statsCols: Seq[String]): Unit = {
    val data = spark.read.parquet(path)
    // enforce the integral contract loudly: a silently-truncating cast
    // on a DOUBLE column would record bounds that EXCLUDE matching rows
    // (e.g. min -0.5 recorded as 0), breaking prunedRead's
    // value-identity guarantee with silently missing rows
    statsCols.foreach { c =>
      val dt = data.schema(c).dataType
      require(IntegralTypes(dt),
        s"StatsManifest stats column '$c' must be integral, got $dt — " +
          "long bounds on non-integral types would truncate and mis-prune")
    }
    val aggs = count(lit(1)).as("n") +:
      statsCols.flatMap(c => Seq(
        min(col(c)).cast("long").as(s"${c}_min"),
        max(col(c)).cast("long").as(s"${c}_max")))
    data
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/$ManifestDir")
  }

  /** The manifest frame for `path`. */
  def manifest(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/$ManifestDir")

  // ---- incremental long-format ledger (appending sinks) -----------------

  /** Per-batch stats for an APPENDING, schema-EVOLVING sink
    * (EvolvingTableSink): rows are LONG format `(file, col, n, mn, mx)`
    * — schema-stable as columns come and go across appends, exactly why
    * Iceberg manifests store per-column bound MAPS, not wide columns.
    * Written under `<root>/_manifest/<batchDir>` with overwrite, so a
    * replayed batch (crash recovery wipes and rewrites its data dir)
    * atomically replaces its own stats instead of accumulating stale
    * file rows.
    */
  def appendBatchStats(spark: SparkSession, scanPath: String,
      manifestRoot: String, batchDir: String, statsCols: Seq[String]): Unit = {
    // no integral column, no ledger: return before the listing and the
    // schema-inference job the read below would cost every batch
    if (statsCols.isEmpty) return
    // an empty micro-batch leaves no parquet files under its dir —
    // nothing to stat. Checked EXPLICITLY (r12 self-review): a blanket
    // AnalysisException catch would also swallow real scan failures,
    // silently committing a batch whose files the ledger never lists
    val hasParquet = {
      val dir = java.nio.file.Paths.get(scanPath)
      java.nio.file.Files.isDirectory(dir) && {
        val walk = java.nio.file.Files.walk(dir)
        try walk.anyMatch(f => f.getFileName.toString.endsWith(".parquet"))
        finally walk.close()
      }
    }
    if (!hasParquet) return
    val data = spark.read.parquet(scanPath)
    val present = statsCols.filter(data.columns.contains)
    if (present.isEmpty) return
    // ONE scan of the batch for every column's bounds (a per-column
    // union would re-read the files once per column), unpivoted to the
    // long rows row-locally. Built with the Column API and INDEX-based
    // working aliases — no column name is ever spliced into SQL text,
    // so names with quotes/backticks/dots cannot break the write
    val idx = present.indices
    val aggs = count(lit(1)).as("n") +: idx.flatMap(i => Seq(
      min(col(present(i))).cast("long").as(s"__mn_$i"),
      max(col(present(i))).cast("long").as(s"__mx_$i")))
    val entries = array(idx.map(i => struct(
      lit(present(i)).as("col"),
      col(s"__mn_$i").as("mn"), col(s"__mx_$i").as("mx"))): _*)
    data.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("file"), col("n"), explode(entries).as("e"))
      .select(col("file"), col("n"), col("e.col").as("col"),
        col("e.mn").as("mn"), col("e.mx").as("mx"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$manifestRoot/$ManifestDir/$batchDir")
  }

  /** Files of a long-format ledger whose bounds overlap EVERY range.
    * A file with NO row for a predicate column predates that column
    * (schema evolution) — its bound is UNKNOWN, so it is conservatively
    * KEPT (Iceberg's missing-stats behavior); a file whose row carries
    * NULL bounds holds only NULLs for the column, which no range
    * predicate matches, so it is skipped. Returns (allFiles, kept) so
    * callers with their own visibility rules (the evolving sink's
    * replaced-dir exclusion after compaction) can filter BOTH sides and
    * keep the (total, read) accounting honest.
    */
  def prunedFilesLong(spark: SparkSession, manifestRoot: String,
      ranges: Seq[(String, Long, Long)]): (Seq[String], Seq[String]) = {
    require(ranges.nonEmpty, "prunedFilesLong needs at least one column range")
    val rows = spark.read.parquet(s"$manifestRoot/$ManifestDir")
      .select(col("file"), col("col"), col("mn"), col("mx")).collect()
    val byFile = rows.groupBy(_.getString(0))
    val keep = byFile.collect { case (file, frs)
      if ranges.forall { case (c, lo, hi) =>
        frs.find(_.getString(1) == c) match {
          case None => true // column unknown to this file: must read
          case Some(r) => !r.isNullAt(2) && !r.isNullAt(3) &&
            r.getLong(2) <= hi && r.getLong(3) >= lo
        }
      } => file
    }.toSeq.sorted
    (byFile.keys.toSeq.sorted, keep)
  }

  /** Result of a manifest-planned read: the data frame (already filtered
    * by the residual predicate), plus the file accounting that proves
    * skipping happened.
    */
  final case class PrunedScan(df: DataFrame, filesTotal: Long, filesRead: Long)

  /** Plan a read of `path` for the box predicate
    * `AND_i (lo_i <= col_i <= hi_i)` — the canonical z-order shape: keep
    * only files whose manifest range overlaps EVERY interval, read just
    * those, and apply the full predicate as the residual filter (bounds
    * are necessary, not sufficient). Value-identical to a full scan with
    * the same filter for ANY data: a skipped file provably contains no
    * matching row (some [min, max] is disjoint from its [lo, hi]; NULL
    * bounds — an all-NULL file column — never match a range predicate
    * either way and are skipped).
    */
  def prunedRead(spark: SparkSession, path: String,
      ranges: Seq[(String, Long, Long)]): PrunedScan = {
    require(ranges.nonEmpty, "prunedRead needs at least one column range")
    val m = manifest(spark, path).select(
      col("file") +: ranges.flatMap { case (c, _, _) =>
        Seq(col(s"${c}_min"), col(s"${c}_max")) }: _*)
      .collect()
    val keep = m.filter { r =>
      ranges.zipWithIndex.forall { case ((_, lo, hi), i) =>
        val (iLo, iHi) = (1 + 2 * i, 2 + 2 * i)
        !r.isNullAt(iLo) && !r.isNullAt(iHi) &&
          r.getLong(iLo) <= hi && r.getLong(iHi) >= lo
      }
    }.map(_.getString(0))
    val residual = ranges.map { case (c, lo, hi) =>
      col(c) >= lo && col(c) <= hi }.reduce(_ && _)
    val df =
      if (keep.isEmpty)
        // provably-empty selection: preserve the schema via a limit-0
        // scan of the full path (no files are actually read)
        spark.read.parquet(path).where(residual).limit(0)
      else spark.read.parquet(keep.toIndexedSeq: _*).where(residual)
    PrunedScan(df, m.length.toLong, keep.length.toLong)
  }
}
