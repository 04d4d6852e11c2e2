package graft.engine.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Iceberg-semantics bronze sink on plain parquet (SURVEY.md §7.4).
  *
  * Preserves the observable behaviors of the reference's Iceberg sink
  * (reference: src/consumer/data_sinks.py:68-147) without the Iceberg
  * runtime (not present in this offline build):
  *
  *   - create-on-first-write (data_sinks.py:86-101): first batch creates
  *     the table directory and a schema sidecar (the stand-in for Iceberg
  *     table metadata);
  *   - hidden day partitioning (data_sinks.py:134-144, partitionedBy
  *     days(event_timestamp)): a derived `_event_date` partition column is
  *     added at write and never supplied by writers; readers still get
  *     partition pruning from the directory layout;
  *   - schema evolution on append (data_sinks.py:103-125): new nullable
  *     columns are added; integer/float widening is accepted by casting
  *     the incoming batch to the widened type (Spark 4's parquet reader
  *     up-casts old narrow files on read); NARROWING is rejected exactly
  *     as Iceberg would reject the ALTER at execution. Unlike the
  *     reference — which fires ALTER COLUMN TYPE on any mismatch and lets
  *     Iceberg throw (SURVEY.md §2.13) — the check happens before any
  *     data is written;
  *   - batch-level exactly-once (reference README.md:41): the sidecar
  *     records the last committed batchId; a replayed foreachBatch id
  *     (checkpoint recovery) is skipped instead of double-appended;
  *   - snapshots with per-snapshot SCHEMA history (r13): every commit
  *     appends a commit-log line, schema-changing commits also log the
  *     schema, so [[readAsOf]] returns both the rows AND the schema the
  *     table had at that snapshot (Iceberg snapshot + schema-id
  *     semantics);
  *   - maintenance (r13, the gap the reference README names explicitly
  *     at /root/reference/README.md:74-80): [[compactBatches]] rewrites
  *     many small committed batch dirs into one (Iceberg
  *     rewrite_data_files — old dirs stay readable for as-of until
  *     expiry), [[expireSnapshots]] truncates history and deletes dirs
  *     no retained snapshot references (Iceberg expire_snapshots). At
  *     100 TB stream lifetime these bound the small-files and
  *     metadata-growth failure modes a per-micro-batch append otherwise
  *     guarantees.
  *
  * At 100 TB the day-partitioned append is the same layout Iceberg
  * produces underneath; the sidecar plays the metadata role for this
  * single-writer pipeline.
  */
final class EvolvingTableSink(
    val path: String,
    timestampCol: String = "event_timestamp") {

  private val PartitionCol = "_event_date"
  private val BatchCol = "_batch_id"
  private def metaPath: Path = Paths.get(path, "_graft_meta.json")
  private def commitLogPath: Path = Paths.get(path, "_graft_commits.log")
  private def schemaLogPath: Path = Paths.get(path, "_graft_schemas.log")

  // ---- metadata sidecar -------------------------------------------------

  /** lastBatchId tracks STREAMING batch ids only (replay detection);
    * backfill writes get their own negative id sequence via
    * nextBackfillId so they can never collide with — and silently
    * swallow — a future streaming batch id.
    */
  private case class Meta(schema: StructType, lastBatchId: Long, nextBackfillId: Long)

  private def readMeta(): Option[Meta] =
    if (Files.exists(metaPath)) {
      val txt = new String(Files.readAllBytes(metaPath), StandardCharsets.UTF_8)
      val lines = txt.split("\n", 3)
      Some(Meta(
        DataType.fromJson(lines(2)).asInstanceOf[StructType],
        lines(0).toLong, lines(1).toLong))
    } else None

  private def writeMeta(m: Meta): Unit = {
    Files.createDirectories(Paths.get(path))
    // atomic tmp+move (r12): the sidecar IS the commit point — a kill
    // mid-write would otherwise leave a truncated file that bricks
    // every subsequent read AND write (readMeta throws before the
    // replay path can run), the one crash window with no recovery
    val tmp = Paths.get(path, "_graft_meta.json.tmp")
    Files.write(tmp,
      (m.lastBatchId.toString + "\n" + m.nextBackfillId.toString + "\n" +
        m.schema.json).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, metaPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  // ---- evolution rules --------------------------------------------------

  private def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (a, b) if a == b => true
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType) => true
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case _ => false
  }

  /** Merged table schema after accepting a batch, or an error for
    * narrowing/incompatible changes.
    */
  private def evolve(table: StructType, batch: StructType): StructType = {
    val evolvedExisting = table.fields.map { tf =>
      batch.fields.find(_.name == tf.name) match {
        case Some(bf) if widens(bf.dataType, tf.dataType) => tf
        case Some(bf) if widens(tf.dataType, bf.dataType) =>
          tf.copy(dataType = bf.dataType) // widen the table column
        case Some(bf) =>
          throw new IllegalArgumentException(
            s"illegal type change for column ${tf.name}: ${tf.dataType.simpleString} -> ${bf.dataType.simpleString}")
        case None => tf
      }
    }
    val added = batch.fields.filter(bf => !table.fields.exists(_.name == bf.name))
      .map(_.copy(nullable = true)) // new columns arrive nullable, as in Iceberg ADD COLUMN
    StructType(evolvedExisting ++ added)
  }

  /** Align a batch to the merged schema: add missing columns as NULL,
    * cast widened columns, order columns canonically.
    */
  private def align(df: DataFrame, merged: StructType): DataFrame =
    df.select(merged.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)

  // ---- write path -------------------------------------------------------

  /** True when the batchId was already committed (checkpoint replay). */
  def isCommitted(batchId: Long): Boolean =
    batchId >= 0 && readMeta().exists(batchId <= _.lastBatchId)

  /** The shared physical append: wipe the target batch dir (idempotent
    * replay unit), write the aligned day-partitioned data, append the
    * per-batch file-stats ledger. Used by [[write]] and
    * [[compactBatches]] so the two can never drift on layout.
    */
  private def appendDir(df: DataFrame, merged: StructType, effectiveId: Long): Unit = {
    graft.engine.util.Fs.deleteRecursively(Paths.get(path, s"$BatchCol=$effectiveId"))
    align(df, merged)
      .withColumn(PartitionCol, to_date(col(timestampCol)))
      .withColumn(BatchCol, lit(effectiveId))
      .write.mode("append").partitionBy(BatchCol, PartitionCol).parquet(path)
    // an EMPTY batch writes no partition dirs at all — create the batch
    // dir explicitly so "committed id => dir exists" is an invariant
    // readAsOf's partial-expiry guard can rely on (an empty dir reads
    // as zero rows under the explicit schema either way)
    Files.createDirectories(Paths.get(path, s"$BatchCol=$effectiveId"))
    // File-stats ledger per committed batch (r12, the data-skipping
    // follow-through): Iceberg's commit records per-file column bounds
    // in its manifests; this sink records the same for every INTEGRAL
    // top-level column of the evolved schema, long-format so the ledger
    // survives schema evolution, keyed by batch dir so a crash-replay's
    // rewrite atomically replaces its own stats. Runs over the
    // just-written (hot) batch only — never a table rescan.
    val integralCols = merged.fields.collect {
      case f if graft.engine.ops.StatsManifest.IntegralTypes(f.dataType) =>
        f.name
    }.toSeq
    graft.engine.ops.StatsManifest.appendBatchStats(df.sparkSession,
      Paths.get(path, s"$BatchCol=$effectiveId").toString, path,
      s"$BatchCol=$effectiveId", integralCols)
  }

  /** Append one micro-batch. Returns false when the batchId was already
    * committed (checkpoint replay) and nothing was written.
    *
    * Idempotence: data lands under a per-batch partition directory
    * (`_batch_id=N`) which is wiped before writing, so a crash between
    * the data append and the sidecar commit leaves a partial dir that the
    * replay deletes and rewrites — no double-append (the sidecar marker
    * alone could not guarantee that; SURVEY.md §7.4's idempotent
    * per-batch overwrite). Backfills (no batchId) write under negative
    * ids from their own sequence, never touching the streaming marker.
    *
    * `beforeCommit` runs after the data is written and before the commit
    * line and the sidecar; if it throws, the batch stays uncommitted and
    * its replay rewrites it. The streaming processor waits there for the
    * batch's dead-letter write.
    */
  def write(df: DataFrame, batchId: Long = -1L,
      beforeCommit: () => Unit = () => ()): Boolean = {
    val meta = readMeta()
    if (meta.exists(m => batchId >= 0 && batchId <= m.lastBatchId)) return false
    val merged = meta.map(m => evolve(m.schema, df.schema)).getOrElse(df.schema)
    val effectiveId =
      if (batchId >= 0) batchId else meta.map(_.nextBackfillId).getOrElse(-1L)
    appendDir(df, merged, effectiveId)
    beforeCommit()
    // Snapshot commit log (r12): one `<seq> <effectiveId>` line per
    // COMMITTED write, the Iceberg-snapshot stand-in that makes as-of
    // reads real (backfills interleave with streaming ids in COMMIT
    // order, which batch ids alone cannot express). ORDER MATTERS (r12
    // self-review): the line lands BEFORE the sidecar commit — replay
    // detection keys off the sidecar, so a crash between the two
    // replays the batch and appends a fresh line for the same id
    // (the [[snapshots]] reader is last-line-wins per id, keeping this
    // append O(1) instead of rewriting the whole log per commit); the
    // reverse order would permanently drop a committed batch from
    // every snapshot. An uncommitted log line is harmless: every read
    // path intersects with committed visibility.
    val seq = nextSeq()
    // Schema history (r13, the r12 honest delta): schema-changing
    // commits log the NEW merged schema under this snapshot seq, BEFORE
    // the commit line (a schema line whose commit never lands is
    // superseded by the replay's re-append at the same seq — the reader
    // is last-entry-wins per seq), so [[schemaAt]]/[[readAsOf]] can
    // return the historical schema, not just historical rows.
    if (meta.forall(_.schema != merged)) appendSchemaLine(seq, merged)
    appendCommitLine(seq, effectiveId, Nil)
    writeMeta(Meta(merged,
      lastBatchId = if (batchId >= 0) batchId else meta.map(_.lastBatchId).getOrElse(-1L),
      nextBackfillId = if (batchId >= 0) meta.map(_.nextBackfillId).getOrElse(-1L)
        else effectiveId - 1))
    true
  }

  // ---- snapshot log -----------------------------------------------------

  /** One commit-log entry: snapshot `seq` added batch dir `id`;
    * compaction entries also list the dir ids the new dir `replaces`.
    */
  private case class LogEntry(seq: Long, id: Long, replaces: Seq[Long])

  private val LogLineRe =
    "^(\\d+) (-?\\d+)( replaces=(-?\\d+(,-?\\d+)*))?$".r

  private def nextSeq(): Long =
    rawLogLines.map(_.seq).maxOption.map(_ + 1).getOrElse(1L)

  /** Per-line CRC32 of the payload, hex. Makes log lines
    * SELF-VALIDATING (r14, r13 ADVICE): a torn prefix of a line can
    * coincidentally parse as a legitimate ENTRY (e.g. `12 345` torn at
    * `12 34`), and last-line-wins-per-id would then silently re-date an
    * already-committed batch — historical reads between the two seqs
    * would drop its rows. A torn prefix can never carry a valid CRC of
    * itself, so the strict reader rejects every incomplete line.
    */
  private def crcOf(payload: String): String = {
    val c = new java.util.zip.CRC32
    c.update(payload.getBytes(StandardCharsets.UTF_8))
    java.lang.Long.toHexString(c.getValue)
  }

  private val CrcLineRe = "^(.*) #([0-9a-f]{1,8})$".r

  /** One-time upgrade of a pre-r14 log: rewrite every line with its CRC
    * suffix (tmp+atomic-move, the sidecar discipline), so the reader can
    * run in strict mode — mixed files would reopen the torn-prefix hole
    * (a torn prefix of a CRC'd line can look like a valid legacy line).
    * Runs on the first append that sees a legacy first line; O(log) once.
    */
  private def migrateLog(p: Path): Unit = {
    if (!Files.exists(p) || Files.size(p) == 0) return
    val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    txt.takeWhile(_ != '\n') match {
      case CrcLineRe(pl, c) if c == crcOf(pl) => // already migrated
      case _ =>
        val lines = txt.split("\n").toSeq.filter(_.nonEmpty)
          .map(pl => s"$pl #${crcOf(pl)}")
        val tmp = Paths.get(p.toString + ".tmp")
        Files.write(tmp,
          (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, p,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Validated log payloads: strict CRC mode when the file is migrated
    * (first line carries a valid CRC — appends and migration keep the
    * file homogeneous), tolerant legacy passthrough otherwise (a legacy
    * file contains no CRC'd lines, so the torn-prefix confusion between
    * the two formats cannot arise within one file).
    */
  private def validatedLines(p: Path): Seq[String] =
    if (!Files.exists(p)) Nil
    else {
      val lines = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .split("\n").toSeq
      val migrated = lines.headOption.exists {
        case CrcLineRe(pl, c) => c == crcOf(pl)
        case _ => false
      }
      if (migrated) lines.collect { case CrcLineRe(pl, c) if c == crcOf(pl) => pl }
      else lines
    }

  /** Append one self-validating line, healing a torn predecessor first:
    * a crash mid-append leaves a line WITHOUT its newline, and a plain
    * append would then concatenate the new line onto the torn one —
    * losing a COMMITTED entry to the tolerant reader's skip (worse than
    * the torn line itself, which is by construction uncommitted). One
    * terminal byte is checked per append; the log stays O(1) per commit
    * (plus the one-time legacy migration).
    */
  private def appendLogLine(p: Path, line: String): Unit = {
    migrateLog(p)
    val needsNl = Files.exists(p) && Files.size(p) > 0 && {
      val ch = java.nio.channels.FileChannel.open(p,
        java.nio.file.StandardOpenOption.READ)
      try {
        val buf = java.nio.ByteBuffer.allocate(1)
        ch.read(buf, Files.size(p) - 1)
        buf.get(0) != '\n'.toByte
      } finally ch.close()
    }
    Files.write(p,
      ((if (needsNl) "\n" else "") + line + s" #${crcOf(line)}" + "\n")
        .getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }

  private def appendCommitLine(seq: Long, id: Long, replaces: Seq[Long]): Unit = {
    val suffix =
      if (replaces.isEmpty) "" else replaces.mkString(" replaces=", ",", "")
    appendLogLine(commitLogPath, s"$seq $id$suffix")
  }

  /** Tolerant log read (r12 ADVICE): a crash mid-append can tear the
    * LAST line (`7` / `7 ` / half a digit). A torn line is by
    * construction an uncommitted attempt — its sidecar commit never ran
    * — so skipping every non-matching line is safe and self-healing
    * (the replay re-appends a whole line); throwing would brick every
    * subsequent write/read with no recovery path, the exact failure
    * class the r12 tmp+atomic-move fixed for the meta sidecar. Since
    * r14 the CRC check in [[validatedLines]] rejects torn prefixes that
    * would otherwise PARSE (the `12 345` -> `12 34` case, which
    * last-line-wins would mistake for a re-commit).
    */
  private def rawLogLines: Seq[LogEntry] =
    validatedLines(commitLogPath).collect {
      case LogLineRe(s, id, _, reps, _) =>
        LogEntry(s.toLong, id.toLong,
          Option(reps).map(_.split(",").toSeq.map(_.toLong)).getOrElse(Nil))
    }

  /** Effective entries: last line WINS per batch id (a crash-replayed
    * batch appends a fresh line superseding the failed attempt's — the
    * same id never legitimately commits twice, the sidecar guard), in
    * seq order. Stable within equal seqs (expiry's baseline lines share
    * one seq; they are all adds, so their relative order is free).
    */
  private def effectiveEntries: Seq[LogEntry] = {
    val lines = rawLogLines
    val last = lines.zipWithIndex.groupBy(_._1.id).values.map(_.last).toSeq
    last.sortBy { case (e, i) => (e.seq, i) }.map(_._1)
  }

  /** Entries whose own dir id is COMMITTED. The commit line lands before
    * the sidecar commit, so a crash window can leave a logged-but-
    * uncommitted entry — neither its ADD nor its REPLACES may take
    * effect until the replay commits (an uncommitted compaction's
    * `replaces` would otherwise hide committed rows — data loss).
    */
  private def committedEntries(m: Meta): Seq[LogEntry] =
    effectiveEntries.filter(e =>
      e.id >= m.nextBackfillId + 1 && e.id <= m.lastBatchId)

  private def visibleFold(entries: Seq[LogEntry]): Seq[Long] = {
    val vis = scala.collection.mutable.LinkedHashSet[Long]()
    entries.foreach { e => vis += e.id; e.replaces.foreach(vis -= _) }
    vis.toSeq
  }

  /** Committed snapshots in commit order: (snapshot seq, batch dir id
    * that commit added).
    */
  def snapshots: Seq[(Long, Long)] = readMeta() match {
    case None => Nil
    case Some(m) => committedEntries(m).map(e => (e.seq, e.id))
  }

  /** Committed snapshot seqs, ascending (the catalog's time-travel
    * surface enumerates these).
    */
  def snapshotSeqs: Seq[Long] = snapshots.map(_._1).distinct

  /** Batch dir ids visible in snapshot `seq` (committed adds minus
    * committed replaces, folded in commit order).
    */
  def visibleIdsAsOf(seq: Long): Seq[Long] = readMeta() match {
    case None => Nil
    case Some(m) => visibleFold(committedEntries(m).filter(_.seq <= seq))
  }

  /** Dir ids replaced by committed compactions — excluded from the
    * CURRENT table but kept on disk for as-of reads until
    * [[expireSnapshots]] deletes them.
    */
  def replacedBatchIds: Seq[Long] = readMeta() match {
    case None => Nil
    case Some(m) => committedEntries(m).flatMap(_.replaces).distinct
  }

  /** True when snapshot `seq` is fully answerable: every visible dir an
    * expiry could have deleted (only REPLACED ids ever are) still
    * exists. Mirrors [[readAsOf]]'s partial-expiry guard — including
    * its exemption for never-replaced missing dirs (pre-r13 empty
    * committed batches, which read as zero rows exactly). The catalog
    * uses this to decide snapshot-view publishability.
    */
  def snapshotIntact(seq: Long): Boolean = readMeta() match {
    case None => false
    case Some(m) =>
      val entries = committedEntries(m)
      val replacedEver = entries.flatMap(_.replaces).toSet
      visibleFold(entries.filter(_.seq <= seq)).forall(id =>
        !replacedEver.contains(id) ||
          Files.isDirectory(Paths.get(path, s"$BatchCol=$id")))
  }

  // ---- schema history ---------------------------------------------------

  private def appendSchemaLine(seq: Long, schema: StructType): Unit = {
    Files.createDirectories(Paths.get(path))
    appendLogLine(schemaLogPath, s"$seq ${schema.json}")
  }

  /** Tolerant schema-log read: (seq, schema) in file order. Torn or
    * unparseable lines are skipped for the same reason as
    * [[rawLogLines]] — a torn line's commit never landed, and its
    * replay re-appends a whole line at the same seq (last wins).
    */
  private def schemaLogEntries: Seq[(Long, StructType)] =
    validatedLines(schemaLogPath).flatMap { line =>
      val cut = line.indexOf(' ')
      if (cut <= 0) None
      else scala.util.Try {
        (line.substring(0, cut).toLong,
          DataType.fromJson(line.substring(cut + 1)).asInstanceOf[StructType])
      }.toOption
    }

  /** The table schema as of snapshot `seq`: the last schema logged at or
    * before it. Tables created before the schema log existed fall back
    * to the current schema (the pre-r13 behavior, now confined to
    * pre-upgrade history).
    */
  def schemaAt(seq: Long): StructType = {
    val m = readMeta().getOrElse(
      throw new IllegalStateException(s"no table at $path"))
    schemaLogEntries.filter(_._1 <= seq).lastOption.map(_._2).getOrElse(m.schema)
  }

  // ---- read paths ---------------------------------------------------------

  /** Snapshot (as-of) read: the table as it stood after commit `seq` —
    * exactly the batch dirs visible then, in COMMIT order (a backfill
    * committed after a streaming batch is excluded from earlier
    * snapshots even though its id is lower), under the HISTORICAL
    * schema (r13): rows are read under the current evolved schema —
    * every visible file conforms to it — then projected/down-cast to
    * the schema logged at `seq`. Evolution is monotone (adds + widens
    * only), so every visible row fits the historical schema exactly and
    * the down-cast is value-exact.
    */
  def readAsOf(spark: SparkSession, seq: Long): DataFrame = {
    val meta = readMeta()
      .getOrElse(throw new IllegalStateException(s"no table at $path"))
    if (!Files.exists(commitLogPath)) {
      // pre-log table (r12 ADVICE): committed data, no commit log —
      // `snapshots` is empty, so every seq would silently read zero
      // rows. The latest snapshot is still well-defined (the committed
      // read); any historical seq is unanswerable.
      if (seq == Long.MaxValue) return read(spark)
      throw new IllegalStateException(
        s"no snapshot history at $path (table predates the commit log); " +
          "only readAsOf(Long.MaxValue) is answerable")
    }
    val entries = committedEntries(meta)
    val firstSeq = entries.headOption.map(_.seq).getOrElse(1L)
    if (seq < firstSeq && firstSeq > 1)
      throw new IllegalStateException(
        s"snapshot $seq at $path has been expired (earliest retained: $firstSeq)")
    val visible = visibleFold(entries.filter(_.seq <= seq))
    // partial-expiry guard (r13 self-review): a crash between expiry's
    // dir deletes and its log truncation leaves DOOMED snapshots still
    // logged but missing dirs — answer with a throw, never with
    // silently-partial rows. O(|visible|) existence probes on the
    // as-of path only; the current-table read never pays them (every
    // orphan is replaced-excluded there). Exemption (r14, r13 ADVICE):
    // expiry only ever deletes REPLACED dirs, so a missing dir for a
    // never-replaced id cannot be an expiry victim — it is a pre-r13
    // EMPTY committed batch written before the explicit empty-dir
    // creation existed, and reading past it is exact (zero rows).
    val replacedEver = entries.flatMap(_.replaces).toSet
    val missing = visible.filter(id => replacedEver.contains(id) &&
      !Files.isDirectory(Paths.get(path, s"$BatchCol=$id")))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"snapshot $seq at $path has been partially expired (batch dirs " +
          s"${missing.mkString(", ")} deleted); retry expireSnapshots to " +
          "truncate the log")
    val hist = schemaAt(seq)
    val projection = hist.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toSeq ++
      Seq(col(BatchCol), col(PartitionCol))
    if (visible.isEmpty)
      spark.read.schema(fullSchema(meta)).parquet(path)
        .where(lit(false)).select(projection: _*)
    else
      spark.read.schema(fullSchema(meta)).parquet(path)
        .where(col(BatchCol).isin(visible: _*)).select(projection: _*)
  }

  /** The read schema: the evolved data schema plus the two hidden
    * partition columns (single source of truth for read/readAsOf/
    * prunedRead).
    */
  private def fullSchema(meta: Meta): StructType = meta.schema
    .add(BatchCol, LongType, nullable = true)
    .add(PartitionCol, DateType, nullable = true)

  /** Read the table back under the evolved schema (old narrow/absent
    * columns up-cast/null-filled by the parquet reader). Only COMMITTED
    * batches are visible: an uncommitted partial dir left by a crash
    * (data appended, sidecar not yet updated) is filtered out until its
    * replay rewrites it; dirs a committed compaction replaced are
    * excluded too (their rows live on in the compacted dir). The
    * replaced-id exclusion is empty for never-compacted tables, so the
    * steady-path plan is the same cheap range filter as before.
    */
  def read(spark: SparkSession): DataFrame = {
    val meta = readMeta()
      .getOrElse(throw new IllegalStateException(s"no table at $path"))
    val base = spark.read.schema(fullSchema(meta)).parquet(path)
      .where(col(BatchCol).between(meta.nextBackfillId + 1, meta.lastBatchId))
    val replaced = replacedBatchIds
    if (replaced.isEmpty) base
    else base.where(!col(BatchCol).isin(replaced: _*))
  }

  /** Manifest-planned read for the box predicate
    * `AND_i (lo_i <= col_i <= hi_i)` over integral columns: plans the
    * file list from the per-batch stats ledger (files whose recorded
    * bounds cannot overlap are never opened; files predating a column
    * are conservatively read — the Iceberg missing-stats rule), applies
    * the predicate as the residual filter, and keeps [[read]]'s
    * committed-only visibility (including the replaced-dir exclusion
    * after compaction). Returns the frame plus (filesTotal, filesRead)
    * accounting, both counted over VISIBLE files only — a replaced
    * dir's not-yet-expired ledger rows appear on neither side, so the
    * skip ratio reflects bounds-based pruning alone. Value-identical to
    * `read(spark).where(predicate)` for any data.
    */
  def prunedRead(spark: SparkSession,
      ranges: Seq[(String, Long, Long)]): (DataFrame, Long, Long) = {
    val meta = readMeta()
      .getOrElse(throw new IllegalStateException(s"no table at $path"))
    val replaced = replacedBatchIds.toSet
    // ledger coverage is per BATCH DIR: any committed batch dir WITHOUT
    // a ledger entry (pre-ledger table, empty-batch skip, or a missing
    // _manifest dir entirely) is conservatively read WHOLE — the same
    // missing-stats rule applied at dir granularity; without this, an
    // unledgered batch's rows would silently vanish from pruned results
    def subDirs(p: Path, prefix: String): Seq[String] =
      if (!Files.isDirectory(p)) Nil
      else {
        val s = Files.list(p)
        try {
          val it = s.iterator()
          val b = Seq.newBuilder[String]
          while (it.hasNext) {
            val f = it.next()
            if (Files.isDirectory(f) && f.getFileName.toString.startsWith(prefix))
              b += f.getFileName.toString
          }
          b.result()
        } finally s.close()
      }
    val batchDirs = subDirs(Paths.get(path), s"$BatchCol=")
    val ledgered = subDirs(Paths.get(path, "_manifest"), "").toSet
    val (all0, keep0) =
      if (ledgered.isEmpty) (Seq.empty[String], Seq.empty[String])
      else graft.engine.ops.StatsManifest.prunedFilesLong(spark, path, ranges)
    // a crash between a replay's data rewrite and its ledger overwrite
    // can leave rows naming deleted files. Only an UNCOMMITTED batch
    // can be in that state (the ledger overwrite happens before the
    // sidecar commit), so the existence check is restricted to files
    // of uncommitted batch dirs — zero driver syscalls on the steady
    // path, never one per planned file (r12 self-review: planning must
    // stay one-object, the reason the ledger exists)
    val batchIdRe = java.util.regex.Pattern.compile(
      java.util.regex.Pattern.quote(BatchCol) + "=(-?\\d+)/")
    def dirId(f: String): Option[Long] = {
      val m = batchIdRe.matcher(f)
      if (m.find()) Some(m.group(1).toLong) else None
    }
    def inRange(id: Long): Boolean =
      id >= meta.nextBackfillId + 1 && id <= meta.lastBatchId
    // the visibility predicate filters BOTH the total and the kept side
    // (r13): after a compaction the replaced dirs' ledger rows survive
    // until expiry, and counting them in filesTotal would overstate the
    // skip ratio — they are excluded by VISIBILITY, not by bounds
    def visibleFile(f: String): Boolean = dirId(f) match {
      case Some(id) if inRange(id) => !replaced.contains(id)
      case _ => Files.exists(Paths.get(f.stripPrefix("file:")))
    }
    val all = all0.filter(visibleFile)
    val keep = keep0.filter(visibleFile)
    val unledgeredDirs = batchDirs.filterNot(ledgered.contains)
      .filterNot { d =>
        dirId(d + "/").exists(replaced.contains)
      }
      .map(d => s"$path/$d")
    // accounting stays in FILE units on both sides (r12 self-review):
    // unledgered dirs contribute their actual parquet file counts, so
    // the (filesTotal, filesRead) ratio never overstates skipping on a
    // mixed table. The walk touches only the rare unledgered dirs.
    val unledgeredFiles = unledgeredDirs.map { dir =>
      val p = Paths.get(dir)
      if (!Files.isDirectory(p)) 0L
      else {
        val w = Files.walk(p)
        try w.filter(f => f.getFileName.toString.endsWith(".parquet")).count()
        finally w.close()
      }
    }.sum
    val residualBase = ranges.map { case (c, lo, hi) =>
      col(c) >= lo && col(c) <= hi }.reduce(_ && _) &&
      col(BatchCol).between(meta.nextBackfillId + 1, meta.lastBatchId)
    val residual =
      if (replaced.isEmpty) residualBase
      else residualBase && !col(BatchCol).isin(replaced.toSeq: _*)
    val paths = keep ++ unledgeredDirs
    val df =
      if (paths.isEmpty)
        spark.read.schema(fullSchema(meta)).parquet(path).where(residual).limit(0)
      else
        // basePath recovers the _batch_id/_event_date partition columns
        // from the selected files' directory segments
        spark.read.option("basePath", path).schema(fullSchema(meta))
          .parquet(paths: _*).where(residual)
    (df, all.size + unledgeredFiles, keep.size + unledgeredFiles)
  }

  def tableSchema: Option[StructType] = readMeta().map(_.schema)

  /** Inclusive `_batch_id` range of COMMITTED data (backfills use the
    * negative id sequence below the low bound, streaming batches the
    * non-negative ids up to the high bound). Catalog registration uses
    * this (plus [[replacedBatchIds]]) to publish the same committed-only
    * visibility `read` enforces.
    */
  def committedBatchRange: Option[(Long, Long)] =
    readMeta().map(m => (m.nextBackfillId + 1, m.lastBatchId))

  // ---- maintenance (r13) --------------------------------------------------

  /** On-disk bytes of a batch dir (driver-side walk; manifest-planning
    * cost class — runs only over compaction candidates).
    */
  private def dirBytes(id: Long): Long = {
    val p = Paths.get(path, s"$BatchCol=$id")
    if (!Files.isDirectory(p)) 0L
    else {
      val w = Files.walk(p)
      try w.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
      finally w.close()
    }
  }

  /** `_event_date=` partition values present in a batch dir (directory
    * names; NULL days surface as Hive's default-partition token).
    */
  private def daysOf(id: Long): Seq[String] = {
    val p = Paths.get(path, s"$BatchCol=$id")
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.list(p)
      try {
        val it = s.iterator()
        val b = Seq.newBuilder[String]
        while (it.hasNext) {
          val f = it.next()
          val n = f.getFileName.toString
          if (Files.isDirectory(f) && n.startsWith(s"$PartitionCol="))
            b += n.substring(PartitionCol.length + 1)
        }
        b.result().sorted
      } finally s.close()
    }
  }

  private val NullDay = "__HIVE_DEFAULT_PARTITION__"

  /** Compaction (Iceberg rewrite_data_files; the maintenance gap the
    * reference names at README.md:74-80): rewrite SMALL batch dirs
    * visible in the CURRENT table whose commit seq is <= `upToSeq` into
    * fewer, bigger committed dirs. The old dirs stay on disk — every
    * pre-compaction snapshot remains as-of-readable — until
    * [[expireSnapshots]] drops them; the current read excludes them via
    * the commit line's `replaces` list. The logical table is unchanged
    * (same rows, same schema — `_batch_id` values move to the new dir's
    * id), so callers' value-identity holds on every data column.
    *
    * `targetBytes` (r14, the r13 verdict's write-amplification fix):
    * dirs already at or above this size are SKIPPED — in steady state
    * that is every previous compaction's output, so a recurring
    * maintenance tick rewrites only NEW data instead of the whole table
    * every N batches (the difference between O(T) and O(T²/N) bytes
    * written over a stream's lifetime; Iceberg's rewrite_data_files
    * applies the same small-files-only rule). The default MaxValue
    * keeps the explicit full rewrite available.
    *
    * `byDay` (r14): day-partition-granular rewrite. Targets group by
    * their `_event_date` value and each day compacts into its OWN
    * output dir (one snapshot commits them all), so a day that stopped
    * receiving data settles into a single-day dir that later ticks
    * never rewrite — a single-day dir that is ALONE for its day is
    * already compact and is excluded from the rewrite no matter how
    * small. At 100 TB bronze this is the difference between
    * maintenance cost proportional to the CURRENT day and maintenance
    * that re-buckets all of history on every tick.
    *
    * `clusterBy` (Iceberg rewrite's sort-order): when set, the rewrite
    * range-partitions on those columns instead of coalescing, so each
    * output file's ledger bounds stay NARROW on the clustering keys and
    * manifest-planned reads keep skipping files after compaction — a
    * plain coalesce mixes every input range into every output file and
    * widens the bounds to useless. Costs the rewrite one shuffle.
    *
    * Returns the new snapshot seq, or None when nothing qualifies.
    * Crash-safe like [[write]]: the new dirs + ledgers + log lines land
    * before the sidecar commit, and an uncommitted compaction line's
    * add AND replaces are both ignored by every reader until a retry
    * commits under fresh backfill ids.
    */
  def compactBatches(spark: SparkSession, upToSeq: Long = Long.MaxValue,
      files: Int = 4, clusterBy: Seq[String] = Nil,
      targetBytes: Long = Long.MaxValue, byDay: Boolean = false): Option[Long] = {
    val meta = readMeta()
      .getOrElse(throw new IllegalStateException(s"no table at $path"))
    val entries = committedEntries(meta)
    val visibleNow = visibleFold(entries).toSet
    val candidates = entries.collect {
      case e if e.seq <= upToSeq && visibleNow(e.id) => e.id
    }.filter(id => targetBytes == Long.MaxValue || dirBytes(id) < targetBytes)
    def shape(base: DataFrame): DataFrame =
      if (clusterBy.isEmpty) base.coalesce(math.max(1, files))
      else base.repartitionByRange(math.max(1, files), clusterBy.map(col): _*)
    if (!byDay) {
      val targets = candidates
      if (targets.size < 2) return None
      val newId = meta.nextBackfillId
      // coalesce (narrow, no shuffle) bounds output files at `files` per
      // task-held day partition — the whole point is fewer, bigger
      // files; clusterBy trades that narrowness for one range shuffle
      // that keeps per-file stats bounds selective
      val rows = shape(read(spark)
        .where(col(BatchCol).isin(targets: _*))
        .drop(BatchCol, PartitionCol))
      appendDir(rows, meta.schema, newId)
      val seq = nextSeq()
      // no schema line: compaction rewrites DATA under the unchanged
      // current schema (schemaAt(seq) resolves to the latest logged one)
      appendCommitLine(seq, newId, targets)
      writeMeta(meta.copy(nextBackfillId = newId - 1))
      Some(seq)
    } else {
      val daySets = candidates.map(id => id -> daysOf(id)).toMap
      val dayCount = daySets.values.flatten
        .groupBy(identity).map { case (d, ds) => d -> ds.size }
      // already-compact dirs: single-day and alone for that day — a
      // rewrite would produce an identical dir. Empty dirs (no day
      // subdirs, zero rows) have nothing to rewrite either.
      val targets = candidates.filter { id =>
        val ds = daySets(id)
        ds.nonEmpty && !(ds.size == 1 && dayCount(ds.head) == 1)
      }
      if (targets.isEmpty) return None
      val days = targets.flatMap(daySets).distinct.sorted
      val base = read(spark).where(col(BatchCol).isin(targets: _*))
      val seq = nextSeq()
      days.zipWithIndex.foreach { case (day, i) =>
        val newId = meta.nextBackfillId - i
        val pred =
          if (day == NullDay) col(PartitionCol).isNull
          else col(PartitionCol) === lit(java.sql.Date.valueOf(day))
        appendDir(shape(base.where(pred).drop(BatchCol, PartitionCol)),
          meta.schema, newId)
        // all the day outputs commit under ONE snapshot seq; the full
        // replaces list rides the first line (the fold applies adds and
        // removes per line, and as-of filters at whole-seq granularity)
        appendCommitLine(seq, newId, if (i == 0) targets else Nil)
      }
      writeMeta(meta.copy(nextBackfillId = meta.nextBackfillId - days.size))
      Some(seq)
    }
  }

  /** Snapshot expiry (Iceberg expire_snapshots): retain only the last
    * `keepLast` snapshots. Batch dirs (and their ledger entries) no
    * retained snapshot references are deleted, then the commit log is
    * truncated to a BASELINE — the oldest retained snapshot's visible
    * set materialized as adds at its seq — plus the younger entries
    * verbatim, so every retained snapshot folds to exactly the same
    * visible set as before. [[readAsOf]] of an expired seq then THROWS
    * (earliest retained seq is in the message) instead of answering
    * wrong. Uncommitted dirs are left alone: they belong to an
    * in-flight replay that will wipe and rewrite them itself.
    *
    * Crash ordering (r13 self-review): deletes run BEFORE the log
    * rewrite. Every orphan is by construction a REPLACED id (it was
    * removed from visibility by some committed compaction), so the
    * current table and every retained snapshot exclude it already —
    * deleting it early changes no retained answer. The reverse order
    * had a real window: the rewrite subsumes the `replaces` info, so a
    * kill before the deletes left the orphans inside the committed
    * range with NO exclusion — the current read double-counted their
    * rows permanently. The remaining window (kill between deletes and
    * rewrite) affects only the DOOMED snapshots, whose as-of reads now
    * detect the missing dirs and throw "partially expired" (see
    * [[readAsOf]]) until an expiry retry truncates the log; the retry
    * is idempotent.
    *
    * Returns the deleted batch dir ids.
    */
  def expireSnapshots(keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val meta = readMeta()
      .getOrElse(throw new IllegalStateException(s"no table at $path"))
    val entries = committedEntries(meta)
    val seqs = entries.map(_.seq).distinct.sorted
    if (seqs.size <= keepLast) return Nil
    val cut = seqs(seqs.size - keepLast) // oldest retained snapshot seq
    // baseline = the visible set AT the cut snapshot (the cut entry is
    // subsumed into it); younger entries replay verbatim on top. Live =
    // exactly the union of every retained snapshot's visible set: the
    // retained seqs are the contiguous suffix >= cut, so that union is
    // visible-at-cut plus the ids the younger entries add — an id only
    // a pre-cut snapshot could see is provably unreachable and its dir
    // is deleted.
    val baseline = visibleFold(entries.filter(_.seq <= cut))
    val kept = entries.filter(_.seq > cut)
    val live = (baseline ++ kept.map(_.id)).toSet
    // phase 1: delete orphaned committed dirs + their ledger entries
    val dirRe = java.util.regex.Pattern.compile(
      java.util.regex.Pattern.quote(BatchCol) + "=(-?\\d+)$")
    val deleted = Seq.newBuilder[Long]
    val listing = Files.list(Paths.get(path))
    try {
      val it = listing.iterator()
      while (it.hasNext) {
        val d = it.next()
        val m = dirRe.matcher(d.getFileName.toString)
        if (Files.isDirectory(d) && m.matches()) {
          val id = m.group(1).toLong
          val committed = id >= meta.nextBackfillId + 1 && id <= meta.lastBatchId
          if (committed && !live.contains(id)) {
            graft.engine.util.Fs.deleteRecursively(d)
            graft.engine.util.Fs.deleteRecursively(
              Paths.get(path, "_manifest", d.getFileName.toString))
            deleted += id
          }
        }
      }
    } finally listing.close()
    // phase 2: rewrite the log atomically (tmp+move, the sidecar
    // discipline)
    val lines = baseline.map(id => s"$cut $id") ++ kept.map { e =>
      val suffix =
        if (e.replaces.isEmpty) "" else e.replaces.mkString(" replaces=", ",", "")
      s"${e.seq} ${e.id}$suffix"
    }
    val tmp = Paths.get(path, "_graft_commits.log.tmp")
    Files.write(tmp, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, commitLogPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    deleted.result()
  }

  /** Orphan cleanup (Iceberg remove_orphan_files, completing the
    * maintenance trio with [[compactBatches]] and [[expireSnapshots]]):
    * delete UNCOMMITTED batch dirs older than `graceMs`. An
    * uncommitted dir is either a crashed streaming attempt whose
    * replay will wipe-and-rewrite it, or a crashed backfill/compaction
    * whose id the next backfill reuses — both self-heal IF the
    * pipeline resumes, but a retired stream leaves them as permanent
    * dead bytes. The grace window (default 24h, Iceberg's
    * older_than default shape) is what separates "in-flight" from
    * "dead": never run with a grace shorter than the longest possible
    * in-flight write. Committed dirs are NEVER touched — expiry owns
    * those. Returns the deleted dir ids.
    */
  def removeOrphanDirs(graceMs: Long = 24L * 3600 * 1000): Seq[Long] = {
    val meta = readMeta()
      .getOrElse(throw new IllegalStateException(s"no table at $path"))
    val cutoff = System.currentTimeMillis() - graceMs
    val dirRe = java.util.regex.Pattern.compile(
      java.util.regex.Pattern.quote(BatchCol) + "=(-?\\d+)$")
    val deleted = Seq.newBuilder[Long]
    val listing = Files.list(Paths.get(path))
    try {
      val it = listing.iterator()
      while (it.hasNext) {
        val d = it.next()
        val m = dirRe.matcher(d.getFileName.toString)
        if (Files.isDirectory(d) && m.matches()) {
          val id = m.group(1).toLong
          val committed = id >= meta.nextBackfillId + 1 && id <= meta.lastBatchId
          if (!committed &&
              Files.getLastModifiedTime(d).toMillis < cutoff) {
            graft.engine.util.Fs.deleteRecursively(d)
            graft.engine.util.Fs.deleteRecursively(
              Paths.get(path, "_manifest", d.getFileName.toString))
            deleted += id
          }
        }
      }
    } finally listing.close()
    deleted.result()
  }
}
