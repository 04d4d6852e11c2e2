package graft.engine.stream

import java.util.concurrent.{CompletableFuture, CompletionException, ExecutorService, Executors}

import org.apache.spark.sql.{classic, DataFrame, Observation}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.engine.ingest.{EventSchema, JsonArrayBatchParser, Router}
import graft.engine.sinks.{EvolvingTableSink, ParquetAppendSink}

/** Streaming core: raw batch-file stream -> parse -> route -> dual sink
  * (reference: src/consumer/stream_processor.py:24-167).
  *
  * Ports the reference semantics — foreachBatch fan-out to a valid sink
  * and a dead-letter sink (stream_processor.py:124-129,148-157),
  * processing-time trigger (T1), checkpointed batch-level exactly-once
  * (T6) — with three deliberate physical upgrades over the reference
  * (SURVEY.md §4.3):
  *
  *   - the micro-batch is persisted before the two sink writes, so the
  *     parse plan executes once, not once per write;
  *   - the two sink writes run at the same time: the dead-letter write
  *     on a sink-writer thread that carries the stream's job group,
  *     session and SQL properties, the bronze write on the stream
  *     thread. A batch costs two overlapped jobs instead of two serial
  *     ones. The bronze commit still lands only after the dead letters
  *     are written, so a crash can only duplicate dead letters on
  *     replay, never lose them;
  *   - valid/dead-letter counters come from one observe() per sink
  *     write, riding the write jobs, replacing the reference's two extra
  *     count() jobs per micro-batch (stream_processor.py:118-122).
  *
  * The parse+route path is narrow (no shuffle before the sinks), so at
  * cluster scale each input file partition flows straight to its
  * partitioned parquet writers.
  */
final class StreamProcessor(
    validSink: EvolvingTableSink,
    deadLetterSink: ParquetAppendSink,
    schema: StructType = EventSchema.schema,
    checkpointLocation: String,
    trigger: Trigger = Trigger.ProcessingTime("30 seconds"),
    maintenanceEvery: Int = 0,
    maintenanceKeepSnapshots: Int = 10,
    maintenanceTargetBytes: Long = 128L * 1024 * 1024) {

  private val parser = new JsonArrayBatchParser(schema)

  @volatile private var lastCounts: (Long, Long) = (0L, 0L)

  /** (valid, deadLetter) row counts of the most recent micro-batch. */
  def lastBatchCounts: (Long, Long) = lastCounts

  /** Route one micro-batch to both sinks (the foreachBatch callback —
    * callable directly for batch backfills too).
    *
    * Ordering on replay: the bronze sink's sidecar marker is the commit
    * point. The dead-letter write starts first and runs alongside the
    * bronze data write; the bronze sink waits for it before its commit
    * line and sidecar, so a crash or a failed dead-letter write leaves
    * the batch uncommitted and the replay rewrites both (at-least-once
    * DLQ, never a lost dead letter). The bronze append itself is
    * idempotent per batchId (per-batch partition dir), so the marker-last
    * ordering gives batch-level exactly-once on the valid path.
    *
    * The dead-letter write is always joined before the batch is
    * unpersisted and before this returns, and its failure surfaces as
    * its own cause, not wrapped in the future's exception.
    */
  def routeBatch(batch: DataFrame, batchId: Long): Unit = {
    if (validSink.isCommitted(batchId)) return // replay: both sinks done
    val routed = Router.withReason(parser.parse(batch), schema)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // one Observation per write: two jobs read the cached frame at
      // once, so a metric on the shared plan could be read before the
      // other job's task updates arrive
      val validObs = Observation(s"valid_$batchId")
      val deadObs = Observation(s"dead_$batchId")
      // the sink-writer thread gets the stream's job group, active
      // session and SQL properties: its jobs are cancelled by
      // query.stop() and attributed to this micro-batch
      val deadWrite = SQLExecution.withThreadLocalCaptured(
          batch.sparkSession.asInstanceOf[classic.SparkSession], StreamProcessor.sinkWriters) {
        deadLetterSink.write(Router.deadLetters(routed, schema)
          .observe(deadObs, count(lit(1)).as("rows")))
      }
      val committed =
        try validSink.write(
          Router.valid(routed, schema).observe(validObs, count(lit(1)).as("rows")),
          batchId, beforeCommit = () => StreamProcessor.await(deadWrite))
        finally StreamProcessor.settle(deadWrite)
      StreamProcessor.await(deadWrite)
      // Observation.get blocks until its write ran, which both have now
      if (committed)
        lastCounts = (validObs.get("rows").asInstanceOf[Long],
          deadObs.get("rows").asInstanceOf[Long])
    } finally routed.unpersist()
    // In-line bronze maintenance (r13; the scheduled Iceberg
    // rewrite/expire the reference README names as missing,
    // /root/reference/README.md:74-80): every `maintenanceEvery`
    // committed batches, compact the visible batch dirs and expire all
    // but the newest `maintenanceKeepSnapshots` snapshots. Runs AFTER
    // the batch's commit (the sidecar marker), so a crash inside
    // maintenance never affects exactly-once replay — both ops are
    // crash-safe and idempotent on their own logs. Default OFF: a
    // deployment that schedules maintenance out-of-band (the usual
    // Iceberg pattern) leaves it 0.
    //
    // The rewrite is INCREMENTAL (r14): size-thresholded + day-granular,
    // so a tick rewrites only the new small dirs of still-active days —
    // never the previous ticks' outputs (the r13 verdict's O(T²/N)
    // write-amplification fix: steady-state maintenance bytes are
    // proportional to NEW data, not to table size).
    if (maintenanceEvery > 0 && batchId >= 0 && batchId % maintenanceEvery == 0) {
      validSink.compactBatches(batch.sparkSession,
        targetBytes = maintenanceTargetBytes, byDay = true)
      validSink.expireSnapshots(maintenanceKeepSnapshots)
    }
  }

  /** Start the streaming query over a raw text stream (column `value`). */
  def start(raw: DataFrame): StreamingQuery =
    raw.writeStream
      .option("checkpointLocation", checkpointLocation)
      .trigger(trigger)
      .foreachBatch(routeBatch _)
      .start()

  /** T8: run until externally interrupted, stopping the query cleanly on
    * JVM shutdown (the reference's KeyboardInterrupt -> query.stop path,
    * reference: src/consumer/stream_processor.py:158-167), logging the
    * T7 progress fields on the same <=10s poll cadence.
    */
  def runUntilInterrupted(raw: DataFrame, pollMs: Long = 10000L,
      log: String => Unit = s => println(s"[stream] $s")): Unit = {
    val query = start(raw)
    val hook = new Thread(() => if (query.isActive) query.stop())
    Runtime.getRuntime.addShutdownHook(hook)
    try {
      while (query.isActive) {
        query.awaitTermination(pollMs)
        progressSummary(query).foreach(log)
      }
    } finally {
      if (query.isActive) query.stop()
      try Runtime.getRuntime.removeShutdownHook(hook) catch { case _: IllegalStateException => }
    }
  }

  /** T7: the progress fields the reference logs per poll
    * (reference: src/consumer/stream_processor.py:137-144).
    */
  def progressSummary(q: StreamingQuery): Option[String] =
    Option(q.lastProgress).map { p =>
      s"batchId=${p.batchId} numInputRows=${p.numInputRows} " +
        s"inputRowsPerSecond=${p.inputRowsPerSecond} " +
        s"processedRowsPerSecond=${p.processedRowsPerSecond} " +
        s"triggerExecutionMs=${Option(p.durationMs.get("triggerExecution")).getOrElse(0L)}"
    }
}

object StreamProcessor {

  /** Sink-writer threads, one per micro-batch in flight: daemon, so an
    * abandoned write never holds the JVM open; idle threads exit after a
    * minute.
    */
  private lazy val sinkWriters: ExecutorService =
    Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, "graft-sink-writer")
      t.setDaemon(true)
      t
    }

  /** Wait for `f` to finish, whatever its outcome. */
  private def settle(f: CompletableFuture[Unit]): Unit =
    try f.join() catch { case _: CompletionException => }

  /** Wait for `f` and rethrow its own failure, not the wrapper. */
  private def await(f: CompletableFuture[Unit]): Unit =
    try f.join()
    catch { case e: CompletionException if e.getCause != null => throw e.getCause }
}
