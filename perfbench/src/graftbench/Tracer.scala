package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.RDDBlockId

import Tracer.Unresolved

/** One timed interval: run, phase, operation, build/action/batch/addBatch,
  * job or stage. Times are epoch milliseconds; `op` is the id of the
  * operation span the interval belongs to (0 above operation level).
  */
final case class Span(id: Long, parent: Long, op: Long, kind: String,
    name: String, start: Double, end: Double, attrs: Map[String, Double] = Map.empty) {
  def ms: Double = end - start
}

/** One micro-batch progress report, copied off the listener bus. */
final case class Progress(runId: String, batchId: Long, startMs: Double,
    durations: Map[String, Double], inputRows: Long,
    stateUpdateMs: Double, stateCommitMs: Double, stateRows: Long, stateBytes: Long) {
  def trigger: Double = durations.getOrElse("triggerExecution", 0.0)
}

/** Completed-stage task totals. */
final case class StageRec(id: Int, job: Int, start: Double, end: Double, tasks: Int,
    runMs: Double, cpuMs: Double, gcMs: Double, shuffleReadB: Long,
    shuffleWriteB: Long, spillB: Long, inputRows: Long)

/** A job with its attribution keys: the job group (one per benchmark
  * operation, or a streaming query's runId), the micro-batch id, the SQL
  * execution it runs for, and the engine frames of its call site,
  * innermost first.
  */
final class JobRec(val id: Int, val start: Double, val group: String,
    val batchId: Long, val sqlExec: Long, val stageIds: Seq[Int], val frames: Seq[String]) {
  @volatile var end: Double = start
}

/** The benchmark's recorder.
  *
  * Always on: the span log the harness writes around each call into the
  * engine, and RDD block accounting for the peak persisted bytes. After
  * [[startTracing]], a SparkListener and a StreamingQueryListener also record
  * every job, stage and micro-batch progress so each can be attributed
  * to the operation that caused it: batch jobs through the job group the
  * harness sets per operation, streaming jobs through their query's
  * runId (Spark uses it as the stream's job group).
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  /** streaming runId -> (op id, parent span id, micro-batches are operations) */
  private val runs = new ConcurrentHashMap[String, (Long, Long, Boolean)]()
  @volatile private var context: (Long, Long, Boolean) = (0L, 0L, false)

  /** SQL execution id -> the path it writes, for file writes. */
  private val writeTargets = new ConcurrentHashMap[Long, String]()
  private val InsertTarget = "(?s)InsertIntoHadoopFsRelationCommand.*?(file:[^,\\s\\]]+)".r

  private val blockBytes = new ConcurrentHashMap[RDDBlockId, java.lang.Long]()
  private val cachedBytes = new AtomicLong(0)
  private val peakBytes = new AtomicLong(0)
  private val blocksCached = new AtomicLong(0)
  /** blocks the block manager dropped (memory pressure), not unpersists */
  private val blocksDropped = new AtomicLong(0)

  val runSpan: Long = newId()
  private val runStart = now

  def now: Double = System.currentTimeMillis().toDouble
  def newId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = synchronized { spans += s }

  /** Time `body` as a span, recording it whether or not tracing is on. */
  def timed[T](kind: String, name: String, parent: Long, op: Long = 0L,
      id: Long = newId())(body: => T): (T, Span) = {
    val t0 = now
    val n0 = System.nanoTime()
    val out = body
    val ms = (System.nanoTime() - n0) / 1e6
    val s = Span(id, parent, if (op == 0L) id else op, kind, name, t0, t0 + ms)
    record(s)
    (out, s)
  }

  /** Attribute jobs and streaming queries started from here on to
    * operation `op` under span `parent` (the job group carries it).
    */
  def enter(op: Long, parent: Long, batchesAreOps: Boolean = false): Unit = {
    context = (op, parent, batchesAreOps)
    sc.setJobGroup(s"graftbench-op-$op", s"op $op", interruptOnCancel = false)
  }

  def leave(): Unit = {
    context = (0L, 0L, false)
    sc.clearJobGroup()
  }

  /** Run harness work that is not a timed operation (a check, a layer
    * probe) under its own span, so its jobs are attributed too.
    */
  def probe[T](name: String, parent: Long = runSpan)(body: => T): T = {
    val id = newId()
    timed("probe", name, parent, id = id) {
      enter(id, id)
      try body finally leave()
    }._1
  }

  /** Wait for the listener bus, so every event so far is recorded. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  def resetPeak(): Unit = { drain(); peakBytes.set(cachedBytes.get) }
  def peakCachedMb: Double = { drain(); peakBytes.get / 1048576.0 }
  def blockCounts: (Long, Long) = { drain(); (blocksCached.get, blocksDropped.get) }

  private val blockListener = new SparkListener {
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case b: RDDBlockId =>
          val prev = Option(blockBytes.get(b)).map(_.longValue).getOrElse(0L)
          val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
          if (bytes > 0) blockBytes.put(b, bytes) else blockBytes.remove(b)
          if (prev == 0 && bytes > 0) blocksCached.incrementAndGet()
          if (prev > 0 && bytes == 0) blocksDropped.incrementAndGet()
          peakBytes.accumulateAndGet(cachedBytes.addAndGet(bytes - prev), math.max)
        case _ =>
      }
    }
    // an unpersist releases its blocks without per-block updates
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
      blockBytes.keySet.asScala.filter(_.rddId == e.rddId).foreach { b =>
        Option(blockBytes.remove(b)).foreach(v => cachedBytes.addAndGet(-v.longValue))
      }
  }
  sc.addSparkListener(blockListener)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val details = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      val frames = details.linesIterator.map(_.trim)
        .filter(l => l.startsWith("graft.")).toSeq
      jobs.put(e.jobId, new JobRec(e.jobId, e.time.toDouble,
        prop("spark.jobGroup.id").getOrElse(""),
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
        e.stageIds, frames))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        InsertTarget.findFirstMatchIn(x.physicalPlanDescription)
          .foreach(m => writeTargets.put(x.executionId, m.group(1)))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val job = jobs.values.asScala.filter(_.stageIds.contains(i.stageId))
        .map(_.id).minOption.getOrElse(-1)
      val start = i.submissionTime.getOrElse(0L).toDouble
      val rec = if (m == null) StageRec(i.stageId, job, start,
          i.completionTime.getOrElse(0L).toDouble, i.numTasks, 0, 0, 0, 0, 0, 0, 0)
        else StageRec(i.stageId, job, start, i.completionTime.getOrElse(0L).toDouble,
          i.numTasks, m.executorRunTime.toDouble, m.executorCpuTime / 1e6,
          m.jvmGCTime.toDouble,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead)
      stages.put((i.stageId, i.attemptNumber()), rec)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      runs.put(e.runId.toString, context)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      progress.add(Progress(p.runId.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap,
        p.numInputRows,
        ops.map(_.allUpdatesTimeMs.toDouble).sum, ops.map(_.commitTimeMs.toDouble).sum,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  @volatile var tracing = false

  def startTracing(): Unit = if (!tracing) {
    tracing = true
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  def stopTracing(): Unit = if (tracing) {
    drain()
    tracing = false
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  /** The path a job's SQL execution writes, if it is a file write. */
  def writeTarget(j: JobRec): Option[String] = Option(writeTargets.get(j.sqlExec))

  def allProgress: Seq[Progress] = { drain(); progress.asScala.toSeq }
  def allJobs: Seq[JobRec] = { drain(); jobs.values.asScala.toSeq.sortBy(_.id) }
  def allStages: Seq[StageRec] = { drain(); stages.values.asScala.toSeq }
  def harnessSpans: Seq[Span] = synchronized(spans.toList)

  /** Close the run span and derive the full span tree: harness spans,
    * then micro-batch and addBatch spans from streaming progress, then
    * job spans under the span that caused them, then stage spans.
    *
    * A record that cannot be attributed (a micro-batch of a query started
    * outside [[enter]], a job in no operation's group, a stage of a job
    * never recorded) gets parent [[Unresolved]], which no span has, so the
    * span-parent check counts it.
    */
  def spanTree(): Seq[Span] = {
    drain()
    val out = mutable.ArrayBuffer.empty[Span]
    out += Span(runSpan, 0L, 0L, "run", "run", runStart, now)
    out ++= harnessSpans
    val byOp = out.groupBy(_.op)
    // micro-batches: operations themselves (ingest) or children of the
    // operation span that started their query (roundtrips)
    val addBatchOf = mutable.Map.empty[(String, Long), Span]
    for (p <- allProgress) {
      val (op, parent, asOps) = Option(runs.get(p.runId)).getOrElse((0L, Unresolved, false))
      val bid = newId()
      val bop = if (asOps) bid else op
      val end = p.startMs + p.trigger
      val batch = Span(bid, if (parent == 0L) Unresolved else parent, bop, "batch",
        s"${p.runId}/${p.batchId}", p.startMs, end,
        p.durations ++ Map("numInputRows" -> p.inputRows.toDouble,
          "state_update_ms" -> p.stateUpdateMs, "state_commit_ms" -> p.stateCommitMs,
          "state_rows" -> p.stateRows.toDouble, "state_mb" -> p.stateBytes / 1048576.0))
      val commit = p.durations.getOrElse("commitOffsets", 0.0)
      val add = p.durations.getOrElse("addBatch", 0.0)
      val ab = Span(newId(), bid, bop, "addBatch", "addBatch",
        end - commit - add, end - commit)
      out += batch; out += ab
      addBatchOf((p.runId, p.batchId)) = ab
    }
    val groupOp = "graftbench-op-(\\d+)".r
    val jobSpan = mutable.Map.empty[Int, Long]
    for (j <- allJobs) {
      val (op, parent) = j.group match {
        case groupOp(o) =>
          val op = o.toLong
          val inner = byOp.getOrElse(op, Nil)
            .filter(s => s.kind != "op" && s.start <= j.start && j.start <= s.end + 1)
            .sortBy(_.ms).headOption
          (op, inner.map(_.id).getOrElse(op))
        case g if runs.containsKey(g) =>
          addBatchOf.get((g, j.batchId)) match {
            case Some(ab) => (ab.op, ab.id)
            case None => val (op, parent, _) = runs.get(g); (op, if (parent == 0L) Unresolved else parent)
          }
        case _ => (0L, Unresolved)
      }
      val id = newId()
      jobSpan(j.id) = id
      out += Span(id, parent, op, "job", (s"job ${j.id}" +: j.frames.take(1)).mkString(" at "),
        j.start, j.end,
        Map("job_id" -> j.id.toDouble))
    }
    val opOfSpan = out.map(s => s.id -> s.op).toMap
    for (s <- allStages) {
      val parent = jobSpan.getOrElse(s.job, Unresolved)
      out += Span(newId(), parent, opOfSpan.getOrElse(parent, 0L), "stage", s"stage ${s.id}",
        s.start, s.end, Map("stage_id" -> s.id.toDouble, "tasks" -> s.tasks.toDouble))
    }
    out.toSeq
  }
}

object Tracer {
  /** The parent of a span that could not be attributed; no span has it. */
  val Unresolved: Long = -1L
}

/** Span log writer: one JSON object per line. */
object Spans {
  def write(spans: Seq[Span], path: Path): Unit = {
    val m = new ObjectMapper()
    val lines = spans.map { s =>
      val o = m.createObjectNode()
      o.put("id", s.id); o.put("parent", s.parent); o.put("op", s.op)
      o.put("kind", s.kind); o.put("name", s.name)
      o.put("start_ms", s.start); o.put("end_ms", s.end)
      val a = o.putObject("attrs")
      s.attrs.foreach { case (k, v) => a.put(k, v) }
      m.writeValueAsString(o)
    }
    Files.write(path, lines.asJava)
  }
}
