package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.engine.ingest.{JsonArrayBatchParser, Router}
import graft.engine.sinks.{EvolvingTableSink, ParquetAppendSink}
import graft.engine.sources.Sources
import graft.engine.stream.StreamProcessor
import graft.fixtures.EventGen

/** The paper's own life cycle, one pass at a time:
  *
  *   1. steady: the reference producer's shape (100-event files, 10%
  *      corrupted batches, 10% invalid-schema events) drained by
  *      [[StreamProcessor]] with `Trigger.AvailableNow` at 3 files per
  *      trigger;
  *   2. catch-up: a restart after an outage, 1000-event files landing in
  *      the same source, drained by a new query on the same checkpoint
  *      and sinks in 6-file triggers;
  *   3. read-back: the reference reader's queries through the sink API.
  *
  * Each pass writes fresh sinks and checkpoint from the same backlog, so
  * every pass does the same work. Outputs are checked against
  * [[IngestTruth]], computed from the files on the plain JVM.
  */
object IngestWorkload {
  val SteadyFiles = 24
  val SteadyEvents = 100
  val SteadyPerTrigger = 3
  val CatchupFiles = 12
  val CatchupEvents = 1000
  val CatchupPerTrigger = 6

  final case class Backlog(steady: Seq[Path], catchup: Seq[Path])

  /** The seeded backlog: one generator, steady files then catch-up files. */
  def generate(dir: Path, seed: Long): Backlog = {
    val g = new EventGen(seed, corruptionChance = 0.1, invalidSchemaChance = 0.1)
    Backlog(g.writeBatchFiles(dir.resolve("steady"), SteadyFiles, SteadyEvents),
      g.writeBatchFiles(dir.resolve("catchup"), CatchupFiles, CatchupEvents))
  }

  final case class PassOut(span: Span, batchMs: Seq[Double], catchupEventsPerS: Double,
      readMs: Seq[Double], filesTotal: Long, filesRead: Long, dir: Path)

  private def ceilDiv(a: Int, b: Int): Int = (a + b - 1) / b

  private def link(files: Seq[Path], dir: Path): Unit = {
    Files.createDirectories(dir)
    files.foreach(f => Files.createLink(dir.resolve(f.getFileName), f))
  }

  /** Drain `in` with AvailableNow into the sinks; micro-batch trigger times. */
  private def drain(env: Env, tracer: Tracer, phase: Long, in: Path, bronze: EvolvingTableSink,
      dead: ParquetAppendSink, ckpt: Path, perTrigger: Int): Seq[Double] = {
    tracer.enter(phase, phase, batchesAreOps = true)
    try {
      val proc = new StreamProcessor(bronze, dead, checkpointLocation = ckpt.toString,
        trigger = Trigger.AvailableNow())
      val raw = env.spark.readStream.format("text")
        .option("maxFilesPerTrigger", perTrigger.toString).load(in.toString)
      val q = proc.start(raw)
      q.awaitTermination()
      q.recentProgress.toSeq.filter(_.numInputRows > 0)
        .map(_.durationMs.get("triggerExecution").doubleValue)
    } finally tracer.leave()
  }

  def pass(env: Env, tracer: Tracer, res: Result, b: Backlog, truth: (IngestTruth.Counts,
      IngestTruth.Counts), label: String): PassOut = {
    val dir = Files.createTempDirectory(env.work, label)
    val in = dir.resolve("in")
    val bronze = new EvolvingTableSink(dir.resolve("bronze").toString)
    val dead = new ParquetAppendSink(dir.resolve("dead_letters").toString)
    val ckpt = dir.resolve("checkpoint")
    val passId = tracer.newId()
    var batchMs = Seq.empty[Double]
    var catchupRate = 0.0
    var catchupBatches = 0
    var readMs = Seq.empty[Double]
    var files = (0L, 0L)
    def expect(what: String, got: Any, want: Any): Unit =
      if (got == want) res.ok() else res.fail(s"$label $what: got $got, expected $want")
    val (_, span) = tracer.timed("phase", label, tracer.runSpan, id = passId) {
      link(b.steady, in)
      val steadyId = tracer.newId()
      batchMs = tracer.timed("phase", "steady", passId, id = steadyId) {
        drain(env, tracer, steadyId, in, bronze, dead, ckpt, SteadyPerTrigger)
      }._1
      val steadySnapshot = bronze.snapshotSeqs.max
      val catchupId = tracer.newId()
      val (catchupMs, cspan) = tracer.timed("phase", "catchup", passId, id = catchupId) {
        link(b.catchup, in)
        drain(env, tracer, catchupId, in, bronze, dead, ckpt, CatchupPerTrigger)
      }
      catchupBatches = catchupMs.size
      catchupRate = b.catchup.size * CatchupEvents / (cspan.ms / 1000)
      val readId = tracer.newId()
      tracer.timed("phase", "readback", passId, id = readId) {
        val (s, c) = truth
        val all = s + c
        val day = all.byDay.keys.min
        def op[T](name: String)(body: => T): T = {
          val opId = tracer.newId()
          val (v, sp) = tracer.timed("op", name, readId, id = opId) {
            tracer.enter(opId, opId)
            try body finally tracer.leave()
          }
          readMs :+= sp.ms
          v
        }
        expect("bronze count", op("bronze_count")(bronze.read(env.spark).count()), all.valid)
        expect("event types", op("by_event_type")(bronze.read(env.spark)
          .groupBy("event_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap), all.byType)
        expect("dead-letter reasons", op("dead_letter_reasons")(env.spark.read.parquet(dead.path)
          .groupBy("_dead_letter_reason").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap), all.dead)
        val (lo, hi) = bronze.committedBatchRange.getOrElse((0L, 0L))
        val (dayRows, total, read) = op("day_pruned_read") {
          val (df, total, read) = bronze.prunedRead(env.spark, Seq(("_batch_id", lo, hi)))
          (df.where(col("_event_date") === lit(day).cast("date")).count(), total, read)
        }
        files = (total, read)
        expect(s"rows on $day", dayRows, all.byDay(day))
        expect("rows as of the steady snapshot",
          op("as_of_snapshot")(bronze.readAsOf(env.spark, steadySnapshot).count()), s.valid)
      }
    }
    // checks outside the timed pass: each phase drained its files in
    // triggers of the configured size, and the restart replayed nothing
    // twice (every bronze event id is unique)
    expect("steady micro-batches", batchMs.size, ceilDiv(b.steady.size, SteadyPerTrigger))
    expect("catch-up micro-batches", catchupBatches, ceilDiv(b.catchup.size, CatchupPerTrigger))
    val (n, distinct) = tracer.probe("no_duplicates_check", passId) {
      val r = bronze.read(env.spark).agg(count(lit(1)), countDistinct("event_id")).head()
      (r.getLong(0), r.getLong(1))
    }
    expect("duplicate bronze rows", n - distinct, 0L)
    PassOut(span, batchMs, catchupRate, readMs, files._1, files._2, dir)
  }

  def run(env: Env, res: Result): Unit = {
    val tracer = new Tracer(env.spark)
    // input generation, repeated: set-up reports the median
    val gens = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      val b = generate(env.work.resolve(s"backlog-$i"), env.seed)
      (b, (System.nanoTime() - t0) / 1e6)
    }
    val backlog = gens.last._1
    val genMs = gens.map(_._2)
    val truth = (IngestTruth.files(backlog.steady), IngestTruth.files(backlog.catchup))
    // a warm pass over half the backlog brings codegen and JIT close to
    // a steady state; its outputs are checked like the timed ones
    val half = Backlog(backlog.steady.take(SteadyFiles / 2), backlog.catchup.take(CatchupFiles / 2))
    pass(env, tracer, res, half, (IngestTruth.files(half.steady),
      IngestTruth.files(half.catchup)), "warm")
    val setupMs = env.sinceLaunchMs - genMs.sum + Stats.median(genMs)
    tracer.resetPeak()
    def loop(label: String): Seq[PassOut] = {
      val out = mutable.ArrayBuffer.empty[PassOut]
      val t0 = System.nanoTime()
      do out += pass(env, tracer, res, backlog, truth, s"$label-${out.size}")
      while ((System.nanoTime() - t0) / 1e9 < env.seconds)
      out.toSeq
    }
    val timed = loop("timed")
    val peak = tracer.peakCachedMb
    val batches = timed.flatMap(_.batchMs)
    val passS = Stats.median(timed.map(_.span.ms / 1000))
    res.metric("setup_s", setupMs / 1000, "s")
    res.metric("pass_s", passS, "s")
    res.metric("op_p50_ms", Stats.quantile(batches, 0.5), "ms")
    res.metric("op_p90_ms", Stats.quantile(batches, 0.9), "ms")
    res.info("pass_s_each") = timed.map(_.span.ms / 1000)
    res.info("batch_ms_each") = timed.map(_.batchMs)
    res.info("passes") = timed.size
    res.info("operations_timed") = batches.size
    res.info("workload_metrics") = Map(
      "batch_p50_ms" -> Stats.quantile(batches, 0.5),
      "batch_p90_ms" -> Stats.quantile(batches, 0.9),
      "catchup_events_per_s" -> Stats.median(timed.map(_.catchupEventsPerS)),
      "readback_p50_ms" -> Stats.median(timed.flatMap(_.readMs)))
    if (env.traced) {
      val (c0, d0) = tracer.blockCounts
      tracer.startTracing()
      val traced = loop("traced")
      tracer.stopTracing()
      val (c1, d1) = tracer.blockCounts
      // untraced again: the overhead compares against the passes on
      // both sides, so warm-up drift between them cancels
      val untracedS = (passS + Stats.median(loop("untraced").map(_.span.ms / 1000))) / 2
      val tree = tracer.spanTree()
      val passIds = traced.map(_.span.id).toSet
      val phases = tree.filter(s => s.kind == "phase" && passIds(s.parent))
      val layers = Layers.fromTrace(tracer, tree, traced.map(_.span), phases.map(_.id).toSet,
        env.cpus, _ => None)
      val n = traced.size.toDouble
      layers("engine.Persisted.peak_cached_mb") = peak
      layers("engine.Persisted.blocks_cached") = (c1 - c0) / n
      layers("engine.Persisted.blocks_evicted") = (d1 - d0) / n
      val tracedS = Stats.median(traced.map(_.span.ms / 1000))
      layers("trace.pass_s") = tracedS
      layers("trace.untraced_pass_s") = untracedS
      layers("trace.overhead_s") = tracedS - untracedS
      layers ++= sourceAndSinkLayers(tracer, tree, phases, traced, n)
      layers ++= tracer.probe("parse_route")(parseRoute(env, backlog))
      res.info("layers") = Layers.report(layers)
      Layers.checkTree(layers, res)
      Spans.write(tree, env.work.resolve("spans.jsonl"))
    }
  }

  /** engine.sources and engine.sinks: listing time and files from the
    * micro-batch progress; write jobs by the path their SQL execution
    * writes (a stream's jobs all carry the call site that started the
    * stream, so the call site cannot tell the two sinks apart); the
    * files and bytes the sinks left; and the read-back side.
    */
  private def sourceAndSinkLayers(tracer: Tracer, tree: Seq[Span], phases: Seq[Span],
      traced: Seq[PassOut], n: Double): Map[String, Double] = {
    val phaseIds = phases.map(_.id).toSet
    val batches = tree.filter(s => s.kind == "batch" && phaseIds(s.parent))
    val batchIds = batches.map(_.id).toSet
    val jobs = tracer.allJobs.map(j => j.id -> j).toMap
    val jobSpans = tree.filter(s => s.kind == "job" && batchIds(s.op))
    def jobMs(dir: String) = jobSpans.filter(j => jobs.get(j.attrs("job_id").toInt)
      .flatMap(tracer.writeTarget).exists(t => t.contains(dir) &&
        (dir == "/_manifest" || !t.contains("/_manifest")))).map(_.ms).sum / n
    val last = traced.last.dir
    def parquet(p: Path): Seq[Path] = if (!Files.exists(p)) Nil else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
      finally w.close()
    }
    val written = parquet(last.resolve("bronze")) ++ parquet(last.resolve("dead_letters"))
    val events = SteadyFiles * SteadyEvents + CatchupFiles * CatchupEvents
    val total = traced.map(_.filesTotal).sum.toDouble
    val read = traced.map(_.filesRead).sum.toDouble
    Map(
      "engine.sources.list_ms" -> batches.map(b => b.attrs.getOrElse("latestOffset", 0.0) +
        b.attrs.getOrElse("getBatch", 0.0)).sum / n,
      "engine.sources.files" -> batches.map(_.attrs.getOrElse("numInputRows", 0.0)).sum / n,
      "engine.sinks.bronze_write_ms" -> jobMs("/bronze"),
      "engine.sinks.deadletter_write_ms" -> jobMs("/dead_letters"),
      "engine.sinks.stats_ledger_ms" -> jobMs("/_manifest"),
      "engine.sinks.files_written" -> written.size.toDouble,
      "engine.sinks.bytes_per_event" -> written.map(Files.size).sum.toDouble / events,
      "engine.sinks.read_ms" -> Stats.median(traced.flatMap(_.readMs)),
      "engine.sinks.files_read" -> read / n,
      "engine.sinks.pruned_fraction" -> (if (total > 0) 1 - read / total else 0.0))
  }

  /** engine.ingest: the parser and router alone over the catch-up
    * backlog, read as a batch and written to the noop sink; median of 3.
    */
  private def parseRoute(env: Env, b: Backlog): Map[String, Double] = {
    val dir = b.catchup.head.getParent.toString
    val parser = new JsonArrayBatchParser()
    def routed = Router.withReason(parser.parse(Sources.textDir(env.spark, dir)))
    val ms = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      routed.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    }
    val r = routed.agg(count(lit(1)),
      count(when(col("_dead_letter_reason").isNull, 1))).head()
    Map("engine.ingest.parse_route_ms" -> Stats.median(ms),
      "engine.ingest.rows_in" -> r.getLong(0).toDouble,
      "engine.ingest.rows_valid" -> r.getLong(1).toDouble,
      "engine.ingest.rows_dead" -> (r.getLong(0) - r.getLong(1)).toDouble)
  }
}
