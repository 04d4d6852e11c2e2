package graft.tools

import scala.collection.mutable

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.SparkEntry
import graft.queries.{Dedup, Persisted, Similarity, TextOps}

/** One Spark job as [[Probe.measure]] saw it. `callSite` is where the
  * action that ran it was called, e.g. `collect at SuffixArray.scala:454`
  * (AQE submits a query's stages from a pool thread, so the job's own
  * call site would name the pool), `wallMs` runs from job start to job
  * end, and `stages` counts the job's completed (not skipped) stages,
  * whose executor run time and input records `runMs` / `inRows` sum.
  */
final case class JobRecord(jobId: Int, group: String, batchId: Option[Long],
    callSite: String, wallMs: Long, stages: Int, runMs: Long, inRows: Long)

/** Diagnostics CLI, every mode on one job listener ([[measure]]):
  *
  * {{{
  * runMain graft.tools.Probe <q>[,<q>...] [sfDir] [reps] [--explain]
  * runMain graft.tools.Probe --warm [sfDir]
  * runMain graft.tools.Probe --tier [sfDir]
  * }}}
  *
  * Query mode runs each declared query `reps` times in one session (rep
  * 1 cold, later reps warm) and prints per rep the build and action
  * walls, rows, jobs, stages, executor task ms and input rows; the last
  * rep adds one `[job]` line per job in start order, which is where the
  * per-pass walls of the engine ops (SuffixArray passes, GlobalOrder
  * collects) show. Each rep ends with `Persisted.drain()`, after its
  * walls are taken, like Bench's timed runs. `--explain` prints the
  * formatted plan on rep 1. Job count is the load-independent figure
  * (JobCountGuardSpec pins it for the collapsed orchestrations).
  *
  * `--warm` times each shared-tier warm item on its own: Bench warms the
  * families concurrently and reports only the slowest, so a regression
  * inside one family hides behind its `shared_setup_sec`. `--tier`
  * counts the embedding band tier's candidates against its outputs at
  * cos >= 0.4 and >= 0.9: candidates ~ outputs means the scoring work is
  * the answer, candidates >> outputs means the key scheme wastes
  * verification.
  *
  * Defaults: sfDir /root/testdata/sf0.1, 3 reps, SPARK_GRAFT_CPUS or 32
  * cores.
  */
object Probe {

  private[graft] sealed trait Cmd
  private[graft] final case class Queries(
      names: Seq[String], sfDir: String, reps: Int, explain: Boolean) extends Cmd
  private[graft] final case class Warm(sfDir: String) extends Cmd
  private[graft] final case class Tier(sfDir: String) extends Cmd

  private val DefaultSfDir = "/root/testdata/sf0.1"
  private val Usage = "usage: Probe <q>[,<q>...] [sfDir] [reps] [--explain]" +
    " | Probe --warm [sfDir] | Probe --tier [sfDir]"

  private[graft] def parse(args: Seq[String]): Cmd = {
    val (flags, rest) = args.partition(_.startsWith("--"))
    flags.find(f => !Set("--explain", "--warm", "--tier")(f)).foreach { f =>
      throw new IllegalArgumentException(s"unknown flag $f; $Usage")
    }
    def sfDir = rest.headOption.getOrElse(DefaultSfDir)
    flags.distinct.sorted match {
      case Seq() | Seq("--explain") if rest.nonEmpty && rest.size <= 3 =>
        Queries(rest.head.split(',').toSeq.filter(_.nonEmpty),
          rest.lift(1).getOrElse(DefaultSfDir),
          rest.lift(2).fold(3)(_.toInt), explain = flags.nonEmpty)
      case Seq("--warm") if rest.size <= 1 => Warm(sfDir)
      case Seq("--tier") if rest.size <= 1 => Tier(sfDir)
      case _ => throw new IllegalArgumentException(Usage)
    }
  }

  def main(args: Array[String]): Unit = {
    val cmd = parse(args.toSeq)
    cmd match {
      case Queries(names, _, _, _) =>
        val unknown = names.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      case _ =>
    }
    val spark = graft.engine.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-probe")
    try cmd match {
      case q: Queries => runQueries(spark, q)
      case Warm(d) => runWarm(spark, d)
      case Tier(d) => runTier(spark, d)
    } finally spark.stop()
  }

  /** Runs `body` with a job listener attached, then drains the listener
    * bus so every job and stage `body` ran is recorded, and detaches the
    * listener. Records are in job start order.
    */
  def measure[A](spark: SparkSession)(body: => A): (A, Seq[JobRecord]) = {
    val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
    val startMs = mutable.Map.empty[Int, Long]
    val jobOfStage = mutable.Map.empty[Int, Int]
    val sqlCallSite = mutable.Map.empty[Long, String]
    // events arrive on the listener bus thread; the records are read on
    // this one after the drain
    val listener = new SparkListener {
      // a SQL execution's description is its action's call site, unless
      // the caller set a job description (streams do)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => synchronized {
          sqlCallSite(x.executionId) = x.description
        }
        case _ =>
      }

      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        val callSite = prop("spark.sql.execution.id")
          .filter(_ => prop("spark.job.description").isEmpty)
          .flatMap(id => sqlCallSite.get(id.toLong))
          .getOrElse(e.stageInfos.maxByOption(_.stageId).fold("")(_.name))
        jobs(e.jobId) = JobRecord(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
          prop("streaming.sql.batchId").map(_.toLong), callSite,
          wallMs = 0L, stages = 0, runMs = 0L, inRows = 0L)
        startMs(e.jobId) = e.time
        // a stage shared with a later job runs under the first, and is
        // skipped (never completed) in the others
        e.stageIds.foreach(jobOfStage.getOrElseUpdate(_, e.jobId))
      }

      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        for (r <- jobs.get(e.jobId); t0 <- startMs.get(e.jobId))
          jobs(e.jobId) = r.copy(wallMs = e.time - t0)
      }

      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        val m = Option(e.stageInfo.taskMetrics)
        for (j <- jobOfStage.get(e.stageInfo.stageId); r <- jobs.get(j))
          jobs(j) = r.copy(stages = r.stages + 1,
            runMs = r.runMs + m.fold(0L)(_.executorRunTime),
            inRows = r.inRows + m.fold(0L)(_.inputMetrics.recordsRead))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val a = body
      GraftListenerBus.drain(sc)
      (a, listener.synchronized(jobs.values.toSeq))
    } finally sc.removeSparkListener(listener)
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def totals(js: Seq[JobRecord]): String =
    s"jobs=${js.size} stages=${js.map(_.stages).sum} " +
      s"taskMs=${js.map(_.runMs).sum} inRows=${js.map(_.inRows).sum}"

  private def runQueries(spark: SparkSession, q: Queries): Unit =
    for (name <- q.names; i <- 1 to q.reps) {
      val ((df, buildS), buildJobs) =
        measure(spark)(timed(SparkEntry.queries(name)(spark, q.sfDir)))
      if (i == 1 && q.explain) df.explain("formatted")
      val ((n, actionS), actionJobs) = measure(spark)(timed(df.count()))
      Persisted.drain()
      val jobs = buildJobs ++ actionJobs
      println(f"[probe] $name run $i: build=$buildS%.2f s action=$actionS%.2f s " +
        s"rows=$n ${totals(jobs)}")
      if (i == q.reps) jobs.foreach { r =>
        println(f"[job] ${r.jobId}%5d ${r.wallMs}%7d ms stages=${r.stages} " +
          s"taskMs=${r.runMs} ${r.callSite}")
      }
    }

  private def runWarm(spark: SparkSession, d: String): Unit = {
    def named(family: String, ws: Seq[() => Unit]) =
      ws.zipWithIndex.map { case (w, i) => s"$family#$i" -> w }
    val items = named("dedup", Dedup.warmItems(spark, d)) ++
      named("text", TextOps.warmItems(spark, d)) :+
      ("simShared" -> (() => Similarity.warmShared(spark, d)))
    for ((name, w) <- items) {
      val ((_, s), jobs) = measure(spark)(timed(w()))
      println(f"[warm] $name $s%.1f s ${totals(jobs)}")
    }
  }

  private def runTier(spark: SparkSession, d: String): Unit = {
    val ((row, s), jobs) = measure(spark)(timed(
      Similarity.bandCandidatesScored(spark, d).selectExpr("count(*)",
        "count_if(cos >= 0.4)", "count_if(cos >= 0.9)").head))
    println(f"[tier] candidates=${row.getLong(0)} out@0.4=${row.getLong(1)} " +
      f"out@0.9=${row.getLong(2)} $s%.1f s ${totals(jobs)}")
  }
}
