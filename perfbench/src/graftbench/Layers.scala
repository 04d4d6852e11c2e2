package graftbench

import scala.collection.mutable

/** Per-layer figures of a traced run, named `<module>.<metric>` after the
  * engine's modules. Every run reports the same names; a layer that does
  * no work on a workload reads 0. Time and count figures are per timed
  * pass unless the name says per batch.
  */
object Layers {
  val Packs: Seq[String] = Seq("Relational", "Analytics", "TextOps", "Dedup",
    "Similarity", "Curate", "SourceFormats", "Ingest")
  val Ops: Seq[String] = Seq("GlobalOrder", "SuffixArray", "ConnectedComponents",
    "PageRank", "Scale", "StatsManifest", "Chunk")
  val Functions: Seq[String] = Seq("graft_minhash", "graft_simhash", "graft_shingles",
    "graft_dot", "graft_phash")

  /** Every per-layer metric with its unit, in report order. */
  val names: Seq[(String, String)] =
    Seq("engine.sources.list_ms" -> "ms", "engine.sources.files" -> "count",
      "engine.ingest.parse_route_ms" -> "ms", "engine.ingest.rows_in" -> "count",
      "engine.ingest.rows_valid" -> "count", "engine.ingest.rows_dead" -> "count") ++
    Seq("batches" -> "count", "add_batch_ms" -> "ms", "planning_ms" -> "ms",
      "wal_commit_ms" -> "ms", "commit_offsets_ms" -> "ms", "jobs_per_batch" -> "count",
      "driver_gap_ms" -> "ms", "state_update_ms" -> "ms", "state_commit_ms" -> "ms",
      "state_rows" -> "count", "state_mb" -> "MB").map { case (k, u) => s"engine.stream.$k" -> u } ++
    Seq("bronze_write_ms" -> "ms", "deadletter_write_ms" -> "ms", "stats_ledger_ms" -> "ms",
      "files_written" -> "count", "bytes_per_event" -> "B/event", "read_ms" -> "ms",
      "files_read" -> "count", "pruned_fraction" -> "ratio").map { case (k, u) => s"engine.sinks.$k" -> u } ++
    Packs.flatMap(p => Seq("build_ms" -> "ms", "action_ms" -> "ms", "jobs" -> "count",
      "stages" -> "count", "tasks" -> "count", "driver_gap_ms" -> "ms")
      .map { case (k, u) => s"queries.$p.$k" -> u }) ++
    Ops.flatMap(o => Seq("jobs" -> "count", "job_ms" -> "ms", "task_ms" -> "ms")
      .map { case (k, u) => s"engine.ops.$o.$k" -> u }) ++
    Functions.map(f => s"functions.${f}_ms" -> "ms") ++
    Seq("run_ms" -> "ms", "cpu_ms" -> "ms", "gc_ms" -> "ms", "shuffle_read_mb" -> "MB",
      "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "input_rows" -> "count",
      "cpu_share" -> "ratio").map { case (k, u) => s"exec.$k" -> u } ++
    Seq("engine.Persisted.peak_cached_mb" -> "MB", "engine.Persisted.blocks_cached" -> "count",
      "engine.Persisted.blocks_evicted" -> "count") ++
    Seq("pass_s" -> "s", "untraced_pass_s" -> "s", "overhead_s" -> "s", "spans" -> "count",
      "orphan_spans" -> "count", "unattributed_jobs" -> "count").map { case (k, u) => s"trace.$k" -> u }

  /** Union length of intervals, in ms. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s, e) <- iv.sortBy(_._1)) {
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** The engine module a job's call site belongs to: its innermost
    * `graft.engine.ops.<Op>` frame, if any.
    */
  def opOf(frames: Seq[String]): Option[String] =
    frames.iterator.map(f => "^graft\\.engine\\.ops\\.([A-Za-z]+)".r.findFirstMatchIn(f))
      .collectFirst { case Some(m) if Ops.contains(m.group(1)) => m.group(1) }

  /** Figures derived from the span tree for the traced `passes`, whose
    * operations are the spans under `opParents`. `packOf` maps an
    * operation's name to its query pack.
    */
  def fromTrace(tracer: Tracer, tree: Seq[Span], passes: Seq[Span], opParents: Set[Long],
      cpus: Int, packOf: String => Option[String]): mutable.LinkedHashMap[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val n = math.max(1, passes.size).toDouble
    val byId = tree.map(s => s.id -> s).toMap
    // operations under the traced passes, and everything under them
    val ops = tree.filter(s => (s.kind == "op" || (s.kind == "batch" && s.op == s.id)) &&
      opParents(s.parent))
    val opIds = ops.map(_.id).toSet
    val inOps = tree.filter(s => opIds(s.op))
    val jobSpans = inOps.filter(_.kind == "job")
    val jobsById = tracer.allJobs.map(j => j.id -> j).toMap
    val stagesByJob = tracer.allStages.groupBy(_.job)
    def stagesOf(js: Seq[Span]) = js.flatMap(j => stagesByJob.getOrElse(j.attrs("job_id").toInt, Nil))

    // query packs
    for (op <- ops.filter(_.kind == "op"); pack <- packOf(op.name)) {
      val mine = inOps.filter(_.op == op.id)
      def add(k: String, v: Double) = out(s"queries.$pack.$k") = out.getOrElse(s"queries.$pack.$k", 0.0) + v / n
      add("build_ms", mine.filter(_.kind == "build").map(_.ms).sum)
      add("action_ms", mine.filter(_.kind == "action").map(_.ms).sum)
      val js = mine.filter(_.kind == "job")
      val st = stagesOf(js)
      add("jobs", js.size)
      add("stages", st.size)
      add("tasks", st.map(_.tasks).sum)
      add("driver_gap_ms", op.ms - covered(js.map(j => (math.max(j.start, op.start), math.min(j.end, op.end)))))
    }
    // engine ops, attributed by the call site of each job
    for (j <- jobSpans; rec <- jobsById.get(j.attrs("job_id").toInt); o <- opOf(rec.frames)) {
      def add(k: String, v: Double) = out(s"engine.ops.$o.$k") = out.getOrElse(s"engine.ops.$o.$k", 0.0) + v / n
      add("jobs", 1)
      add("job_ms", j.ms)
      add("task_ms", stagesByJob.getOrElse(rec.id, Nil).map(_.runMs).sum)
    }
    // micro-batches of the traced operations
    val batches = inOps.filter(_.kind == "batch")
    if (batches.nonEmpty) {
      val nb = batches.size.toDouble
      def mean(k: String) = batches.map(_.attrs.getOrElse(k, 0.0)).sum / nb
      out("engine.stream.batches") = nb / n
      out("engine.stream.add_batch_ms") = mean("addBatch")
      out("engine.stream.planning_ms") = mean("queryPlanning")
      out("engine.stream.wal_commit_ms") = mean("walCommit")
      out("engine.stream.commit_offsets_ms") = mean("commitOffsets")
      val addSpans = inOps.filter(_.kind == "addBatch")
      val jobsUnder = jobSpans.groupBy(_.parent)
      out("engine.stream.jobs_per_batch") = addSpans.map(a => jobsUnder.getOrElse(a.id, Nil).size).sum / nb
      out("engine.stream.driver_gap_ms") = addSpans.map { a =>
        a.ms - covered(jobsUnder.getOrElse(a.id, Nil).map(j => (math.max(j.start, a.start), math.min(j.end, a.end))))
      }.sum / nb
      for (k <- Seq("state_update_ms", "state_commit_ms", "state_rows", "state_mb"))
        out(s"engine.stream.$k") = mean(k)
    }
    // executor totals
    val st = stagesOf(jobSpans)
    val passMs = passes.map(_.ms).sum
    out("exec.run_ms") = st.map(_.runMs).sum / n
    out("exec.cpu_ms") = st.map(_.cpuMs).sum / n
    out("exec.gc_ms") = st.map(_.gcMs).sum / n
    out("exec.shuffle_read_mb") = st.map(_.shuffleReadB).sum / 1048576.0 / n
    out("exec.shuffle_write_mb") = st.map(_.shuffleWriteB).sum / 1048576.0 / n
    out("exec.spill_mb") = st.map(_.spillB).sum / 1048576.0 / n
    out("exec.input_rows") = st.map(_.inputRows).sum / n
    out("exec.cpu_share") = if (passMs > 0) st.map(_.cpuMs).sum / (passMs * cpus) else 0.0
    // span tree health
    out("trace.spans") = tree.size.toDouble
    out("trace.orphan_spans") = tree.count(s => s.kind != "run" && !byId.contains(s.parent)).toDouble
    out("trace.unattributed_jobs") = tree.count(s => s.kind == "job" && s.op == 0L).toDouble
    out
  }

  /** Fail the run for each span-tree defect: a span whose parent is not
    * in the log, or a job attributed to no operation.
    */
  def checkTree(layers: collection.Map[String, Double], res: Result): Unit = {
    val orphans = layers("trace.orphan_spans")
    val loose = layers("trace.unattributed_jobs")
    if (orphans > 0) res.fail(s"${orphans.toLong} spans whose parent is not in the span log")
    else res.ok()
    if (loose > 0) res.fail(s"${loose.toLong} jobs attributed to no operation")
    else res.ok()
  }

  /** The full report: every name in [[names]] with its value and unit,
    * 0 where a layer did no work.
    */
  def report(values: collection.Map[String, Double]): collection.Map[String, Map[String, Any]] =
    mutable.LinkedHashMap(names.map { case (k, u) =>
      k -> Map[String, Any]("value" -> values.getOrElse(k, 0.0), "unit" -> u) }: _*)
}
