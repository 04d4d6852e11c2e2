package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** The two declared-query workloads.
  *
  * One operation is one declared query: its build function (which, for the
  * streaming roundtrips, runs the whole stream) and a noop-format write
  * of every row and column of its result, so output columns and the
  * final sort are computed. An observe() on the written frame counts the
  * rows and sums a 64-bit hash of each row, an order-insensitive
  * fingerprint checked against `expected.json` after the operation ends.
  */
object QueryWorkload {

  /** Batch queries: TPC-H, the range-join rule, and a caller of each
    * engine op (StatsManifest with Scale, GlobalOrder, Chunk,
    * ConnectedComponents, PageRank, SuffixArray), spread over the
    * Relational, Analytics, TextOps, Dedup, Curate and SourceFormats packs.
    */
  val Analytic: Seq[String] = Seq(
    "q3_shipping_priority", "join_range_auto", "layout_stats_prune", "orders_abc_pareto",
    "chunk_documents", "dedup_clusters", "graph_pagerank_dups", "dedup_suffix_repeats",
    "curate_funnel", "source_csv_roundtrip")

  /** Streaming roundtrips: tumbling windows, sessions, a stream-stream
    * join and transformWithState on RocksDB.
    */
  val Streaming: Seq[String] = Seq(
    "stream_tumbling_roundtrip", "stream_session_roundtrip", "stream_join_roundtrip",
    "stream_tws_map_roundtrip")

  private lazy val packOf: Map[String, String] = {
    import graft.queries._
    Seq(Relational, Analytics, TextOps, Dedup, Similarity, Curate, SourceFormats, Ingest)
      .flatMap(p => p.defs.keys.map(_ -> p.getClass.getSimpleName.stripSuffix("$"))).toMap
  }

  final case class Outcome(name: String, ms: Double, rows: Long, fp: String,
      error: Option[String])

  /** Columns a row hash can take: maps become their JSON text. */
  private def hashable(c: Column, t: DataType): Column =
    if (t.catalogString.contains("map<")) to_json(c) else c

  /** Run one query as one operation under span `parent`. */
  def runOne(env: Env, tracer: Tracer, name: String, parent: Long): Outcome = {
    val fn = graft.SparkEntry.queries(name)
    val opId = tracer.newId()
    val buildId = tracer.newId()
    var rows = -1L
    var fp = ""
    val (err, op) = tracer.timed("op", name, parent, id = opId) {
      tracer.enter(opId, buildId)
      try {
        val (df, _) = tracer.timed("build", "build", opId, opId, buildId)(fn(env.spark, env.data))
        val obs = Observation(s"fp_$opId")
        val cols = df.schema.fields.map(f => hashable(col(s"`${f.name}`"), f.dataType)).toSeq
        val hash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
        val observed = df.observe(obs, count(lit(1)).as("rows"),
          coalesce(sum(hash.cast("decimal(20,0)")), lit(0).cast("decimal(30,0)")).as("fp"))
        tracer.timed("action", "action", opId, opId) {
          observed.write.format("noop").mode("overwrite").save()
        }
        val m = obs.get
        rows = m("rows").asInstanceOf[Long]
        fp = m("fp").toString
        None
      } catch {
        case e: Throwable => Some(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally tracer.leave()
    }
    Outcome(name, op.ms, rows, fp, err)
  }

  /** Expected (rows, fingerprint) per query, from `expected.json`. */
  def expected(path: Path): Map[String, (Long, String)] = {
    val root = new ObjectMapper().readTree(Files.readString(path))
    root.path("queries").fields().asScala.map { e =>
      e.getKey -> (e.getValue.path("rows").asLong, e.getValue.path("fp").asText)
    }.toMap
  }

  private def check(res: Result, o: Outcome, want: Map[String, (Long, String)]): Unit =
    (o.error, want.get(o.name)) match {
      case (Some(e), _) => res.fail(e)
      case (None, None) => res.fail(s"${o.name}: no expected value")
      case (None, Some((r, f))) if r != o.rows || f != o.fp =>
        res.fail(s"${o.name}: got rows=${o.rows} fp=${o.fp}, expected rows=$r fp=$f")
      case _ => res.ok()
    }

  /** Run passes over `names` in a seeded order until `seconds` have
    * passed (at least one pass); returns each pass's outcomes and span.
    */
  def passes(env: Env, tracer: Tracer, names: Seq[String], label: String,
      seconds: Double, salt: Int): Seq[(Seq[Outcome], Span)] = {
    val out = mutable.ArrayBuffer.empty[(Seq[Outcome], Span)]
    val t0 = System.nanoTime()
    do {
      val order = new scala.util.Random(env.seed * 1000 + salt + out.size).shuffle(names)
      val phase = tracer.newId()
      out += tracer.timed("phase", s"$label ${out.size}", tracer.runSpan, id = phase) {
        order.map(n => runOne(env, tracer, n, phase))
      }
    } while ((System.nanoTime() - t0) / 1e9 < seconds)
    out.toSeq
  }

  def run(env: Env, res: Result, names: Seq[String]): Unit = {
    val tracer = new Tracer(env.spark)
    val want = expected(env.expected)
    // set-up: one warm pass brings codegen, JIT and table footers near a
    // steady state; its outputs are checked like the timed ones
    val warm = passes(env, tracer, names, "warm", 0, 0).flatMap(_._1)
    warm.foreach(check(res, _, want))
    val setupMs = env.sinceLaunchMs
    res.info("warm_query_ms") = warm.map(o => o.name -> o.ms).toMap
    tracer.resetPeak()
    val timed = passes(env, tracer, names, "timed", env.seconds, 1)
    val peak = tracer.peakCachedMb
    timed.flatMap(_._1).foreach(check(res, _, want))
    val passS = Stats.median(timed.map(_._2.ms / 1000))
    val opMs = timed.flatMap(_._1.map(_.ms))
    res.metric("setup_s", setupMs / 1000, "s")
    res.metric("pass_s", passS, "s")
    res.metric("op_p50_ms", Stats.quantile(opMs, 0.5), "ms")
    res.metric("op_p90_ms", Stats.quantile(opMs, 0.9), "ms")
    res.info("passes") = timed.size
    res.info("operations_timed") = opMs.size
    res.info("pass_s_each") = timed.map(_._2.ms / 1000)
    res.info("query_ms") = timed.flatMap(_._1).groupBy(_.name).map { case (k, v) =>
      k -> v.map(_.ms) }.toSeq.sortBy(_._1).toMap
    res.info("workload_metrics") = Map(
      "query_p50_ms" -> Stats.quantile(opMs, 0.5),
      "query_p90_ms" -> Stats.quantile(opMs, 0.9))
    if (env.traced) {
      val (c0, d0) = tracer.blockCounts
      tracer.startTracing()
      val traced = passes(env, tracer, names, "traced", env.seconds, 2)
      tracer.stopTracing()
      traced.flatMap(_._1).foreach(check(res, _, want))
      val (c1, d1) = tracer.blockCounts
      // untraced again: the overhead compares against the passes on
      // both sides, so warm-up drift between them cancels
      val after = passes(env, tracer, names, "untraced", env.seconds, 3)
      after.flatMap(_._1).foreach(check(res, _, want))
      val untracedS = (passS + Stats.median(after.map(_._2.ms / 1000))) / 2
      val tree = tracer.spanTree()
      val layers = Layers.fromTrace(tracer, tree, traced.map(_._2),
        traced.map(_._2.id).toSet, env.cpus, packOf.get)
      val n = traced.size.toDouble
      layers("engine.Persisted.peak_cached_mb") = peak
      layers("engine.Persisted.blocks_cached") = (c1 - c0) / n
      layers("engine.Persisted.blocks_evicted") = (d1 - d0) / n
      val tracedS = Stats.median(traced.map(_._2.ms / 1000))
      layers("trace.pass_s") = tracedS
      layers("trace.untraced_pass_s") = untracedS
      layers("trace.overhead_s") = tracedS - untracedS
      if (names == Analytic) layers ++= tracer.probe("functions")(functionTimes(env))
      res.info("layers") = Layers.report(layers)
      Layers.checkTree(layers, res)
      Spans.write(tree, env.work.resolve("spans.jsonl"))
    }
  }

  /** Time each native function alone: a select of it over the run's
    * documents or embeddings, written to the noop sink; median of 5.
    */
  def functionTimes(env: Env): Map[String, Double] = {
    val s = env.spark
    graft.functions.GraftFunctions.register(s)
    val docs = graft.engine.Tables.documents(s, env.data)
      .selectExpr("split(lower(text), ' ') AS ws")
    val vecs = graft.engine.Tables.embeddings(s, env.data)
    val exprs = Seq(
      "graft_shingles" -> docs.selectExpr("graft_shingles(ws) AS x"),
      "graft_minhash" -> docs.selectExpr("graft_minhash(graft_shingles(ws)) AS x"),
      "graft_simhash" -> docs.selectExpr("graft_simhash(graft_shingles(ws)) AS x"),
      "graft_phash" -> docs.selectExpr("graft_phash(ws) AS x"),
      "graft_dot" -> vecs.selectExpr("graft_dot(embedding, embedding) AS x"))
    exprs.map { case (name, df) =>
      val ms = (0 until 6).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e6
      }.drop(1)
      s"functions.${name}_ms" -> Stats.median(ms)
    }.toMap
  }

  /** Record mode: run every query of both lists once, write each result
    * as parquet under `out/<name>` with the oracle SQL beside them (the
    * layout `tools/check.py` compares against DuckDB), and the rows and
    * fingerprint of each to `out/expected.json`.
    */
  def record(env: Env, out: Path): Unit = {
    val tracer = new Tracer(env.spark)
    Files.createDirectories(out)
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    val qs = root.putObject("queries")
    for (name <- (Analytic ++ Streaming).sorted) {
      val o = runOne(env, tracer, name, tracer.runSpan)
      o.error.foreach(e => throw new IllegalStateException(e))
      val again = runOne(env, tracer, name, tracer.runSpan)
      val node = qs.putObject(name)
      node.put("rows", o.rows)
      node.put("fp", o.fp)
      if (again.fp != o.fp || again.rows != o.rows) node.put("unstable_fp", again.fp)
      graft.SparkEntry.queries(name)(env.spark, env.data)
        .coalesce(1).write.mode("overwrite").parquet(out.resolve(name).toString)
      graft.queries.Persisted.drain()
    }
    Files.writeString(out.resolve("expected.json"),
      m.writerWithDefaultPrettyPrinter().writeValueAsString(root))
    val sql = m.createObjectNode()
    graft.SparkEntry.oracleSql.foreach { case (k, v) =>
      if ((Analytic ++ Streaming).contains(k)) sql.put(k, v) }
    Files.writeString(out.resolve("oracle_sql.json"), m.writeValueAsString(sql))
  }
}
