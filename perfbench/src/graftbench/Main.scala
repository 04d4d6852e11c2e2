package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper

/** What one run reports: operations attempted and failed (with the
  * reason of each failure), the declared metrics, and the informational
  * figures printed beside them.
  */
final class Result {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]

  def ok(): Unit = attempted += 1
  def fail(why: String): Unit = { attempted += 1; failures += why }
  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
}

/** Benchmark JVM entry point.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --data <dir> --out <file> --cpus <n>
  *   --launch-ms <epoch ms> --expected <file> [--mode bench|record]
  *
  * Writes the run's result as JSON to `--out`; `perfbench/run.py` turns
  * it into the benchmark's result line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.get("mode").contains("selftest")) {
      val failures = IngestTruth.selfTest()
      failures.foreach(f => println(s"selftest FAIL $f"))
      println(s"selftest ${IngestTruth.SelfTestCases.size} cases, ${failures.size} failed")
      sys.exit(if (failures.isEmpty) 0 else 1)
    }
    val workload = a("workload")
    val work = Paths.get(a("work"))
    Files.createDirectories(work)
    val spark = graft.engine.Sessions.local(a("cpus").toInt, "graftbench")
    spark.sparkContext.setLogLevel("ERROR")
    // keep every micro-batch's progress of one query (the default keeps 100)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val env = Env(spark, work, a("data"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("cpus").toInt, a("launch-ms").toDouble,
      Paths.get(a.getOrElse("expected", "perfbench/expected.json")))
    val res = new Result
    res.info("session_ready_s") = env.sinceLaunchMs / 1000
    IngestTruth.selfTest().foreach(res.fail)
    try {
      a.getOrElse("mode", "bench") match {
        case "record" => QueryWorkload.record(env, Paths.get(a("out")))
        case _ =>
          workload match {
            case "ingest_pipeline" => IngestWorkload.run(env, res)
            case "stream_roundtrips" => QueryWorkload.run(env, res, QueryWorkload.Streaming)
            case "analytic_mix" => QueryWorkload.run(env, res, QueryWorkload.Analytic)
            case other => throw new IllegalArgumentException(s"unknown workload $other")
          }
          writeResult(res, Paths.get(a("out")))
      }
    } finally {
      graft.queries.Persisted.drainShared()
      spark.stop()
    }
  }

  def writeResult(res: Result, out: java.nio.file.Path): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("attempted", res.attempted)
    root.put("failed", res.failures.size.toLong)
    val fs = root.putArray("failures")
    res.failures.foreach(fs.add)
    val ms = root.putObject("metrics")
    res.metrics.foreach { case (k, (v, u)) =>
      val o = ms.putObject(k); o.put("value", v); o.put("unit", u)
    }
    root.set("info", m.valueToTree(toJava(res.info)))
    Files.writeString(out, m.writerWithDefaultPrettyPrinter().writeValueAsString(root))
  }

  private def toJava(x: Any): Any = x match {
    case m: collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, v) => j.put(k.toString, toJava(v)) }
      j
    case s: Iterable[_] =>
      val j = new java.util.ArrayList[Any]()
      s.foreach(v => j.add(toJava(v)))
      j
    case d: Double => if (d.isNaN || d.isInfinite) null else d
    case o => o
  }
}

/** The run's fixed surroundings. */
final case class Env(spark: org.apache.spark.sql.SparkSession, work: java.nio.file.Path,
    data: String, seed: Long, seconds: Double, traced: Boolean, cpus: Int,
    launchMs: Double, expected: java.nio.file.Path) {
  /** Milliseconds from the JVM's launch to now. */
  def sinceLaunchMs: Double = System.currentTimeMillis() - launchMs
}

/** Order statistics on small samples. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
