package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // --sql-only (r11 VERDICT #7): re-dump oracle_sql.json without
    // running a single query or starting Spark, so judge-side oracle
    // timing always matches HEAD even when the SQL surface was refreshed
    // after the last full verify. `runMain graft.Verify --sql-only
    // <outDir>` finishes in seconds.
    if (args.headOption.contains("--sql-only")) {
      val outDir = args(1)
      new java.io.File(outDir).mkdirs()
      writeOracleSql(outDir)
      println(s"[verify] oracle_sql.json written to $outDir (sql-only mode)")
      return
    }
    val sfDir = args(0)
    val outDir = args(1)
    // optional: query names after the two dirs restrict the dump (dev
    // iteration; the driver always passes exactly two args)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // the engine's shipped session defaults (AQE on, UTC, shuffle
    // partitions = cores) — verify the configuration users actually get,
    // including default temp-checkpoint handling (no scratch override
    // here: correctness runs are untimed, and the RAM-disk shortcut is
    // a bench-only ergonomic — see Bench.main)
    val spark = graft.engine.Sessions.local(cpus, "graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(SparkEntry.failureLine("verify", name, e))
      }
      finally {
        // release per-query persisted frames: drain the registry (the
        // library contract). No clearCache here (r10): the hammer also
        // evicted the cross-query shared tier (co-purchase frame), and
        // every query-scoped frame is registry-tracked anyway; the
        // shared tier + anything stray is released once at the end.
        graft.queries.Persisted.drain()
      }
    }
    writeOracleSql(outDir)
    graft.queries.Persisted.drainShared()
    spark.stop()
  }

  /** Dump SparkEntry.oracleSql as JSON. JSON string escape: backslash,
    * quote, and ALL control chars (<0x20) — a tab or CR in
    * builder-authored SQL would otherwise make the driver's json.load
    * fail and silently zero the round's correctness.
    */
  private def writeOracleSql(outDir: String): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
