package graft.engine

import org.apache.spark.sql.SparkSession

/** Session factory mirroring the reference's `SessionBuilder`
  * (reference: src/consumer/session_builder.py:34-120) as a typed Scala
  * builder. The reference chains `.config(...)` for UI port, S3A
  * credentials and an Iceberg catalog; here the same shape is exposed
  * as named options, with 100 TB-oriented defaults baked in:
  *
  *   - AQE on (runtime re-planning, skew-join splitting, partition
  *     coalescing) — the single most important knob for a 1000-executor
  *     cluster reading non-uniform data;
  *   - shuffle partitions sized to the parallelism of the machine at
  *     hand (the driver contract pins 32 locally; on a real cluster this
  *     would be `executors * cores * 2-3` or simply left to AQE's
  *     coalescing with a high initial value);
  *   - UTC session timezone so timestamp semantics match the DuckDB
  *     oracle and any downstream reader.
  */
object Sessions {

  /** Point JVM-local scratch (shuffle/spill files, streaming checkpoint
    * base) at the RAM disk when one is mounted and the caller hasn't
    * chosen otherwise. Local-mode ergonomics for the bench/verify mains:
    * every micro-batch creates and renames small files per state store
    * and per log (state delta, offset and commit entries, each with its
    * `.crc`). None is fsynced (Spark calls no `hsync` on them), but on a
    * disk-backed /tmp each is still a metadata write on the streaming
    * roundtrip's critical path. A cluster deployment sets
    * spark.local.dir to NVMe explicitly and always passes real
    * checkpoint locations. Must run
    * BEFORE the SparkContext starts (spark.local.dir is read once).
    */
  def preferShmScratch(): Unit = {
    val shm = new java.io.File("/dev/shm")
    // Opt-out + capacity guard: tmpfs is typically capped at RAM/2 and is
    // shared with the JVM heap under memory pressure; a spill-heavy run on
    // a small /dev/shm would hit ENOSPC mid-query. SPARK_GRAFT_SHM=0
    // forces disk scratch; otherwise require 16 GiB usable headroom.
    if (sys.env.get("SPARK_GRAFT_SHM").contains("0")) return
    if (shm.isDirectory && shm.canWrite &&
        shm.getUsableSpace >= 16L * 1024 * 1024 * 1024) {
      // Reap scratch left by dead JVMs first (a SIGKILL skips shutdown
      // hooks, so orphaned per-PID trees would otherwise hold tmpfs RAM
      // until reboot).
      val stale = Option(shm.listFiles()).getOrElse(Array.empty).filter { f =>
        val n = f.getName
        (n.startsWith("graft-local-") || n.startsWith("graft-ckpt-")) &&
          n.split("-").lastOption.flatMap(_.toLongOption).exists { pid =>
            ProcessHandle.of(pid).isEmpty
          }
      }
      stale.foreach(f =>
        graft.engine.util.Fs.deleteRecursively(f.toPath))
      // per-process dirs, removed by a shutdown hook: a conf-based
      // checkpoint location is treated as PERMANENT by Spark (unlike
      // the default temp checkpoint, which is deleted on query stop),
      // so without cleanup every bench run would leak RAM-backed
      // checkpoint trees into the tmpfs until the box is rebooted.
      // Per-PID paths also keep concurrent JVMs (driver verify + a dev
      // bench) from clobbering each other's live scratch.
      val pid = ProcessHandle.current().pid()
      val local = s"/dev/shm/graft-local-$pid"
      val ckpt = s"/dev/shm/graft-ckpt-$pid"
      if (System.getProperty("spark.local.dir") == null)
        System.setProperty("spark.local.dir", local)
      if (System.getProperty("spark.sql.streaming.checkpointLocation") == null)
        System.setProperty("spark.sql.streaming.checkpointLocation", ckpt)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        Seq(local, ckpt).foreach { p =>
          graft.engine.util.Fs.deleteRecursively(java.nio.file.Paths.get(p))
        }))
    }
  }

  /** Build a local session with graft defaults. `cpus` drives both the
    * master thread count and the shuffle partition count — on local
    * mode there is no benefit to more shuffle partitions than cores.
    * The engine's functions and optimizer rule arrive through
    * [[graft.functions.GraftExtensions]] when the session is created; a
    * later call returns the same session (`getOrCreate`), so they are
    * installed once per session.
    *
    * `file:` paths go through [[graft.engine.util.LocalFs]]'s classes
    * (set as `spark.hadoop.*`, so the session's Hadoop conf, its write
    * tasks and its streaming checkpoints all get them): Hadoop's local
    * filesystem without a `chmod`/`readlink` child process per file.
    * Hadoop caches one `FileSystem` per scheme and user, and its cache
    * key ignores the conf: a `file:` FileSystem fetched with a plain
    * `new Configuration()` before the first `local` call stays the stock
    * class for the JVM. LocalFsSpec checks the installed classes.
    */
  def local(cpus: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      .config(graft.engine.util.LocalFs.HadoopConfs
        .map { case (k, v) => s"spark.hadoop.$k" -> v }.toMap)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // session-level (not a Tables.events read side effect): nanos
      // parquet timestamps arrive as raw longs; Tables.events normalizes
      // them to micros. See Tables.events for why this can't be scoped
      // per-read under lazy execution.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
