package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{CompletionException, ExecutionException}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.ingest.{EventSchema, JsonArrayBatchParser, Router}
import graft.engine.sinks.{EvolvingTableSink, ParquetAppendSink}
import graft.engine.sources.Sources
import graft.engine.stream.StreamProcessor
import graft.fixtures.EventGen

/** End-to-end streaming smoke (reference: the full consumer pipeline,
  * src/consumer/stream_processor.py:146-167): EventGen batch files ->
  * text dir stream -> parse/route -> bronze + dead-letter sinks, with
  * checkpoint restart not duplicating batches.
  */
class StreamProcessorSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.engine.Sessions.local(4, "graft-test")

  /** (valid, dead-letter) counts of the batch path over `path`. */
  private def batchCounts(path: String): (Long, Long) = {
    val routed = Router.withReason(
      new JsonArrayBatchParser().parse(Sources.textDir(spark, path)))
    (routed.filter(s"${EventSchema.DeadLetterReason} IS NULL").count(),
      routed.filter(s"${EventSchema.DeadLetterReason} IS NOT NULL").count())
  }

  /** Move one freshly generated batch file into `inDir` atomically, so a
    * running stream never lists it half written.
    */
  private def dropFile(gen: EventGen, root: Path, inDir: Path, events: Int): Path = {
    val staged = gen.writeBatchFiles(root.resolve("staging"), nBatches = 1, eventsPerBatch = events).head
    Files.createDirectories(inDir)
    Files.move(staged, inDir.resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }

  private def oneFilePerTrigger(inDir: Path): DataFrame =
    spark.readStream.option("maxFilesPerTrigger", 1).text(inDir.toString)

  test("streams batch files to bronze and dead-letter sinks, exactly once across restarts") {
    val root = Files.createTempDirectory("graft_stream")
    val inDir = root.resolve("in")
    val gen = new EventGen(seed = 7L, corruptionChance = 0.3, invalidSchemaChance = 0.2)
    gen.writeBatchFiles(inDir, nBatches = 5, eventsPerBatch = 20)

    val bronze = new EvolvingTableSink(root.resolve("bronze").toString)
    val dead = new ParquetAppendSink(root.resolve("dead").toString)
    val proc = new StreamProcessor(
      bronze, dead,
      checkpointLocation = root.resolve("ckpt").toString,
      trigger = Trigger.ProcessingTime("100 milliseconds"))

    val q1 = proc.start(Sources.textDirStream(spark, inDir.toString))
    q1.processAllAvailable()
    q1.stop()

    // expected counts from the batch path over the same files
    val expected = Router.withReason(
      new JsonArrayBatchParser().parse(Sources.textDir(spark, inDir.toString)))
    val expValid = expected.filter(s"${EventSchema.DeadLetterReason} IS NULL").count()
    val expDead = expected.filter(s"${EventSchema.DeadLetterReason} IS NOT NULL").count()
    assert(expValid > 0 && expDead > 0, "fixture should produce both classes")

    def bronzeCount = bronze.read(spark).count()
    def deadCount = spark.read.parquet(dead.path).count()
    assert(bronzeCount == expValid)
    assert(deadCount == expDead)
    assert(proc.lastBatchCounts._1 + proc.lastBatchCounts._2 > 0)

    // restart on the same checkpoint with no new data: no duplicates
    val q2 = proc.start(Sources.textDirStream(spark, inDir.toString))
    q2.processAllAvailable()
    q2.stop()
    assert(bronzeCount == expValid)
    assert(deadCount == expDead)

    // one more file: only its rows are appended
    gen.writeBatchFiles(inDir, nBatches = 1, eventsPerBatch = 10)
    val q3 = proc.start(Sources.textDirStream(spark, inDir.toString))
    q3.processAllAvailable()
    q3.stop()
    val expected2 = Router.withReason(
      new JsonArrayBatchParser().parse(Sources.textDir(spark, inDir.toString)))
    assert(bronzeCount == expected2.filter(s"${EventSchema.DeadLetterReason} IS NULL").count())
    assert(deadCount == expected2.filter(s"${EventSchema.DeadLetterReason} IS NOT NULL").count())
  }

  test("in-line maintenance compacts and expires without touching results") {
    val root = Files.createTempDirectory("graft_stream_maint")
    val inDir = root.resolve("in")
    val gen = new EventGen(seed = 23L, corruptionChance = 0.2, invalidSchemaChance = 0.1)
    gen.writeBatchFiles(inDir, nBatches = 6, eventsPerBatch = 15)

    val bronze = new EvolvingTableSink(root.resolve("bronze").toString)
    val dead = new ParquetAppendSink(root.resolve("dead").toString)
    val proc = new StreamProcessor(
      bronze, dead,
      checkpointLocation = root.resolve("ckpt").toString,
      trigger = Trigger.ProcessingTime("100 milliseconds"),
      maintenanceEvery = 2, maintenanceKeepSnapshots = 1)
    // one file per micro-batch so maintenance actually fires mid-stream
    val q = proc.start(spark.readStream.option("maxFilesPerTrigger", 1)
      .text(inDir.toString))
    q.processAllAvailable()
    q.stop()

    val expected = Router.withReason(
      new JsonArrayBatchParser().parse(Sources.textDir(spark, inDir.toString)))
      .filter(s"${EventSchema.DeadLetterReason} IS NULL").count()
    assert(bronze.read(spark).count() == expected,
      "maintenance must never change the visible rows")
    // compaction + expiry actually ran: far fewer live dirs than batches
    val dirs = new java.io.File(root.resolve("bronze").toString).listFiles()
      .map(_.getName).count(_.startsWith("_batch_id="))
    assert(dirs < 6, s"expected compacted dir count, got $dirs")
    // replay safety is untouched: a restart appends nothing
    val q2 = proc.start(spark.readStream.option("maxFilesPerTrigger", 1)
      .text(inDir.toString))
    q2.processAllAvailable()
    q2.stop()
    assert(bronze.read(spark).count() == expected)
    // r14 incremental contract: run maintenance to quiescence, then a
    // further tick with NO new small dirs must be a no-op — the stream's
    // recurring maintenance never rewrites its own settled outputs
    bronze.compactBatches(spark, targetBytes = 128L * 1024 * 1024, byDay = true)
    assert(bronze.compactBatches(spark,
      targetBytes = 128L * 1024 * 1024, byDay = true).isEmpty,
      "a maintenance tick with no new small dirs must be a no-op")
    assert(bronze.read(spark).count() == expected)
  }

  test("schema evolution flows through the streaming sink (purchase adds product_id)") {
    val root = Files.createTempDirectory("graft_stream_evo")
    val bronze = new EvolvingTableSink(root.resolve("bronze").toString)
    val dead = new ParquetAppendSink(root.resolve("dead").toString)
    val proc = new StreamProcessor(
      bronze, dead,
      checkpointLocation = root.resolve("ckpt").toString,
      trigger = Trigger.ProcessingTime("100 milliseconds"))

    val inDir = root.resolve("in")
    // page_view-only first (no product_id values), then purchases appear
    val gen = new EventGen(seed = 11L)
    gen.writeBatchFiles(inDir, nBatches = 3, eventsPerBatch = 15)
    val q = proc.start(Sources.textDirStream(spark, inDir.toString))
    q.processAllAvailable()
    q.stop()

    val back = bronze.read(spark)
    assert(back.columns.contains("product_id"))
    val types = back.select("event_type").distinct().collect().map(_.getString(0)).toSet
    assert(types.subsetOf(Set("page_view", "purchase")))
    // purchases carry product_id, page_views do not
    assert(back.filter("event_type = 'purchase' AND product_id IS NULL").count() == 0)
    assert(back.filter("event_type = 'page_view' AND product_id IS NOT NULL").count() == 0)
  }

  test("lastBatchCounts equals the batch-path counts of each micro-batch's file") {
    val root = Files.createTempDirectory("graft_stream_counts")
    val inDir = root.resolve("in")
    val gen = new EventGen(seed = 31L, corruptionChance = 0.3, invalidSchemaChance = 0.2)
    val proc = new StreamProcessor(
      new EvolvingTableSink(root.resolve("bronze").toString),
      new ParquetAppendSink(root.resolve("dead").toString),
      checkpointLocation = root.resolve("ckpt").toString,
      trigger = Trigger.ProcessingTime("100 milliseconds"))
    Files.createDirectories(inDir)
    val q = proc.start(oneFilePerTrigger(inDir))
    try {
      val seen = (1 to 4).map { i =>
        val file = dropFile(gen, root, inDir, events = 10 * i)
        q.processAllAvailable()
        val want = batchCounts(file.toString)
        assert(proc.lastBatchCounts == want, s"file $i")
        want
      }
      assert(seen.exists(_._1 > 0) && seen.exists(_._2 > 0),
        "fixture should produce both classes")
    } finally q.stop()
  }

  test("every micro-batch job carries the query's job group, two jobs per batch") {
    val root = Files.createTempDirectory("graft_stream_jobs")
    val inDir = root.resolve("in")
    val gen = new EventGen(seed = 41L, corruptionChance = 0.3, invalidSchemaChance = 0.2)
    gen.writeBatchFiles(inDir, nBatches = 3, eventsPerBatch = 20)
    val bronze = new EvolvingTableSink(root.resolve("bronze").toString)
    val proc = new StreamProcessor(
      bronze, new ParquetAppendSink(root.resolve("dead").toString),
      checkpointLocation = root.resolve("ckpt").toString,
      trigger = Trigger.ProcessingTime("100 milliseconds"))
    val (runId, seen) = graft.tools.Probe.measure(spark) {
      val q = proc.start(oneFilePerTrigger(inDir))
      try q.processAllAvailable() finally q.stop()
      q.runId.toString
    }
    val stray = seen.filter(_.group != runId)
    assert(stray.isEmpty, s"jobs outside the stream's job group $runId: $stray")
    // the bronze write and the dead-letter write; the event schema has no
    // integral column, so no stats ledger job and no ledger dir
    val perBatch = seen.groupBy(_.batchId).map { case (b, js) => b.fold("")(_.toString) -> js.size }
    assert(perBatch == Map("0" -> 2, "1" -> 2, "2" -> 2), s"jobs per batch: $perBatch")
    assert(!Files.exists(root.resolve("bronze").resolve("_manifest")))
    assert(bronze.read(spark).count() == batchCounts(inDir.toString)._1)
  }

  test("a failed dead-letter write blocks the bronze commit; the replay lands once") {
    val root = Files.createTempDirectory("graft_stream_dlq_fail")
    val inDir = root.resolve("in")
    val gen = new EventGen(seed = 53L, corruptionChance = 0.3, invalidSchemaChance = 0.2)
    val bronze = new EvolvingTableSink(root.resolve("bronze").toString)
    val dead = new ParquetAppendSink(root.resolve("dead").toString)
    val ckpt = root.resolve("ckpt").toString
    def run(deadSink: ParquetAppendSink): Unit = {
      val q = new StreamProcessor(bronze, deadSink, checkpointLocation = ckpt,
        trigger = Trigger.ProcessingTime("100 milliseconds")).start(oneFilePerTrigger(inDir))
      try q.processAllAvailable() finally q.stop()
    }
    val first = dropFile(gen, root, inDir, events = 30)
    run(dead)
    val (firstValid, _) = batchCounts(first.toString)
    assert(bronze.isCommitted(0))

    // batch 1 meets a dead-letter path that is a regular file
    val blocked = Files.write(root.resolve("dead_blocked"), Array[Byte](1))
    val badSink = new ParquetAppendSink(blocked.toString)
    val direct = intercept[Throwable](badSink.write(spark.range(1).toDF()))
    dropFile(gen, root, inDir, events = 30)
    val e = intercept[StreamingQueryException](run(badSink))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(!chain.exists(c => c.isInstanceOf[ExecutionException] || c.isInstanceOf[CompletionException]),
      s"the future's wrapper leaked: ${chain.map(_.getClass.getName)}")
    assert(chain.exists(c => c.getClass == direct.getClass && c.getMessage == direct.getMessage),
      s"expected the sink's own ${direct.getClass.getName}, got ${chain.map(_.getClass.getName)}")
    assert(!bronze.isCommitted(1))
    assert(bronze.read(spark).count() == firstValid, "batch 1 rows must not be visible")

    // the path is fixed: the restart replays batch 1 exactly once
    run(dead)
    assert(bronze.isCommitted(1))
    val (allValid, allDead) = batchCounts(inDir.toString)
    val back = bronze.read(spark)
    assert(back.count() == allValid)
    assert(back.select("event_id").distinct().count() == allValid)
    assert(spark.read.parquet(dead.path).count() == allDead)
  }
}
