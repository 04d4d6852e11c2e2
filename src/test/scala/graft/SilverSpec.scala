package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.silver.Silver
import graft.engine.sinks.{EvolvingTableSink, ParquetAppendSink}
import graft.engine.sources.Sources
import graft.engine.stream.StreamProcessor
import graft.fixtures.EventGen

/** Bronze -> Silver compaction: duplicates injected by the producer are
  * removed downstream, exactly as the reference's layering prescribes.
  */
class SilverSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.engine.Sessions.local(4, "graft-test")

  test("silver compaction dedups bronze on event_id") {
    val root = Files.createTempDirectory("graft_silver")
    val gen = new EventGen(seed = 21L, duplicateChance = 0.3)
    gen.writeBatchFiles(root.resolve("in"), nBatches = 4, eventsPerBatch = 25)

    val bronze = new EvolvingTableSink(root.resolve("bronze").toString)
    val proc = new StreamProcessor(
      bronze, new ParquetAppendSink(root.resolve("dead").toString),
      checkpointLocation = root.resolve("ckpt").toString,
      trigger = Trigger.ProcessingTime("100 milliseconds"))
    val q = proc.start(Sources.textDirStream(spark, root.resolve("in").toString))
    q.processAllAvailable()
    q.stop()

    val bronzeDf = bronze.read(spark)
    val total = bronzeDf.count()
    val distinct = bronzeDf.select("event_id").distinct().count()
    assert(total > distinct, "fixture should inject duplicate events")

    val silverCount = Silver.compact(spark, bronze, root.resolve("silver").toString)
    assert(silverCount == distinct)

    // idempotent: rerunning the dedup over silver changes nothing
    val silver = new EvolvingTableSink(root.resolve("silver").toString)
    assert(Silver.dedupEvents(silver.read(spark)).count() == silverCount)
  }
}
