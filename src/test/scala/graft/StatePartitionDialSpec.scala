package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The streaming scale-out invariant: keyed state is partitioned by
  * HASH(key) % numStatePartitions, so the gated output of every stateful
  * roundtrip must be IDENTICAL whether the state store runs on 1 partition
  * (the literal-input default — see Ingest.withStreamingPartitions,
  * which Ingest.memoryRoundtrip runs every memory-sink roundtrip in) or 8
  * (keys spread across stores, most partitions empty some batches). This
  * is the property that lets the same pipeline run at
  * statePartitions = 2 x cluster cores at 100 TB: partition count is a
  * throughput dial, never a semantics dial.
  *
  * One representative per state-operator family: windowed agg state
  * (tumbling), watermark dedup state, symmetric stream-stream join state
  * (left outer — emits both matched and watermark-expired null rows), and
  * transformWithState typed value state + timers on RocksDB.
  */
class StatePartitionDialSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.engine.Sessions.local(4, "graft-test")

  private val names = Seq(
    "stream_tumbling_roundtrip",
    "stream_dedup_roundtrip",
    "stream_left_join_roundtrip",
    "stream_tws_roundtrip")

  private def run(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).toSeq

  for (name <- names)
    test(s"$name output is invariant under 1 -> 8 state partitions") {
      val key = "spark.graft.stream.statePartitions"
      val at1 = run(name)
      val at8 = try { spark.conf.set(key, "8"); run(name) }
      finally spark.conf.unset(key)
      assert(at1.nonEmpty, "roundtrip must emit rows")
      assert(at8 == at1,
        s"gated output diverged between 1 and 8 state partitions:\n1: $at1\n8: $at8")
    }
}
