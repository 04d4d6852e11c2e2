package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.stream.WindowedAggs

/** Event-time streaming semantics over MemoryStream-driven queries:
  * watermarked tumbling windows with late-data drop, session windows,
  * within-watermark dedup, custom keyed state.
  */
class StreamingOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.engine.Sessions.local(4, "graft-test")

  private def ts(s: String) = Timestamp.valueOf(s)

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

  test("watermarked tumbling window aggregates and drops late rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = WindowedAggs.tumblingCounts(in.toDF(), "1 hour", "2 hours")
      .writeStream.format("memory").queryName("tumbling").outputMode("append").start()

    in.addData(
      Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:45:00"), 1, "click", 2.0),
      Ev(3, ts("2024-01-01 11:10:00"), 2, "view", 3.0))
    q.processAllAvailable()
    // advance watermark far enough to close the 10:00 and 11:00 windows
    in.addData(Ev(4, ts("2024-01-01 14:00:00"), 1, "click", 1.0))
    q.processAllAvailable()
    // this event is 3h older than the max seen ts: beyond the 2h watermark
    in.addData(Ev(5, ts("2024-01-01 10:30:00"), 1, "click", 100.0))
    q.processAllAvailable()
    // close everything remaining
    in.addData(Ev(6, ts("2024-01-01 23:00:00"), 1, "click", 1.0))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("tumbling").collect()
      .map(r => (r.getAs[Timestamp]("window_start").toString, r.getAs[String]("event_type"), r.getAs[Long]("n")))
    // the late row (event 5) must NOT appear anywhere: 10:00 click stays n=2
    assert(out.contains(("2024-01-01 10:00:00.0", "click", 2L)))
    assert(out.contains(("2024-01-01 11:00:00.0", "view", 1L)))
    assert(!out.exists { case (w, t, n) => w.startsWith("2024-01-01 10:") && n > 2 })
  }

  test("session windows split on the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = WindowedAggs.userSessions(in.toDF(), "30 minutes", "2 hours")
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()

    in.addData(
      Ev(1, ts("2024-01-01 09:00:00"), 7, "click", 0),
      Ev(2, ts("2024-01-01 09:10:00"), 7, "click", 0), // same session
      Ev(3, ts("2024-01-01 10:30:00"), 7, "click", 0)) // gap > 30m: new session
    q.processAllAvailable()
    in.addData(Ev(4, ts("2024-01-01 20:00:00"), 8, "click", 0)) // advance watermark
    q.processAllAvailable()
    q.stop()

    val sessions = spark.table("sessions").where("user_id = 7")
      .collect().map(_.getAs[Long]("n_events")).sorted
    assert(sessions.sameElements(Array(1L, 2L)))
  }

  test("dropDuplicatesWithinWatermark drops dupes inside the horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = WindowedAggs.dedupWithinWatermark(in.toDF(), "1 hour")
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()

    in.addData(
      Ev(1, ts("2024-01-01 09:00:00"), 1, "click", 0),
      Ev(1, ts("2024-01-01 09:00:10"), 1, "click", 0), // duplicate id within horizon
      Ev(2, ts("2024-01-01 09:05:00"), 1, "click", 0))
    q.processAllAvailable()
    in.addData(Ev(1, ts("2024-01-01 09:10:00"), 1, "click", 0)) // still within horizon
    q.processAllAvailable()
    q.stop()

    assert(spark.table("dedup").select("event_id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L)))
  }

  test("flatMapGroupsWithState keeps running per-user counts across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[WindowedAggs.UserEvent]
    val q = WindowedAggs.runningUserCounts(in.toDS())
      .writeStream.format("memory").queryName("usercounts").outputMode("append").start()

    in.addData(WindowedAggs.UserEvent(1, 10), WindowedAggs.UserEvent(1, 11), WindowedAggs.UserEvent(2, 12))
    q.processAllAvailable()
    in.addData(WindowedAggs.UserEvent(1, 13))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("usercounts").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events")))
    assert(rows.contains((1L, 2L))) // after batch 1
    assert(rows.contains((2L, 1L)))
    assert(rows.contains((1L, 3L))) // state carried into batch 2
  }

  test("stream-stream join evicts impression state past the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Timestamp, Long)]
    val clicks = MemoryStream[(Timestamp, Long)]
    def src(m: MemoryStream[(Timestamp, Long)]) = m.toDF().toDF("ts", "ad_id")
    val q = WindowedAggs.adAttribution(src(imps), src(clicks),
        followWindow = "1 hour", watermark = "2 hours")
      .writeStream.format("memory").queryName("attrib").outputMode("append").start()
    try {
      imps.addData((ts("2024-01-01 00:00:00"), 1L))
      q.processAllAvailable()
      // advance BOTH watermarks 10h past ad 1's impression: its buffered
      // state (useful only for clicks <= imp_ts + 1h) is evicted
      imps.addData((ts("2024-01-01 10:00:00"), 2L))
      clicks.addData((ts("2024-01-01 10:00:30"), 2L))
      q.processAllAvailable()
      // in-range click for ad 1, arriving after eviction: must NOT match
      clicks.addData((ts("2024-01-01 00:30:00"), 1L))
      q.processAllAvailable()
      val rows = spark.table("attrib").collect()
      assert(rows.map(_.getLong(0)).toSet == Set(2L),
        s"evicted impression must not re-match; got ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("transformWithState carries ValueState and ListState across batches") {
    import graft.engine.stream.StatefulProfiles
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[StatefulProfiles.UserValue]
      val q = StatefulProfiles.runningProfiles(in.toDS())
        .toDF().writeStream.format("memory").queryName("tws")
        .outputMode("update").start()
      try {
        in.addData(StatefulProfiles.UserValue(1, 10), StatefulProfiles.UserValue(2, 7))
        q.processAllAvailable()
        in.addData(StatefulProfiles.UserValue(1, 4))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("tws").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_batches"),
          r.getAs[Long]("n_events"), r.getAs[Long]("sum_value"), r.getAs[Long]("max_value")))
        .toSet
      // batch 1 emissions, then user 1's state carried into batch 2:
      // n_batches counts ListState entries, sum/max from ValueStates
      assert(rows == Set((1L, 1L, 1L, 10L, 10L), (2L, 1L, 1L, 7L, 7L),
        (1L, 2L, 2L, 14L, 10L)))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("transformWithState event-time timers close idle sessions at the watermark") {
    import graft.engine.stream.StatefulProfiles
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[StatefulProfiles.TimedEvent]
      val q = StatefulProfiles.idleSessions(in.toDS(), gapMs = 5000L)
        .toDF().writeStream.format("memory").queryName("tws_timers")
        .outputMode("append").start()
      try {
        // u1 deadline 2000+5000, u2 deadline 1500+5000
        in.addData(StatefulProfiles.TimedEvent(1, 1000),
          StatefulProfiles.TimedEvent(1, 2000), StatefulProfiles.TimedEvent(2, 1500))
        q.processAllAvailable()
        // raises max event time to 50000; watermark DURING this batch is
        // still 2000 (previous batch's max), so no timer fires yet
        in.addData(StatefulProfiles.TimedEvent(3, 50000))
        q.processAllAvailable()
        // this batch runs under watermark 50000: both idle timers fire
        in.addData(StatefulProfiles.TimedEvent(3, 100000))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("tws_timers").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
          r.getAs[Long]("closed_at_ms"))).toSet
      assert(rows == Set((1L, 2L, 7000L), (2L, 1L, 6500L)),
        s"expected both idle sessions closed by their timers; got $rows")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("awaitDrained stops a query still running at its timeout and throws") {
    import spark.implicits._
    val in = MemoryStream[Long](spark)
    val q = in.toDF().writeStream.format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    val e = intercept[java.util.concurrent.TimeoutException](
      graft.queries.Ingest.awaitDrained(q, 200L))
    assert(!q.isActive, "a timed-out query must be stopped")
    assert(e.getMessage.contains(q.id.toString) && e.getMessage.contains("200 ms"))
  }

  test("CentroidAggregator matches built-in per-dimension averages") {
    import spark.implicits._
    val e = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val centroid = udaf(graft.functions.CentroidAggregator)
    val got = e.groupBy(col("label"))
      .agg(centroid(col("embedding")).as("c"))
      .selectExpr("label", "round(element_at(c, 1), 6) AS c1", "round(element_at(c, 4), 6) AS c4")
    val want = e.groupBy(col("label"))
      .agg(avg(expr("CAST(element_at(embedding, 1) AS DOUBLE)")).as("a1"),
        avg(expr("CAST(element_at(embedding, 4) AS DOUBLE)")).as("a4"))
      .selectExpr("label", "round(a1, 6) AS c1", "round(a4, 6) AS c4")
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
  }
}
