package graft.queries

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.engine.ingest.{EventSchema, JsonArrayBatchParser, Router}
import graft.engine.sinks.{EvolvingTableSink, ParquetAppendSink}
import graft.engine.stream.{StatefulProfiles, StreamProcessor, Upsert, WindowedAggs}

/** Oracle-checked queries for the ingestion path: the same literal batch
  * strings flow through the engine's JsonArrayBatchParser + Router on the
  * Spark side and through an equivalent JSON-SQL reimplementation in
  * DuckDB, so the parser and routing semantics (corruption, invalid
  * schema, extra fields, precedence, empty-array rule) are part of the
  * correctness gate — not just unit-tested.
  *
  * Parser edge semantics mirrored from the reference
  * (reference: src/consumer/batch_parsers.py:40-142,
  * src/consumer/stream_processor.py:66-116).
  */
object Ingest extends QueryPack {
  import EventSchema._

  /** Literal input batches — every routing class represented:
    * 1 valid x2 records; 2 truncated JSON (corrupted); 3 bogus key
    * (invalid_schema); 4 seven keys (extra_fields); 5 empty array
    * (corrupted, the G1 explode_outer rule); 6 missing required field;
    * 7 valid + unparseable timestamp (per-record split); 8 non-object
    * record (invalid_schema).
    */
  private val batches: Seq[String] = Seq(
    """[{"user_id":"u1","event_id":"e01","event_timestamp":"2024-01-01 00:00:00","event_type":"page_view","properties":{"url":"http://a","user_agent":"ua1"}},{"user_id":"u2","event_id":"e02","event_timestamp":"2024-01-02 10:30:00","event_type":"purchase","product_id":"p1","properties":{"amount":19.99,"currency":"USD"}}]""",
    """[{"user_id":"u3","event_id":"e03""",
    """[{"glorp":"zzz"}]""",
    """[{"user_id":"u4","event_id":"e04","event_timestamp":"2024-01-03 00:00:00","event_type":"page_view","product_id":null,"properties":{"url":"u"},"extra":"x"}]""",
    """[]""",
    """[{"user_id":"u5","event_id":"e05","event_type":"page_view"}]""",
    """[{"user_id":"u6","event_id":"e06","event_timestamp":"2024-01-04 05:00:00","event_type":"page_view","properties":{"url":"q","user_agent":"z"}},{"user_id":"u6","event_id":"e07","event_timestamp":"bogus","event_type":"page_view"}]""",
    """[42]""")

  private val duckValues =
    batches.map(b => s"('${b}')").mkString(", ")

  /** Literal (ts, user_id) rows for the streaming session roundtrip:
    * user 1 has two sessions (a 110-minute gap splits them), user 2 one
    * session that SPANS the two delivery batches (10-minute gap merges
    * across micro-batches — the state-merge case).
    */
  private val sessionEvents: Seq[(String, Long)] = Seq(
    ("2024-01-01 00:00:00", 1L),
    ("2024-01-01 00:10:00", 1L),
    ("2024-01-01 00:20:00", 2L),
    ("2024-01-01 00:30:00", 2L),
    ("2024-01-01 02:00:00", 1L))

  /** Literal (ts, event_id) rows for the streaming dedup roundtrip: the
    * first batch (first 4) re-emits event 101 VERBATIM inside the batch;
    * the second batch re-emits event 102 across batches. Both duplicates
    * must be dropped with exactly one copy surviving.
    */
  private val dedupEvents: Seq[(String, Long)] = Seq(
    ("2024-01-01 00:00:00", 101L),
    ("2024-01-01 00:00:00", 101L),
    ("2024-01-01 00:05:00", 102L),
    ("2024-01-01 00:10:00", 103L),
    ("2024-01-01 00:05:00", 102L),
    ("2024-01-01 00:20:00", 104L))

  /** Literal corpus for the streaming MinHash dedup roundtrip, ascending
    * doc_id across batches (so owner-at-arrival == global min owner and
    * the oracle can re-derive the stream's verdicts batch-free). Doc 5 is
    * a verbatim cross-batch copy of doc 2; docs 6 and 7 are a verbatim
    * IN-batch pair; all texts carry >= 3 words so every doc shingles.
    */
  private val minhashDocs: Seq[(Long, String)] = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "pack my box with five dozen liquor jugs"),
    (3L, "how vexingly quick daft zebras jump today"),
    (4L, "sphinx of black quartz judge my vow"),
    (5L, "pack my box with five dozen liquor jugs"),
    (6L, "bright vixens jump for the lazy dog"),
    (7L, "bright vixens jump for the lazy dog"))

  /** Literal corpus for the streaming curation roundtrip — every verdict
    * class represented in both micro-batches (too_short, stopword_heavy,
    * long_words, keep).
    */
  private val curateDocs: Seq[(Long, String)] = Seq(
    (1L, "tiny doc here"),
    (2L, "the a the and or the a and"),
    (3L, "quality documents carry diverse vocabulary and structure"),
    (4L, "extraordinarily incomprehensible antidisestablishmentarianism pseudopseudohypoparathyroidism floccinaucinihilipilification"),
    (5L, "the data is good and the work is done here now"),
    (6L, "or and or and the a or"),
    (7L, "four short words only"))

  /** (user_id, event_id) rows per micro-batch for the custom-state
    * roundtrip: user 1 appears in both batches (state carries over).
    */
  private val stateBatches: Seq[Seq[(Long, Long)]] = Seq(
    Seq((1L, 1L), (1L, 2L), (2L, 3L)),
    Seq((1L, 4L), (3L, 5L)))

  /** (user_id, value) rows per micro-batch for the transformWithState
    * roundtrip: user 1 appears in all three batches (ValueState and
    * ListState must both carry across), user 2 in two, user 3 in one.
    * Values chosen so sum/max evolve differently per batch.
    */
  private val twsBatches: Seq[Seq[(Long, Long)]] = Seq(
    Seq((1L, 10L), (1L, 5L), (2L, 7L)),
    Seq((1L, 20L), (3L, 1L), (2L, 2L)),
    Seq((1L, 3L)))

  /** (user_id, event_type) rows per micro-batch for the MapState
    * roundtrip: user 1 accumulates two types across batches (the full
    * map re-emits, including the type NOT touched this batch), user 2
    * one type twice.
    */
  private val twsMapBatches: Seq[Seq[(Long, String)]] = Seq(
    Seq((1L, "click"), (1L, "view"), (2L, "click")),
    Seq((1L, "click"), (2L, "click")))

  /** Item batches for the streaming Misra-Gries roundtrip — skewed so
    * the decrement step fires in EVERY batch (more than k=3 live
    * counters after each merge).
    */
  private val hhBatches: Seq[Seq[String]] = Seq(
    Seq.fill(5)("a") ++ Seq.fill(4)("b") ++ Seq.fill(3)("c") ++
      Seq.fill(2)("d") ++ Seq("e"),
    Seq.fill(4)("c") ++ Seq.fill(4)("d") ++ Seq("f"),
    Seq.fill(6)("a") ++ Seq("b"))

  /** Literal (ts, event_type) rows for the streaming tumbling-window
    * roundtrip — spanning 4 hourly windows, two event types, delivered in
    * two micro-batches (first 4, then the rest — the second batch adds to
    * an already-open window AND opens new ones).
    */
  private val streamEvents: Seq[(String, String)] = Seq(
    ("2024-01-01 00:10:00", "click"),
    ("2024-01-01 00:50:00", "view"),
    ("2024-01-01 01:05:00", "click"),
    ("2024-01-01 01:10:00", "click"),
    ("2024-01-01 01:30:00", "view"),
    ("2024-01-01 02:59:00", "view"),
    ("2024-01-01 03:20:00", "click"),
    ("2024-01-01 03:21:00", "click"))

  /** Ad-attribution fixtures for the stream-stream join roundtrip:
    * impressions and clicks per ad id. Shapes exercised: a click inside
    * the follow window (match), a click after it (no match), a click with
    * no impression, an impression with no click, two impressions matching
    * one click, and a cross-micro-batch match (click arrives a batch
    * after its impression).
    */
  private val impEvents: Seq[(String, Long)] = Seq(
    ("2024-01-01 00:00:00", 1L),
    ("2024-01-01 00:30:00", 1L), // second impression also catches ad 1's click
    ("2024-01-01 00:05:00", 2L), // click arrives 3 hours later -> outside window
    ("2024-01-01 00:10:00", 3L), // impression with no click
    ("2024-01-01 01:00:00", 4L)) // matched by a click in the NEXT micro-batch

  private val clickEvents: Seq[(String, Long)] = Seq(
    ("2024-01-01 00:40:00", 1L), // inside both ad-1 impressions' windows
    ("2024-01-01 03:05:00", 2L), // outside ad 2's follow window
    ("2024-01-01 00:20:00", 9L), // click with no impression
    ("2024-01-01 01:45:00", 4L)) // cross-batch match for ad 4

  /** The ad fixtures as the DuckDB CTEs imp(ts, ad_id), clk(ts, ad_id). */
  private val duckAdEvents: String =
    Seq("imp" -> impEvents, "clk" -> clickEvents).map { case (name, evs) =>
      val rows = evs.map { case (t, a) => s"(TIMESTAMP '$t', CAST($a AS BIGINT))" }
      s"$name(ts, ad_id) AS (VALUES ${rows.mkString(", ")})"
    }.mkString(",\n        ")

  /** (ts, event_type) rows for the UPDATE-output-mode roundtrip, two
    * micro-batches (first 4, then 3). The second batch re-touches the
    * (00:00, click) window, so the sink receives that group TWICE with
    * counts 2 then 3 — the update-mode signature the oracle re-derives
    * (append would wait for the watermark; complete would re-emit every
    * group).
    */
  private val updateEvents: Seq[(String, String)] = Seq(
    ("2024-01-01 00:10:00", "click"),
    ("2024-01-01 00:20:00", "click"),
    ("2024-01-01 00:40:00", "view"),
    ("2024-01-01 01:10:00", "click"),
    ("2024-01-01 00:50:00", "click"),
    ("2024-01-01 01:20:00", "view"),
    ("2024-01-01 01:40:00", "click"))

  /** (ts, nation_key, value) rows for the stream-static join roundtrip,
    * delivered in two micro-batches (first 3, then the rest). Key 99 has
    * no nation row — the left join must null-mark it, not drop it; key 3
    * appears in both batches, proving the dimension is re-joined per
    * micro-batch.
    */
  private val enrichEvents: Seq[(String, Long, Long)] = Seq(
    ("2024-01-01 00:00:00", 0L, 10L),
    ("2024-01-01 00:05:00", 3L, 20L),
    ("2024-01-01 00:10:00", 99L, 30L),
    ("2024-01-01 00:15:00", 7L, 40L),
    ("2024-01-01 00:20:00", 3L, 50L))

  /** (user_id, status, seq) per micro-batch for the streaming upsert
    * roundtrip: user 1 is updated in BOTH batches (cross-batch
    * replacement), user 2 updated within batch 2, user 3 inserted late.
    * seq is the CDC ordering column (unique, monotone).
    */
  private val upsertBatches: Seq[Seq[(Long, String, Long)]] = Seq(
    Seq((1L, "new", 1L), (2L, "new", 2L), (1L, "active", 3L)),
    Seq((2L, "active", 4L), (3L, "new", 5L), (1L, "churned", 6L)))

  /** Two generations of literal batches for the streaming
    * schema-evolution roundtrip: generation 1 events have no product_id
    * key at all (the pre-evolution 5-field producer), generation 2
    * events carry it — the reference's evolution field, added to
    * purchase events mid-stream
    * (reference: src/producer/event_factory.py:120-132). All events are
    * valid so the roundtrip isolates evolution, not routing.
    */
  private val evoBatchesV1: Seq[String] = Seq(
    """[{"user_id":"u1","event_id":"v01","event_timestamp":"2024-01-01 00:00:00","event_type":"page_view","properties":{"url":"a"}},{"user_id":"u2","event_id":"v02","event_timestamp":"2024-01-01 01:00:00","event_type":"page_view","properties":{"url":"b"}}]""")

  private val evoBatchesV2: Seq[String] = Seq(
    """[{"user_id":"u3","event_id":"v03","event_timestamp":"2024-01-02 00:00:00","event_type":"purchase","product_id":"p7","properties":{"amount":"5"}},{"user_id":"u1","event_id":"v04","event_timestamp":"2024-01-02 01:00:00","event_type":"purchase","product_id":"p9","properties":{"url":"c"}}]""")

  /** DuckDB reimplementation of parse+route classification. */
  private val duckClassified: String = s"""
    raw(value) AS (VALUES $duckValues),
    b AS (SELECT value,
            (TRY_CAST(value AS JSON[]) IS NULL
             OR json_array_length(TRY_CAST(value AS JSON)) = 0) AS corrupted
          FROM raw),
    recs AS (
      SELECT unnest(TRY_CAST(value AS JSON[])) AS rec, FALSE AS corrupted
      FROM b WHERE NOT corrupted
      UNION ALL
      SELECT NULL AS rec, TRUE AS corrupted FROM b WHERE corrupted),
    cls AS (
      SELECT rec,
        CASE
          WHEN corrupted THEN 'corrupted_batch'
          WHEN json_extract_string(rec, '$$.user_id') IS NULL
            OR json_extract_string(rec, '$$.event_id') IS NULL
            OR TRY_CAST(json_extract_string(rec, '$$.event_timestamp') AS TIMESTAMP) IS NULL
            OR json_extract_string(rec, '$$.event_type') IS NULL THEN 'invalid_schema'
          WHEN coalesce(len(json_keys(rec)) > ${EventSchema.schema.fields.length}, FALSE) THEN 'extra_fields'
          ELSE 'valid'
        END AS reason
      FROM recs)"""

  /** Run `f` with a single shuffle/state partition, restored after.
    * A streaming query captures the state-store partition count at START
    * from this conf; the literal-input roundtrip streams carry <=8 rows,
    * and state-store provider setup per partition per micro-batch is the
    * dominant cost of these queries — under a loaded driver the empty
    * extra partitions triple the measured time. One partition carries the
    * whole literal input; a production stream sizes this to the cluster
    * instead — `spark.graft.stream.statePartitions` is that dial, and
    * StatePartitionDialSpec asserts the gated output is IDENTICAL at 1
    * and 8 state partitions (keyed state is partition-count invariant;
    * the 100x streaming scale-out story).
    */
  private def withStreamingPartitions[A](s: SparkSession)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = s.conf.get(key)
    val prevNd = s.conf.get(ndKey)
    s.conf.set(key,
      s.conf.getOption("spark.graft.stream.statePartitions").getOrElse("1"))
    // Every micro-batch costs ~0.5s of fixed orchestration in this runtime:
    // addBatch ~0.4s (state load + commit + the operator, ~0.25s inside
    // tasks, the rest physical planning and job turnaround outside them),
    // incremental queryPlanning ~0.1s, WAL + offsets ~0.08s. No conf
    // moves that floor — state-store maintenance interval, retained
    // batches, RocksDB with join state format 3, codegen, compression
    // codec and a checksum-free local FS all measured as noise — so batch
    // COUNT is the only lever. Each processAllAvailable call's trailing
    // no-data batch would roughly double a roundtrip's cost while
    // computing nothing, so they are disabled here; queries whose APPEND
    // output only materializes when the watermark advances (session /
    // two-level windows, outer joins) carry an explicit flush DATA batch
    // instead — it executes under the watermark the previous batch
    // advanced, which is exactly what the no-data batch did. Per-batch
    // planning / addBatch / WAL / offsets / state-commit figures for the
    // declared roundtrips come from
    // `python3 perfbench/run.py --workload stream_roundtrips --trace 1`.
    s.conf.set(ndKey, "false")
    try f finally {
      s.conf.set(key, prev)
      s.conf.set(ndKey, prevNd)
    }
  }

  /** Run `f` with the RocksDB state store provider (required by
    * `transformWithState` — the typed-state API only ships on RocksDB),
    * restored after. The provider is captured at query START, so scoping
    * the conf to the query is enough; other streaming queries keep the
    * default HDFS-backed store.
    */
  private def withRocksDbState[A](s: SparkSession)(f: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** The memory-sink roundtrip harness: start `df` on a memory sink under
    * a fresh name (inside `withStreamingPartitions`), drive it with
    * `steps`, stop it, and return the sink's rows. Rows a query needs in
    * its first micro-batch are added before the call — added after
    * start, the trigger thread races the adds and can split them into
    * separate batches. The sink's temp view is dropped on the way out,
    * also on failure: the frame resolved from it keeps reading the sink,
    * and a long-lived session would otherwise collect one view per run.
    */
  private def memoryRoundtrip(s: SparkSession, df: DataFrame, outputMode: String,
      trigger: Trigger = Trigger.ProcessingTime(0L))(
      steps: StreamingQuery => Unit): DataFrame = {
    val name = s"graft_rt_${java.util.UUID.randomUUID().toString.replace('-', '_')}"
    try {
      withStreamingPartitions(s) {
        val q = df.writeStream.format("memory").queryName(name)
          .outputMode(outputMode).trigger(trigger).start()
        try steps(q) finally q.stop()
      }
      s.table(name)
    } finally s.catalog.dropTempView(name)
  }

  /** Wait for a self-terminating (AvailableNow) query to finish. A query
    * still running after `timeoutMs` is stopped and the call throws: its
    * sinks hold a partial result that must not be read as the answer.
    */
  private[graft] def awaitDrained(q: StreamingQuery, timeoutMs: Long): Unit =
    if (!q.awaitTermination(timeoutMs)) {
      q.stop()
      throw new java.util.concurrent.TimeoutException(
        s"streaming query ${q.id} still running after $timeoutMs ms; stopped it")
    }

  /** One StreamProcessor pass: drain every file pending in `in` into the
    * sinks with Trigger.AvailableNow, resuming from checkpoint `chk`.
    */
  private def drainFiles(s: SparkSession, in: Path, sink: EvolvingTableSink,
      dl: ParquetAppendSink, chk: String, schema: StructType = EventSchema.schema): Unit =
    awaitDrained(new StreamProcessor(sink, dl, schema, checkpointLocation = chk,
      trigger = Trigger.AvailableNow()).start(s.readStream.text(in.toString)), 120000L)

  /** The CDC roundtrips' drive loop: `start(updates, tableDir, checkpoint)`
    * builds the query over a (user_id, status, seq) stream under a fresh
    * temp dir, and each of `upsertBatches` lands as one micro-batch.
    * Returns the table dir.
    */
  private def upsertRoundtrip(s: SparkSession)(
      start: (DataFrame, String, String) => StreamingQuery): String = {
    import s.implicits._
    val in = MemoryStream[(Long, String, Long)](s)
    val root = Files.createTempDirectory("graft_upsert_rt_")
    // the returned table is read lazily, so it is reclaimed at JVM exit
    graft.engine.util.Fs.deleteOnExit(root)
    val dir = s"$root/table"
    withStreamingPartitions(s) {
      val q = start(in.toDF().toDF("user_id", "status", "seq"), dir, s"$root/chk")
      try upsertBatches.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    dir
  }

  /** An ad-event (ts_s, ad_id) stream with its parsed event time. */
  private def adStream(m: MemoryStream[(String, Long)]): DataFrame =
    m.toDF().toDF("ts_s", "ad_id").withColumn("ts", to_timestamp(col("ts_s")))

  def defs: Map[String, QueryDef] = Map(
    // Throughput probe for the core pipeline: 200 producer batches x 100
    // events through parse+route (the full reference data path). Its
    // purpose is the BENCH timing — the reference's steady state is ~10
    // events/s end-to-end, this measures the engine parsing 20k events
    // per run. Generation runs ON THE EXECUTORS (one deterministically-
    // seeded EventGen per batch id), so the bench times parse+route, not
    // driver-side JSON string building — and the shape scales: at 100 TB
    // the batch ids partition and every executor generates + parses its
    // own slice. UNDER THE ORACLE GATE: the generator is a seeded PRNG
    // (seeds 99..298, fixed batch size), so its routing breakdown is a
    // CONSTANT of the parse+route semantics — the oracle pins the
    // independently-computed expected counts as literals (partition-count
    // independent: each batch's bytes depend only on its own seed). Any
    // change to parser edge rules, router precedence, or the generator's
    // corruption model flips these and fails the hash gate.
    "ingest_throughput" -> QueryDef(
      (s, _) => {
        val spark = s
        import spark.implicits._
        val raw = spark.range(200)
          .map { i =>
            new graft.fixtures.EventGen(seed = 99L + i,
              corruptionChance = 0.1, invalidSchemaChance = 0.1).nextBatch(100)
          }
          .toDF("value")
        Router.withReason(new JsonArrayBatchParser().parse(raw))
          .groupBy(coalesce(col(DeadLetterReason), lit("valid")).as("reason"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("reason"))
      },
      Some("""
        SELECT reason, CAST(n AS BIGINT) AS n
        FROM (VALUES ('corrupted_batch', 27),
                     ('invalid_schema', 1712),
                     ('valid', 15588)) AS t(reason, n)
        ORDER BY reason""")),

    // End-to-end streaming roundtrip UNDER THE ORACLE GATE (not just
    // specs): the literal batches are written as files, streamed through
    // the real StreamProcessor (parse -> route -> EvolvingTableSink
    // bronze + dead-letter parquet, checkpointed), the stream is then
    // RESTARTED on the same checkpoint (must be a pure no-op — any
    // double-append would flip the row counts and hashes), and the result
    // is read back through the sink's committed-batch filter. DuckDB
    // re-derives the same rows from the same literal batches, so S5-S9/T6
    // are driver-checked, not only ScalaTest-checked.
    "ingest_e2e_roundtrip" -> QueryDef(
      (s, _) => {
        import java.nio.charset.StandardCharsets
        val root = Files.createTempDirectory("graft_e2e_")
        // the returned DataFrame reads the sink lazily, so the tree can
        // only be reclaimed at JVM exit (each invocation makes one; the
        // shared registry keeps it to one hook for all of them)
        graft.engine.util.Fs.deleteOnExit(root)
        val in = Files.createDirectories(root.resolve("in"))
        batches.zipWithIndex.foreach { case (b, i) =>
          Files.write(in.resolve(f"batch_$i%03d.json"),
            b.getBytes(StandardCharsets.UTF_8))
        }
        val sink = new EvolvingTableSink(root.resolve("bronze").toString)
        val dl = new ParquetAppendSink(root.resolve("dead").toString)
        val chk = root.resolve("chk").toString
        // first pass: parse -> route -> bronze + dead letters; then a
        // restart on the same checkpoint, whose replay must be a no-op
        drainFiles(s, in, sink, dl, chk)
        drainFiles(s, in, sink, dl, chk)
        // Maintenance leg (r13, the gap the reference README names at
        // README.md:74-80): two tiny BACKFILL appends guarantee >= 3
        // snapshots regardless of how AvailableNow batched the files,
        // then the full compaction + snapshot-expiry cycle runs UNDER
        // THE ORACLE GATE — the compacted+expired table must read back
        // value-identical (the oracle re-derives the same rows with no
        // idea maintenance happened), so a compaction that dropped,
        // doubled, or mutated a row fails the driver's hash compare.
        val extra = s.sql(
          """SELECT user_id, event_id, CAST(ts_s AS TIMESTAMP) AS event_timestamp,
            |       event_type, product_id
            |FROM VALUES ('u9', 'e90', '2024-02-01 08:00:00', 'page_view', CAST(NULL AS STRING)),
            |            ('u9', 'e91', '2024-02-01 09:00:00', 'purchase', 'p9')
            |  AS t(user_id, event_id, ts_s, event_type, product_id)""".stripMargin)
        sink.write(extra.where(col("event_id") === "e90"))
        sink.write(extra.where(col("event_id") === "e91"))
        // day-granular mode (r14): the incremental rewrite the
        // StreamProcessor maintenance tick ships is the one gated here
        sink.compactBatches(s, byDay = true)
        sink.expireSnapshots(keepLast = 1)
        val bronze = sink.read(s)
          .select(lit("bronze").as("kind"),
            concat_ws("|", col("user_id"), col("event_id"), col("event_type"),
              coalesce(col("product_id"), lit("-"))).as("k"),
            Q.epochUs(col("event_timestamp")).as("v"))
        val dead = s.read.parquet(root.resolve("dead").toString)
          .groupBy(col(DeadLetterReason))
          .agg(count(lit(1)).as("v"))
          .select(concat(lit("dead:"), col(DeadLetterReason)).as("kind"),
            col(DeadLetterReason).as("k"), col("v"))
        bronze.unionByName(dead).orderBy(col("kind"), col("k"))
      },
      Some(s"""
        WITH $duckClassified
        SELECT 'bronze' AS kind,
               concat_ws('|', json_extract_string(rec, '$$.user_id'),
                 json_extract_string(rec, '$$.event_id'),
                 json_extract_string(rec, '$$.event_type'),
                 coalesce(json_extract_string(rec, '$$.product_id'), '-')) AS k,
               epoch_us(TRY_CAST(json_extract_string(rec, '$$.event_timestamp') AS TIMESTAMP)) AS v
        FROM cls WHERE reason = 'valid'
        UNION ALL
        SELECT 'bronze' AS kind, k, v FROM (VALUES
          ('u9|e90|page_view|-', epoch_us(TIMESTAMP '2024-02-01 08:00:00')),
          ('u9|e91|purchase|p9', epoch_us(TIMESTAMP '2024-02-01 09:00:00'))) AS bf(k, v)
        UNION ALL
        SELECT 'dead:' || reason AS kind, reason AS k,
               CAST(count(*) AS BIGINT) AS v
        FROM cls WHERE reason <> 'valid' GROUP BY reason
        ORDER BY kind, k""")),

    // Schema evolution THROUGH the streaming path, end-to-end under the
    // oracle gate (S6 was spec-level until round 5): generation-1 batches
    // stream through a 5-field parser (no product_id) into the bronze
    // sink; more files then land in the SAME source dir and the stream
    // RESTARTS on the same checkpoint with the evolved 6-field schema —
    // the sink's evolve() adds product_id as a nullable column (Iceberg
    // ADD COLUMN semantics), a second restart proves replay stays a
    // no-op under the widened schema, and the final read reconciles
    // generations: gen-1 parquet files lack the column entirely and
    // null-fill through the evolved read schema.
    "ingest_evolution_roundtrip" -> QueryDef(
      (s, _) => {
        import java.nio.charset.StandardCharsets
        val root = Files.createTempDirectory("graft_evo_")
        graft.engine.util.Fs.deleteOnExit(root)
        val in = Files.createDirectories(root.resolve("in"))
        val sink = new EvolvingTableSink(root.resolve("bronze").toString)
        val dl = new ParquetAppendSink(root.resolve("dead").toString)
        val chk = root.resolve("chk").toString
        val v1Schema = StructType(
          EventSchema.schema.fields.filterNot(_.name == "product_id"))
        def run(schema: StructType): Unit = drainFiles(s, in, sink, dl, chk, schema)
        def land(tag: String, bs: Seq[String]): Unit =
          bs.zipWithIndex.foreach { case (b, i) =>
            Files.write(in.resolve(f"batch_${tag}_$i%03d.json"),
              b.getBytes(StandardCharsets.UTF_8))
          }
        land("v1", evoBatchesV1)
        run(v1Schema)        // generation 1: table created WITHOUT product_id
        val gen1Seq = sink.snapshotSeqs.max // last gen-1 snapshot
        land("v2", evoBatchesV2)
        run(EventSchema.schema) // generation 2: evolve adds product_id
        run(EventSchema.schema) // restart: replay must be a no-op
        val current = sink.read(s)
          .select(lit("current").as("kind"),
            col("user_id"), col("event_id"), col("event_type"),
            coalesce(col("product_id"), lit("-")).as("product_id"),
            Q.epochUs(col("event_timestamp")).as("ts_us"))
        // As-of leg (r13, schema history under the oracle gate): the
        // gen-1 snapshot must return ONLY gen-1 rows AND the gen-1
        // SCHEMA — if product_id leaks into the historical read, the
        // sentinel literal flips and the driver's hash compare fails
        // (the oracle pins '-' for every as-of row).
        val asOf = sink.readAsOf(s, gen1Seq)
        val histSentinel =
          if (asOf.columns.contains("product_id")) "SCHEMA_LEAK" else "-"
        val asOfRows = asOf
          .select(lit("asof_gen1").as("kind"),
            col("user_id"), col("event_id"), col("event_type"),
            lit(histSentinel).as("product_id"),
            Q.epochUs(col("event_timestamp")).as("ts_us"))
        current.unionByName(asOfRows)
          .orderBy(col("kind"), col("event_id"))
      },
      Some {
        def recsSql(name: String, bs: Seq[String]) = {
          val vals = bs.map(b => s"('${b}')").mkString(", ")
          s"""$name AS (SELECT unnest(TRY_CAST(value AS JSON[])) AS rec
             |FROM (VALUES $vals) AS r(value))""".stripMargin
        }
        s"""
        WITH ${recsSql("recs1", evoBatchesV1)},
             ${recsSql("recs2", evoBatchesV2)},
        allrecs AS (SELECT rec FROM recs1 UNION ALL SELECT rec FROM recs2)
        SELECT 'current' AS kind,
               json_extract_string(rec, '$$.user_id') AS user_id,
               json_extract_string(rec, '$$.event_id') AS event_id,
               json_extract_string(rec, '$$.event_type') AS event_type,
               coalesce(json_extract_string(rec, '$$.product_id'), '-') AS product_id,
               epoch_us(TRY_CAST(json_extract_string(rec, '$$.event_timestamp') AS TIMESTAMP)) AS ts_us
        FROM allrecs
        UNION ALL
        SELECT 'asof_gen1' AS kind,
               json_extract_string(rec, '$$.user_id') AS user_id,
               json_extract_string(rec, '$$.event_id') AS event_id,
               json_extract_string(rec, '$$.event_type') AS event_type,
               '-' AS product_id,
               epoch_us(TRY_CAST(json_extract_string(rec, '$$.event_timestamp') AS TIMESTAMP)) AS ts_us
        FROM recs1
        ORDER BY kind, event_id"""
      }),

    // Event-time tumbling windows through the REAL streaming runtime
    // (MemoryStream -> watermark -> window agg -> memory sink), delivered
    // across two micro-batches so incremental state merge is exercised;
    // DuckDB re-derives the same windows from the same literal rows with
    // date_trunc. Covers T2/T3 under the driver gate, complementing the
    // append-mode/late-data specs.
    "stream_tumbling_roundtrip" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val in = MemoryStream[(String, String)](s)
        val src = in.toDF().toDF("ts_s", "event_type")
          .withColumn("ts", to_timestamp(col("ts_s")))
          .withColumn("value", lit(1.0))
        memoryRoundtrip(s, WindowedAggs.tumblingCounts(src), "complete") { q =>
          in.addData(streamEvents.take(4))
          q.processAllAvailable()
          in.addData(streamEvents.drop(4))
          q.processAllAvailable()
        }
          .select(Q.epochUs(col("window_start")).as("ws_us"),
            col("event_type"), col("n").cast("long").as("n"))
          .orderBy(col("ws_us"), col("event_type"))
      },
      Some(s"""
        WITH ev(ts, event_type) AS (VALUES ${streamEvents
          .map { case (t, ty) => s"(TIMESTAMP '$t', '$ty')" }.mkString(", ")})
        SELECT epoch_us(date_trunc('hour', ts)) AS ws_us, event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM ev GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Gap-based session windows through the real streaming runtime in
    // APPEND mode: sessions only emit once the watermark passes their
    // close, so a far-future flush event (user_id -1, excluded from the
    // result) advances the watermark past every real session — the
    // output therefore proves watermark-driven finalization, not just
    // windowing. DuckDB re-derives the same sessions with the lag/break
    // construction (as sessionize_events does for the batch path).
    "stream_session_roundtrip" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val in = MemoryStream[(String, Long)](s)
        val src = in.toDF().toDF("ts_s", "user_id")
          .withColumn("ts", to_timestamp(col("ts_s")))
        val agg = WindowedAggs
          .userSessions(src, gap = "30 minutes", watermark = "2 hours")
        memoryRoundtrip(s, agg, "append") { q =>
          in.addData(sessionEvents.take(3))
          q.processAllAvailable()
          // batch 2 extends batch-1 sessions (the cross-micro-batch
          // state merge this roundtrip exists to prove) and carries the
          // watermark-flush row; batch 3 (one more filtered flush row)
          // executes under the watermark batch 2 advanced and finalizes
          // every real session — no-data batches are disabled
          in.addData(sessionEvents.drop(3) :+ (("2024-01-05 00:00:00", -1L)))
          q.processAllAvailable()
          in.addData(Seq(("2024-01-05 01:00:00", -1L)))
          q.processAllAvailable()
        }
          .where(col("user_id") >= 0)
          .select(col("user_id"),
            Q.epochUs(col("session_start")).as("start_us"),
            Q.epochUs(col("session_end")).as("end_us"),
            col("n_events").cast("long").as("n"))
          .orderBy(col("user_id"), col("start_us"))
      },
      Some(s"""
        WITH ev(ts, user_id) AS (VALUES ${sessionEvents
          .map { case (t, u) => s"(TIMESTAMP '$t', CAST($u AS BIGINT))" }.mkString(", ")}),
        x AS (
          SELECT user_id, epoch_us(ts) AS tus,
                 lag(epoch_us(ts)) OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts)) AS prev
          FROM ev),
        y AS (
          SELECT user_id, tus,
                 CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS brk
          FROM x),
        z AS (
          SELECT user_id, tus,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY tus
                                ROWS UNBOUNDED PRECEDING) AS sid
          FROM y)
        SELECT user_id, CAST(min(tus) AS BIGINT) AS start_us,
               CAST(max(tus) + 1800000000 AS BIGINT) AS end_us,
               CAST(count(*) AS BIGINT) AS n
        FROM z GROUP BY user_id, sid ORDER BY user_id, start_us""")),

    // Streaming exact dedup with bounded state (the op the reference
    // discusses and defers to Silver): duplicates arrive VERBATIM (as the
    // reference producer re-emits them), one inside a micro-batch and one
    // across micro-batches; dropDuplicatesWithinWatermark must keep one
    // copy of each. Oracle: SELECT DISTINCT over the same literal rows.
    "stream_dedup_roundtrip" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val in = MemoryStream[(String, Long)](s)
        val src = in.toDF().toDF("ts_s", "event_id")
          .withColumn("ts", to_timestamp(col("ts_s")))
        val deduped = WindowedAggs.dedupWithinWatermark(src, watermark = "1 hour")
        memoryRoundtrip(s, deduped, "append") { q =>
          in.addData(dedupEvents.take(4)) // contains an in-batch duplicate
          q.processAllAvailable()
          in.addData(dedupEvents.drop(4)) // re-sends an earlier event
          q.processAllAvailable()
        }
          .select(col("event_id"), Q.epochUs(col("ts")).as("ts_us"))
          .orderBy(col("event_id"))
      },
      Some(s"""
        WITH ev(ts, event_id) AS (VALUES ${dedupEvents
          .map { case (t, id) => s"(TIMESTAMP '$t', CAST($id AS BIGINT))" }.mkString(", ")})
        SELECT DISTINCT event_id, epoch_us(ts) AS ts_us
        FROM ev ORDER BY event_id""")),

    // MinHash/LSH NEAR-dup detection through the real streaming runtime —
    // the batch dedup pipeline's banding (Dedup.minHashBandsFrom, same
    // codegen signatures, same Portable constants) feeding a
    // transformWithState band-key registry (StatefulProfiles.bandOwners):
    // each band key remembers the first document that exhibited it, so a
    // later document colliding on ANY band flags as a duplicate — exact
    // dedup (stream_dedup_roundtrip) only catches identical ids, this
    // catches content-level copies arriving batches apart. Batches ascend
    // in doc_id, so the stream's owner-at-arrival equals the oracle's
    // global min owner per band and the whole construction is
    // batch-derivable: the oracle recomputes sig -> bands -> first owner
    // from the same literal corpus.
    "stream_dedup_minhash_roundtrip" -> QueryDef(
      (s, _) => {
        graft.functions.GraftFunctions.register(s)
        import s.implicits._
        val in = MemoryStream[(Long, String)](s)
        val sig = in.toDF().toDF("doc_id", "text")
          .selectExpr("doc_id", s"${Portable.sparkWords("lower(text)")} AS ws")
          .where("size(ws) >= 3")
          // the stream-side signature is uncapped: a stream can't compute
          // its own corpus-wide doc frequencies, so at production scale
          // the stop-shingle set arrives as a PRECOMPUTED static broadcast
          // (stream-static join) refreshed out-of-band; this literal
          // corpus (8 docs, cap = 1000) has no hot shingles, and the
          // oracle applies the same (inert) cap CTEs for symmetry
          .selectExpr("doc_id", "graft_minhash(graft_shingles(ws)) AS sig")
          .selectExpr("doc_id" +:
            (0 until Portable.MinHashK).map(i => s"element_at(sig, ${i + 1}) AS s$i"): _*)
        val hits = StatefulProfiles.bandOwners(
          Dedup.minHashBandsFrom(sig).as[StatefulProfiles.BandDoc])
        in.addData(minhashDocs.take(4)) // pre-start: one batch 0
        withRocksDbState(s) {
          memoryRoundtrip(s, hits.toDF(), "update") { q =>
            q.processAllAvailable()
            in.addData(minhashDocs.drop(4)) // cross-batch copy + in-batch pair
            q.processAllAvailable()
          }
        }
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bands"), min(col("owner")).as("first_owner"))
          .selectExpr("doc_id", "CAST(n_bands AS BIGINT) AS n_bands",
            "first_owner",
            "CAST(CASE WHEN first_owner < doc_id THEN 1 ELSE 0 END AS BIGINT) AS is_dup")
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH docs(doc_id, text) AS (VALUES ${minhashDocs
          .map { case (id, t) => s"(CAST($id AS BIGINT), '$t')" }.mkString(", ")}),
        ${Dedup.duckShingleChain("docs")},
        ${Dedup.duckCap},
        ${Dedup.duckSig},
        ${Dedup.duckBands},
        owners AS (
          SELECT band, key, min(doc_id) AS owner FROM bands GROUP BY band, key),
        hits AS (
          SELECT b.doc_id, b.band, o.owner
          FROM bands b JOIN owners o ON b.band = o.band AND b.key = o.key)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bands,
               CAST(min(owner) AS BIGINT) AS first_owner,
               CAST(CASE WHEN min(owner) < doc_id THEN 1 ELSE 0 END AS BIGINT) AS is_dup
        FROM hits GROUP BY doc_id ORDER BY doc_id""")),

    // Quality curation THROUGH the streaming runtime: documents stream in
    // micro-batches through the Gopher/C4-style precedence verdict chain
    // (too_short -> stopword_heavy -> long_words -> keep, first rule
    // wins) and a foreachBatch dual-sink router appends keepers to the
    // curated table and everything else — reason first, like the
    // dead-letter projection — to the rejects table: the reference's
    // event-routing pattern (S9) applied to corpus curation, live
    // instead of as a batch pass. The final read reconciles BOTH sinks;
    // the oracle re-derives every verdict from the literal corpus.
    "stream_curate_roundtrip" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val root = Files.createTempDirectory("graft_curate_rt_")
        graft.engine.util.Fs.deleteOnExit(root)
        val curated = new ParquetAppendSink(s"$root/curated")
        val rejects = new ParquetAppendSink(s"$root/rejects")
        val verdict = s"""CASE
          WHEN size(ws) < 5 THEN 'too_short'
          WHEN ${TextOps.sparkScore(TextOps.stopwords)} * 1000 div size(ws) >= 400
            THEN 'stopword_heavy'
          WHEN length(text) div size(ws) > 8 THEN 'long_words'
          ELSE 'keep' END"""
        val in = MemoryStream[(Long, String)](s)
        withStreamingPartitions(s) {
          in.addData(curateDocs.take(4))
          val q = in.toDF().toDF("doc_id", "text").writeStream
            .foreachBatch { (df: DataFrame, _: Long) =>
              val v = df
                .selectExpr("doc_id", "text",
                  s"${Portable.sparkWords("lower(text)")} AS ws")
                .selectExpr("doc_id", "text", s"$verdict AS verdict")
              curated.write(v.where(col("verdict") === "keep")
                .select(col("doc_id"), col("text")))
              rejects.write(v.where(col("verdict") =!= "keep")
                .select(col("verdict"), col("doc_id")))
            }
            .start()
          try {
            q.processAllAvailable()
            in.addData(curateDocs.drop(4))
            q.processAllAvailable()
          } finally q.stop()
        }
        s.read.parquet(s"$root/curated")
          .selectExpr("doc_id", "'keep' AS verdict")
          .unionByName(s.read.parquet(s"$root/rejects")
            .selectExpr("doc_id", "verdict"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH docs(doc_id, text) AS (VALUES ${curateDocs
          .map { case (id, t) => s"(CAST($id AS BIGINT), '$t')" }.mkString(", ")}),
        w AS (SELECT doc_id, text, ${Portable.duckWords("lower(text)")} AS ws FROM docs)
        SELECT doc_id, CASE
          WHEN len(ws) < 5 THEN 'too_short'
          WHEN ${TextOps.duckScore(TextOps.stopwords)} * 1000 // len(ws) >= 400
            THEN 'stopword_heavy'
          WHEN length(text) // len(ws) > 8 THEN 'long_words'
          ELSE 'keep' END AS verdict
        FROM w ORDER BY doc_id""")),

    // Stream-stream inner join through the real streaming runtime (the
    // one Structured Streaming join family the surface lacked): two
    // MemoryStreams, watermarks on both sides, event-time range
    // correlation (click within 1h of its impression). Delivered across
    // two micro-batches so the cross-batch match (ad 4) proves buffered
    // join state survives between triggers. DuckDB re-derives the same
    // pairs from the literal rows with a plain range join.
    "stream_join_roundtrip" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val imps = MemoryStream[(String, Long)](s)
        val clicks = MemoryStream[(String, Long)](s)
        // the initial blocks land before start so batch 0 is one micro-batch
        imps.addData(impEvents)        // all impressions up front
        clicks.addData(clickEvents.take(3))
        val joined = WindowedAggs.adAttribution(adStream(imps), adStream(clicks))
        memoryRoundtrip(s, joined, "append") { q =>
          q.processAllAvailable()
          clicks.addData(clickEvents.drop(3)) // ad 4's click, next batch
          q.processAllAvailable()
        }
          .select(col("ad_id"), Q.epochUs(col("imp_ts")).as("imp_us"),
            Q.epochUs(col("click_ts")).as("click_us"))
          .orderBy(col("ad_id"), col("imp_us"), col("click_us"))
      },
      Some(s"""
        WITH $duckAdEvents
        SELECT i.ad_id AS ad_id, epoch_us(i.ts) AS imp_us, epoch_us(c.ts) AS click_us
        FROM imp i JOIN clk c
          ON i.ad_id = c.ad_id
         AND c.ts >= i.ts AND c.ts <= i.ts + INTERVAL 1 HOUR
        ORDER BY i.ad_id, imp_us, click_us""")),

    // Trigger.AvailableNow through the real runtime — the backfill
    // trigger: process EVERYTHING pending in bounded micro-batches, then
    // stop on its own (no processAllAvailable choreography; the query's
    // own termination is the completion signal). The batch-equivalent
    // result is exactly what the oracle computes over the same rows —
    // the drain mode must lose and duplicate nothing.
    "stream_availablenow_roundtrip" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val in = MemoryStream[(String, String)](s)
        in.addData(streamEvents) // all pending BEFORE start: drain in one go
        val src = in.toDF().toDF("ts_s", "event_type")
          .withColumn("ts", to_timestamp(col("ts_s")))
        val agg = src
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("window_start"), col("event_type"), col("n"))
        memoryRoundtrip(s, agg, "complete", Trigger.AvailableNow())(awaitDrained(_, 60000L))
          .select(Q.epochUs(col("window_start")).as("ws_us"),
            col("event_type"), col("n").cast("long").as("n"))
          .orderBy(col("ws_us"), col("event_type"))
      },
      Some(s"""
        WITH ev(ts, event_type) AS (VALUES ${streamEvents
          .map { case (t, ty) => s"(TIMESTAMP '$t', '$ty')" }.mkString(", ")})
        SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS ws_us,
               event_type, CAST(count(*) AS BIGINT) AS n
        FROM ev GROUP BY 1, 2 ORDER BY 1, 2""")),

    // UPDATE output mode through the real runtime: only the groups a
    // micro-batch touched re-emit, with their new running counts — the
    // third output mode (tumbling covers append, sliding covers
    // complete). The memory table accumulates one row per (group,
    // touching batch), so the same window appears twice with counts 2
    // then 3. The oracle assigns each VALUES row its batch number and
    // re-derives exactly that multiset.
    "stream_update_mode_roundtrip" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val in = MemoryStream[(String, String)](s)
        val src = in.toDF().toDF("ts_s", "event_type")
          .withColumn("ts", to_timestamp(col("ts_s")))
        val agg = src
          .withWatermark("ts", "2 hours")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("window_start"), col("event_type"), col("n"))
        memoryRoundtrip(s, agg, "update") { q =>
          in.addData(updateEvents.take(4))
          q.processAllAvailable()
          in.addData(updateEvents.drop(4))
          q.processAllAvailable()
        }
          .select(Q.epochUs(col("window_start")).as("ws_us"),
            col("event_type"), col("n").cast("long").as("n"))
          .orderBy(col("ws_us"), col("event_type"), col("n"))
      },
      Some(s"""
        WITH ev(ts, et, b) AS (VALUES ${updateEvents.zipWithIndex
          .map { case ((t, ty), i) =>
            s"(TIMESTAMP '$t', '$ty', ${if (i < 4) 1 else 2})" }
          .mkString(", ")}),
        em AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS w, et, b FROM ev),
        touched AS (SELECT DISTINCT w, et, b FROM em)
        SELECT epoch_us(t.w) AS ws_us, t.et AS event_type,
               CAST((SELECT count(*) FROM em e
                     WHERE e.w = t.w AND e.et = t.et AND e.b <= t.b) AS BIGINT) AS n
        FROM touched t ORDER BY 1, 2, 3""")),

    // Stream-static join through the real runtime: literal stream rows
    // enrich against the REAL nation parquet dimension (the only
    // roundtrip whose static side comes from the sf dir). Stateless
    // micro-batch broadcast join — unmatched stream keys null-mark, and
    // the dimension resolves fresh each micro-batch. Oracle: the same
    // VALUES left-joined to nation in DuckDB.
    "stream_static_join_roundtrip" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val in = MemoryStream[(String, Long, Long)](s)
        val src = in.toDF().toDF("ts_s", "n_key", "value")
          .withColumn("ts", to_timestamp(col("ts_s")))
        val dim = graft.engine.Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))
        val enriched = WindowedAggs.staticEnrich(src, dim, "n_key", "n_nationkey")
        memoryRoundtrip(s, enriched, "append") { q =>
          in.addData(enrichEvents.take(3))
          q.processAllAvailable()
          in.addData(enrichEvents.drop(3))
          q.processAllAvailable()
        }
          .select(Q.epochUs(col("ts")).as("ts_us"), col("n_key"),
            col("n_name"), col("value"))
          .orderBy(col("n_key"), col("ts_us"))
      },
      Some(s"""
        WITH ev(ts, n_key, value) AS (VALUES ${enrichEvents
          .map { case (t, k, v) =>
            s"(TIMESTAMP '$t', CAST($k AS BIGINT), CAST($v AS BIGINT))" }
          .mkString(", ")})
        SELECT epoch_us(ev.ts) AS ts_us, ev.n_key, n.n_name, ev.value
        FROM ev LEFT JOIN nation n ON ev.n_key = n.n_nationkey
        ORDER BY n_key, ts_us""")),

    // Sliding (hopping) windows through the real streaming runtime: the
    // same literal rows as the tumbling roundtrip, but each event lands
    // in TWO 1-hour windows on a 30-minute hop. DuckDB fans each row out
    // to its k = 0,1 window starts and re-derives the same counts.
    "stream_sliding_roundtrip" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val in = MemoryStream[(String, String)](s)
        val src = in.toDF().toDF("ts_s", "event_type")
          .withColumn("ts", to_timestamp(col("ts_s")))
        memoryRoundtrip(s, WindowedAggs.slidingCounts(src), "complete") { q =>
          in.addData(streamEvents.take(4))
          q.processAllAvailable()
          in.addData(streamEvents.drop(4))
          q.processAllAvailable()
        }
          .select(Q.epochUs(col("window_start")).as("ws_us"),
            col("event_type"), col("n").cast("long").as("n"))
          .orderBy(col("ws_us"), col("event_type"))
      },
      Some(s"""
        WITH ev(ts, event_type) AS (VALUES ${streamEvents
          .map { case (t, ty) => s"(TIMESTAMP '$t', '$ty')" }.mkString(", ")})
        SELECT epoch_us(time_bucket(INTERVAL '30 minutes', ts)
                        - k * (INTERVAL '30 minutes')) AS ws_us,
               event_type, CAST(count(*) AS BIGINT) AS n
        FROM ev CROSS JOIN (SELECT unnest([0, 1]) AS k) ks
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Chained stateful aggregation through the real runtime: 30-minute
    // sub-windows roll up into 1-hour windows, both levels incremental
    // (two state stores in one query). Append mode means a coarse window
    // only emits once the watermark closes it, so a far-future flush
    // event (type "zz_flush", excluded) finalizes every real window.
    // DuckDB re-derives both levels with nested time_bucket aggregates.
    "stream_two_level_roundtrip" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val in = MemoryStream[(String, String)](s)
        val src = in.toDF().toDF("ts_s", "event_type")
          .withColumn("ts", to_timestamp(col("ts_s")))
        memoryRoundtrip(s, WindowedAggs.twoLevelCounts(src), "append") { q =>
          in.addData(streamEvents.take(4))
          q.processAllAvailable()
          // batch 2: the remaining real events (merging into open
          // sub-windows under batch 1's watermark) + the first flush
          // raising max event time; batch 3 (a second filtered flush
          // row) then runs under the advanced watermark and finalizes
          // BOTH state levels — no-data batches are disabled
          in.addData(streamEvents.drop(4) :+ (("2024-01-05 02:00:00", "zz_flush")))
          q.processAllAvailable()
          in.addData(Seq(("2024-01-05 03:00:00", "zz_flush")))
          q.processAllAvailable()
        }
          .where(col("event_type") =!= "zz_flush")
          .select(Q.epochUs(col("window_start")).as("ws_us"),
            col("event_type"), col("n").cast("long").as("n"),
            col("n_subwindows").cast("long").as("n_sub"))
          .orderBy(col("ws_us"), col("event_type"))
      },
      Some(s"""
        WITH ev(ts, event_type) AS (VALUES ${streamEvents
          .map { case (t, ty) => s"(TIMESTAMP '$t', '$ty')" }.mkString(", ")}),
        sub AS (
          SELECT time_bucket(INTERVAL '30 minutes', ts) AS w30, event_type,
                 count(*) AS n30
          FROM ev GROUP BY 1, 2)
        SELECT epoch_us(time_bucket(INTERVAL '1 hour', w30)) AS ws_us,
               event_type, CAST(sum(n30) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_sub
        FROM sub GROUP BY 1, 2 ORDER BY 1, 2""")),

    // LEFT OUTER stream-stream join: impressions with no in-window click
    // must STILL emit (null click_ts) — but only once the watermark
    // passes imp_ts + follow window, because until then a matching click
    // could arrive. Two far-future flush batches (filtered out of the
    // result) push the watermark past every real impression's horizon:
    // the first advances max event time, the second runs a batch under
    // the advanced watermark so the evicted impressions emit their
    // no-match rows. DuckDB mirrors with a plain LEFT JOIN.
    "stream_left_join_roundtrip" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val imps = MemoryStream[(String, Long)](s)
        val clicks = MemoryStream[(String, Long)](s)
        val joined = WindowedAggs.adAttributionOuter(adStream(imps), adStream(clicks))
        // THREE batches: this roundtrip is the outer-join family's
        // cross-batch-state witness (the full/right variants stay at
        // the two-batch eviction minimum). Batch 0 buffers every
        // impression but holds back ad 4's click; batch 1 delivers it
        // plus the flush rows — the ad-4 impression must have SURVIVED
        // in join state across the batch boundary for its matched row
        // to emit (watermark is still 2023-12-31 23:00 then, so the
        // 01:45 click is not late). Batch 2 is one filtered flush row
        // running under the now-advanced watermark: it evicts the
        // unmatched impressions and emits their null-click rows.
        imps.addData(impEvents)
        clicks.addData(clickEvents.take(3))
        memoryRoundtrip(s, joined, "append") { q =>
          q.processAllAvailable()
          imps.addData(Seq(("2024-01-05 02:00:00", -1L)))
          clicks.addData(clickEvents.drop(3)) // ad 4: cross-batch match
          clicks.addData(Seq(("2024-01-05 02:00:00", -2L)))
          q.processAllAvailable()
          clicks.addData(Seq(("2024-01-05 03:00:00", -2L)))
          q.processAllAvailable()
        }
          .where(col("ad_id") >= 0)
          .select(col("ad_id"), Q.epochUs(col("imp_ts")).as("imp_us"),
            Q.epochUs(col("click_ts")).as("click_us"))
          .orderBy(col("ad_id"), col("imp_us"), col("click_us"))
      },
      Some(s"""
        WITH $duckAdEvents
        SELECT i.ad_id AS ad_id, epoch_us(i.ts) AS imp_us, epoch_us(c.ts) AS click_us
        FROM imp i LEFT JOIN clk c
          ON i.ad_id = c.ad_id
         AND c.ts >= i.ts AND c.ts <= i.ts + INTERVAL 1 HOUR
        ORDER BY i.ad_id, imp_us, click_us""")),

    // FULL OUTER stream-stream join — the last shape of the streaming
    // join family: unmatched rows on BOTH sides emit with nulls once the
    // watermark passes their horizon (the no-impression click ad 9 now
    // appears too, click-side columns populated, imp side null). Same
    // flush choreography as the left-outer roundtrip.
    "stream_full_join_roundtrip" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val imps = MemoryStream[(String, Long)](s)
        val clicks = MemoryStream[(String, Long)](s)
        val i = adStream(imps).withWatermark("ts", "2 hours")
          .select(col("ad_id").as("imp_ad_id"), col("ts").as("imp_ts"))
        val c = adStream(clicks).withWatermark("ts", "2 hours")
          .select(col("ad_id").as("click_ad_id"), col("ts").as("click_ts"))
        val joined = i.join(c,
          expr("""imp_ad_id = click_ad_id AND
                  click_ts >= imp_ts AND
                  click_ts <= imp_ts + INTERVAL 1 HOUR"""), "full_outer")
        // two-batch choreography — see the left-outer roundtrip note
        imps.addData(impEvents)
        imps.addData(Seq(("2024-01-05 02:00:00", -1L)))
        clicks.addData(clickEvents)
        clicks.addData(Seq(("2024-01-05 02:00:00", -2L)))
        memoryRoundtrip(s, joined, "append") { q =>
          q.processAllAvailable()
          clicks.addData(Seq(("2024-01-05 03:00:00", -2L)))
          q.processAllAvailable()
        }
          .where(coalesce(col("imp_ad_id"), lit(0L)) >= 0 &&
            coalesce(col("click_ad_id"), lit(0L)) >= 0)
          .select(
            coalesce(col("imp_ad_id"), col("click_ad_id")).as("ad_id"),
            Q.epochUs(col("imp_ts")).as("imp_us"),
            Q.epochUs(col("click_ts")).as("click_us"))
          .orderBy(col("ad_id"), col("imp_us"), col("click_us"))
      },
      Some(s"""
        WITH $duckAdEvents
        SELECT coalesce(i.ad_id, c.ad_id) AS ad_id,
               epoch_us(i.ts) AS imp_us, epoch_us(c.ts) AS click_us
        FROM imp i FULL OUTER JOIN clk c
          ON i.ad_id = c.ad_id
         AND c.ts >= i.ts AND c.ts <= i.ts + INTERVAL 1 HOUR
        ORDER BY ad_id, imp_us NULLS FIRST, click_us NULLS FIRST""")),

    // RIGHT OUTER stream-stream join: the mirror of the left-outer shape
    // — clicks with no in-window impression (the no-impression ad 9 and
    // the outside-window ad 2) emit with a null impression side once the
    // watermark passes their horizon; unmatched impressions do NOT emit.
    // Same flush choreography; DuckDB mirrors with RIGHT JOIN.
    "stream_right_join_roundtrip" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val imps = MemoryStream[(String, Long)](s)
        val clicks = MemoryStream[(String, Long)](s)
        val i = adStream(imps).withWatermark("ts", "2 hours")
          .select(col("ad_id").as("imp_ad_id"), col("ts").as("imp_ts"))
        val c = adStream(clicks).withWatermark("ts", "2 hours")
          .select(col("ad_id").as("click_ad_id"), col("ts").as("click_ts"))
        val joined = i.join(c,
          expr("""imp_ad_id = click_ad_id AND
                  click_ts >= imp_ts AND
                  click_ts <= imp_ts + INTERVAL 1 HOUR"""), "right_outer")
        // two-batch choreography — see the left-outer roundtrip note
        imps.addData(impEvents)
        imps.addData(Seq(("2024-01-05 02:00:00", -1L)))
        clicks.addData(clickEvents)
        clicks.addData(Seq(("2024-01-05 02:00:00", -2L)))
        memoryRoundtrip(s, joined, "append") { q =>
          q.processAllAvailable()
          clicks.addData(Seq(("2024-01-05 03:00:00", -2L)))
          q.processAllAvailable()
        }
          .where(col("click_ad_id") >= 0)
          .select(col("click_ad_id").as("ad_id"),
            Q.epochUs(col("imp_ts")).as("imp_us"),
            Q.epochUs(col("click_ts")).as("click_us"))
          .orderBy(col("ad_id"), col("imp_us"), col("click_us"))
      },
      Some(s"""
        WITH $duckAdEvents
        SELECT c.ad_id AS ad_id,
               epoch_us(i.ts) AS imp_us, epoch_us(c.ts) AS click_us
        FROM imp i RIGHT JOIN clk c
          ON i.ad_id = c.ad_id
         AND c.ts >= i.ts AND c.ts <= i.ts + INTERVAL 1 HOUR
        ORDER BY ad_id, imp_us NULLS FIRST, click_us""")),

    // Streaming keyed upsert (CDC last-write-wins): foreachBatch merges
    // each micro-batch into a versioned parquet table; after both batches
    // the table holds exactly the highest-seq row per user — cross-batch
    // replacement (user 1 twice), in-batch replacement, and late insert
    // all exercised. DuckDB re-derives the final state with arg_max.
    "stream_upsert_roundtrip" -> QueryDef(
      (s, _) => {
        val dir = upsertRoundtrip(s)(Upsert.stream(_, _, Seq("user_id"), "seq", _))
        Upsert.current(s, dir).get.orderBy(col("user_id"))
      },
      Some(s"""
        WITH ev(user_id, status, seq) AS (VALUES ${upsertBatches.flatten
          .map { case (u, st, sq) => s"(CAST($u AS BIGINT), '$st', CAST($sq AS BIGINT))" }
          .mkString(", ")})
        SELECT user_id, arg_max(status, seq) AS status,
               CAST(max(seq) AS BIGINT) AS seq
        FROM ev GROUP BY user_id ORDER BY user_id""")),

    // Incremental materialized aggregate through the real runtime: each
    // micro-batch's per-user partials fold into the maintained parquet
    // view (Upsert.streamAggregate — merge cost scales with distinct
    // keys, never a history rescan). After both batches the table must
    // equal the aggregate over every delivered row, which is exactly
    // what the oracle computes from the full VALUES list.
    "stream_incr_agg_roundtrip" -> QueryDef(
      (s, _) => {
        val dir = upsertRoundtrip(s)(
          Upsert.streamAggregate(_, _, Seq("user_id"), Seq("seq"), _))
        Upsert.current(s, dir).get.orderBy(col("user_id"))
      },
      Some(s"""
        WITH ev(user_id, status, seq) AS (VALUES ${upsertBatches.flatten
          .map { case (u, st, sq) => s"(CAST($u AS BIGINT), '$st', CAST($sq AS BIGINT))" }
          .mkString(", ")})
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(seq) AS BIGINT) AS sum_seq
        FROM ev GROUP BY user_id ORDER BY user_id""")),

    // Time travel over the upsert table's retained versions: the same CDC
    // stream, then BOTH snapshots read back — v0 (state after batch 1)
    // and v1 (final state) — tagged with their version. Proves each
    // version directory is an immutable consistent snapshot (v0 must
    // still show user 1 as 'active' and no user 3, even after v1
    // superseded it). DuckDB re-derives every version's last-write-wins
    // state by filtering the change log to seq-at-version.
    "stream_timetravel_roundtrip" -> QueryDef(
      (s, _) => {
        val dir = upsertRoundtrip(s)(Upsert.stream(_, _, Seq("user_id"), "seq", _))
        val v1 = Upsert.currentVersion(dir).get
        val v0 = v1 - 1
        Upsert.at(s, dir, v0).withColumn("version", lit(v0))
          .unionByName(Upsert.at(s, dir, v1).withColumn("version", lit(v1)))
          .orderBy(col("version"), col("user_id"))
      },
      Some(s"""
        WITH ev(user_id, status, seq, b) AS (VALUES ${upsertBatches.zipWithIndex
          .flatMap { case (batch, bi) => batch.map { case (u, st, sq) =>
            s"(CAST($u AS BIGINT), '$st', CAST($sq AS BIGINT), $bi)" } }
          .mkString(", ")})
        SELECT CAST(v AS BIGINT) AS version, user_id,
               arg_max(status, seq) AS status, CAST(max(seq) AS BIGINT) AS seq
        FROM ev CROSS JOIN (SELECT unnest([0, 1]) AS v) vs
        WHERE b <= v
        GROUP BY 1, user_id ORDER BY version, user_id""")),

    // Custom keyed state (flatMapGroupsWithState): per-user running event
    // counter emitting one row per (user, micro-batch). The batch split
    // is part of the declared input, so the oracle derives the same rows
    // with a per-batch cumulative sum.
    // Arbitrary typed keyed state through the Spark 4 transformWithState
    // API (StatefulProfiles.RunningProfileProcessor): two ValueStates and
    // a ListState per user in the RocksDB state store, three micro-batches
    // so both scalar carry-over and list append-across-batches are
    // exercised. The memory sink captures every update-mode emission;
    // DuckDB re-derives the same per-batch running profile with window
    // functions over the batch index.
    "stream_tws_roundtrip" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val in = MemoryStream[StatefulProfiles.UserValue](s)
        val profiles = StatefulProfiles.runningProfiles(in.toDS())
        withRocksDbState(s) {
          memoryRoundtrip(s, profiles.toDF(), "update") { q =>
            twsBatches.foreach { b =>
              in.addData(b.map { case (u, v) => StatefulProfiles.UserValue(u, v) })
              q.processAllAvailable()
            }
          }
        }
          .select(col("user_id"), col("n_batches"), col("n_events"),
            col("sum_value"), col("max_value"))
          .orderBy(col("user_id"), col("n_batches"))
      },
      Some(s"""
        WITH ev(user_id, v, batch) AS (VALUES ${twsBatches.zipWithIndex
          .flatMap { case (b, i) =>
            b.map { case (u, v) => s"(CAST($u AS BIGINT), CAST($v AS BIGINT), $i)" } }
          .mkString(", ")}),
        per AS (
          SELECT user_id, batch, CAST(count(*) AS BIGINT) AS c,
                 CAST(sum(v) AS BIGINT) AS sm, CAST(max(v) AS BIGINT) AS mx
          FROM ev GROUP BY user_id, batch),
        cum AS (
          SELECT user_id,
                 CAST(row_number() OVER w AS BIGINT) AS n_batches,
                 CAST(sum(c) OVER w AS BIGINT) AS n_events,
                 CAST(sum(sm) OVER w AS BIGINT) AS sum_value,
                 CAST(max(mx) OVER w AS BIGINT) AS max_value
          FROM per
          WINDOW w AS (PARTITION BY user_id ORDER BY batch))
        SELECT user_id, n_batches, n_events, sum_value, max_value
        FROM cum ORDER BY user_id, n_batches""")),

    // MapState through transformWithState — the third typed-state shape
    // (user -> {event_type -> count}): updates touch only the changed
    // map entry, and each micro-batch re-emits the user's FULL sorted
    // map (so an entry untouched this batch re-appears unchanged — the
    // oracle reproduces exactly that update-mode signature, duplicate
    // rows included).
    "stream_tws_map_roundtrip" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val in = MemoryStream[StatefulProfiles.TypedEvent](s)
        val countsDs = StatefulProfiles.typeCounts(in.toDS())
        withRocksDbState(s) {
          memoryRoundtrip(s, countsDs.toDF(), "update") { q =>
            twsMapBatches.foreach { b =>
              in.addData(b.map { case (u, t) => StatefulProfiles.TypedEvent(u, t) })
              q.processAllAvailable()
            }
          }
        }
          .select(col("user_id"), col("event_type"), col("n"))
          .orderBy(col("user_id"), col("event_type"), col("n"))
      },
      Some(s"""
        WITH ev(user_id, event_type, batch) AS (VALUES ${twsMapBatches.zipWithIndex
          .flatMap { case (b, i) =>
            b.map { case (u, t) => s"(CAST($u AS BIGINT), '$t', $i)" } }
          .mkString(", ")}),
        touched AS (SELECT DISTINCT user_id, batch FROM ev),
        per AS (SELECT user_id, event_type, batch, CAST(count(*) AS BIGINT) AS c
                FROM ev GROUP BY user_id, event_type, batch),
        cum AS (
          SELECT t.user_id, p.event_type, t.batch, CAST(sum(p.c) AS BIGINT) AS n
          FROM touched t JOIN per p
            ON p.user_id = t.user_id AND p.batch <= t.batch
          GROUP BY t.user_id, p.event_type, t.batch)
        SELECT user_id, event_type, n FROM cum
        ORDER BY user_id, event_type, n""")),

    // Streaming heavy hitters: a Misra-Gries summary (k = 3 counters) in
    // transformWithState MapState — the streaming-sketch cross: the batch
    // sketches (count-min, KMV, HLL-shard) answer "how many"; MG answers
    // "WHICH items dominate an unbounded stream in bounded state". Each
    // micro-batch merges its exact item counts into the counter map and
    // applies the MG decrement (subtract the (k+1)-th largest, drop
    // non-positives) — deterministic regardless of row order inside the
    // batch, so the whole simulation is value-checked cross-engine: the
    // oracle replays the identical merge-then-decrement per unrolled
    // batch. The fixture is skewed so the decrement fires every batch.
    // Scale note: one global sketch here; at scale the stream keys by
    // shard and shard summaries merge by the same step (MG is mergeable
    // — Agarwal et al. 2012 — which count-min top-k is not).
    "stream_heavy_hitters_roundtrip" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val in = MemoryStream[StatefulProfiles.Item](s)
        val hh = StatefulProfiles.heavyHitters(in.toDS(), k = 3)
        withRocksDbState(s) {
          memoryRoundtrip(s, hh.toDF(), "update") { q =>
            hhBatches.foreach { b =>
              in.addData(b.map(StatefulProfiles.Item(_)))
              q.processAllAvailable()
            }
          }
        }
          .select(col("batch_n"), col("item"), col("est"))
          .orderBy(col("batch_n"), col("item"))
      },
      Some {
        val batchCtes = (1 to hhBatches.length).map { b =>
          val merge =
            if (b == 1) s"m$b AS (SELECT item, c AS v FROM pc$b)"
            else s"""m$b AS (
              SELECT coalesce(st.item, p.item) AS item,
                     coalesce(st.v, 0) + coalesce(p.c, 0) AS v
              FROM s${b - 1} st FULL OUTER JOIN pc$b p ON st.item = p.item)"""
          s"""pc$b AS (SELECT item, CAST(count(*) AS BIGINT) AS c
                       FROM ev WHERE batch = $b GROUP BY item),
        $merge,
        d$b AS (
          SELECT CASE WHEN (SELECT count(*) FROM m$b) > 3
                      THEN (SELECT v FROM (
                              SELECT v, row_number() OVER (ORDER BY v DESC) AS rn
                              FROM m$b) t WHERE rn = 4)
                      ELSE 0 END AS dec),
        s$b AS (SELECT item, v - dec AS v FROM m$b, d$b WHERE v - dec > 0),
        o$b AS (SELECT CAST($b AS BIGINT) AS batch_n, item,
                       CAST(v AS BIGINT) AS est FROM s$b)"""
        }.mkString(",\n        ")
        s"""
        WITH ev(item, batch) AS (VALUES ${hhBatches.zipWithIndex
          .flatMap { case (batch, bi) => batch.map(it => s"('$it', ${bi + 1})") }
          .mkString(", ")}),
        $batchCtes
        SELECT * FROM (
          ${(1 to hhBatches.length).map(b => s"SELECT * FROM o$b").mkString(" UNION ALL ")})
        ORDER BY batch_n, item"""
      }),

    "stream_state_counts_roundtrip" -> QueryDef(
      (s, _) => {
        import s.implicits._
        val in = MemoryStream[WindowedAggs.UserEvent](s)
        val counts = WindowedAggs.runningUserCounts(in.toDS())
        memoryRoundtrip(s, counts.toDF(), "append") { q =>
          stateBatches.foreach { b =>
            in.addData(b.map { case (u, e) => WindowedAggs.UserEvent(u, e) })
            q.processAllAvailable()
          }
        }
          .select(col("user_id"), col("n_events").cast("long").as("n"))
          .orderBy(col("user_id"), col("n"))
      },
      Some(s"""
        WITH ev(user_id, batch) AS (VALUES ${stateBatches.zipWithIndex
          .flatMap { case (b, i) => b.map { case (u, _) => s"(CAST($u AS BIGINT), $i)" } }
          .mkString(", ")}),
        per AS (
          SELECT user_id, batch, CAST(count(*) AS BIGINT) AS c
          FROM ev GROUP BY user_id, batch),
        cum AS (
          SELECT user_id,
                 CAST(sum(c) OVER (PARTITION BY user_id ORDER BY batch) AS BIGINT) AS n
          FROM per)
        SELECT user_id, n FROM cum ORDER BY user_id, n""")),

    "ingest_route" -> QueryDef(
      (s, _) => {
        val spark = s
        import spark.implicits._
        val parsed = new JsonArrayBatchParser().parse(batches.toDF("value"))
        Router.withReason(parsed)
          .groupBy(coalesce(col(DeadLetterReason), lit("valid")).as("reason"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("reason"))
      },
      Some(s"""
        WITH $duckClassified
        SELECT reason, CAST(count(*) AS BIGINT) AS n
        FROM cls GROUP BY reason ORDER BY reason""")),

    "ingest_parse_events" -> QueryDef(
      (s, _) => {
        val spark = s
        import spark.implicits._
        val parsed = new JsonArrayBatchParser().parse(batches.toDF("value"))
        Router.valid(Router.withReason(parsed))
          .select(col("user_id"), col("event_id"),
            Q.epochUs(col("event_timestamp")).as("ts_us"),
            col("event_type"), col("product_id"),
            expr("try_element_at(properties, 'url')").as("url"),
            expr("try_element_at(properties, 'amount')").as("amount"))
          .orderBy(col("event_id"))
      },
      Some(s"""
        WITH $duckClassified
        SELECT json_extract_string(rec, '$$.user_id') AS user_id,
               json_extract_string(rec, '$$.event_id') AS event_id,
               epoch_us(TRY_CAST(json_extract_string(rec, '$$.event_timestamp') AS TIMESTAMP)) AS ts_us,
               json_extract_string(rec, '$$.event_type') AS event_type,
               json_extract_string(rec, '$$.product_id') AS product_id,
               json_extract_string(rec, '$$.properties.url') AS url,
               json_extract_string(rec, '$$.properties.amount') AS amount
        FROM cls WHERE reason = 'valid' ORDER BY event_id"""))
  )
}
