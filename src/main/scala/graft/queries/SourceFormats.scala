package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Tables

/** Source-format round-trips UNDER THE ORACLE GATE: the engine writes a
  * projection of a driver table in the format under test, reads it back
  * through the corresponding source (explicit schema — at 100 TB schema
  * inference is an extra full pass over the data), and aggregates; DuckDB
  * derives the same aggregate straight from the original parquet. A
  * value-exact match proves the full write→read→compute path preserves
  * types and values, not merely that the reader doesn't throw.
  *
  * This widens SURVEY §2.1 beyond the reference's text+parquet pair
  * (reference: src/consumer/data_sources.py:9-50, data_sinks.py) to the
  * other two formats a batch backfill actually encounters: CSV and
  * JSON-lines.
  *
  * Scale notes: both round-trips shard the write across the input
  * partitions (no coalesce), the read projects only the aggregated
  * columns, and the aggregate itself is a map-side-partial groupBy on a
  * 3-value key. Temp trees go through the shared Fs.deleteOnExit
  * registry.
  */
object SourceFormats extends QueryPack {

  /** Hard cap on rows collected to the driver for binaryFile fixture
    * writing — bounds the fixture footprint regardless of corpus size
    * (see the inline contract note at `source_binaryfile_roundtrip`).
    * At sf0.1 the 1-in-50 subset is ~120 docs, well under the cap, so
    * test-SF results are unchanged.
    */
  private[graft] val BinFixtureCap = 512

  private val charges = Seq("l_orderkey", "l_quantity", "l_returnflag")

  /** Literal CSV lines for the malformed-row round-trip, one per Spark
    * PERMISSIVE rule (verified empirically): clean parse; cast failure
    * (field null, line quarantined); missing trailing column (parsed
    * prefix kept, line quarantined); extra column (fields kept, line
    * quarantined); empty first token (null field, NOT corrupt).
    */
  private val corruptCsvLines = Seq(
    "1,a",
    "2,b",
    "x,c",
    "3",
    "4,d,extra",
    ",e")

  /** Literal JSONL lines for the corrupt-record round-trip: 4 valid, 2
    * structurally broken (truncated object, non-JSON text). Both engines
    * classify by JSON parseability, so the split must agree exactly.
    */
  private val corruptLines = Seq(
    """{"id": 1, "v": "a"}""",
    """{"id": 2, "v": "b"}""",
    """{"id": 3, "v": "c"""", // truncated mid-string
    """{"id": 4, "v": "d"}""",
    """not json at all""",
    """{"id": 6, "v": "f"}""")

  private val csvSchema = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_quantity", DoubleType),
    StructField("l_returnflag", StringType)))

  /** groupBy returnflag: count + exact integer sum of quantity*100. */
  private def chargeAgg(df: org.apache.spark.sql.DataFrame) =
    df.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(expr(Q.scaledLong("l_quantity", 2))).as("qty_cents"))
      .orderBy(col("l_returnflag"))

  private val chargeOracle = s"""
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(${Q.scaledLong("l_quantity", 2)}) AS BIGINT) AS qty_cents
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  def defs: Map[String, QueryDef] = Map(
    // Schema evolution ON READ: two parquet file generations with
    // different column sets (an old writer without `lang`, a new writer
    // without `n_chars`) land in one table directory; mergeSchema=true
    // reconciles them into the union schema, null-filling each file's
    // missing columns. This is the read-side half of the EvolvingTableSink
    // story (SURVEY §2.1 S6) — a 100 TB table accretes schema versions
    // over years and every query must read across all of them. The
    // aggregate counts per-column presence, so a silent column drop or
    // misalignment flips the gated values.
    "source_mergeschema_roundtrip" -> QueryDef(
      (s, d) => {
        val out = Files.createTempDirectory("graft_ms_")
        graft.engine.util.Fs.deleteOnExit(out)
        val docs = Tables.documents(s, d)
        docs.where("doc_id % 2 = 0").select(col("doc_id"), col("n_chars"))
          .write.mode("overwrite").parquet(out.resolve("gen=old").toString)
        docs.where("doc_id % 2 = 1").select(col("doc_id"), col("lang"))
          .write.mode("overwrite").parquet(out.resolve("gen=new").toString)
        s.read.option("mergeSchema", "true").parquet(out.toString)
          .groupBy(col("gen"))
          .agg(count(lit(1)).as("n"),
            count(col("n_chars")).as("n_with_chars"),
            count(col("lang")).as("n_with_lang"),
            sum(coalesce(col("n_chars"), lit(0L))).as("sum_chars"))
          .orderBy(col("gen"))
      },
      Some("""
        SELECT gen, CAST(count(*) AS BIGINT) AS n,
               CAST(count(n_chars) AS BIGINT) AS n_with_chars,
               CAST(count(lang) AS BIGINT) AS n_with_lang,
               CAST(sum(coalesce(n_chars, 0)) AS BIGINT) AS sum_chars
        FROM (
          SELECT 'old' AS gen, n_chars, NULL AS lang
          FROM documents WHERE doc_id % 2 = 0
          UNION ALL
          SELECT 'new' AS gen, NULL AS n_chars, lang
          FROM documents WHERE doc_id % 2 = 1)
        GROUP BY gen ORDER BY gen""")),

    // Raw-bytes ingestion through the binaryFile source — the entry
    // point for multimodal corpora (images/audio/video land as opaque
    // files; Spark reads them as (path, length, content BINARY) rows and
    // the decode stage takes over, see engine/multimodal). A
    // deterministic document subset is materialized as one UTF-8 file
    // per doc (fixture setup, driver-side, bounded by the modulus — the
    // measured path is the distributed binaryFile scan), read back, and
    // each file's byte length and content hash are checked value-exact
    // against the documents table: name mapping, byte fidelity, and the
    // binary->string decode all gated. pathGlobFilter prunes non-matching
    // files AT THE LISTING, the same way a 100 TB image crawl filters
    // extensions without opening files.
    "source_binaryfile_roundtrip" -> QueryDef(
      (s, d) => {
        val out = Files.createTempDirectory("graft_bin_")
        graft.engine.util.Fs.deleteOnExit(out)
        // FIXTURE-COLLECT CONTRACT (r12, r11 VERDICT #5): this collect
        // writes test fixture files, not the measured path — but it runs
        // on the driver, so it must stay bounded AS THE CORPUS GROWS.
        // The 1-in-50 modulus alone scales linearly with |documents|;
        // the explicit limit below caps the driver footprint at
        // BinFixtureCap rows regardless of corpus size (deterministic:
        // the doc_id sort makes the kept subset the smallest ids; the
        // oracle applies the identical cap). SourceFormatsSpec asserts
        // the cap is enforced.
        Tables.documents(s, d).where("doc_id % 50 = 0")
          .select(col("doc_id"), col("text"))
          .orderBy(col("doc_id")).limit(BinFixtureCap).collect()
          .foreach { r =>
            Files.write(out.resolve(s"doc_${r.getLong(0)}.txt"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        s.read.format("binaryFile")
          .option("pathGlobFilter", "*.txt")
          .load(out.toString)
          .select(
            expr("CAST(regexp_extract(path, 'doc_([0-9]+)\\\\.txt$', 1) AS BIGINT)").as("doc_id"),
            col("length"),
            expr(s"${Portable.sparkStrHash("decode(content, 'UTF-8')")}").as("h"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS length,
               ${Portable.duckStrHash("text")} AS h
        FROM documents WHERE doc_id % 50 = 0
        ORDER BY doc_id LIMIT $BinFixtureCap""")),

    "source_csv_roundtrip" -> QueryDef(
      (s, d) => {
        val out = Files.createTempDirectory("graft_csv_")
        graft.engine.util.Fs.deleteOnExit(out)
        Tables.lineitem(s, d).select(charges.map(col): _*)
          .write.mode("overwrite").option("header", "true")
          .csv(out.toString)
        chargeAgg(s.read.schema(csvSchema).option("header", "true")
          .csv(out.toString))
      },
      Some(chargeOracle)),

    "source_jsonl_roundtrip" -> QueryDef(
      (s, d) => {
        val out = Files.createTempDirectory("graft_jsonl_")
        graft.engine.util.Fs.deleteOnExit(out)
        Tables.lineitem(s, d).select(charges.map(col): _*)
          .write.mode("overwrite").json(out.toString)
        chargeAgg(s.read.schema(csvSchema).json(out.toString))
      },
      Some(chargeOracle)),

    // Plain text round-trip (spark.read/write.text — the rawest source
    // format, one line per document): file readers guarantee no row
    // order, so the checked aggregate is order-insensitive (doc count,
    // total chars, distinct lines) and the oracle derives it from the
    // ORIGINAL documents table. Valid because this corpus's texts are
    // single-line (the writer would split embedded newlines into extra
    // lines — a real text-format caveat, which is the point of gating
    // the format).
    "source_text_roundtrip" -> QueryDef(
      (s, d) => {
        val out = Files.createTempDirectory("graft_text_")
        graft.engine.util.Fs.deleteOnExit(out)
        Tables.documents(s, d).select(col("text"))
          .write.mode("overwrite").text(out.toString)
        s.read.text(out.toString)
          .agg(count(lit(1)).as("n_lines"),
            sum(length(col("value"))).as("n_chars"),
            countDistinct(col("value")).as("n_distinct"))
      },
      Some("""
        SELECT CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(length(text)) AS BIGINT) AS n_chars,
               CAST(count(DISTINCT text) AS BIGINT) AS n_distinct
        FROM documents""")),

    // ORC round-trip: the second columnar format Spark ships natively.
    // DuckDB cannot read ORC, but the oracle never needs to — it derives
    // the aggregate from the ORIGINAL parquet, so a value-exact match
    // still proves the ORC write→read path preserved every row.
    "source_orc_roundtrip" -> QueryDef(
      (s, d) => {
        val out = Files.createTempDirectory("graft_orc_")
        graft.engine.util.Fs.deleteOnExit(out)
        Tables.lineitem(s, d).select(charges.map(col): _*)
          .write.mode("overwrite").orc(out.toString)
        chargeAgg(s.read.schema(csvSchema).orc(out.toString))
      },
      Some(chargeOracle)),

    // Bucketed catalog tables + co-located join, value-checked end to
    // end: both sides land bucketed on the join key (8 buckets), the
    // join reads bucket-aligned splits with NO shuffle of either side
    // (ScaleOpsSpec asserts the no-Exchange plan; here the VALUES must
    // also survive the bucketed write→catalog→join→agg path). This is
    // the pre-partitioning strategy for repeatedly joined 100 TB fact
    // tables — pay the layout once, skip the shuffle every query after.
    "source_bucketed_roundtrip" -> QueryDef(
      (s, d) => {
        // unique table names per invocation: the managed-table LOCATION
        // under the warehouse dir outlives the JVM while the in-memory
        // catalog entry does not, so a fixed name collides with its own
        // orphaned directory on the next session. The orphans are
        // registered for cleanup at JVM exit.
        val suffix = java.lang.Long.toHexString(System.nanoTime())
        val (tOrders, tCust) = (s"src_bk_orders_$suffix", s"src_bk_customer_$suffix")
        val warehouse = new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath
        for (t <- Seq(tOrders, tCust))
          graft.engine.util.Fs.deleteOnExit(java.nio.file.Paths.get(warehouse, t))
        graft.engine.ops.Scale.writeBucketed(
          Tables.orders(s, d).select(col("o_custkey"), col("o_totalprice")),
          tOrders, "o_custkey", 8)
        graft.engine.ops.Scale.writeBucketed(
          Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
          tCust, "c_custkey", 8)
        s.table(tOrders)
          .join(s.table(tCust), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sum(expr(Q.scaledLong("o_totalprice", 2))).as("price_cents"))
          .orderBy(col("c_mktsegment"))
      },
      Some(s"""
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(${Q.scaledLong("o_totalprice", 2)}) AS BIGINT) AS price_cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // Hive-partitioned write + partition-pruned read, value-checked end
    // to end: orders lands partitioned by o_orderstatus, the read-back
    // filters one status — which must resolve to directory pruning (the
    // ScaleOpsSpec observable asserts the scan touches exactly one
    // partition), and the aggregate must still match DuckDB's over the
    // unpartitioned original. This is the layout every 100 TB table
    // actually uses; correctness here means the partition column's
    // round-trip through directory names loses nothing.
    "source_partitioned_roundtrip" -> QueryDef(
      (s, d) => {
        val out = Files.createTempDirectory("graft_part_")
        graft.engine.util.Fs.deleteOnExit(out)
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"), col("o_orderstatus"))
          .write.mode("overwrite").partitionBy("o_orderstatus")
          .parquet(out.toString)
        s.read.parquet(out.toString)
          .filter(col("o_orderstatus") === "F")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(expr(Q.scaledLong("o_totalprice", 2))).as("price_cents"))
          .orderBy(col("o_orderpriority"))
      },
      Some(s"""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(${Q.scaledLong("o_totalprice", 2)}) AS BIGINT) AS price_cents
        FROM orders WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Dynamic partition pruning roundtrip — the 100 TB scan killer: the
    // fact writes day-partitioned, the dim keeps only every 10th day,
    // and Spark's DPP rule reuses the broadcast build to PRUNE fact
    // partitions at runtime (the scan's PartitionFilters gains a
    // dynamicpruning expression — plan-asserted), so 27 of 30
    // partitions are never opened. This is the mechanism that turns a
    // "join then filter" over a petabyte of day-partitioned parquet
    // into a 3-partition read; the oracle re-derives the same numbers
    // by predicate over the unpartitioned table.
    "source_dpp_roundtrip" -> QueryDef(
      (s, d) => {
        val out = Files.createTempDirectory("graft_dpp_")
        graft.engine.util.Fs.deleteOnExit(out)
        Tables.events(s, d)
          .selectExpr("event_id",
            "datediff(to_date(CAST(ts AS TIMESTAMP)), DATE'2024-01-01') AS day",
            s"${Q.scaledLong("value", 2)} AS v_c")
          .write.mode("overwrite").partitionBy("day").parquet(out.toString)
        val fact = s.read.parquet(out.toString)
        val dim = s.range(0, 31).selectExpr("CAST(id AS INT) AS day")
          .where(col("day") % 10 === 0)
        fact.join(broadcast(dim), "day")
          .groupBy(col("day"))
          .agg(count(lit(1)).as("n"), sum(col("v_c")).as("value_c"))
          .selectExpr("CAST(day AS BIGINT) AS day", "n", "value_c")
          .orderBy(col("day"))
      },
      Some(s"""
        WITH f AS (
          SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
                 ${Q.scaledLong("value", 2)} AS v_c
          FROM events)
        SELECT CAST(day AS BIGINT) AS day, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v_c) AS BIGINT) AS value_c
        FROM f WHERE day % 10 = 0 GROUP BY day ORDER BY day""")),

    // Sketch-mergeable distinct counting — the 100 TB cardinality shape:
    // each shard builds a DataSketches HLL sketch locally, the driver-side
    // union merges 8 fixed-size binary sketches instead of shuffling the
    // key space (how a 1000-executor distinct-count actually runs: sketch
    // per partition, union the sketches). Estimates are
    // implementation-specific, so rows-only — but the exact distinct count
    // rides along and the spec asserts the estimate lands within HLL error
    // of it.
    // PERMISSIVE corrupt-record accounting: a 100 TB backfill over raw
    // JSONL WILL contain malformed lines, and the job must quarantine
    // them into _corrupt_record and keep going — never throw, never drop
    // silently (the same contract the ingest router enforces for its
    // batch format). The engine writes the literal lines (2 of 6
    // structurally broken), reads them back in PERMISSIVE mode, and
    // reports the accounting; DuckDB re-derives it with TRY_CAST to JSON
    // over the same literals.
    "source_jsonl_corrupt" -> QueryDef(
      (s, d) => {
        val out = Files.createTempDirectory("graft_jsonl_bad_")
        graft.engine.util.Fs.deleteOnExit(out)
        val spark = s
        import spark.implicits._
        corruptLines.toDS().write.mode("overwrite").text(out.toString)
        val schema = StructType(Seq(
          StructField("id", LongType),
          StructField("v", StringType),
          StructField("_corrupt_record", StringType)))
        s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(out.toString)
          .agg(count(lit(1)).as("n_rows"),
            count(col("id")).as("n_valid"),
            count(col("_corrupt_record")).as("n_corrupt"),
            sum(col("id")).as("sum_ids"))
      },
      Some(s"""
        WITH raw(line) AS (VALUES ${corruptLines
          .map(l => "('" + l.replace("'", "''") + "')").mkString(", ")}),
        p AS (SELECT line, TRY_CAST(line AS JSON) AS j FROM raw)
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(CASE WHEN j IS NOT NULL THEN 1 END) AS BIGINT) AS n_valid,
               CAST(count(CASE WHEN j IS NULL THEN 1 END) AS BIGINT) AS n_corrupt,
               CAST(sum(CAST(json_extract_string(j, '$$.id') AS BIGINT)) AS BIGINT) AS sum_ids
        FROM p""")),

    // CSV PERMISSIVE malformed-row accounting — the CSV twin of
    // source_jsonl_corrupt, but with Spark's CSV-specific rules (cast
    // failure, column-count mismatch, empty-token-as-null) each
    // exercised by one literal line; the DuckDB mirror re-derives the
    // same classification from string_split + TRY_CAST.
    "source_csv_corrupt" -> QueryDef(
      (s, d) => {
        val out = Files.createTempDirectory("graft_csv_bad_")
        graft.engine.util.Fs.deleteOnExit(out)
        val spark = s
        import spark.implicits._
        corruptCsvLines.toDS().write.mode("overwrite").text(out.toString)
        val schema = StructType(Seq(
          StructField("id", LongType),
          StructField("v", StringType),
          StructField("_corrupt_record", StringType)))
        s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .csv(out.toString)
          // count(v) keeps EVERY schema field required: under column
          // pruning the CSV parser validates only the pruned subset, so
          // a missing trailing column would silently stop counting as
          // malformed if v were dropped from the plan
          .agg(count(lit(1)).as("n_rows"),
            count(col("id")).as("n_ids"),
            count(col("v")).as("n_vs"),
            count(col("_corrupt_record")).as("n_corrupt"),
            sum(col("id")).as("sum_ids"))
      },
      Some(s"""
        WITH raw(line) AS (VALUES ${corruptCsvLines
          .map(l => "('" + l.replace("'", "''") + "')").mkString(", ")}),
        p AS (
          SELECT line, string_split(line, ',') AS tok FROM raw),
        c AS (
          SELECT TRY_CAST(nullif(tok[1], '') AS BIGINT) AS id,
                 CASE WHEN len(tok) >= 2 THEN tok[2] END AS v,
                 CASE WHEN len(tok) <> 2
                        OR (tok[1] <> '' AND TRY_CAST(tok[1] AS BIGINT) IS NULL)
                      THEN line END AS corrupt
          FROM p)
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(id) AS BIGINT) AS n_ids,
               CAST(count(v) AS BIGINT) AS n_vs,
               CAST(count(corrupt) AS BIGINT) AS n_corrupt,
               CAST(sum(id) AS BIGINT) AS sum_ids
        FROM c""")),

    // Two-level mergeable HLL (per-shard sketch -> union -> estimate),
    // the distributed cardinality shape: at 100 TB each executor builds
    // its shard's sketch and only the ~KB sketches shuffle. UNDER THE
    // ORACLE GATE via the Datasketches published error: lgK = 12 gives
    // RSE ~= 1.04/sqrt(2^12) ~= 1.6%, so 3-sigma ~= 5%. Spark emits the
    // measured |approx - exact| <= 0.05*exact boolean; the oracle
    // recomputes the exact cardinality and asserts the contract (TRUE) —
    // a sketch-union regression now fails the hash gate.
    "agg_hll_shards" -> QueryDef(
      (s, d) => {
        Tables.lineitem(s, d)
          .groupBy(expr("l_orderkey % 8").as("shard"))
          .agg(hll_sketch_agg(col("l_partkey"), lit(12)).as("sk"))
          .agg(
            hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
              .cast("long").as("approx"))
          .crossJoin(broadcast(
            Tables.lineitem(s, d)
              .agg(countDistinct(col("l_partkey")).as("exact_parts"))))
          .select(col("exact_parts"),
            (abs(col("approx") - col("exact_parts"))
              <= lit(0.05) * col("exact_parts")).as("within_bound"))
      },
      Some("""
        SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
               TRUE AS within_bound
        FROM lineitem"""))
  )
}
