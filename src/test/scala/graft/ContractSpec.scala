package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants: pack keys must not collide (the flattening
  * into one Map would silently drop a query), every oracle key must have a
  * query, and every query must at least pass analysis (resolve columns,
  * types) against the smallest testdata.
  */
class ContractSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.engine.Sessions.local(4, "graft-test")

  private val packs = Seq(
    "Relational" -> queries.Relational.defs,
    "Analytics" -> queries.Analytics.defs,
    "TextOps" -> queries.TextOps.defs,
    "Dedup" -> queries.Dedup.defs,
    "Similarity" -> queries.Similarity.defs,
    "Curate" -> queries.Curate.defs,
    "SourceFormats" -> queries.SourceFormats.defs,
    "Ingest" -> queries.Ingest.defs)

  test("query names are globally unique across packs") {
    val all = packs.flatMap { case (_, defs) => defs.keys }
    val dups = all.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    assert(dups.isEmpty, s"duplicate query names: $dups")
    assert(all.size == SparkEntry.queries.size)
  }

  test("a failed query's line names the exception class, even with no message") {
    val line = SparkEntry.failureLine("verify", "q", new NullPointerException())
    assert(line == "[verify] q FAILED: java.lang.NullPointerException: null")
  }

  test("every oracle has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty)
  }

  test("every query resolves (analysis passes) on sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, "/root/testdata/sf0.001").schema; None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.linesIterator.next()}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("chunking is lossless: stride-100 prefixes reconstruct every document") {
    // the training-sample contract behind chunk_documents: chunks overlap
    // by 20, so concatenating each chunk's first 100 chars in chunk_idx
    // order must reproduce the original text EXACTLY for every doc (the
    // final chunk contributes its full remainder), and the chunk count
    // must match the declared ceil(len/100) arithmetic
    val d = "/root/testdata/sf0.001"
    val stride = graft.engine.ops.Chunk.StrideChars
    val rebuilt = SparkEntry.queries("chunk_documents")(spark, d)
      .selectExpr("doc_id", "chunk_idx", s"substring(chunk, 1, $stride) AS piece")
      .groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.expr(
        "concat_ws('', sort_array(collect_list(struct(chunk_idx, piece))).piece) AS rebuilt"),
        org.apache.spark.sql.functions.expr("count(*) AS n_chunks"))
    val joined = graft.engine.Tables.documents(spark, d)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .join(rebuilt, "doc_id")
    val bad = joined.where(
      s"rebuilt <> text OR n_chunks <> greatest(CAST(ceil(length(text) / $stride.0) AS BIGINT), 1)")
      .count()
    assert(bad == 0, s"$bad documents fail chunk reconstruction")
    assert(joined.count() == graft.engine.Tables.documents(spark, d).count(),
      "every document (including empty ones) must produce chunks")
  }

  test("Verify --sql-only dumps the full oracle map without a Spark session") {
    // the judge-freshness contract (r12): re-dumping oracle_sql.json
    // must not run a single query — it should complete in well under a
    // second and carry every declared oracle, parseable as JSON
    val out = java.nio.file.Files.createTempDirectory("graft_sqlonly_")
    graft.engine.util.Fs.deleteOnExit(out)
    // the actual contract is "no Spark session" — a wall-clock bound
    // would flake under the box's documented background-load swings
    val before = org.apache.spark.sql.SparkSession.getDefaultSession
    Verify.main(Array("--sql-only", out.toString))
    assert(org.apache.spark.sql.SparkSession.getDefaultSession == before,
      "sql-only mode must not create (or replace) a Spark session")
    val txt = new String(java.nio.file.Files.readAllBytes(
      out.resolve("oracle_sql.json")))
    // strict JSON check via Jackson (the driver json.loads the file)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
    assert(node.size() == SparkEntry.oracleSql.size,
      s"dump must carry every oracle: ${node.size()} vs ${SparkEntry.oracleSql.size}")
    SparkEntry.oracleSql.keys.take(5).foreach(k =>
      assert(node.has(k), s"missing oracle $k"))
  }

  test("every runMain the docs name loads and has a main(Array[String])") {
    // README and the verify skill tell a reader what to run; a deleted or
    // renamed main must fail here, not in the reader's shell
    val docs = Seq("README.md", ".claude/skills/verify/SKILL.md")
    val named = docs.flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)))
      """runMain\s+(graft\.[\w.]*\w)""".r.findAllMatchIn(text).map(m => f -> m.group(1))
    }.distinct
    assert(docs.forall(f => named.exists(_._1 == f)), s"no runMain found in one of $docs")
    val broken = named.filterNot { case (_, cls) =>
      scala.util.Try(Class.forName(cls).getMethod("main", classOf[Array[String]])).isSuccess
    }
    assert(broken.isEmpty, s"docs name mains that do not exist: ${broken.mkString(", ")}")
  }
}
