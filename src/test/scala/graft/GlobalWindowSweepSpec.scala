package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries._

/** Automated 100x-scale audit: NO declared batch query may carry an
  * unpartitioned window over a corpus-scale frame. `Window.orderBy` with
  * no (or an all-literal) partitionBy moves its entire input into ONE
  * task — invisible at test SF, fatal at the 1000-executor design point.
  * The r8/r9 verdicts found this class by hand three rounds running
  * (suffix-repeat candidates, AUC rank, calibration ntile, ccnet
  * terciles, funnel median, skew/overlap/PCA top-k); this sweep makes
  * the class non-regressable.
  *
  * Mechanics: for every declared query in the batch packs, walk the
  * OPTIMIZED logical plan; for each window with an empty/foldable
  * partition spec, prove its input frame bounded:
  *
  *   - Limit            -> bounded (top-k output);
  *   - Aggregate        -> bounded if it groups on nothing (1 row) or
  *                         only on whitelisted bounded-domain columns
  *                         (value grids, day grids, enums) — or if its
  *                         own input is bounded;
  *   - Join             -> bounded iff both sides are;
  *   - Union            -> bounded iff all children are;
  *   - local/range rels -> bounded (literal data);
  *   - file relations   -> bounded only for the spec-bounded TPC-H dims
  *                         (region 5 rows, nation 25);
  *   - anything else (corpus scans, checkpointed RDDs) -> UNBOUNDED.
  *
  * Every flag must be fixed (GlobalOrder helpers, sort+limit) or carry a
  * written bound in src/test/resources/global_window_whitelist.txt; a
  * stale per-query whitelist entry fails the sweep too, so exemptions
  * cannot outlive their reason.
  *
  * The Ingest pack is excluded: its builds EXECUTE streaming roundtrips
  * (cost, not laziness), their batch outputs are tiny result frames, and
  * their stateful operators are watermark/key-partitioned by construction
  * (asserted by the streaming specs, e.g. StatePartitionDialSpec).
  *
  * Known blind spot, covered elsewhere: plan segments that execute
  * EAGERLY during a query's build (inside localCheckpoint lineage cuts —
  * GlobalOrder internals, the iterative graph/suffix rounds) are not in
  * the final optimized plan this sweep walks. Those segments are audited
  * at their construction sites instead: GlobalOrderSpec's plan test pins
  * "per-bucket windows partitioned, no unpartitioned window left" on the
  * helper itself (the offsets are driver literals), and the iterative
  * ops' specs pin their per-round shapes.
  */
class GlobalWindowSweepSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.engine.Sessions.local(4, "graft-test")
  private val d = "/root/testdata/sf0.001"

  private val batchPacks: Seq[(String, QueryPack)] = Seq(
    "Relational" -> Relational,
    "Analytics" -> Analytics,
    "TextOps" -> TextOps,
    "Dedup" -> Dedup,
    "Similarity" -> Similarity,
    "Curate" -> Curate,
    "SourceFormats" -> SourceFormats)

  private case class Whitelist(cols: Set[String], queries: Set[String])

  private lazy val whitelist: Whitelist = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/global_window_whitelist.txt"))("UTF-8")
    try {
      val entries = src.getLines()
        .map(_.takeWhile(_ != '#').trim)
        .filter(_.nonEmpty)
        .map { line =>
          val parts = line.split("\\s+", 3)
          assert(parts.length >= 3 && parts(2).contains("--"),
            s"whitelist line needs '<kind> <name> -- <written bound>': $line")
          (parts(0), parts(1))
        }.toSeq
      val bad = entries.collect { case (k, v) if k != "col" && k != "query" => s"$k $v" }
      assert(bad.isEmpty, s"unknown whitelist kinds: $bad")
      Whitelist(
        entries.collect { case ("col", c) => c }.toSet,
        entries.collect { case ("query", q) => q }.toSet)
    } finally src.close()
  }

  private def boundedRelation(p: LogicalPlan): Boolean = {
    // spec-bounded TPC-H dims only (region 5 rows, nation 25)
    val s = p.simpleString(200)
    s.contains("region.parquet") || s.contains("nation.parquet")
  }

  private def bounded(p: LogicalPlan): Boolean = p match {
    case _: GlobalLimit | _: LocalLimit => true
    case a: Aggregate =>
      a.groupingExpressions.forall(_.references.forall(r =>
        whitelist.cols.contains(r.name))) || bounded(a.child)
    case j: Join => bounded(j.left) && bounded(j.right)
    case u: Union => u.children.forall(bounded)
    case _: LocalRelation | _: OneRowRelation | _: Range => true
    case l if l.getClass.getSimpleName == "LogicalRelation" ||
      l.getClass.getSimpleName == "DataSourceV2ScanRelation" =>
      boundedRelation(l)
    case u: UnaryNode => bounded(u.child)
    case _ => false
  }

  private def isGlobal(w: Window): Boolean =
    w.partitionSpec.isEmpty || w.partitionSpec.forall(_.foldable)

  test("no declared batch query windows a corpus-scale frame through one task") {
    val flagged = scala.collection.mutable.ListBuffer[String]()
    val exercised = scala.collection.mutable.Set[String]()
    for ((packName, pack) <- batchPacks; (name, qd) <- pack.defs.toSeq.sortBy(_._1)) {
      Persisted.drain()
      val plan = qd.build(spark, d).queryExecution.optimizedPlan
      val offenders = plan.collect {
        case w: Window if isGlobal(w) && !bounded(w.child) => w
      }
      if (offenders.nonEmpty) {
        exercised += name
        if (!whitelist.queries.contains(name))
          flagged += s"$packName/$name: ${offenders.size} unbounded global window(s), first over:\n" +
            offenders.head.child.treeString.linesIterator.take(8).mkString("\n")
      }
    }
    Persisted.drain()
    spark.catalog.clearCache()
    assert(flagged.isEmpty,
      s"corpus-scale single-task windows (fix with GlobalOrder/sort+limit " +
        s"or add a written bound to global_window_whitelist.txt):\n" +
        flagged.mkString("\n\n"))
    val stale = whitelist.queries -- exercised
    assert(stale.isEmpty,
      s"stale whitelist entries (no unbounded global window anymore): $stale")
  }
}
