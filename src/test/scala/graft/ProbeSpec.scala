package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Probe

/** The probe's job listener: `measure` drains the listener bus instead
  * of sleeping, so back-to-back measurements of one fixed multi-stage
  * action see the same jobs, each tagged with the caller's job group
  * and call site; and the CLI rejects flags it does not know.
  */
class ProbeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.engine.Sessions.local(4, "graft-test")

  private def action(): Long =
    spark.range(0, 10000, 1, 4).groupBy(expr("id % 7")).count().collect().length.toLong

  test("measure records the same jobs and stages twice in a row, without sleeping") {
    action() // first-run planning and codegen stay out of both measurements
    val (n1, a) = Probe.measure(spark)(action())
    val (n2, b) = Probe.measure(spark)(action())
    assert(n1 == 7 && n2 == 7)
    assert(a.nonEmpty && a.map(_.stages).sum > 0, s"records: $a")
    assert(a.size == b.size, s"jobs: $a vs $b")
    assert(a.map(_.stages).sum == b.map(_.stages).sum, s"stages: $a vs $b")
    assert(a.map(_.jobId).distinct.size == a.size)
    assert(a.forall(_.wallMs >= 0) && a.forall(_.batchId.isEmpty))
  }

  test("every record carries the caller's job group and a call site") {
    val sc = spark.sparkContext
    sc.setJobGroup("probe-spec", "job group attribution")
    val (_, recs) =
      try Probe.measure(spark)(action())
      finally sc.clearJobGroup()
    assert(recs.nonEmpty)
    assert(recs.forall(_.group == "probe-spec"), s"records: $recs")
    assert(recs.forall(_.callSite.nonEmpty), s"records: $recs")
  }

  test("the argument parser names an unknown flag") {
    val e = intercept[IllegalArgumentException](
      Probe.parse(Seq("q1_pricing_summary", "--bogus")))
    assert(e.getMessage.contains("--bogus"))
    assert(Probe.parse(Seq("q1_pricing_summary,q6_forecast", "/d", "2", "--explain")) ==
      Probe.Queries(Seq("q1_pricing_summary", "q6_forecast"), "/d", 2, explain = true))
    assert(Probe.parse(Seq("--warm", "/d")) == Probe.Warm("/d"))
    assert(Probe.parse(Seq("--tier")).isInstanceOf[Probe.Tier])
    intercept[IllegalArgumentException](Probe.parse(Seq("--warm", "--tier")))
  }
}
