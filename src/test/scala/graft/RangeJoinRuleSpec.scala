package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The automatic range-join rewrite (graft.plans.RangeJoinRule): a naive
  * `point BETWEEN lo AND hi` inner join must plan as a banded EQUI-join
  * (no nested-loop/cartesian physical node) when the bin-size conf is
  * set, with results identical to the nested-loop semantics — including
  * strict bounds, negative keys (truncating-division monotonicity), and
  * empty intervals.
  */
class RangeJoinRuleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.engine.Sessions.local(4, "graft-test")
  private val BinConf = graft.plans.RangeJoinRule.BinConf

  private def withBin[A](size: Long)(f: => A): A = {
    spark.conf.set(BinConf, size.toString)
    try f finally spark.conf.unset(BinConf)
  }

  private def points: DataFrame = {
    import spark.implicits._
    (1 to 500).map(i => (i.toLong, ((i * 37) % 1000 - 200).toLong))
      .toDF("pid", "p")
  }

  private def intervals: DataFrame = {
    import spark.implicits._
    (1 to 80).map { i =>
      val lo = ((i * 91) % 900 - 250).toLong
      (i.toLong, lo, lo + (i % 60).toLong)
    }.toDF("iid", "lo", "hi")
  }

  private def joined: DataFrame =
    points.join(intervals, col("p") >= col("lo") && col("p") <= col("hi"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("BETWEEN join plans as a banded equi-join under the rule") {
    withBin(64) {
      val df = joined
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"range join must rewrite to a banded equi-join:\n$plan")
      assert(plan.contains("_rj_bin"), s"bin key missing from plan:\n$plan")
    }
  }

  test("rewritten results are identical to the nested-loop join") {
    val want = rows(joined) // conf unset -> rule dormant -> BNLJ
    assert(want.nonEmpty)
    for (bin <- Seq(1L, 7L, 64L, 1000000L))
      assert(rows(withBin(bin)(joined)) == want, s"bin=$bin")
  }

  test("strict bounds and mixed directions rewrite and match") {
    def q = points.join(intervals,
      col("lo") < col("p") && col("hi") > col("p"))
    val want = rows(q)
    assert(want.nonEmpty)
    withBin(32) {
      val df = q
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(rows(df) == want)
    }
  }

  test("empty intervals (lo > hi) neither crash nor emit rows") {
    import spark.implicits._
    val ivs = Seq((1L, 50L, 10L), (2L, -5L, -40L)).toDF("iid", "lo", "hi")
    withBin(16) {
      val df = points.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
      assert(df.count() == 0)
    }
  }

  test("constant-span predicates infer the bin with NO conf set") {
    // the fixed-window shape (hi = lo + c): the span travels with the
    // plan, so the rewrite fires in every QueryExecution derived from
    // the frame — unlike a conf scoped to the build (r10 advisor finding)
    def q = points.join(intervals.select(col("iid"), col("lo")),
      col("p") > col("lo") && col("p") <= col("lo") + lit(40L))
    val plan = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("_rj_bin") && !plan.contains("BroadcastNestedLoopJoin"),
      s"constant span must infer the bin:\n$plan")
    // truth: the same predicate over an explicit cartesian (no join
    // condition, so the rule has nothing to rewrite)
    val want = rows(points.crossJoin(intervals.select(col("iid"), col("lo")))
      .where(col("p") > col("lo") && col("p") <= col("lo") + lit(40L)))
    assert(want.nonEmpty)
    assert(rows(q) == want)
  }

  test("the subtract form (lo = hi - c) infers the same bin") {
    def q = points.join(intervals.select(col("iid"), col("hi")),
      col("p") >= col("hi") - lit(25L) && col("p") < col("hi"))
    val plan = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("_rj_bin") && !plan.contains("BroadcastNestedLoopJoin"),
      s"hi - c span must infer the bin:\n$plan")
    val want = rows(points.crossJoin(intervals.select(col("iid"), col("hi")))
      .where(col("p") >= col("hi") - lit(25L) && col("p") < col("hi")))
    assert(want.nonEmpty)
    assert(rows(q) == want)
  }

  test("joins with an equi-conjunct are left untouched") {
    import spark.implicits._
    val dim = (1 to 10).map(i => (i.toLong, i * 10L, i * 10L + 100L)).toDF("k", "lo", "hi")
    val fact = (1 to 100).map(i => (i.toLong % 10 + 1, i.toLong)).toDF("k2", "p")
    withBin(16) {
      val df = fact.join(dim,
        col("k2") === col("k") && col("p") >= col("lo") && col("p") <= col("hi"))
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("_rj_bin"),
        s"equi-join must not be banded:\n$plan")
    }
  }

  test("the residual filter keeps bin-grazing false candidates out") {
    // a bin size far larger than every interval puts many non-matching
    // pairs in shared bins; only the residual-true pairs may survive
    val want = rows(joined)
    assert(rows(withBin(100000L)(joined)) == want)
  }
}
