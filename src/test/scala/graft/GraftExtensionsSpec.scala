package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** The engine's one install path, GraftExtensions. The extension-path
  * cases run on `spark.newSession()`: a new session of the shared test
  * session's context whose registry holds only Spark's builtins plus what
  * the extensions inject (nothing registered by hand on `spark` carries
  * over), and whose optimizer holds only the injected rules. So they test
  * what a `spark.sql.extensions` deployment gets, in this JVM.
  */
class GraftExtensionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.engine.Sessions.local(4, "graft-test")
  private lazy val fresh: SparkSession = spark.newSession()

  test("the extension path installs every function of the table") {
    val names = GraftFunctions.Table.map(_._1.funcName)
    assert(names.distinct.size == 12, names)
    for (n <- names) {
      assert(fresh.catalog.functionExists(n), s"$n missing on the extension path")
      assert(spark.catalog.functionExists(n), s"$n missing on Sessions.local")
    }
  }

  test("extension-path functions give their known values") {
    val r = fresh.sql(
      "SELECT graft_strhash('hello') AS h, " +
        "graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d, " +
        "size(graft_shingles(array('a','b','c','d'))) AS sh, " +
        "size(graft_minhash(array(CAST(5 AS BIGINT)))) AS mh, " +
        "graft_simhash(array(CAST(5 AS BIGINT))) AS sim, " +
        "graft_morton(CAST(3 AS BIGINT), CAST(1 AS BIGINT)) AS z, " +
        "graft_bucket(CAST(5 AS BIGINT), " +
        "array(CAST(1 AS BIGINT), CAST(5 AS BIGINT), CAST(9 AS BIGINT))) AS b")
      .collect().head
    assert(r.getAs[Long]("h") == 99162322L)
    assert(r.getAs[Double]("d") == 11.0)
    assert(r.getAs[Int]("sh") == 2)
    assert(r.getAs[Int]("mh") == 16)
    // a single element: its mixed bits ARE the signature
    assert(r.getAs[Long]("sim") ==
      (GraftFunctions.mix64(5L) & ((1L << graft.queries.Portable.SimHashMaxBits) - 1)))
    assert(r.getAs[Long]("z") == 7L)
    // boundaries strictly below 5: just 1
    assert(r.getAs[Long]("b") == 1L)
    val top = fresh.range(1, 11).agg(expr("graft_topk_sum(id, 3)")).head.getLong(0)
    assert(top == 27L) // 10 + 9 + 8
  }

  test("the extension path plans an inequality join banded") {
    fresh.conf.set(graft.plans.RangeJoinRule.BinConf, "10")
    val rj = fresh.range(100).selectExpr("id AS p")
      .join(fresh.range(20).selectExpr("id * 7 AS lo", "id * 7 + 5 AS hi"),
        expr("p >= lo AND p <= hi"))
    val plan = rj.queryExecution.executedPlan.toString
    assert(plan.contains("_rj_bin") && !plan.contains("BroadcastNestedLoopJoin"),
      s"range join must plan banded:\n$plan")
    // 20 intervals of 6 ints over points 0..99: ids 0..13 lie fully
    // inside (84 pairs) and id 14 adds {98, 99}
    assert(rj.count() == 86L)
  }

  test("register on a Sessions.local session replaces nothing") {
    val reg = spark.sessionState.functionRegistry
    val id = FunctionIdentifier("graft_bucket")
    val info = reg.lookupFunction(id).get
    val builder = reg.lookupFunctionBuilder(id).get
    GraftFunctions.register(spark)
    assert(reg.lookupFunction(id).get eq info)
    assert(reg.lookupFunctionBuilder(id).get eq builder)
  }
}
