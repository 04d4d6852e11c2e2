package graft.engine.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over an undirected edge list in EXACT integer
  * arithmetic — the centrality pass that picks the canonical document of a
  * near-duplicate cluster (the most-connected representative) instead of
  * the arbitrary min-id rule, and more generally link-quality scoring over
  * a web-ish graph.
  *
  * All arithmetic is BIGINT: ranks are scaled by 1e12, each vertex sends
  * floor(rank / degree) to every neighbor, and the damped update is
  *   rank' = floor(0.15 * SCALE) + (85 * sum(contribs)) div 100.
  * Integer sums are associative in any partition order and integer
  * division is identical across engines, so a DuckDB oracle reproduces the
  * result value-for-value — no float drift after any number of rounds
  * (double-arithmetic PageRank cannot be hash-compared across engines:
  * partial-aggregation order changes the low bits every iteration).
  *
  * Each iteration is one shuffle on the destination vertex (the
  * contribution aggregation); degrees broadcast once. The plan is
  * truncated per round with localCheckpoint so it does not grow with the
  * iteration count (set a checkpoint dir and use checkpoint() on a real
  * cluster). Over a dup-heavy 25x corpus graph (25,443 vertices /
  * 22,907 pairs) 3 rounds measured without plan growth or skew, same
  * shape as the 500-pair bench graph (SURVEY.md §8.9); PageRankSpec
  * pins the semantics.
  */
object PageRank {

  /** Rank scale: 1.0 of probability mass = 1e12 units. */
  val Scale = 1000000000000L

  /** @param edges two-column DataFrame (src, dst) of undirected edges,
    *              each pair listed once
    * @param iters fixed iteration count (power iterations)
    * @return (v, rank): every vertex appearing in an edge, with its
    *         scaled-integer rank after `iters` rounds
    */
  def run(edges: DataFrame, iters: Int): DataFrame = {
    val e = edges.toDF("a", "b")
    val sym = e.union(e.select(col("b"), col("a"))).persist()
    val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("deg")).persist()
    // internal column name "r", not "rank": in SQL expr text a bare
    // `rank` parses as the window function and fails without OVER
    var ranks = deg.select(col("a").as("v"), lit(Scale).as("r"))
    for (_ <- 1 to iters) {
      ranks = sym
        .join(ranks, sym("a") === ranks("v"))
        .join(deg, Seq("a"))
        .select(col("b"), expr("r div deg").as("contrib"))
        .groupBy(col("b"))
        .agg(expr(s"${Scale * 15 / 100}L + (85 * sum(contrib)) div 100").as("r"))
        .select(col("b").as("v"), col("r"))
        .localCheckpoint(true)
    }
    deg.unpersist()
    sym.unpersist()
    ranks.select(col("v"), col("r").as("rank"))
  }
}
