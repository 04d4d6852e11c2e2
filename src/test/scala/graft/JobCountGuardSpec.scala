package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Job-count regression guard (r17, verdict #7): the r16/r17 collapses
  * took the fixed-latency band from 44/28/19 jobs down to 11/14/9 by
  * collecting driver-bounded scalars instead of broadcasting one-row
  * frames — exactly the kind of win a refactor silently re-inflates (one
  * re-introduced `crossJoin(broadcast(agg))` adds its AQE exchange job
  * back without failing any correctness gate). Jobs-per-query is
  * load-independent and deterministic for a fixed plan, so pin it.
  *
  * Bounds are measured warm counts + 2 slack (AQE can vary by one on
  * partition-count boundaries). Measured at HEAD (warm, sf0.1):
  * curate_doremi_round 11, quality_nb_langid 14, mine_brand_lift 9,
  * curate_ccnet_buckets 17.
  */
class JobCountGuardSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.engine.Sessions.local(4, "graft-test")

  private val Bounds = Seq(
    "curate_doremi_round" -> 13,
    "quality_nb_langid" -> 16,
    // r17: 9 -> 7 via the NULL-sentinel single-aggregation marginals
    "mine_brand_lift" -> 9,
    // r18: 17 -> 14 via the driver-literal GlobalOrder ntile stitch
    "curate_ccnet_buckets" -> 16,
    // r17: 33 -> 24 via the n-dialed broadcasts + single-consumer
    // cache trim in marginBitextLshPairs
    "sim_margin_bitext" -> 26,
    // r18 GlobalOrder rework (driver-literal offsets, no per-stitch
    // checkpoint/broadcast): 23 -> 12, 19 -> 10, 15 -> 7 warm
    "events_rfm_segmentation" -> 14,
    "orders_abc_pareto" -> 12,
    "dedup_source_overlap" -> 9,
    // the remaining GlobalOrder / SuffixArray helper callers: warm
    // counts 11, 8, 9 and 32 before the driver-literal module
    "skyline_parts" -> 13,
    "events_power_gini" -> 10,
    "stats_ks_two_sample" -> 11,
    "dedup_suffix_repeats" -> 34)

  private def warmJobs(name: String): Int = {
    val d = "/root/testdata/sf0.1"
    // cold run materializes the shared tiers; the guarded number is the
    // steady-state orchestration cost
    SparkEntry.queries(name)(spark, d).count()
    graft.tools.Probe.measure(spark)(SparkEntry.queries(name)(spark, d).count())._2.size
  }

  for ((name, bound) <- Bounds)
    test(s"$name stays within $bound jobs warm") {
      val n = warmJobs(name)
      info(s"$name warm jobs=$n (bound $bound)")
      assert(n <= bound,
        s"$name spawned $n jobs warm (pinned <= $bound) — an extra " +
          "action/exchange crept back into the collapsed orchestration")
    }
}
