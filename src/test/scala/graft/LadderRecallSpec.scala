package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ladder-rung recall audit (r17, verdict #3): the r16 simhash recall
  * bug (fixed-4-chunk blocking vs ladder-scaled hamming threshold) lived
  * at rungs the gate never exercises — bits >= 44 needs > 20k documents,
  * and the DuckDB oracle MIRRORS the blocking, so the gate stayed green
  * while true pairs silently dropped. Only code reading caught it. This
  * spec synthesizes a corpus big enough to engage that regime (5x the
  * sf0.1 documents = 25k docs -> 44-bit signatures, hamming threshold 4,
  * 5 pigeonhole chunks) and checks the engine's blocked pair searches
  * against exact baselines the oracle does NOT share:
  *
  *   - simhash: the declared dedup_simhash_pairs output must EQUAL the
  *     brute-force hamming-<=ht pair set over the engine's own signature
  *     table — the pigeonhole chunk guarantee is structural (a pair
  *     within ht differs in at most ht chunks, so ht+1 chunks always
  *     share one), so recall is exact at EVERY rung, no approximation.
  *     The spec also asserts the corpus actually contains pairs whose
  *     differing bits touch all four of the r15 fixed-4 chunk spans —
  *     i.e. reverting the ht+1 rule makes this spec FAIL, not vacuously
  *     pass.
  *   - minhash banding: recall here is legitimately sub-1 — the 4x4
  *     banding S-curve misses a deterministic ~0.5% of constructed true
  *     pairs at this corpus (a SHORT doc's suffix shingle wins several
  *     minhash slots at once, so its band misses against every sibling
  *     are correlated and the doc isolates; measured 316/50000 pair
  *     misses, 211 cluster-splits, reaching up to jacc 0.95). The spec
  *     therefore pins measured RECALL BOUNDS (<= 1% at both pair and
  *     cluster level) rather than zero: a band-config or stop-shingle
  *     regression (fewer bands, broken cap, window arithmetic) pushes
  *     the miss rate far past 1%, while the documented S-curve tail
  *     stays under it.
  *   - trained IVF: sim_ivf_trained's recall@3 against the exact cosine
  *     top-3 on the sf0.1 embeddings is floored at its measured 34/60.
  *     The trained codebook does not dominate the fixed one
  *     (sim_ivf_topk gets 35/60 there), so the two are not ranked.
  *
  * First landed finding (r17): the audit's power check itself exposed
  * that shingle hashes are mod-1e9+7 (< 2^30), so simhash bits 30+ were
  * IDENTICALLY ZERO — every ladder rung past 30 bits was dead and
  * bucket space had silently stopped doubling. Fixed by the mix64
  * finalizer (GraftFunctions.mix64); this spec now guards the live-bit
  * property via the old4-escape power assertion (escapes == 0 would
  * mean the high bits stopped flipping again).
  */
class LadderRecallSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.engine.Sessions.local(4, "graft-test")

  // one synthesized corpus for both legs: 5x sf0.1 documents via the
  // scale-audit generator (per-copy suffix token -> near-dup families)
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_ladder_").toString
    graft.engine.util.Fs.deleteOnExit(java.nio.file.Paths.get(d))
    graft.tools.ScaleUpData.scaleDocuments(spark, "/root/testdata/sf0.1", d, 5, 4)
    d
  }

  test("simhash blocked pairs EQUAL exact hamming pairs at a >=44-bit rung") {
    val n = graft.queries.Dedup.docN(spark, dir)
    val bits = graft.queries.Dedup.simhashBits(n)
    val ht = (3 * bits) / 32
    assert(bits >= 44 && ht >= 4,
      s"corpus does not engage the target rung: n=$n bits=$bits ht=$ht")

    val sigRows = SparkEntry.queries("dedup_simhash_sig")(spark, dir).collect()
    val sigToDocs = sigRows.groupBy(_.getLong(1))
      .map { case (s, rs) => s -> rs.map(_.getLong(0)).sorted }
    val sigs = sigToDocs.keys.toArray.sorted

    // exact baseline: brute-force hamming over the distinct signatures
    // (driver-side — ~n^2/2 xor+bitCount over <=25k longs is seconds and
    // shares nothing with the engine's blocking)
    val exactSigPairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var i = 0
    while (i < sigs.length) {
      var j = i + 1
      while (j < sigs.length) {
        if (java.lang.Long.bitCount(sigs(i) ^ sigs(j)) <= ht)
          exactSigPairs += ((sigs(i), sigs(j)))
        j += 1
      }
      i += 1
    }

    // power check: the r15 fixed-4-chunk layout (floor(c*bits/4) spans)
    // must MISS some of these pairs, or the corpus never exercises the
    // regime the r16 fix exists for and a revert would pass vacuously
    val old4 = (0 until 4).map { c =>
      val lo = (c * bits) / 4
      val width = ((c + 1) * bits) / 4 - lo
      (((1L << width) - 1) << lo)
    }
    val escapes = exactSigPairs.count { case (a, b) =>
      val x = a ^ b
      old4.forall(m => (x & m) != 0L)
    }
    assert(escapes > 0,
      s"no exact pair escapes the old fixed-4 chunking at bits=$bits — " +
        "the audit corpus has no power against a chunk-rule revert; grow k")

    // expand exact sig pairs (+ identical-sig families) to doc pairs
    val exact = scala.collection.mutable.HashSet.empty[(Long, Long)]
    for ((sa, sb) <- exactSigPairs; da <- sigToDocs(sa); db <- sigToDocs(sb))
      exact += (if (da < db) (da, db) else (db, da))
    for (ds <- sigToDocs.valuesIterator; ai <- ds.indices;
         bi <- (ai + 1) until ds.length)
      exact += ((ds(ai), ds(bi)))

    val engine = SparkEntry.queries("dedup_simhash_pairs")(spark, dir)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = exact.diff(engine)
    val spurious = engine.diff(exact)
    info(s"n=$n bits=$bits ht=$ht distinctSigs=${sigs.length} " +
      s"exactPairs=${exact.size} enginePairs=${engine.size} " +
      s"old4Escapes=$escapes")
    assert(missed.isEmpty,
      s"${missed.size} true pairs within hamming $ht MISSED by the chunk " +
        s"blocking at bits=$bits (sample: ${missed.take(3)}) — the " +
        "pigeonhole recall guarantee is broken at this rung")
    assert(spurious.isEmpty,
      s"${spurious.size} engine pairs exceed the hamming threshold: " +
        s"${spurious.take(3)}")
  }

  test("minhash banding recall stays inside the measured S-curve tail at 25k docs") {
    val ids = graft.engine.Tables.documents(spark, dir).select(col("doc_id"))
    val famA = ids.toDF("doc_a")
    val famB = ids.toDF("doc_b")
    // constructed truth candidates: intra-copy-family pairs (same base id)
    val famPairs = famA.join(famB,
        col("doc_a") % 10000000L === col("doc_b") % 10000000L &&
          col("doc_a") < col("doc_b"))
    val shd = graft.queries.Dedup.sharedCappedShingles(spark, dir)
    val sizes = shd.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val truth = famPairs
      .join(shd.toDF("doc_a", "sh"), "doc_a")
      .join(shd.toDF("doc_b2", "sh2"),
        col("doc_b") === col("doc_b2") && col("sh") === col("sh2"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .where("CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5")
      .select(col("doc_a"), col("doc_b"))
      .persist()
    val nTruth = truth.count()
    assert(nTruth >= 10000L,
      s"constructed truth unexpectedly small ($nTruth) — suffix copies " +
        "should form verified families; did the generator change?")

    val lsh = SparkEntry.queries("dedup_minhash_pairs")(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    val missed = truth.exceptAll(lsh).persist()
    val nMissed = missed.count()

    // cluster-level recall: a missed pair's two docs should still share
    // a dedup cluster (left joins: a doc absent from the label table is
    // an isolated doc, counted as split, not a pass)
    val labels = SparkEntry.queries("dedup_clusters")(spark, dir)
    val split = missed
      .join(labels.toDF("doc_a", "ca"), Seq("doc_a"), "left")
      .join(labels.toDF("doc_b", "cb"), Seq("doc_b"), "left")
      .where(col("ca").isNull || col("cb").isNull || col("ca") =!= col("cb"))
      .count()
    truth.unpersist(); missed.unpersist()
    info(s"truthPairs=$nTruth pairLevelMissed=$nMissed clusterSplit=$split")
    // measured at HEAD: missed=316, split=211 of 50000 (the correlated
    // short-doc S-curve tail). 1% is ~1.6x headroom; a real banding or
    // cap regression lands far beyond it.
    assert(nMissed <= nTruth / 100,
      s"pair-level recall broke: $nMissed of $nTruth constructed true " +
        "pairs missed (S-curve tail is ~0.6%) — band/cap/window regression")
    assert(split <= nTruth / 100,
      s"cluster-level recall broke: $split of $nTruth true near-dup pairs " +
        "fall in different (or no) clusters — family connectivity lost")
  }

  test("exact all-pairs Jaccard finds no >= 0.5 pair that LSH banding missed at sf0.01") {
    // the unrestricted quadratic baseline no declared query runs: every
    // co-shingled pair at jacc >= 0.5 must also be a dedup_minhash_pairs row
    val sf = "/root/testdata/sf0.01"
    val exact = graft.queries.Dedup.jaccardAllPairs(spark, sf)
      .where("jacc >= 0.5").select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("dedup_minhash_pairs")(spark, sf)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "sf0.01 must hold near-dup pairs")
    val missed = exact.diff(lsh)
    assert(missed.isEmpty,
      s"${missed.size} of ${exact.size} exact pairs missed by LSH: ${missed.take(5)}")
  }

  test("trained IVF recall@3 against the exact cosine top-3 holds its sf0.1 floor") {
    val sf = "/root/testdata/sf0.1"
    def top3(name: String) = SparkEntry.queries(name)(spark, sf)
      .where(col("rn") <= 3).select(col("qid"), col("vid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = top3("sim_topk_cosine")
    val hits = top3("sim_ivf_trained").intersect(exact).size
    assert(exact.size == 60, s"exact top-3 of 20 queries: ${exact.size} rows")
    assert(hits >= 34, s"sim_ivf_trained recall@3 $hits/60 fell below 34/60")
  }
}
