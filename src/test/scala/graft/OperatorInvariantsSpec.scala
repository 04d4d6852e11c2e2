package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Independent re-derivations of the round-6 operators' semantics —
  * HITS recomputed in plain Scala from the declared dup-pair query,
  * winnowing recomputed per document from the raw text, and the binary-
  * quantization shortlist checked against the exact brute-force top-k —
  * so each operator is pinned by a second implementation, not only by
  * the DuckDB oracle mirroring the same SQL shape.
  */
class OperatorInvariantsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.engine.Sessions.local(4, "graft-test")
  private val d = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, d)

  test("graph_hits_dups matches a driver-side HITS recomputation") {
    val pairs = q("dedup_minhash_pairs").select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val a1 = edges.groupBy(_._2).map { case (v, es) => v -> es.length.toLong }
    val h1 = edges.groupBy(_._1).map { case (v, es) =>
      v -> es.map(e => a1(e._2)).sum }
    val a2 = edges.groupBy(_._2).map { case (v, es) =>
      v -> es.map(e => h1(e._1)).sum }
    val got = q("graph_hits_dups").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    got.foreach { case (v, hub, auth) =>
      assert(hub == h1(v), s"hub($v)")
      assert(auth == a2(v), s"auth($v)")
    }
    assert(got.map(_._1).toSet == h1.keySet, "vertex set mismatch")
  }

  test("text_winnow_fingerprint matches a per-document Scala recomputation") {
    val P = 1000000007L
    def winnow(text: String): (Long, Long, Long) = {
      val t = text.toLowerCase
      val hs = (0 to t.length - 6).map { p =>
        t.substring(p, p + 6).foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % P)
      }
      val mins = (0 to hs.length - 4).map(qi => hs.slice(qi, qi + 4).min)
      val fps = mins.distinct.sorted
      val fh = fps.foldLeft(0L)((acc, x) => (acc * 31 + x) % P)
      (hs.length.toLong, fps.length.toLong, fh)
    }
    val docs = graft.engine.Tables.documents(spark, d)
      .where(length(col("text")) >= 9).where(col("doc_id") < 25)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = q("text_winnow_fingerprint")
      .where(col("doc_id") < 25).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (ng, nf, fh) = winnow(docs(r.getLong(0)))
      assert(r.getLong(1) == ng, s"n_grams(${r.getLong(0)})")
      assert(r.getLong(2) == nf, s"n_fp(${r.getLong(0)})")
      assert(r.getLong(3) == fh, s"fp_hash(${r.getLong(0)})")
    }
  }

  test("sim_binary_quantize: 5 ranked rows per query, Hamming bounds, approx <= exact") {
    val rows = q("sim_binary_quantize").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.forall(_._2.length == 5))
    assert(rows.forall(r => r._4 >= 0 && r._4 <= 64))
    byQ.values.foreach { g =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._5).zip(sorted.map(_._5).tail).forall { case (a, b) => a >= b },
        "cosine must be non-increasing in rank")
    }
    // shortlist rerank can't beat the exact scan: top-1 cosine per query
    // is at most the brute-force top-1 from sim_topk_cosine
    val exact = q("sim_topk_cosine").where(col("rn") === 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    byQ.foreach { case (qid, g) =>
      val approxTop = g.minBy(_._2)._5
      assert(approxTop <= exact(qid) + 1e-9, s"query $qid: approx beats exact?")
    }
  }

  test("dedup_editdist_pairs distances match a plain-Scala Levenshtein") {
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to b.length) {
          val t = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      dp(b.length)
    }
    val texts = graft.engine.Tables.documents(spark, d)
      .selectExpr("doc_id", "substring(lower(text), 1, 120) AS lt")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = q("dedup_editdist_pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    pairs.foreach { case (a, b, dist) =>
      assert(a < b && dist <= 20)
      assert(dist == lev(texts(a), texts(b)).toLong,
        s"pair ($a,$b): engine $dist != recomputed")
    }
  }

  test("bloom prefilter result EQUALS the plain exact join (false positives never leak)") {
    val got = q("join_bloom_prefilter").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val plain = graft.engine.Tables.lineitem(spark, d)
      .join(graft.engine.Tables.supplier(spark, d)
          .where(col("s_nationkey") === 7),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey").cast("long").as("suppkey"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)")).as("rev"))
      .orderBy(col("suppkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == plain, s"bloom-prefiltered join diverged from the exact join")
  }

  test("k-center seeds: distinct, and the selection radius shrinks monotonically") {
    val rows = q("sim_kcenter_init").collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(rows.map(_._2).distinct.length == 4, "seeds must be distinct vectors")
    val radii = rows.drop(1).map(_._3)
    radii.sliding(2).foreach {
      case Array(a, b) => assert(b <= a,
        "greedy farthest-point radius must be non-increasing")
      case _ =>
    }
  }

  test("scalar-quantize rerank scores equal the exact brute-force cosine") {
    val exact = q("sim_topk_cosine").collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    q("sim_scalar_quantize").collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      // any (qid, vid) surviving the shortlist must carry the TRUE cosine
      exact.get(key).foreach { c =>
        assert(math.abs(r.getDouble(4) - c) < 1e-9,
          s"$key: rerank cosine != exact")
      }
    }
  }

  test("embed clusters: members >= 2, keeper is the min member, labels bounded") {
    val rows = q("dedup_embed_clusters").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (cid, n, keeper, nl) =>
      assert(n >= 2, s"cluster $cid: a component needs at least an edge")
      assert(keeper == cid, "min-label CC: keeper must equal the min-id label")
      assert(nl >= 1 && nl <= n)
    }
  }

  test("novelty: first doc fully novel, fractions bounded, novel mass = distinct shingles") {
    val rows = q("dedup_ngram_novelty").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.head._4 == 10000L, "the first-arriving doc is 100% novel")
    rows.foreach { case (_, n, nov, e4) =>
      assert(nov >= 0 && nov <= n && e4 >= 0 && e4 <= 10000)
    }
    // every distinct shingle is novel for exactly one document, so the
    // novel mass can never exceed the per-doc distinct total
    val totalNovel = rows.map(_._3).sum
    assert(totalNovel > 0 && totalNovel <= rows.map(_._2).sum)
  }

  test("kendall tau-b: bounded and consistent with its own counts") {
    val r = q("stats_kendall_tau").collect().head
    val (n0, c, dd, tau) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(c + dd <= n0)
    assert(tau >= -1000000L && tau <= 1000000L)
    assert((c >= dd) == (tau >= 0), "tau sign must follow the concordance excess")
  }

  test("JS divergence bounded by ln 2; readability counts reconstruct the score") {
    q("quality_js_divergence").collect().foreach { r =>
      val js = r.getLong(2)
      assert(js >= 0L && js <= math.floor(math.log(2.0) * 1e6 + 0.5).toLong,
        s"${r.getString(0)}: js_e6=$js outside [0, ln2]")
    }
    q("text_readability").collect().take(50).foreach { r =>
      val (w, s2, syl) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val f = 206.835 - 1.015 * (w.toDouble / s2) - 84.6 * (syl.toDouble / w)
      assert(r.getLong(4) == math.floor(f * 100.0 + 0.5).toLong,
        s"doc ${r.getLong(0)}: flesch_e2 mismatch")
    }
  }

  private def corpusWords(): Map[String, Long] = {
    val freqs = scala.collection.mutable.Map[String, Long]()
    graft.engine.Tables.documents(spark, d).select("text").collect()
      .map(_.getString(0)).foreach(
        _.toLowerCase.split(" ").filter(_.nonEmpty)
          .foreach(w => freqs(w) = freqs.getOrElse(w, 0L) + 1L))
    freqs.toMap
  }

  test("text_bpe_train matches a driver-side sequential BPE recomputation") {
    val freqs = corpusWords()
    var toks: Map[String, Vector[String]] =
      freqs.keys.map(w => w -> w.split("").toVector).toMap
    val exp = (1 to 6).map { r =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      toks.foreach { case (w, tk) =>
        val f = freqs(w)
        tk.sliding(2).filter(_.size == 2).foreach { p =>
          val k = (p(0), p(1)); counts(k) = counts.getOrElse(k, 0L) + f
        }
      }
      val ((a, b), n) =
        counts.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.head
      toks = toks.map { case (w, tk) =>
        val out = scala.collection.mutable.ArrayBuffer[String]()
        tk.foreach { t =>
          if (out.nonEmpty && out.last == a && t == b) out(out.size - 1) = a + b
          else out += t
        }
        w -> out.toVector
      }
      val ct = toks.map { case (w, tk) => freqs(w) * tk.size }.sum
      (r.toLong, a, b, n, ct)
    }
    val got = q("text_bpe_train").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == exp, s"got=$got\nexp=$exp")
    // and each merge removes exactly n_pair tokens from the corpus
    got.sliding(2).filter(_.size == 2).foreach { case Seq(p, c) =>
      assert(c._5 == p._5 - c._4, s"step ${c._1}: corpus_tokens accounting")
    }
  }

  test("quality_logreg_train matches a driver-side GD recomputation, bit for bit") {
    def e6(x: Double): Long = math.floor(x * 1000000.0 + 0.5).toLong
    val stop = Set("the", "a", "or", "and")
    val rows = graft.engine.Tables.documents(spark, d).select("text").collect()
      .map(_.getString(0)).flatMap { t =>
        val ws = t.toLowerCase.split(" ").filter(_.nonEmpty)
        val nw = ws.length
        if (nw == 0) None
        else {
          val st = ws.count(stop).toLong
          val uq = ws.distinct.length.toLong
          val y = if (nw >= 20 && nw <= 90 && st > 0) 1L else 0L
          Some((y,
            e6((nw - 55.0) / 100.0),
            e6(((nw - 55.0) / 100.0) * ((nw - 55.0) / 100.0)),
            e6(st.toDouble / nw),
            e6(uq.toDouble / nw)))
        }
      }
    val n = rows.length
    var w = Vector(0L, 0L, 0L, 0L, 0L)
    val exp = (1 to 4).map { t =>
      val g = Array(0L, 0L, 0L, 0L, 0L)
      var ncor = 0L
      var snll = 0L
      rows.foreach { case (y, x1, x2, x3, x4) =>
        // the exact left-assoc expression tree of lrZ
        val z = (w(0) / 1000000.0) +
          (w(1) / 1000000.0) * (x1 / 1000000.0) +
          (w(2) / 1000000.0) * (x2 / 1000000.0) +
          (w(3) / 1000000.0) * (x3 / 1000000.0) +
          (w(4) / 1000000.0) * (x4 / 1000000.0)
        val s = e6(1.0 / (1.0 + math.exp(-z)))
        val sc = math.max(1L, math.min(999999L, s))
        snll += e6(-(y.toDouble * math.log(sc / 1000000.0) +
          (1.0 - y.toDouble) * math.log(1.0 - sc / 1000000.0)))
        if ((s >= 500000L) == (y == 1L)) ncor += 1L
        val res = y * 1000000L - s
        g(0) += 1000000L * res; g(1) += x1 * res; g(2) += x2 * res
        g(3) += x3 * res; g(4) += x4 * res
      }
      val mnll = math.floor(snll.toDouble / n.toDouble + 0.5).toLong
      w = w.zipWithIndex.map { case (wj, j) =>
        wj + math.floor(2.0 * g(j).toDouble / (n.toDouble * 1000000.0) + 0.5).toLong
      }
      (t.toLong, ncor, mnll, w(0), w(1), w(2), w(3), w(4))
    }
    val got = q("quality_logreg_train").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .toSeq
    assert(got == exp, s"got=$got\nexp=$exp")
  }

  test("quality_calibration_bins: equal-count partition, mass conservation, monotone prediction") {
    val rows = q("quality_calibration_bins").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1L to 10L), "bins must be 1..10")
    // ntile: bin sizes differ by at most 1
    assert(rows.map(_._2).max - rows.map(_._2).min <= 1, "equal-count bins")
    // mass conservation against the corpus
    val docs = graft.engine.Tables.documents(spark, d)
      .where(expr("size(filter(split(lower(text), ' '), w -> w <> '')) > 0")).count()
    assert(rows.map(_._2).sum == docs, "bins must partition the eval set")
    // bins are ordered by predicted probability, so mean_pred is monotone
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._4, s"mean_pred must be nondecreasing: ${a._1}->${b._1}")
    }
    // each bin's observed rate recomputes from its own integers
    rows.foreach { case (bin, n, npos, _, obs) =>
      assert(obs == math.floor(npos.toDouble / n.toDouble * 1e6 + 0.5).toLong,
        s"bin $bin obs_rate")
    }
  }

  test("multimodal_phash_pairs matches a driver-side integer-DCT recomputation") {
    val P = 1000000007L
    def strhash(w: String): Long =
      w.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % P)
    val basis: Array[Long] = (0 until 8).flatMap { u =>
      (0 until 8).map { i =>
        val c = math.cos((2 * i + 1) * u * math.Pi / 16.0)
        val norm = if (u == 0) math.sqrt(1.0 / 8.0) else math.sqrt(2.0 / 8.0)
        math.floor(norm * c * 10000.0 + 0.5).toLong
      }
    }.toArray
    def phash(text: String): Long = {
      val ws = text.toLowerCase.split(" ").filter(_.nonEmpty)
      val g = Array.fill(64)(0L)
      ws.foreach(w => g((strhash(w) % 64).toInt) += 1L)
      val rt = Array.tabulate(64) { t =>
        (0 until 8).map(i => basis((t / 8) * 8 + i) * g(i * 8 + (t % 8))).sum
      }
      val c = Array.tabulate(64) { k =>
        (0 until 8).map(j => basis((k % 8) * 8 + j) * rt((k / 8) * 8 + j)).sum
      }
      val med = c.drop(1).sorted.apply(31)
      (1 until 64).foldLeft(0L)((acc, k) =>
        if (c(k) > med) acc | (1L << (k - 1)) else acc)
    }
    val docs = graft.engine.Tables.documents(spark, d)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val hashes = docs.map { case (id, t) => id -> phash(t) }
    def ham(a: Long, b: Long): Long = java.lang.Long.bitCount(a ^ b).toLong
    // expected: chunk-pigeonhole candidates, hamming <= 7, top 25
    val ids = hashes.keys.toSeq.sorted
    val exp = (for {
      i <- ids; j <- ids if i < j
      ha = hashes(i); hb = hashes(j)
      if (0 until 8).exists(c => ((ha >> (8 * c)) & 255) == ((hb >> (8 * c)) & 255))
      h = ham(ha, hb) if h <= 7
    } yield (i, j, h)).sortBy { case (a, b, h) => (h, a, b) }.take(25)
    val got = q("multimodal_phash_pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == exp, s"got=$got\nexp=$exp")
  }

  test("sim_margin_bitext matches a driver-side LSH margin-mining recomputation") {
    def e6(x: Double): Long = math.floor(x * 1000000.0 + 0.5).toLong
    val vecs = graft.engine.Tables.embeddings(spark, d)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val aSide = vecs.filter(_._3 % 2 == 0).map(v => (v._1, v._2))
    val bSide = vecs.filter(_._3 % 2 == 1).map(v => (v._1, v._2))
    def dot(x: Array[Float], y: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < x.length) { acc += x(i).toDouble * y(i).toDouble; i += 1 }
      acc
    }
    // CENTERED banded hyperplane-LSH keys, the integer formula the
    // query and its oracle share: vq_i = floor(v_i*1000 + 0.5); plane
    // j's raw sign at 1-based dim i is +1 iff ((i*37 + j*101 +
    // i*i*j*13) % 97) % 2 == 0 (the r14 decorrelated family — the
    // i²·j·13 term breaks the cyclic-shift degeneracy); row fold F_j =
    // sum of signed vq; centering consts C_j
    // from the corpus sums (both sides together); bit = n*F_j > C_j.
    // Band key packs `bw` bits little-endian (bw = 4 + the corpus
    // ladder, same dial as the query); keys over the occupancy cap
    // split by the extension plane chunk (planes (2+band)*bw..);
    // candidates share key_0 OR key_1
    val n = vecs.length.toLong
    val bw = 4 + graft.queries.Similarity.lshExtraBits(n)
    val cap = 8L * math.max(1L, n >> bw)
    def vq(x: Array[Float]): Array[Long] =
      x.map(v => math.floor(v.toDouble * 1000.0 + 0.5).toLong)
    val dim = vecs.head._2.length
    val mq = Array.tabulate(dim) { i0 =>
      vecs.map(v => vq(v._2)(i0)).sum
    }
    def plus(i1: Int, j: Int): Boolean =
      ((i1 * 37 + j * 101 + i1 * i1 * j * 13) % 97) % 2 == 0
    def intFold(q: Array[Long], j: Int): Long = {
      var acc = 0L; var i = 0
      while (i < q.length) {
        acc += (if (plus(i + 1, j)) q(i) else -q(i)); i += 1
      }
      acc
    }
    def cj(j: Int): Long =
      (1 to dim).map(i => if (plus(i, j)) mq(i - 1) else -mq(i - 1)).sum
    def keyAt(q: Array[Long], basePlane: Int): Long =
      (0 until bw).map(p =>
        if (n * intFold(q, basePlane + p) > cj(basePlane + p)) 1L << p else 0L).sum
    val aQ = aSide.map { case (ai, ea) => (ai, vq(ea)) }
    val bQ = bSide.map { case (bi, eb) => (bi, vq(eb)) }
    val occ = (aQ ++ bQ).toSeq
      .flatMap { case (_, q) => Seq((0, keyAt(q, 0)), (1, keyAt(q, bw))) }
      .groupBy(identity).map { case (key, vs) => key -> vs.size }
    def bandKey(q: Array[Long], band: Int): Long = {
      val k = keyAt(q, band * bw)
      if (occ((band, k)) > cap) (k + 1) * (1L << bw) + keyAt(q, (2 + band) * bw)
      else k
    }
    val aKeys = aQ.map { case (ai, q) => ai -> (bandKey(q, 0), bandKey(q, 1)) }.toMap
    val bKeys = bQ.map { case (bi, q) => bi -> (bandKey(q, 0), bandKey(q, 1)) }.toMap
    val pr = for {
      (ai, ea) <- aSide; (bi, eb) <- bSide
      if aKeys(ai)._1 == bKeys(bi)._1 || aKeys(ai)._2 == bKeys(bi)._2
    } yield (ai, bi, e6(dot(ea, eb) / (math.sqrt(dot(ea, ea)) * math.sqrt(dot(eb, eb)))))
    val sax = pr.groupBy(_._1).map { case (ai, ps) =>
      ai -> ps.sortBy(p => (-p._3, p._2)).take(4).map(_._3).sum }
    val sby = pr.groupBy(_._2).map { case (bi, ps) =>
      bi -> ps.sortBy(p => (-p._3, p._1)).take(4).map(_._3).sum }
    val mg = pr.map { case (ai, bi, c) =>
      (ai, bi, c, e6(8.0 * c.toDouble / (sax(ai) + sby(bi)).toDouble)) }
    val bestA = mg.groupBy(_._1).map { case (_, ps) =>
      ps.sortBy(p => (-p._4, p._2)).head }.toSet
    val bestB = mg.groupBy(_._2).map { case (_, ps) =>
      ps.sortBy(p => (-p._4, p._1)).head }.toSet
    val exp = bestA.intersect(bestB).toSeq
      .filter(_._4 > 1000000L)
      .sortBy(p => (-p._4, p._1)).take(20)
      .map { case (ai, bi, c, m) => (ai, bi, c, m) }
    val got = q("sim_margin_bitext").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == exp, s"got=$got\nexp=$exp")
  }

  test("graph_lpa_communities matches a driver-side weighted sync-LPA recomputation") {
    // rebuild the strong-tie co-purchase graph in plain Scala
    val li = graft.engine.Tables.lineitem(spark, d)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ord = graft.engine.Tables.orders(spark, d)
      .select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val cp = li.flatMap { case (ok, pk) => ord.get(ok).map(c => (c, pk)) }.distinct
    val byPart = cp.groupBy(_._2)
    val common = scala.collection.mutable.Map[(Long, Long), Long]()
    byPart.values.foreach { cs =>
      val custs = cs.map(_._1).distinct.sorted
      for (i <- custs.indices; j <- (i + 1) until custs.length)
        common((custs(i), custs(j))) = common.getOrElse((custs(i), custs(j)), 0L) + 1L
    }
    val edges = common.filter(_._2 >= 4L).toSeq
      .flatMap { case ((a, b), w) => Seq((a, b, w), (b, a, w)) }
    val verts = edges.map(_._1).distinct
    var lbl = verts.map(v => v -> v).toMap
    for (_ <- 1 to 3) {
      val byA = edges.groupBy(_._1)
      lbl = verts.map { v =>
        val weights = scala.collection.mutable.Map[Long, Long]()
        byA.getOrElse(v, Nil).foreach { case (_, b, w) =>
          val nl = lbl(b); weights(nl) = weights.getOrElse(nl, 0L) + w
        }
        if (weights.isEmpty) v -> lbl(v)
        else v -> weights.toSeq.sortBy { case (l, w) => (-w, l) }.head._1
      }.toMap
    }
    val exp = lbl.values.groupBy(identity)
      .map { case (l, vs) =>
        (l, vs.size.toLong, lbl.filter(_._2 == l).keys.min) }
      .toSeq.sortBy { case (l, n, _) => (-n, l) }.take(20)
    val got = q("graph_lpa_communities").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == exp, s"got=$got\nexp=$exp")
  }

  test("dedup_suffix_repeats: spans verify verbatim, maximal, and the max matches brute force") {
    val docs = graft.engine.Tables.documents(spark, d)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty).toVector)
      .toMap
    val rows = q("dedup_suffix_repeats").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // the min reported span is a NAMED operator threshold
    // (Dedup.MinRepeatSpanWords), not a fixture accident: a corpus whose
    // longest cross-doc repeat is shorter must yield an EMPTY report —
    // assert the dichotomy instead of assuming non-emptiness
    if (!crossDocGramExists(graft.queries.Dedup.MinRepeatSpanWords)) {
      assert(rows.isEmpty,
        s"no cross-doc repeat >= ${graft.queries.Dedup.MinRepeatSpanWords} words exists, report must be empty")
      cancel("corpus below the min-span reporting threshold")
    }
    assert(rows.nonEmpty)
    rows.foreach { case (lcp, da, pa, db, pb) =>
      val (wa, wb) = (docs(da), docs(db))
      val (ia, ib) = (pa.toInt - 1, pb.toInt - 1)
      // the reported span is verbatim identical in both documents
      assert(wa.slice(ia, ia + lcp.toInt) == wb.slice(ib, ib + lcp.toInt),
        s"span mismatch for ($da,$pa)x($db,$pb)")
      // right-maximal: the next word differs or one suffix ends
      val (na, nb) = (ia + lcp.toInt, ib + lcp.toInt)
      assert(na >= wa.length || nb >= wb.length || wa(na) != wb(nb),
        s"span not right-maximal for ($da,$pa)x($db,$pb)")
      // left-maximal: the previous word differs or one span starts the doc
      assert(ia == 0 || ib == 0 || wa(ia - 1) != wb(ib - 1),
        s"span not left-maximal for ($da,$pa)x($db,$pb)")
    }
    // the report's maximum is the TRUE maximum cross-doc repeat: brute
    // force via cross-doc repeated n-gram existence
    def crossDocGramExists(n: Int): Boolean = {
      val grams = scala.collection.mutable.Map[Vector[String], Long]()
      var found = false
      docs.foreach { case (id, ws) =>
        ws.sliding(n).filter(_.size == n).foreach { g =>
          grams.get(g.toVector) match {
            case Some(other) if other != id => found = true
            case None => grams(g.toVector) = id
            case _ =>
          }
        }
      }
      found
    }
    val maxLcp = rows.map(_._1).max.toInt
    assert(crossDocGramExists(maxLcp), s"reported max $maxLcp does not exist")
    assert(!crossDocGramExists(maxLcp + 1), s"a repeat longer than $maxLcp exists")
  }

  test("quality_score_auc matches a driver-side tie-aware AUC recomputation") {
    def e6(x: Double): Long = math.floor(x * 1000000.0 + 0.5).toLong
    val stop = Set("the", "a", "or", "and")
    val scored = graft.engine.Tables.documents(spark, d).select("text").collect()
      .map(_.getString(0)).flatMap { t =>
        val ws = t.toLowerCase.split(" ").filter(_.nonEmpty)
        val nw = ws.length
        if (nw == 0) None
        else {
          val st = ws.count(stop).toLong
          val y = if (nw >= 20 && nw <= 90 && st > 0) 1L else 0L
          Some((y, e6(st.toDouble / nw)))
        }
      }
    val sorted = scored.sortBy(_._2)
    // tie-aware average ranks, then the Mann-Whitney identity
    val byScore = sorted.zipWithIndex.groupBy(_._1._2)
    val avgRank2 = byScore.map { case (sc, g) =>
      sc -> (2L * (g.map(_._2).min + 1) + g.length - 1) }
    val n1 = scored.count(_._1 == 1L).toLong
    val n2 = scored.length - n1
    val ranksum2 = scored.filter(_._1 == 1L).map(r => avgRank2(r._2)).sum
    val u2 = ranksum2 - n1 * (n1 + 1)
    val aucE6 = e6(u2.toDouble / (2L * n1 * n2).toDouble)
    val r = q("quality_score_auc").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((n1, n2, u2, aucE6)))
  }

  test("dedup incremental: every incoming doc with a verbatim copy in the index is a dup at jacc 1.0") {
    // 500 docs x 4 replicas: reps 0-2 verbatim, rep 3 with a marker
    // token between every word (shingles disjoint from the others). Rep
    // 0 is the incoming batch, reps 1-3 the index it probes
    val dir = java.nio.file.Files.createTempDirectory("graft_incr_").toString
    graft.engine.util.Fs.deleteOnExit(java.nio.file.Paths.get(dir))
    graft.engine.Tables.documents(spark, d)
      .crossJoin(spark.range(4).toDF("rep"))
      .selectExpr("doc_id * 100 + rep AS doc_id",
        """CASE WHEN rep < 3 THEN text
           ELSE regexp_replace(text, ' ', concat(' r', CAST(rep AS STRING), ' ')) END AS text""",
        "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val v = graft.queries.Dedup.incrementalVerdicts(spark, dir,
        "doc_id % 100 = 0", "doc_id % 100 <> 0")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    assert(v.length == graft.engine.Tables.documents(spark, d).count())
    val missed = v.filterNot { case (_, verdict, jaccBp) => verdict == "dup" && jaccBp == 10000L }
    assert(missed.isEmpty,
      s"${missed.length} incoming docs not matched to their verbatim copy: ${missed.take(5).toSeq}")
  }

  test("curate_funnel at sf0.01: no stage grows the corpus, and the splits sum to 3_dedup") {
    // the oracle pins each count; this pins how they relate
    val n = SparkEntry.queries("curate_funnel")(spark, "/root/testdata/sf0.01").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val splits = n.collect { case (stage, c) if stage.startsWith("4_split_") => c }
    assert(n("1_total") >= n("2_quality") && n("2_quality") >= n("3_dedup"), s"funnel: $n")
    assert(splits.nonEmpty && splits.sum == n("3_dedup"), s"funnel: $n")
  }
}
