package graft

import org.apache.spark.sql.functions._

/** Suffix-array stress leg: replicate the sf0.1 corpus (marker-tokened
  * per replica, the StressFunnel recipe, so suffix structure within a
  * replica is preserved while replicas stay distinct) and run the FULL
  * production construction — `SuffixArray.ranksFromWords`, the exact
  * code path `dedup_suffix_repeats` declares (word-keyed first pass,
  * radix-16 passes). Per-pass walls of that query at a scale dir are
  * the `[job]` lines of `graft.tools.Probe dedup_suffix_repeats <dir>`,
  * one per pass action under its own `SuffixArray.scala` call site.
  *
  * What linearity means here: position count and per-pass cost must
  * scale ~linearly in the replica count — each pass is one per-doc
  * lead window plus the bucketed distributed rank(), both linear in
  * positions. The verbatim replicas (0-2) keep exact ties to the end —
  * the suffix array correctly refuses to distinguish identical
  * suffixes.
  *
  * Usage: sbt "runMain graft.StressSuffix [reps]"
  * (default 10 -> ~2.8M positions; not part of the bench contract).
  */
object StressSuffix {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(10)
    val spark = graft.engine.Sessions.local(32, "graft-stress-suffix")
    val src = "/root/testdata/sf0.1"
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[suffix] $name: ${(System.nanoTime() - t0) / 1e9}%.1f s"); r
    }

    val docs = spark.read.parquet(s"$src/documents.parquet")
      .crossJoin(spark.range(reps.toLong).toDF("rep"))
      .selectExpr(
        "doc_id * 1000 + rep AS doc_id",
        """CASE WHEN rep < 3 THEN lower(text)
           ELSE concat('r', CAST(rep AS STRING), ' ', lower(text)) END AS text""")
    val ws0 = docs
      .selectExpr("doc_id", "filter(split(text, ' '), w -> w <> '') AS ws")
      .where("size(ws) > 0 AND size(ws) <= 127")
    // the production shape: word-keyed round 0 inside the op (r11 —
    // ranksFromWords folds the word rank into the first pass, exactly
    // as the declared query builds it)
    val pos = ws0
      .select(col("doc_id"), posexplode(col("ws")))
      .selectExpr("doc_id", "CAST(pos + 1 AS BIGINT) AS p",
        "doc_id * 128 + CAST(pos + 1 AS BIGINT) AS gid", "col AS w")
    val cur = t(s"ranks: production radix-16 passes") {
      val r = graft.engine.ops.SuffixArray
        .ranksFromWords(pos, rounds = 7, boundRound = 4)
      r.count(); r
    }
    val nPos = cur.count()
    println(s"[suffix] positions: $nPos (${reps}x replicas)")

    // the verbatim replica triples (rep 0-2) must still tie exactly:
    // identical suffixes get identical final ranks
    val tied = cur.groupBy(col("rk")).agg(count(lit(1)).as("n"))
      .where(col("n") >= 3).count()
    println(s"[suffix] rank groups with >=3 members (verbatim triples): $tied")
    require(tied > 0, "verbatim replicas must produce exact rank ties")

    // r12 (VERDICT #2 done-criterion): pass-1 bucket balance on
    // Zipfian natural-language words. The OLD first-character bucket
    // concentrates (English first letters are Zipf: 's','t','c'...);
    // the equalized packed-two-code-point boundaries must bound the
    // hottest bucket near the irreducible tie granularity (the hottest
    // single packed prefix — e.g. 'th' — cannot split across buckets).
    // production path exactly: fanOf + the sampled wordBoundaries +
    // wordBucket the real pass 1 uses — the leg must validate what
    // ships, not its own exact-boundary derivation
    import graft.engine.ops.SuffixArray
    // the 512 cap mirrors the shipped pass-1 fan (r13: codegen method
    // limit), and wordBucket now binds the pre-projected _pk column
    val fan = math.min(512, graft.engine.ops.GlobalOrder.fanOf(pos))
    def hottestShareCol(bucket: org.apache.spark.sql.Column): Double = {
      val counts = pos
        .withColumn("_pk", expr(SuffixArray.PackedPrefixSql))
        .select(bucket.as("_b"))
        .groupBy(col("_b")).agg(count(lit(1)).as("n"))
        .agg(max(col("n")).as("mx"), sum(col("n")).as("tot")).head
      counts.getLong(0).toDouble / counts.getLong(1)
    }
    val oldShare = hottestShareCol(expr("ascii(substring(w, 1, 1))"))
    val bnds = SuffixArray.wordBoundaries(pos, fan)
    val eqShare = hottestShareCol(SuffixArray.wordBucket(bnds))
    val tieShare = hottestShareCol(expr(SuffixArray.PackedPrefixSql))
    println(f"[suffix] pass-1 hottest-bucket share: first-char=$oldShare%.3f " +
      f"equalized=$eqShare%.3f (fan=$fan, irreducible tie=$tieShare%.3f)")
    require(eqShare < oldShare,
      "equalized pass-1 buckets must beat first-char bucketing under zipf")
    require(eqShare <= tieShare + 2.0 / fan,
      f"equalized hottest bucket $eqShare%.3f exceeds tie granularity + 2/fan")
    spark.stop()
  }
}
