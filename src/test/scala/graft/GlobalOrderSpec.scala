package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.ops.{DriverLit, GlobalOrder}

/** GlobalOrder's bucketed two-pass helpers must be VALUE-IDENTICAL to the
  * single-task unpartitioned window they replace — on tie-heavy data
  * (primary-key ties split by the tie-break), gap-heavy keys (empty
  * buckets between populated ones), and the all-equal degenerate key.
  */
class GlobalOrderSpec extends AnyFunSuite {
  // NOTE: Sessions.local getOrCreates a JVM-shared session — a
  // class-level conf.set of the fan would leak into every other suite
  // (and leave the default numShufflePartitions fanOf path untested).
  // Tests that need a specific fan wrap themselves in [[atFan]].
  lazy val spark: SparkSession = graft.engine.Sessions.local(4, "graft-test")

  private def atFan[A](fan: Int)(f: => A): A = {
    val old = spark.conf.get(GlobalOrder.FanConf, "0")
    spark.conf.set(GlobalOrder.FanConf, fan.toString)
    try f finally spark.conf.set(GlobalOrder.FanConf, old)
  }

  /** Deterministic pseudo-random frame: id, a skewed tie-heavy key k
    * (hash-derived, clustered near 0), a gappy key g (three far-apart
    * value islands), and a value v.
    */
  private def frame(n: Int): DataFrame = {
    import spark.implicits._
    (1 to n).map { i =>
      val h = ((i * 2654435761L) % 1000003L).abs
      val k = (h % 37) * (h % 37) // ties + skew, range [0, 1296]
      val g = (h % 3) * 1000000L + (h % 50) // three islands
      val v = (h % 91) + 1
      (i.toLong, k, g, v)
    }.toDF("id", "k", "g", "v")
  }

  private def collectSorted(df: DataFrame, cols: String*): Seq[Seq[Any]] =
    df.orderBy(cols.map(col): _*).collect().toSeq.map(_.toSeq)

  test("rowNumber matches the single-task global row_number") {
    val df = frame(500)
    for (key <- Seq("k", "g")) {
      val want = df.withColumn("rn",
        row_number().over(Window.orderBy(col(key), col("id"))).cast("long"))
      val got = GlobalOrder.rowNumber(df, col(key), Seq(col("id")), "rn")
      assert(collectSorted(got, "id") == collectSorted(want, "id"), s"key=$key")
    }
  }

  test("rowNumber on an all-equal key still yields a valid total order") {
    val df = frame(100).withColumn("one", lit(7L))
    val want = df.withColumn("rn",
      row_number().over(Window.orderBy(col("one"), col("id"))).cast("long"))
    val got = GlobalOrder.rowNumber(df, col("one"), Seq(col("id")), "rn")
    assert(collectSorted(got, "id") == collectSorted(want, "id"))
  }

  test("runningSum matches the single-task cumulative window") {
    val df = frame(500)
    val w = Window.orderBy(col("g"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cum", sum(col("v")).over(w).cast("long"))
    val got = GlobalOrder.runningSum(df, col("g"), Seq(col("id")), col("v"), "cum")
    assert(collectSorted(got, "id") == collectSorted(want, "id"))
  }

  test("runningSums computes both samples' cumulatives in one pass") {
    val df = frame(400)
    val w = Window.orderBy(col("g"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df
      .withColumn("cv", sum(col("v")).over(w).cast("long"))
      .withColumn("ck", sum(col("k")).over(w).cast("long"))
    val got = GlobalOrder.runningSums(df, col("g"), Seq(col("id")),
      Seq(col("v") -> "cv", col("k") -> "ck"))
    assert(collectSorted(got, "id") == collectSorted(want, "id"))
  }

  test("runningMaxExclusive matches the single-task exclusive-prior max") {
    val df = frame(400)
    val w = Window.orderBy(col("g"), col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = df.withColumn("mx", max(col("v")).over(w).cast("long"))
    val got = GlobalOrder.runningMaxExclusive(
      df, col("g"), Seq(col("id")), col("v"), "mx")
    assert(collectSorted(got, "id") == collectSorted(want, "id"))
    // exactly one row (the global first) has a NULL prior max
    assert(got.where(col("mx").isNull).count() == 1)
  }

  test("runningSum over a DESCENDING order via key negation") {
    val df = frame(300)
    val w = Window.orderBy(col("v").desc, col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cum", sum(col("v")).over(w).cast("long"))
    val got = GlobalOrder.runningSum(df, -col("v"), Seq(col("id")), col("v"), "cum")
    assert(collectSorted(got, "id") == collectSorted(want, "id"))
  }

  test("ntileCol matches SQL ntile for uneven tile splits") {
    // n not divisible by tiles: first (n mod t) tiles get the extra row
    for ((n, t) <- Seq((500, 10), (497, 10), (23, 5), (7, 10), (100, 7))) {
      val df = frame(n)
      val want = df.withColumn("q",
        ntile(t).over(Window.orderBy(col("k"), col("id"))).cast("long"))
      val got = GlobalOrder.ntileCol(df, t, col("k"), Seq(col("id")), "q")
      assert(collectSorted(got, "id") == collectSorted(want, "id"),
        s"n=$n tiles=$t")
    }
  }

  test("lead1 matches the single-task global lead, seams included") {
    val df = frame(500)
    for (key <- Seq("k", "g")) {
      val w = Window.orderBy(col(key), col("id"))
      val want = df
        .withColumn("id_nx", lead(col("id"), 1).over(w))
        .withColumn("v_nx", lead(col("v"), 1).over(w))
      val got = GlobalOrder.lead1(df, col(key), Seq(col("id")), Seq("id", "v"))
      assert(collectSorted(got, "id") == collectSorted(want, "id"), s"key=$key")
      // exactly one row (the global last) has NULL leads
      assert(got.where(col("id_nx").isNull).count() == 1, s"key=$key")
    }
  }

  test("lead1With (caller bucket) matches the single-task global lead (r15)") {
    // the quantile-free entry suffix consumers use: any monotone
    // tie-preserving bucket must be value-identical to lead1 — here a
    // coarse span bucket over k, including empty buckets (k is sparse)
    val df = frame(500)
    val w = Window.orderBy(col("k"), col("id"))
    val want = df
      .withColumn("id_nx", lead(col("id"), 1).over(w))
      .withColumn("v_nx", lead(col("v"), 1).over(w))
    val got = GlobalOrder.lead1With(df, col("k") / 7L,
      Seq(col("k"), col("id")), Seq("id", "v"))
    assert(collectSorted(got, "id") == collectSorted(want, "id"))
    assert(got.where(col("id_nx").isNull).count() == 1)
  }

  test("lead1 resolves tied sort tuples by the lead columns, across bucket seams") {
    // 40 key groups of 3 rows tied on k, each arriving in DESCENDING v
    // order in one partition: the first row seen is the one a tie-blind
    // order keeps, and it is the wrong successor for the previous group
    import spark.implicits._
    val df = (0 until 40).flatMap { k =>
      (0 until 3).map(j => (3L * k + j, k.toLong, 3L * k + 2 - j))
    }.toDF("id", "k", "v").coalesce(1)
    val w = Window.orderBy(col("k"), col("v"), col("id"))
    val want = df
      .withColumn("v_nx", lead(col("v"), 1).over(w))
      .withColumn("id_nx", lead(col("id"), 1).over(w))
    // a caller bucket of ten keys: each seam's successor group is tied
    val gotWith = GlobalOrder.lead1With(df, col("k") / 10L, Seq(col("k")), Seq("v", "id"))
    assert(collectSorted(gotWith, "id") == collectSorted(want, "id"), "lead1With")
    atFan(8) {
      val got = GlobalOrder.lead1(df, col("k"), Nil, Seq("v", "id"))
      assert(collectSorted(got, "id") == collectSorted(want, "id"), "lead1")
    }
  }

  test("lead1 carries NULL lead-column values through seam patching") {
    // a lead column that is itself NULL must not be confused with "no
    // successor" — the _ghn sentinel, not the lead value, marks seams
    val df = frame(200)
      .withColumn("maybe", when(col("v") % 3 === 0, col("v")))
    val w = Window.orderBy(col("g"), col("id"))
    val want = df.withColumn("maybe_nx", lead(col("maybe"), 1).over(w))
    val got = GlobalOrder.lead1(df, col("g"), Seq(col("id")), Seq("maybe"))
    assert(collectSorted(got, "id") == collectSorted(want, "id"))
  }

  test("lead1 rejects a non-atomic lead column, naming it and its type") {
    val df = frame(50).withColumn("arr", array(col("v")))
    val e = intercept[IllegalArgumentException] {
      GlobalOrder.lead1(df, col("k"), Seq(col("id")), Seq("v", "arr"))
    }
    assert(e.getMessage.contains("'arr'") && e.getMessage.contains("array<bigint>"),
      e.getMessage)
  }

  test("histogram-equalized buckets stay balanced under heavy key clustering") {
    atFan(32) {
    import spark.implicits._
    // zipf-ish: 90% of rows crowd into keys 0..9 of a [0, 1e9] span — a
    // span-scaled bucketing puts ~90% of rows in ONE bucket (and so
    // would fixed-grid histogram equalization: the whole cluster shares
    // one fine bin); the quantile boundaries must spread it
    val n = 20000
    val df = (1 to n).map { i =>
      val h = (i * 2654435761L) % 1000003L
      val k = if (i % 10 != 0) h % 10 else h % 1000000000L
      (i.toLong, k)
    }.toDF("id", "k")
    // correctness under skew is unconditional
    val want = df.withColumn("rn",
      row_number().over(Window.orderBy(col("k"), col("id"))).cast("long"))
    val got = GlobalOrder.rowNumber(df, col("k"), Seq(col("id")), "rn")
    assert(collectSorted(got, "id") == collectSorted(want, "id"))
    // balance: hottest bucket bounded by key-VALUE granularity (the
    // hottest single tied value holds ~9% of rows and is irreducible);
    // assert well below the 90% cluster and a healthy bucket count
    val counts = GlobalOrder.bucketCounts(df, col("k"))
      .collect().map(r => r.getLong(1))
    assert(counts.max <= n / 5,
      s"hottest bucket ${counts.max} of $n rows — skew not equalized: ${counts.toSeq}")
    // bucket COUNT is capped by key-value granularity here (10 hot
    // values -> ~10 value-granular buckets + the sparse tail), so a
    // dozen balanced buckets is the correct ceiling for this fixture
    assert(counts.length >= 10, s"too few buckets: ${counts.toSeq}")
    }
  }

  test("rowNumberWith ranks strings lexicographically via a first-char bucket") {
    import spark.implicits._
    val words = (1 to 400).map { i =>
      val h = (i * 2654435761L) % 997
      ('a' + (h % 26)).toChar.toString + ('a' + (h % 7)).toChar + (h % 13)
    }.distinct.toDF("w")
    val want = words.withColumn("rk",
      row_number().over(Window.orderBy(col("w"))).cast("long"))
    val got = GlobalOrder.rowNumberWith(
      words.withColumn("_gb", expr("ascii(substring(w, 1, 1))")),
      Seq(col("w")), "rk").select(col("w"), col("rk"))
    assert(collectSorted(got, "w") == collectSorted(want, "w"))
  }

  test("property: helpers match the window on arbitrary key distributions") {
    // raw ScalaCheck sampling (the scalatest bridge isn't in the offline
    // dependency set): 6 generated frames from a fixed seed, sweeping
    // size, key range (heavy ties <-> near-distinct), sign, and gaps
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val paramGen = for {
      n <- Gen.choose(1, 300)
      range <- Gen.oneOf(1L, 3L, 50L, 100000L, 4000000000L)
      offset <- Gen.oneOf(-2000000000L, -7L, 0L, 1000000000L)
      mult <- Gen.choose(1L, 1000003L)
    } yield (n, range, offset, mult)
    val cases = Gen.listOfN(6, paramGen)
      .apply(Gen.Parameters.default, Seed(1729L))
      .getOrElse(fail("generator exhausted"))
    cases.foreach { case (n, range, offset, mult) =>
      val df = (1 to n).map { i =>
        val h = (i * mult) % 1000033L
        (i.toLong, offset + (h % range + range) % range, (h % 91) + 1)
      }.toDF("id", "k", "v")
      val tag = s"n=$n range=$range offset=$offset mult=$mult"
      val wRn = Window.orderBy(col("k"), col("id"))
      val wantRn = df.withColumn("o",
        row_number().over(wRn).cast("long"))
      val gotRn = GlobalOrder.rowNumber(df, col("k"), Seq(col("id")), "o")
      assert(collectSorted(gotRn, "id") == collectSorted(wantRn, "id"), s"rowNumber $tag")
      val wCum = wRn.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wantCs = df.withColumn("o", sum(col("v")).over(wCum).cast("long"))
      val gotCs = GlobalOrder.runningSum(df, col("k"), Seq(col("id")), col("v"), "o")
      assert(collectSorted(gotCs, "id") == collectSorted(wantCs, "id"), s"runningSum $tag")
      val wantLd = df.withColumn("o", lead(col("v"), 1).over(wRn))
      val gotLd = GlobalOrder.lead1(df, col("k"), Seq(col("id")), Seq("v"), "_o")
        .withColumnRenamed("v_o", "o")
      assert(collectSorted(gotLd, "id") == collectSorted(wantLd, "id"), s"lead1 $tag")
    }
  }

  test("the per-bucket windows are partitioned; only the offset stitch is not") {
    // plan shape: the corpus-scale window must carry a partitionBy, and
    // since the offsets are driver literals no unpartitioned window
    // remains at all
    val df = frame(500)
    val got = GlobalOrder.rowNumber(df, col("k"), Seq(col("id")), "rn")
    val windows = got.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    val unpart = windows.filter(_.partitionSpec.isEmpty)
    assert(unpart.isEmpty, s"unpartitioned window in the plan: $unpart")
  }

  test("fan 1 is one bucket: no boundaries, still the window's values") {
    val df = frame(200)
    val w = Window.orderBy(col("k"), col("id"))
    val want = df.withColumn("o", ntile(7).over(w).cast("long"))
    val got = atFan(1)(collectSorted(
      GlobalOrder.ntileCol(df, 7, col("k"), Seq(col("id")), "o"), "id"))
    assert(got == collectSorted(want, "id"))
    assert(atFan(1)(GlobalOrder.bucketCounts(df, col("k")).count()) == 1)
  }

  test("offset lookup reads per-bucket totals past 2^31 back as BIGINT") {
    import spark.implicits._
    val total = 3000000000L
    val got = (0L until 4L).toDF("b")
      .withColumn("off", DriverLit.offsets("b", (0L until 4L).map(_ -> total)))
    assert(got.schema("off").dataType == org.apache.spark.sql.types.LongType)
    assert(collectSorted(got, "b").map(_(1)) == Seq(0L, 3000000000L, 6000000000L, 9000000000L))
  }

  test("ntile arithmetic matches SQL ntile at a total past 2^32") {
    val (tot, n) = (5000000001L, 7)
    val (q, r) = (BigInt(tot) / n, BigInt(tot) % n)
    // SQL ntile: the first r tiles hold q + 1 rows, the rest q
    def want(rn: BigInt): BigInt =
      if (rn <= r * (q + 1)) (rn - 1) / (q + 1) + 1
      else r + (rn - 1 - r * (q + 1)) / q + 1
    for (rn <- Seq(BigInt(1), r * (q + 1), r * (q + 1) + 1, BigInt(tot))) {
      // a column, not a literal, so the plan evaluates it (no folding)
      val got = spark.range(1).select((col("id") + rn.toLong).as("rn"))
        .select(DriverLit.ntile(col("rn"), tot, n)).head
      assert(BigInt(got.getLong(0)) == want(rn), s"rn=$rn")
    }
  }

  test("lead1With rejects a negative caller bucket id, naming the column") {
    val e = intercept[IllegalArgumentException] {
      GlobalOrder.lead1With(frame(50).withColumn("kb", col("k") - 5L),
        col("kb"), Seq(col("k"), col("id")), Seq("v"))
    }
    assert(e.getMessage.contains("bucket column kb holds id -"), e.getMessage)
  }

  test("fan sweep: fan 32 and fan 256 produce value-identical output (r12)") {
    // the fan is a load-balance dial only — results must be invariant
    // (the monotone tie-preserving bucketing argument). Sweep the three
    // window-replacement helpers AND the suffix-array word pass across
    // two fans an order of magnitude apart
    import spark.implicits._
    val df = frame(800)
    for (key <- Seq("k", "g")) {
      val rn32 = atFan(32)(collectSorted(
        GlobalOrder.rowNumber(df, col(key), Seq(col("id")), "rn"), "id"))
      val rn256 = atFan(256)(collectSorted(
        GlobalOrder.rowNumber(df, col(key), Seq(col("id")), "rn"), "id"))
      assert(rn32 == rn256, s"rowNumber fan variance on $key")
      val cs32 = atFan(32)(collectSorted(GlobalOrder.runningSum(
        df, col(key), Seq(col("id")), col("v"), "o"), "id"))
      val cs256 = atFan(256)(collectSorted(GlobalOrder.runningSum(
        df, col(key), Seq(col("id")), col("v"), "o"), "id"))
      assert(cs32 == cs256, s"runningSum fan variance on $key")
      val nt32 = atFan(32)(collectSorted(GlobalOrder.ntileCol(
        df, 7, col(key), Seq(col("id")), "o"), "id"))
      val nt256 = atFan(256)(collectSorted(GlobalOrder.ntileCol(
        df, 7, col(key), Seq(col("id")), "o"), "id"))
      assert(nt32 == nt256, s"ntileCol fan variance on $key")
    }
    // suffix-array word pass: multilingual words, dense per-doc p
    val docs = Seq(
      (1L, Seq("the", "cat", "sat", "on", "the", "mat", "the", "cat")),
      (2L, Seq("übung", "macht", "den", "meister", "übung", "macht")),
      (3L, Seq("数据", "清洗", "数据", "管道", "清洗")),
      (4L, Seq("the", "cat", "sat", "on", "another", "mat")))
    val pos = docs.toDF("doc_id", "ws")
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("p0", "w")))
      .withColumn("p", col("p0") + 1).withColumn("gid", col("doc_id") * 1000 + col("p"))
      .select("doc_id", "p", "gid", "w")
    def suffixAt(fan: Int) = atFan(fan)(collectSorted(
      graft.engine.ops.SuffixArray.ranksFromWords(pos, 3, 1)
        .select("doc_id", "p", "rk", "rk_bound"), "doc_id", "p"))
    assert(suffixAt(32) == suffixAt(256), "suffix-array fan variance")
  }

  test("equalized pass-1 word buckets beat first-char buckets, within 2/fan of the tie share") {
    import graft.engine.ops.SuffixArray
    // the sf0.01 corpus words: first letters crowd onto a few values, as
    // natural text does; the boundaries the string pass uses must bound
    // the hottest bucket near the irreducible packed-prefix tie share
    val pos = graft.engine.Tables.documents(spark, "/root/testdata/sf0.01")
      .selectExpr("explode(filter(split(lower(text), ' '), w -> w <> '')) AS w")
    val fan = 32
    def hottestShare(bucket: org.apache.spark.sql.Column): Double = {
      val r = pos.withColumn("_pk", expr(SuffixArray.PackedPrefixSql))
        .groupBy(bucket.as("_b")).agg(count(lit(1)).as("n"))
        .agg(max(col("n")), sum(col("n"))).head
      r.getLong(0).toDouble / r.getLong(1)
    }
    val firstChar = hottestShare(expr("ascii(substring(w, 1, 1))"))
    val equalized = hottestShare(
      DriverLit.bucketOf(col("_pk"), SuffixArray.wordBoundaries(pos, fan)))
    val tie = hottestShare(col("_pk"))
    assert(equalized < firstChar,
      f"equalized hottest bucket $equalized%.3f must beat first-char $firstChar%.3f")
    assert(equalized <= tie + 2.0 / fan,
      f"equalized hottest bucket $equalized%.3f exceeds tie share $tie%.3f + 2/$fan")
  }
}
