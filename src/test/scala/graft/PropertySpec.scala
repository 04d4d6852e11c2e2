package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.engine.ingest.{EventSchema, JsonArrayBatchParser, Router}
import graft.fixtures.EventGen

/** Property-based round-trips (the invariants promised in SURVEY.md §5):
  * arbitrary fault-injected producer output through
  * generate -> serialize -> corrupt -> parse -> route, checking the
  * conservation and classification laws rather than specific values.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.engine.Sessions.local(4, "graft-test")
  import EventSchema._

  private val paramGen = for {
    seed <- Gen.choose(0L, 10000L)
    corrupt <- Gen.oneOf(0.0, 0.2, 0.5)
    invalid <- Gen.oneOf(0.0, 0.2, 0.5)
    dup <- Gen.oneOf(0.0, 0.3)
    nBatches <- Gen.choose(1, 4)
    perBatch <- Gen.choose(1, 30)
  } yield (seed, corrupt, invalid, dup, nBatches, perBatch)

  test("parse/route conservation and classification laws hold for arbitrary producer output") {
    // raw ScalaCheck sampling (the scalatest bridge isn't in the offline
    // dependency set): 8 generated parameter tuples from a fixed seed
    val cases = Gen.listOfN(8, paramGen)
      .apply(Gen.Parameters.default, Seed(42L))
      .getOrElse(fail("generator exhausted"))
    cases.foreach { case (seed, corrupt, invalid, dup, nBatches, perBatch) =>
      val gen = new EventGen(seed, corrupt, invalid, dup)
      val infos = Seq.fill(nBatches)(gen.nextBatchInfo(perBatch))

      import spark.implicits._
      val routed = Router.withReason(
        new JsonArrayBatchParser().parse(infos.map(_.json).toDF("value"))).cache()
      try {
        val rows = routed.collect()

        // row conservation: an intact batch yields one row per record; a
        // truncation-corrupted batch yields exactly one dead-letter row
        val expectedRows = infos.map(i => if (i.corrupted) 1 else i.records).sum
        assert(rows.length == expectedRows)

        // classification laws
        rows.foreach { r =>
          val reason = r.getAs[String](DeadLetterReason)
          assert(reason == null || Set(Router.CorruptedBatch,
            Router.InvalidSchema, Router.ExtraFields).contains(reason))
          if (reason == null) {
            // valid rows satisfy the required-field contract
            assert(r.getAs[String]("user_id") != null)
            assert(r.getAs[String]("event_id") != null)
            assert(r.getAs[java.sql.Timestamp]("event_timestamp") != null)
            assert(r.getAs[String]("event_type") != null)
          } else {
            // every dead letter carries its payload
            assert(r.getAs[String](RawRecord) != null)
          }
        }

        // the valid/dead split is a disjoint partition of the batch
        val valid = Router.valid(routed).count()
        val dead = Router.deadLetters(routed).count()
        assert(valid + dead == rows.length)
      } finally routed.unpersist()
    }
  }

  test("suffix-array ranks equal brute-force suffix count ranks on random corpora") {
    // SuffixArray.ranks against ground truth: the final rank of every
    // position must be the POSITION-COUNT rank of its suffix's
    // word-rank sequence under plain lexicographic order — the number
    // of strictly smaller suffix occurrences plus one (SQL rank(), the
    // split-stable class-head semantics ranks() documents; past-end =
    // shorter sorts first, exactly the -1 sentinel's effect); verbatim
    // duplicate docs force permanent ties, random text forces early
    // splits — both regimes of the prefix-doubling fixpoint logic
    import spark.implicits._
    import scala.math.Ordering.Implicits._
    val rnd = new scala.util.Random(7)
    val ascii = Vector("aa", "ab", "ba", "bb", "ca", "cb", "da", "db")
    // trial 5 pins the word-keyed first pass beyond ASCII: BMP
    // code points, where UTF-8 byte order (Spark string comparison and
    // the first-char code-point bucketing) equals UTF-16 code-unit
    // order (this brute force's Scala string sort) — both are plain
    // code-point order below the surrogate range
    val unicode = Vector("aa", "é", "ζz", "αb", "~x", "Zq", "ño", "日a")
    // trial 6 (r12, permanent multilingual property): SUPPLEMENTARY
    // plane + high-BMP vocab — the one regime where UTF-16 code-unit
    // order (Scala's default String sort) DISAGREES with code-point /
    // UTF-8 byte order (Spark's): a surrogate pair (U+1D11E, U+1F600)
    // sorts below U+E000..U+FFFF in UTF-16 but above in code-point
    // order. The brute force therefore sorts by CODE POINTS explicitly;
    // if the engine's word pass (or its packed-prefix bucketing) ever
    // keyed on UTF-16 units, this trial catches the inversion
    val astral = Vector("𝄞a", "😀x", "q", "�z", "日a", "éb", "aa", "~c")
    // lexicographic code-point ordering == Spark's UTF8 binary order
    val cpOrdering: Ordering[String] = (a: String, b: String) => {
      val ai = a.codePoints.toArray; val bi = b.codePoints.toArray
      val n = math.min(ai.length, bi.length)
      var i = 0
      while (i < n && ai(i) == bi(i)) i += 1
      if (i < n) Integer.compare(ai(i), bi(i))
      else Integer.compare(ai.length, bi.length)
    }
    for (trial <- 1 to 6) {
      val vocab =
        if (trial == 6) astral else if (trial == 5) unicode else ascii
      val base = (1 to 12).map { i =>
        (i.toLong, Vector.fill(1 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))))
      }
      // docs 1, 100 and 102 are a verbatim triple: their suffixes must
      // tie position for position to the last round
      val docs = base ++ Seq((100L, base.head._2), (101L, base(1)._2), (102L, base.head._2))
      val wordRank: Map[String, Long] = docs.flatMap(_._2).distinct
        .sorted(cpOrdering)
        .zipWithIndex.map { case (w, i) => w -> (i + 1L) }.toMap
      val rows = docs.flatMap { case (id, ws) =>
        ws.zipWithIndex.map { case (w, i) =>
          (id, (i + 1).toLong, id * 128 + i + 1, wordRank(w))
        }
      }
      val got = graft.engine.ops.SuffixArray
        .ranks(rows.toDF("doc_id", "p", "gid", "rk"), rounds = 7, boundRound = 4)
        .select("doc_id", "p", "rk").collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      // the word-keyed entry must agree exactly: the word strings are an
      // order-isomorphic round-0 key (Scala string order == Spark UTF8
      // binary order on this ASCII vocab), so rank() values coincide
      val wrows = docs.flatMap { case (id, ws) =>
        ws.zipWithIndex.map { case (w, i) =>
          (id, (i + 1).toLong, id * 128 + i + 1, w)
        }
      }
      val gotW = graft.engine.ops.SuffixArray
        .ranksFromWords(wrows.toDF("doc_id", "p", "gid", "w"),
          rounds = 7, boundRound = 4)
        .select("doc_id", "p", "rk").collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      assert(gotW == got, s"trial $trial: ranksFromWords must match ranks")
      val sufs = docs.flatMap { case (id, ws) =>
        (1 to ws.length).map(p => ((id, p.toLong), ws.drop(p - 1).map(wordRank)))
      }
      val allSeqs = sufs.map(_._2)
      def rankOf(s: Vector[Long]): Long = allSeqs.count(_ < s) + 1L
      assert(got.size == sufs.size, s"trial $trial: row count")
      sufs.foreach { case (key, seq) =>
        assert(got(key) == rankOf(seq), s"trial $trial position $key")
      }
    }
  }

  test("tokenizers are code-point-faithful on multilingual text") {
    // the whitespace splitter (Portable.sparkWords, the unigram root's
    // tokenizer) and the TokenPattern regex counter must agree with
    // plain JVM references on text spanning Latin-1, Greek, CJK,
    // private-use/high-BMP, and SUPPLEMENTARY code points — pinning
    // that the UTF8String->String bridge never re-encodes or splits a
    // surrogate pair (the silent-CommonCrawl-breakage class from the
    // r11 verdict). The regex reference uses the same Java Pattern the
    // engine compiles, so any divergence is a transport bug, not a
    // semantics choice.
    import spark.implicits._
    val texts = Seq(
      "the \ud834\udd1e clef and \ud83d\ude00 emoji",
      "\u00fcbung macht den meister",
      "\u6570\u636e \u6e05\u6d17 \u7ba1\u9053",
      "mixed \ud834\udd1e\ud83d\ude00 run 123 !?",
      "  double  spaces\tand\ttabs x",
      "\u00f1and\u00fa \u00e9t\u00e9 \ue000private \ufffdreplacement",
      "")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val got = df.selectExpr("id",
        s"${queries.Portable.sparkWords("text")} AS ws",
        s"CAST(size(regexp_extract_all(text, '${queries.TextOps.TokenPattern}', 0)) AS BIGINT) AS n")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toList, r.getLong(2)))
      .sortBy(_._1).toList
    val want = texts.zipWithIndex.map { case (t, i) =>
      val ws = t.split(" ").filter(_.nonEmpty).toList
      val m = java.util.regex.Pattern.compile(queries.TextOps.TokenPattern).matcher(t)
      var n = 0L
      while (m.find()) n += 1
      (i.toLong, ws, n)
    }.toList
    assert(got == want, s"tokenizer divergence:\n got=$got\nwant=$want")
  }
}