package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Ground truth for the ingest pipeline, computed on the plain JVM from
  * the batch files themselves with the reference consumer's routing
  * rules, independently of the engine's Spark parser:
  *
  *   - a batch that is not a JSON array, or is the empty array `[]`,
  *     gives one `corrupted_batch` row;
  *   - an element missing a required field (user_id, event_id,
  *     event_timestamp, event_type), or whose timestamp does not parse,
  *     gives one `invalid_schema` row;
  *   - an element with more top-level keys than the schema's six gives
  *     one `extra_fields` row;
  *   - every other element is a valid event.
  */
object IngestTruth {
  val Required: Seq[String] = Seq("user_id", "event_id", "event_timestamp", "event_type")
  val SchemaWidth = 6

  final case class Counts(valid: Long, dead: Map[String, Long],
      byType: Map[String, Long], byDay: Map[String, Long]) {
    def +(o: Counts): Counts = Counts(valid + o.valid, add(dead, o.dead),
      add(byType, o.byType), add(byDay, o.byDay))
  }
  val Empty: Counts = Counts(0, Map.empty, Map.empty, Map.empty)

  private def add(a: Map[String, Long], b: Map[String, Long]) =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap

  private val mapper = new ObjectMapper()

  private def text(n: JsonNode, f: String): Option[String] =
    Option(n.get(f)).filter(v => !v.isNull).map(_.asText)

  private def day(ts: String): Option[String] =
    scala.util.Try(java.time.OffsetDateTime.parse(ts).toInstant)
      .orElse(scala.util.Try(java.time.Instant.parse(ts)))
      .toOption.map(_.atZone(java.time.ZoneOffset.UTC).toLocalDate.toString)

  /** Route one batch payload. */
  def batch(payload: String): Counts = {
    val parsed = scala.util.Try(mapper.readTree(payload)).toOption
      .filter(n => n != null && n.isArray)
    parsed match {
      case None => Empty.copy(dead = Map("corrupted_batch" -> 1L))
      case Some(arr) if arr.size == 0 => Empty.copy(dead = Map("corrupted_batch" -> 1L))
      case Some(arr) =>
        arr.elements().asScala.map { e =>
          val ok = e.isObject && Required.forall(f => text(e, f).isDefined) &&
            text(e, "event_timestamp").flatMap(day).isDefined
          if (!ok) Empty.copy(dead = Map("invalid_schema" -> 1L))
          else if (e.size > SchemaWidth) Empty.copy(dead = Map("extra_fields" -> 1L))
          else Counts(1, Map.empty, Map(text(e, "event_type").get -> 1L),
            Map(day(text(e, "event_timestamp").get).get -> 1L))
        }.foldLeft(Empty)(_ + _)
    }
  }

  def files(paths: Seq[Path]): Counts =
    paths.map(p => batch(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
      .foldLeft(Empty)(_ + _)

  private val ev = """{"user_id":"u","event_id":"e1","event_timestamp":"2024-01-01T00:00:01Z","event_type":"purchase","product_id":"p","properties":{"amount":1.5}}"""
  private val ev2 = """{"user_id":"u","event_id":"e2","event_timestamp":"2024-01-02T00:00:01Z","event_type":"page_view","properties":{"url":"x"}}"""
  private val full = s"[$ev,$ev2]"
  private def deadOnly(reason: String) = Empty.copy(dead = Map(reason -> 1L))

  /** The checker's own cases: hand-built batches and their routing. */
  val SelfTestCases: Seq[(String, String, Counts)] = Seq(
    ("valid batch", full, Counts(2, Map.empty, Map("purchase" -> 1L, "page_view" -> 1L),
      Map("2024-01-01" -> 1L, "2024-01-02" -> 1L))),
    ("truncated batch", full.substring(0, full.length / 2), deadOnly("corrupted_batch")),
    ("empty array", "[]", deadOnly("corrupted_batch")),
    ("missing field", s"""[${ev.replace("\"event_id\":\"e1\",", "")},$ev2]""",
      Counts(1, Map("invalid_schema" -> 1L), Map("page_view" -> 1L), Map("2024-01-02" -> 1L))),
    ("random key", """[{"XkQzabcd":"pRtWabcdefgh"}]""", deadOnly("invalid_schema")),
    ("extra top-level key", s"""[${ev.dropRight(1)},"extra":1}]""", deadOnly("extra_fields")),
    ("missing field beats extra key",
      s"""[${ev.replace("\"user_id\":\"u\",", "").dropRight(1)},"x":1,"y":2}]""",
      deadOnly("invalid_schema")))

  /** Failures of the checker's own cases. */
  def selfTest(): Seq[String] =
    SelfTestCases.collect { case (name, payload, want) if batch(payload) != want =>
      s"ingest truth self-test '$name': got ${batch(payload)}, want $want"
    }
}
