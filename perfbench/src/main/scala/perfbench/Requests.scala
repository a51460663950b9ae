package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Random
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** A read request of the seeded mix: what to send, and how to check
  * the reply against a plain computation over the generated input. */
sealed trait Req {
  def id: Int
  def kind: String
  def method: String
  def path: String
  def body: Option[String]
  /** None when the reply body is right, else what is wrong with it. */
  def check(reply: Array[Byte]): Option[String]
}

/** A QL query to `POST /databases/{db}/query`. `expected` is the
  * message sequence dp3 must return, in order. */
final case class QlReq(id: Int, kind: String, ql: String,
    expected: () => IndexedSeq[Msg]) extends Req {
  def method = "POST"
  def path = "/databases/default/query"
  def body: Option[String] = Some(s"""{"query": "$ql"}""")
  def check(reply: Array[Byte]): Option[String] = {
    val rows = Requests.ndjson(reply)
    val want = expected()
    val got = rows.map(Requests.msgKey)
    val wantKeys = want.map(Requests.msgKey)
    if (got.size != wantKeys.size)
      Some(s"$kind '$ql': ${got.size} rows, expected ${wantKeys.size}")
    else if (MurmurHash3.orderedHash(got) != MurmurHash3.orderedHash(wantKeys))
      Some(s"$kind '$ql': rows differ from the reference (order-sensitive)")
    else None
  }
}

/** A statistics request: `/statrange` for one producer's topic, or
  * `/databases/{db}/statistics` for a topic across producers (no
  * `producer`). `expected` holds one (start_ns, msg_count, num_min,
  * num_max) per non-empty bin. */
final case class StatReq(id: Int, kind: String, granularityNs: Long,
    startNs: Long, endNs: Long, producer: Option[String], topic: String,
    expected: () => IndexedSeq[(Long, Long, Double, Double)]) extends Req {
  def path: String = producer match {
    case Some(p) => s"/statrange?granularity=$granularityNs" +
      s"&start=$startNs&end=$endNs&producer=$p&topic=$topic"
    case None => "/databases/default/statistics" +
      s"?granularity=$granularityNs&topic=$topic&start=$startNs&end=$endNs"
  }
  def method = "GET"
  def body: Option[String] = None
  def check(reply: Array[Byte]): Option[String] = {
    val got = Requests.ndjson(reply).map { n =>
      (n.get("start_ns").asLong, n.get("msg_count").asLong,
        n.get("num_min").asDouble, n.get("num_max").asDouble)
    }.sortBy(_._1)
    val want = expected()
    if (got.size != want.size)
      Some(s"$kind '$path': ${got.size} bins, expected ${want.size}")
    else if (got != want) Some(s"$kind '$path': bins differ from groupBy")
    else None
  }
}

object Requests {
  private val mapper = new ObjectMapper()

  def ndjson(bytes: Array[Byte]): IndexedSeq[JsonNode] =
    new String(bytes, UTF_8).split('\n').iterator.filter(_.nonEmpty)
      .map(mapper.readTree).toIndexedSeq

  /** The message columns of a reply row; any extra columns are
    * ignored, so the column set is not pinned. */
  def msgKey(n: JsonNode): String =
    msgKey(n.get("topic").asText, n.get("producer").asText,
      n.get("time").asLong, n.get("seq").asLong, n.get("value").asDouble)

  def msgKey(m: Msg): String =
    msgKey(m.topic, m.producer, m.time, m.seq, m.value)

  private def msgKey(topic: String, producer: String, time: Long,
      seq: Long, value: Double): String =
    s"$topic|$producer|$time|$seq|${java.lang.Double.toString(value)}"

  val QueryKinds: Seq[String] = Seq("scan", "filter", "merge", "asof", "limit")
  val StatKinds: Seq[String] = Seq("statrange_day", "statrange_span",
    "statistics")
  /** Granularities that land on the 60 s and the 64 min tier. */
  val DayGranularityNs: Long = 172L * Gen.SecNs
  val SpanGranularityNs: Long = 3840L * Gen.SecNs

  /** Distinct requests per kind in a pool. */
  val PerKind = 6

  /** The QL pool: `PerKind` requests of every kind, drawn from `seed`
    * over the seeded store `msgs`. */
  def queries(seed: Long, msgs: Map[(String, String), Array[Msg]])
      : IndexedSeq[QlReq] = {
    val rnd = new Random(seed * 31L + 1)
    def producer() = Gen.Producers(rnd.nextInt(Gen.Producers.size))
    def window(len: Long): (Long, Long) = {
      val s = Gen.T0 + (rnd.nextDouble() * (Gen.SpanNs - len)).toLong /
        Gen.SecNs * Gen.SecNs
      (s, s + len)
    }
    def in(ms: Array[Msg], w: (Long, Long)) =
      ms.iterator.filter(m => m.time >= w._1 && m.time < w._2).toIndexedSeq
    var id = 0
    QueryKinds.flatMap { kind =>
      (0 until PerKind).map { _ =>
        val p = producer()
        id += 1
        kind match {
          case "scan" =>
            val w = window(Gen.HourNs)
            QlReq(id, kind, s"from $p between ${w._1} and ${w._2} imu;",
              () => in(msgs((p, "imu")), w))
          case "filter" =>
            val vs = msgs((p, "gps")).map(_.value).sorted
            val x = vs((vs.length * 0.95).toInt)
            QlReq(id, kind, s"from $p gps where gps.value > $x;",
              () => msgs((p, "gps")).filter(_.value > x).toIndexedSeq)
          case "merge" =>
            val w = window(2 * Gen.HourNs)
            QlReq(id, kind,
              s"from $p between ${w._1} and ${w._2} imu, odom;",
              () => (in(msgs((p, "imu")), w).map((_, 0)) ++
                in(msgs((p, "odom")), w).map((_, 1)))
                .sortBy { case (m, c) => (m.time, c, m.seq) }.map(_._1))
          case "asof" =>
            val w = window(2 * Gen.HourNs)
            QlReq(id, kind, s"from $p between ${w._1} and ${w._2} " +
                "imu precedes gps by less than 60 seconds;",
              () => asof(in(msgs((p, "imu")), w), in(msgs((p, "gps")), w),
                60L * Gen.SecNs))
          case "limit" =>
            QlReq(id, kind, s"from $p imu limit 50 offset 200;",
              () => msgs((p, "imu")).slice(200, 250).toIndexedSeq)
        }
      }
    }.toIndexedSeq
  }

  /** dp3's as-of automaton, run sequentially: in time order (left
    * before right on ties), each right matches the latest left at or
    * before it when it lies less than `thresholdNs` after it; a matched
    * left is emitted once, just before its first matching right. */
  def asof(left: IndexedSeq[Msg], right: IndexedSeq[Msg],
      thresholdNs: Long): IndexedSeq[Msg] = {
    val merged = (left.map((_, 0)) ++ right.map((_, 1)))
      .sortBy { case (m, side) => (m.time, side, m.seq) }
    val out = IndexedSeq.newBuilder[Msg]
    var last: Option[Msg] = None
    var emitted = false
    merged.foreach {
      case (m, 0) => last = Some(m); emitted = false
      case (m, _) => last.foreach { l =>
        if (m.time < l.time + thresholdNs) {
          if (!emitted) { out += l; emitted = true }
          out += m
        }
      }
    }
    out.result()
  }

  /** Non-empty bins of width `w` overlapping [start, end). */
  def bins(ms: Iterator[Msg], w: Long, start: Long, end: Long)
      : IndexedSeq[(Long, Long, Double, Double)] = {
    ms.toSeq.groupBy(m => math.floorDiv(m.time, w) * w)
      .filter { case (b, _) => b < end && b + w > start }
      .map { case (b, g) =>
        (b, g.size.toLong, g.map(_.value).min, g.map(_.value).max) }
      .toIndexedSeq.sortBy(_._1)
  }

  /** The statistics pool: `PerKind` requests of every kind, producer
    * and topic named in each, granularities on the 60 s and the
    * 64 min tier only. */
  def stats(seed: Long, msgs: Map[(String, String), Array[Msg]],
      firstId: Int): IndexedSeq[StatReq] = {
    val rnd = new Random(seed * 31L + 2)
    var id = firstId
    StatKinds.flatMap { kind =>
      (0 until PerKind).map { _ =>
        val p = Gen.Producers(rnd.nextInt(Gen.Producers.size))
        val t = Gen.TopicNames(rnd.nextInt(Gen.TopicNames.size))
        id += 1
        kind match {
          case "statrange_day" =>
            val s = Gen.T0 + rnd.nextInt(25) * Gen.HourNs
            val e = s + Gen.DayNs
            StatReq(id, kind, DayGranularityNs, s, e, Some(p), t,
              () => bins(msgs((p, t)).iterator, 60L * Gen.SecNs, s, e))
          case "statrange_span" =>
            val (s, e) = (Gen.T0, Gen.T0 + Gen.SpanNs)
            StatReq(id, kind, SpanGranularityNs, s, e, Some(p), t,
              () => bins(msgs((p, t)).iterator, SpanGranularityNs, s, e))
          case "statistics" =>
            val (s, e) = (Gen.T0, Gen.T0 + Gen.SpanNs)
            StatReq(id, kind, SpanGranularityNs, s, e, None, t,
              () => bins(Gen.Producers.iterator.flatMap(q => msgs((q, t))),
                SpanGranularityNs, s, e))
        }
      }
    }.toIndexedSeq
  }
}
