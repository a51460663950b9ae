package perfbench

import java.nio.ByteBuffer
import java.nio.ByteOrder

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.mcap.Mcap

/** One stored message as the generator writes it: the canonical dp3
  * envelope plus three decoded payload columns. */
final case class Msg(producer: String, topic: String, time: Long,
    seq: Long, value: Double, k: Long, props: String)

/** Seeded input generators. Every input the program receives is made
  * here from the workload seed; the same seed gives the same bytes. */
object Gen {
  val SecNs = 1000000000L
  val HourNs: Long = 3600L * SecNs
  val DayNs: Long = 24L * HourNs
  /** Start of the stored span: 2024-01-01T00:00:00Z. */
  val T0: Long = 1704067200L * SecNs
  val SpanNs: Long = 2L * DayNs

  val Producers: IndexedSeq[String] = (0 until 16).map(i => f"robot$i%02d")
  /** topic → mean gap between two of its messages, in seconds */
  val Topics: IndexedSeq[(String, Double)] = IndexedSeq(
    "imu" -> 160.0, "gps" -> 320.0, "odom" -> 480.0, "diag" -> 960.0)
  val TopicNames: IndexedSeq[String] = Topics.map(_._1)
  private val Modes = IndexedSeq("idle", "drive", "dock", "charge", "fault")

  /** Producers and topic the ingest workload imports into; disjoint from
    * the store's, so reads of the seeded store keep their answers while
    * versions pile up beside them. */
  val ImportProducers: IndexedSeq[String] = (0 until 4).map(i => s"import$i")
  val ImportTopic = "cmd"
  val ImportMsgs = 20000

  /** One (producer, topic) stream, time-ordered, seq 1..n. */
  def stream(seed: Long, p: Int, t: Int): Array[Msg] = {
    val rnd = new Random(seed * 1000003L + p * 101L + t)
    val gapNs = Topics(t)._2 * SecNs
    val level = rnd.nextGaussian() * 50.0
    val out = Array.newBuilder[Msg]
    var time = T0 + (rnd.nextDouble() * gapNs).toLong
    var seq = 1L
    while (time < T0 + SpanNs) {
      val v = math.rint((level + rnd.nextGaussian() * 10.0) * 1000.0) / 1000.0
      out += Msg(Producers(p), TopicNames(t), time, seq, v,
        rnd.nextInt(1000).toLong, "mode=" + Modes(rnd.nextInt(Modes.size)))
      time += (gapNs * (0.5 + rnd.nextDouble())).toLong
      seq += 1
    }
    out.result()
  }

  /** Every stream of the store, keyed (producer, topic). */
  def store(seed: Long): Map[(String, String), Array[Msg]] =
    (for {
      p <- Producers.indices
      t <- TopicNames.indices
    } yield (Producers(p), TopicNames(t)) -> stream(seed, p, t)).toMap

  /** Write the store's messages as parquet — the input the streaming
    * ingest reads. Generated on the executors, one task per producer. */
  def writeStoreInput(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    val s = seed
    val nt = TopicNames.size
    spark.range(0, Producers.size, 1, 4).as[Long]
      .flatMap(p => (0 until nt).iterator.flatMap(t => stream(s, p.toInt, t)))
      .write.parquet(dir)
  }

  /** ros1msg schema of the imported payloads. */
  val ImportSchema = "float64 value\nint64 k"

  /** One MCAP import file: `ImportMsgs` messages on [[ImportTopic]],
    * payload `float64 value, int64 k`, written with the program's own
    * writer (chunked, zstd). `n` numbers the file; its messages follow
    * the previous file's in time. */
  def importFile(seed: Long, n: Int): (Array[Byte], Int) = {
    val rnd = new Random(seed * 7919L + n)
    val w = new Mcap.Writer()
    w.writeSchema(Mcap.SchemaRec(1, "bench/Cmd", "ros1msg",
      ImportSchema.getBytes("UTF-8")))
    w.writeChannel(Mcap.ChannelRec(0, 1, ImportTopic, "ros1"))
    val start = T0 + n.toLong * HourNs
    val gap = HourNs / ImportMsgs
    val buf = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    for (i <- 0 until ImportMsgs) {
      val t = start + i * gap + rnd.nextInt(1000)
      buf.clear()
      buf.putDouble(rnd.nextGaussian()).putLong(rnd.nextInt(1000).toLong)
      w.writeMessage(Mcap.MessageRec(0, i + 1L, t, t, buf.array().clone()))
    }
    (w.finish(), ImportMsgs)
  }
}
