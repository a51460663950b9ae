package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.api.{Dp3Http, Dp3Service}

/** One timed read. */
final case class Sample(req: Req, status: Int, startNs: Long, endNs: Long,
    bytes: Int, crc: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One timed import: the MCAP file number, the producer it went to,
  * the acknowledged version (-1 if none) and its size. */
final case class ImportSample(n: Int, producer: String, version: Long,
    msgs: Int, bytes: Int, status: Int, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A reported figure. */
final case class Metric(name: String, value: Double, unit: String)

/** A served store: the set-up a workload runs against. */
final class Served(val store: Store, val svc: Dp3Service,
    val http: Dp3Http) {
  val client = new Client(http.boundPort)
}

/** The dp3 serving workloads. Each is a closed loop: every client waits
  * for its reply before it sends the next request.
  *
  *   serve_query  `nproc` clients send QL queries (`Requests.QueryKinds`)
  *   ingest_read  one writer imports MCAP files back to back while two
  *                readers send the QL and statistics mix
  */
final class Workload(spark: SparkSession, val name: String, val seed: Long,
    seconds: Int, dir: String) {
  require(Workload.Names.contains(name), s"unknown workload: $name")

  val cpus: Int = spark.sparkContext.defaultParallelism
  val msgs: Map[(String, String), Array[Msg]] = Gen.store(seed)
  val queries: IndexedSeq[Req] = Requests.queries(seed, msgs)
  val statReqs: IndexedSeq[Req] = Requests.stats(seed, msgs, queries.size)
  /** The requests this workload's readers draw from. */
  val pool: IndexedSeq[Req] =
    if (name == "serve_query") queries else queries ++ statReqs
  val readers: Int = if (name == "serve_query") cpus else 2
  val writes: Boolean = name == "ingest_read"

  private val input = s"$dir/input"
  Gen.writeStoreInput(spark, seed, input)

  /** Build the store from the generated input and serve it; returns the
    * served store and the seconds it took. */
  def setUp(i: Int): (Served, Double) = {
    val t0 = System.nanoTime()
    val store = new Store(s"$dir/store$i")
    store.ingest(spark, input)
    val svc = store.service
    val http = new Dp3Http(svc, spark,
      importTarget = Some(store.importTarget)).start()
    (new Served(store, svc, http), (System.nanoTime() - t0) / 1e9)
  }

  /** Set up `times` times; serve the last, report the median time. */
  def setUpRepeated(times: Int): (Served, Double) = {
    val runs = (0 until times).map(setUp)
    runs.init.foreach { case (s, _) =>
      s.http.stop(); Files.deleteTree(s.store.root) }
    (runs.last._1, Stats.median(runs.map(_._2)))
  }

  /** The closed loop, run untimed for a few seconds first: JIT, codegen
    * and the request paths warm before anything is measured. */
  def warmUp(s: Served, log: Log): Unit = loop(s, log, Workload.WarmUpS, -1)

  /** Send MCAP file `n` to its producer's import route. */
  def importOne(s: Served, n: Int): ImportSample = {
    val (bytes, count) = Gen.importFile(seed, n)
    val producer =
      Gen.ImportProducers(Math.floorMod(n, Gen.ImportProducers.size))
    val r = s.client.send("POST",
      s"/databases/default/producers/$producer/import", Some(bytes))
    val version =
      if (r.status != 200) -1L
      else "\\d+".r.findFirstIn(new String(r.body, "UTF-8"))
        .map(_.toLong).getOrElse(-1L)
    ImportSample(n, producer, version, count, bytes.length, r.status,
      r.startNs, r.endNs)
  }

  /** Run the closed loop for `secs` (the run's `seconds` by default),
    * recording into `log`; returns the window's samples. Imports are
    * numbered from `firstImport`, counting down for the warm-up. */
  def loop(s: Served, log: Log, secs: Int = seconds,
      firstImport: Int = 1): Window = {
    val deadline = System.nanoTime() + secs * 1000000000L
    val reads = new ConcurrentLinkedQueue[Sample]()
    val imports = new ConcurrentLinkedQueue[ImportSample]()
    // every reader cycles over the kinds, so each window holds an even
    // mix; the seed picks which request of a kind comes next
    val kinds = pool.groupBy(_.kind).toSeq.sortBy(_._1).map(_._2)
    val threads = (0 until readers).map { c =>
      new Thread(() => {
        val rnd = new Random(seed * 17L + c + secs)
        var i = c
        while (System.nanoTime() < deadline) {
          val of = kinds(i % kinds.size)
          val r = of(rnd.nextInt(of.size))
          reads.add(log.read(r, s.client.send(r)))
          i += 1
        }
      }, s"reader-$c")
    } ++ (if (!writes) Nil else Seq(new Thread(() => {
      var n = firstImport
      while (System.nanoTime() < deadline) {
        imports.add(log.imported(importOne(s, n)))
        n += firstImport.sign
      }
    }, "writer")))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Window(reads.asScala.toSeq, imports.asScala.toSeq)
  }

  /** Check every distinct reply against the reference computation and
    * every acknowledged import against the stored rows. */
  def verify(s: Served, log: Log): Unit = {
    log.bodies.asScala.foreach { case (key @ (id, _), body) =>
      val req = pool.find(_.id == id).get
      scala.util.Try(req.check(body))
        .fold(e => Some(s"${req.kind}: unreadable reply ($e)"), identity)
        .foreach(log.wrong(key, _))
    }
    val acked = log.imports.asScala.filter(_.version > 0).toSeq
    if (acked.nonEmpty) {
      val counts = spark.read.parquet(s.store.data)
        .where(col("producer").isin(Gen.ImportProducers: _*))
        .groupBy("ingest_version").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      acked.foreach { i =>
        if (!counts.get(i.version).contains(i.msgs.toLong))
          log.importFailed(i, s"import version ${i.version}: " +
            s"${counts.getOrElse(i.version, 0L)} rows readable, " +
            s"${i.msgs} sent")
      }
    }
  }

  /** End-to-end figures of the measured window. `read_ms` weighs every
    * request kind equally: the mean over kinds of each kind's mean
    * latency, so the figure does not move with the kind mix a short
    * window happens to hold. */
  def endToEnd(window: Window, setupS: Double): Seq[Metric] = {
    val byKind = window.reads.groupBy(_.req.kind).values
      .map(ss => ss.map(_.ms).sum / ss.size)
    Seq(
      Metric("read_ms", byKind.sum / byKind.size, "ms"),
      Metric("setup_s", setupS, "s"))
  }

  /** Figures of the measured window that are not end-to-end metrics:
    * printed on every run, reported as layer metrics when traced. */
  def windowDetail(window: Window, bytesBefore: Long, bytesAfter: Long,
      canaryMs: Double): Seq[Metric] = {
    val reads = window.reads
    val imports = window.imports.filter(_.version > 0)
    val userBytes = imports.map(_.bytes.toLong).sum
    val spanS = (reads.map(_.endNs).max - reads.map(_.startNs).min) / 1e9
    Seq(
      Metric("read.p50_ms", Stats.median(reads.map(_.ms)), "ms"),
      Metric("read.p90_ms", Stats.p90(reads.map(_.ms)), "ms"),
      Metric("read.per_s", reads.size / spanS, "1/s"),
      Metric("read.samples", reads.size, "count"),
      Metric("streaming.import_p50_ms", Stats.median(imports.map(_.ms)), "ms"),
      Metric("streaming.versions", imports.size, "count"),
      Metric("streaming.ingest_msgs_per_s",
        imports.map(_.msgs).sum / seconds.toDouble, "msgs/s"),
      Metric("streaming.bytes_per_user_byte",
        if (userBytes == 0) 0.0
        else (bytesAfter - bytesBefore).toDouble / userBytes, "ratio"),
      Metric("jvm.peak_rss_mb", Stats.peakRssMb(), "MB"),
      Metric("machine.canary_ms", canaryMs, "ms"))
  }
}

/** The samples of the measured window. */
final case class Window(reads: Seq[Sample], imports: Seq[ImportSample])

object Workload {
  val Names: Seq[String] = Seq("serve_query", "ingest_read")
  /** Untimed closed-loop seconds before the measured window. */
  val WarmUpS = 6
}

/** Everything a run sent, with the first reply body of every distinct
  * (request, reply checksum) pair kept for checking. */
final class Log {
  val reads = new ConcurrentLinkedQueue[Sample]()
  val imports = new ConcurrentLinkedQueue[ImportSample]()
  val bodies = new ConcurrentHashMap[(Int, Long), Array[Byte]]()
  /** (request id, checksum) → what is wrong with that reply */
  val wrongReplies = new ConcurrentHashMap[(Int, Long), String]()
  val failedImports = new ConcurrentLinkedQueue[String]()

  def read(r: Req, reply: Reply): Sample = {
    val c = new CRC32(); c.update(reply.body)
    val s = Sample(r, reply.status, reply.startNs, reply.endNs,
      reply.body.length, c.getValue)
    reads.add(s)
    if (reply.status == 200) bodies.putIfAbsent((r.id, s.crc), reply.body)
    else wrongReplies.put((r.id, s.crc), s"${r.kind}: HTTP ${reply.status} " +
      new String(reply.body, "UTF-8").take(300))
    s
  }

  def imported(i: ImportSample): ImportSample = {
    imports.add(i)
    if (i.version < 0)
      failedImports.add(s"import ${i.n}: HTTP ${i.status}")
    i
  }

  def wrong(key: (Int, Long), e: String): Unit = wrongReplies.put(key, e)

  def importFailed(i: ImportSample, e: String): Unit = failedImports.add(e)

  def attempted: Int = reads.size + imports.size

  /** Replies or imports that failed or were wrong. */
  def failed: Int = {
    val bad = wrongReplies.keySet.asScala
    reads.asScala.count(s => bad.contains((s.req.id, s.crc))) +
      failedImports.size
  }

  def errors: Seq[String] =
    (wrongReplies.values.asScala ++ failedImports.asScala).toSeq.distinct
}
