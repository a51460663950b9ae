package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions.col

import graft.api.Dp3Service

/** A timed interval at one of the benchmark's call boundaries, on the
  * epoch-ns clock. `parent` is -1 for a root. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, req: Int) {
  def durNs: Long = endNs - startNs
}

/** What the scheduler did for one Spark job. */
final class JobRec(val id: Int, val group: Option[String],
    val submitMs: Long) {
  var endMs: Long = Long.MaxValue
  var stages = 0
  var tasks = 0
  var firstTaskMs: Long = Long.MaxValue
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()
}

/** Records every job, stage and task while attached. The job group the
  * calling thread sets names the request a job belongs to. */
final class JobRecorder extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val j = new JobRec(e.jobId, group, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      j.firstTaskMs = math.min(j.firstTaskMs, e.taskInfo.launchTime)
      j.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Jobs submitted in [fromMs, toMs], or all jobs of `group`. */
  def inWindow(fromMs: Long, toMs: Long): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.submitMs >= fromMs && j.submitMs <= toMs).toSeq
  }
  def ofGroup(group: String): Seq[JobRec] = synchronized {
    jobs.values.filter(_.group.contains(group)).toSeq
  }
}

/** Per-request figures of one replayed request. */
final case class Traced(req: Req, values: Map[String, Double])

/** The traced run: replays a seeded sample of the workload's requests
  * one at a time and splits each by layer. Per request it sends the
  * request over HTTP untraced, then traced, then calls the same service
  * entry points in-process — `Parser.parse`, the `Dp3Service` call
  * that builds the frame, and the NDJSON drain — under a job group that
  * the [[JobRecorder]] attributes jobs, stages, tasks and bytes by.
  * Spans are kept in memory until the run ends. Nothing inside the
  * program is instrumented. */
final class Trace(spark: SparkSession, w: Workload, s: Served, log: Log,
    seconds: Int, dir: String) {
  private val sc = spark.sparkContext
  private val rec = new JobRecorder
  val spans = mutable.ArrayBuffer[Span]()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  private def nowNs: Long = baseEpochNs + (System.nanoTime() - baseNano)
  private val svc: Dp3Service = s.svc

  /** The span calls made inside `f` become its children. */
  private var current = -1
  private def span[A](name: String, req: Int)(f: => A): (A, Span) = {
    val id = spans.size
    val parent = current
    spans += null
    current = id
    val t0 = nowNs
    val r = try f finally current = parent
    val sp = Span(id, name, t0, nowNs, parent, req)
    spans(id) = sp
    (r, sp)
  }

  private def attached[A](f: => A): A = {
    sc.addSparkListener(rec)
    try f finally {
      PerfbenchAccess.drainListenerBus(sc)
      sc.removeSparkListener(rec)
    }
  }

  private def grouped[A](group: String)(f: => A): A = {
    sc.setJobGroup(group, "perfbench trace", interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }

  /** Self time: duration minus the part its children cover. */
  private def selfNs(sp: Span, all: Seq[Span]): Long = {
    val kids = all.filter(_.parent == sp.id)
      .map(k => (math.max(k.startNs, sp.startNs), math.min(k.endNs, sp.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) {
        covered += math.max(0L, curB - curA); curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    covered += math.max(0L, curB - curA)
    sp.durNs - covered
  }

  /** Add one span per job under the innermost span containing its
    * submission. */
  private def jobSpans(jobs: Seq[JobRec], within: Seq[Span], req: Int)
      : Seq[Span] = jobs.flatMap { j =>
    val st = j.submitMs * 1000000L
    val parent = within.filter(p => p.startNs <= st && st <= p.endNs)
      .sortBy(_.durNs).headOption
    parent.map { p =>
      val sp = Span(spans.size, "spark.job", st,
        math.min(j.endMs, p.endNs / 1000000L) * 1000000L, p.id, req)
      spans += sp
      sp
    }
  }

  /** Request wall time not covered by any running task. */
  private def driverGapMs(jobs: Seq[JobRec], fromMs: Long, toMs: Long)
      : Double = {
    val iv = jobs.flatMap(_.taskIntervals)
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    (toMs - fromMs - covered).toDouble
  }

  private def sparkFigures(jobs: Seq[JobRec], fromMs: Long, toMs: Long)
      : Map[String, Double] = Map(
    "spark.jobs" -> jobs.size.toDouble,
    "spark.stages" -> jobs.map(_.stages).sum.toDouble,
    "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
    "spark.job_wait_ms" -> jobs.filter(_.firstTaskMs < Long.MaxValue)
      .map(j => j.firstTaskMs - j.submitMs).sum.toDouble,
    "spark.executor_run_ms" -> jobs.map(_.runMs).sum.toDouble,
    "spark.executor_cpu_ms" -> jobs.map(_.cpuNs).sum / 1e6,
    "spark.driver_gap_ms" -> driverGapMs(jobs, fromMs, toMs),
    "spark.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum.toDouble,
    "spark.shuffle_read_bytes" -> jobs.map(_.shuffleRead).sum.toDouble,
    "spark.spill_bytes" -> jobs.map(_.spill).sum.toDouble)

  /** File scans of an executed plan, adaptive stages unwrapped. */
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case _: ReusedExchangeExec => Nil
    case f: FileSourceScanExec => Seq(f)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }

  private def metric(f: FileSourceScanExec, m: String): Double =
    f.metrics.get(m).map(_.value.toDouble).getOrElse(0.0)

  private def under(f: FileSourceScanExec, dir: String): Boolean = {
    val d = new java.io.File(dir).getAbsoluteFile.toURI.getPath
      .stripSuffix("/")
    f.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(d))
  }

  /** The frame a request's in-process replay builds. */
  private def build(r: Req): DataFrame = r match {
    case q: QlReq => svc.query(spark, q.ql)
    case st: StatReq if st.producer.isEmpty =>
      svc.statistics(spark, st.granularityNs, groupByProducer = false,
        topics = Seq(st.topic), startNs = st.startNs, endNs = st.endNs)
    case st: StatReq =>
      svc.statRange(spark, st.granularityNs, st.startNs, st.endNs)
        .where(col("topic") === st.topic)
        .where(col("producer") === st.producer.get)
  }

  /** Replay one request; returns its per-layer figures. Only QL
    * requests read the data tree, so only they report `scan.*`. */
  private def replayOne(r: Req, n: Int): Traced = {
    // a first call primes whatever the request touches first; the
    // overhead is the traced call minus the untraced one after it
    log.read(r, s.client.send(r))
    val (traced, http) = attached { span("http", n)(s.client.send(r)) }
    log.read(r, traced)
    val untraced = s.client.send(r)
    log.read(r, untraced)
    val httpJobs = rec.inWindow(http.startNs / 1000000L, http.endNs / 1000000L)
    val httpFig = sparkFigures(httpJobs, http.startNs / 1000000L,
      http.endNs / 1000000L)

    // the in-process path is primed the same way, unrecorded
    build(r).toJSON.toLocalIterator().asScala.foreach(_ => ())
    val group = s"perfbench-req-$n"
    var first = 0L
    var rows = 0L
    var json: org.apache.spark.sql.Dataset[String] = null
    val (_, service) = attached { grouped(group) {
      span("service", n) {
        r match {
          case q: QlReq => span("ql.parse", n)(graft.ql.Parser.parse(q.ql))
          case _ =>
        }
        val (df, _) = span("plan.build", n)(build(r))
        span("export.drain", n) {
          json = df.toJSON
          val t0 = nowNs
          json.toLocalIterator().asScala.foreach { line =>
            if (rows == 0) first = nowNs - t0
            rows += 1
          }
        }
      }
    } }
    val children = spans.filter(_.parent == service.id).toSeq
    val jobs = rec.ofGroup(group)
    val jspans = jobSpans(jobs, children :+ service, n)
    val all = (children :+ service) ++ jspans
    def child(name: String) = children.find(_.name == name)
    val plan = child("plan.build").get
    val drain = child("export.drain").get
    val parseMs = child("ql.parse").map(_.durNs / 1e6).getOrElse(0.0)

    // what every read of the data tree does first: list its files and
    // infer the schema
    val listingMs = span("scan.listing", n) {
      spark.read.parquet(s.store.data) }._2.durNs / 1e6
    val sc0 = scans(json.queryExecution.executedPlan)
    val dataScans = sc0.filter(under(_, s.store.data))
    val statScans = sc0.filter(f => under(f, s.store.stats) ||
      under(f, s.store.fstats))
    val isQl = r.isInstanceOf[QlReq]
    val rowsRead = dataScans.map(metric(_, "numOutputRows")).sum
    val partialRows = statScans.map(metric(_, "numOutputRows")).sum
    val controlJobs = jobs.count(j => j.submitMs * 1000000L <= plan.endNs)

    val v = mutable.LinkedHashMap[String, Double]()
    v ++= httpFig
    v("api.http_ms") = http.durNs / 1e6 - service.durNs / 1e6
    v("api.response_bytes") = traced.body.length
    v("ql.parse_ms") = parseMs
    // the service call parses the statement again itself
    v("plan.build_ms") = plan.durNs / 1e6 - parseMs
    v("plan.control_jobs") = controlJobs
    v("scan.files_read") = dataScans.map(metric(_, "numFiles")).sum
    v("scan.bytes_read") = dataScans.map(metric(_, "filesSize")).sum
    v("scan.rows_read") = rowsRead
    v("scan.rows_per_result") = if (rows == 0) rowsRead else rowsRead / rows
    v("scan.listing_ms") = listingMs
    v("stats.partial_rows_read") = partialRows
    v("stats.bins_returned") = if (isQl) 0.0 else rows.toDouble
    v("stats.partial_rows_per_bin") =
      if (isQl || rows == 0) 0.0 else partialRows / rows
    v("export.first_row_ms") = first / 1e6
    v("export.drain_ms") = drain.durNs / 1e6
    v("self.api_ms") = v("api.http_ms")
    v("self.ql_ms") = parseMs
    v("self.plan_ms") = selfNs(plan, all) / 1e6
    v("self.export_ms") = selfNs(drain, all) / 1e6
    v("self.spark_ms") = jspans.map(_.durNs).sum / 1e6
    v("trace.overhead_ms") = http.durNs / 1e6 - untraced.ms
    v(s"replay.${r.kind}_ms") = http.durNs / 1e6
    v(s"spark.jobs.${r.kind}") = httpFig("spark.jobs")
    v(s"spark.tasks.${r.kind}") = httpFig("spark.tasks")
    Traced(r, v.toMap)
  }

  /** Metrics that apply only to some request kinds. */
  private val qlOnly = Set("ql.parse_ms", "scan.files_read",
    "scan.bytes_read", "scan.rows_read", "scan.rows_per_result",
    "scan.listing_ms", "self.ql_ms")
  private val statOnly = Set("stats.partial_rows_read",
    "stats.bins_returned", "stats.partial_rows_per_bin")

  /** Replay until `seconds` have passed, cycling over the request kinds
    * in a seeded order; returns the per-layer metrics. */
  def run(): Seq[Metric] = {
    val rnd = new Random(w.seed * 13L + 5)
    val byKind = w.pool.groupBy(_.kind).toSeq.sortBy(_._1)
      .map { case (k, rs) => (k, rnd.shuffle(rs)) }
    val gc0 = gcMs()
    val deadline = System.nanoTime() + seconds * 1000000000L
    val done = mutable.ArrayBuffer[Traced]()
    var round = 0
    while (round == 0 || System.nanoTime() < deadline) {
      byKind.foreach { case (_, rs) =>
        done += replayOne(rs(round % rs.size), done.size)
      }
      round += 1
    }
    val gcPerReq = (gcMs() - gc0) / done.size
    val streaming = if (w.writes) importTrace() else Map.empty[String, Double]

    def med(name: String): Double = {
      val xs = done.filter { t =>
        (!qlOnly(name) || t.req.isInstanceOf[QlReq]) &&
        (!statOnly(name) || t.req.isInstanceOf[StatReq])
      }.flatMap(_.values.get(name))
      Stats.median(xs.toSeq)
    }
    val perRequest = Trace.RequestMetrics.map { case (n, u) =>
      Metric(n, med(n), u) }
    val perKind = Trace.Kinds.flatMap { k =>
      Seq(Metric(s"spark.jobs.$k", med(s"spark.jobs.$k"), "count"),
        Metric(s"spark.tasks.$k", med(s"spark.tasks.$k"), "count"),
        Metric(s"replay.${k}_ms", med(s"replay.${k}_ms"), "ms"))
    }
    perRequest ++ perKind ++ Seq(
      Metric("scan.files_in_store", Files.parquetFiles(s.store.data), "count"),
      Metric("jvm.gc_ms", gcPerReq, "ms"),
      Metric("jvm.heap_peak_mb", heapPeakMb(), "MB"),
      Metric("trace.requests", done.size, "count")) ++
      Trace.StreamingMetrics.map { case (n, u) =>
        Metric(n, streaming.getOrElse(n, 0.0), u) }
  }

  /** Every span of the run, one JSON object per line. */
  def writeSpans(path: String): Unit = {
    val lines = spans.map(sp => s"""{"id":${sp.id},"name":"${sp.name}",""" +
      s""""start_ns":${sp.startNs},"end_ns":${sp.endNs},""" +
      s""""parent":${sp.parent},"req":${sp.req}}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** `Ingest.importMcap` called directly on a scratch copy of the store,
    * three times, and `Mcap.load` plus a count over one import file. */
  private def importTrace(): Map[String, Double] = {
    val scratch = new Store(s"$dir/trace-store")
    Files.copyTree(s.store.root, scratch.root)
    val figs = (0 until 3).map { i =>
      val (bytes, _) = Gen.importFile(w.seed, 1000 + i)
      val fileDir = s"$dir/trace-import-$i"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(fileDir))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$fileDir/import.mcap"), bytes)
      val trees = Seq(scratch.data, scratch.stats, scratch.fstats,
        scratch.control)
      val files0 = trees.map(Files.parquetFiles).sum
      val bytes0 = scratch.bytesOnDisk
      val group = s"perfbench-import-$i"
      val (_, imp) = attached { grouped(group) {
        span("import", -1 - i) {
          graft.streaming.Ingest.importMcap(spark, Gen.ImportProducers(i),
            s"$fileDir/import.mcap", scratch.data, scratch.stats,
            scratch.control, scratch.fieldStats)
        }
      } }
      val jobs = rec.ofGroup(group)
      val jspans = jobSpans(jobs, Seq(imp), imp.req)
      val (_, load) = span("mcap.load", imp.req) {
        graft.mcap.Mcap.load(spark, fileDir).count()
      }
      Map(
        "streaming.import_ms" -> imp.durNs / 1e6,
        "streaming.import_jobs" -> jobs.size.toDouble,
        "streaming.files_written" ->
          (trees.map(Files.parquetFiles).sum - files0).toDouble,
        "streaming.bytes_written" -> (scratch.bytesOnDisk - bytes0).toDouble,
        "self.streaming_ms" -> selfNs(imp, imp +: jspans) / 1e6,
        "mcap.load_ms" -> load.durNs / 1e6)
    }
    figs.head.keys.map(k => k -> Stats.median(figs.map(_(k)))).toMap
  }

  private def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.toDouble).sum

  private def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed.toDouble).sum / (1024.0 * 1024.0)
}

object Trace {
  val Kinds: Seq[String] = Requests.QueryKinds ++ Requests.StatKinds

  /** Per-request figures, reported as the median over replayed requests
    * (over the request kinds they apply to). */
  val RequestMetrics: Seq[(String, String)] = Seq(
    "api.http_ms" -> "ms", "api.response_bytes" -> "bytes",
    "ql.parse_ms" -> "ms",
    "plan.build_ms" -> "ms", "plan.control_jobs" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.job_wait_ms" -> "ms",
    "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms",
    "spark.driver_gap_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "scan.files_read" -> "count", "scan.bytes_read" -> "bytes",
    "scan.rows_read" -> "count", "scan.rows_per_result" -> "ratio",
    "scan.listing_ms" -> "ms",
    "stats.partial_rows_read" -> "count",
    "stats.partial_rows_per_bin" -> "ratio",
    "stats.bins_returned" -> "count",
    "export.first_row_ms" -> "ms", "export.drain_ms" -> "ms",
    "self.api_ms" -> "ms", "self.ql_ms" -> "ms", "self.plan_ms" -> "ms",
    "self.export_ms" -> "ms", "self.spark_ms" -> "ms",
    "trace.overhead_ms" -> "ms")

  /** Import figures (`ingest_read` only; 0 elsewhere). */
  val StreamingMetrics: Seq[(String, String)] = Seq(
    "streaming.import_ms" -> "ms", "streaming.import_jobs" -> "count",
    "streaming.files_written" -> "count",
    "streaming.bytes_written" -> "bytes", "self.streaming_ms" -> "ms",
    "mcap.load_ms" -> "ms")
}
