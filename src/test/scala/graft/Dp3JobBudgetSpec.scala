package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{Dp3Service, IngestStore}
import graft.model.IngestedCatalog
import graft.streaming.Ingest

/** Spark jobs per warm dp3 read request, pinned. A request's frame is
  * built and drained (`toJSON.toLocalIterator`, the HTTP route's drain)
  * under a job group, over a small `Ingest.startWithStats` store with a
  * control table and per-field partials. Every job counted is one the
  * request queues behind other clients' tasks, so plan-time control
  * reads must stay off the path: the budgets allow the data tree's
  * schema job and the final plan's jobs, plus one statfilter collect
  * for a filtered scan. */
class Dp3JobBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val S = 1000000000L
  private val T0 = 1700000000L * S
  private val Day = 86400L * S
  private val Producers = Seq("p0", "p1", "p2", "p3")

  /** 4 producers × (imu every 160 s, gps every 320 s, odom every
    * 480 s) over 2 days, streamed through the ingest pipeline. */
  private lazy val svc: Dp3Service = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-jobs")
      .toString
    val rnd = new scala.util.Random(7)
    var seq = 0L
    val rows = for {
      p <- Producers
      (topic, gapS) <- Seq(("imu", 160L), ("gps", 320L), ("odom", 480L))
      t <- T0 until T0 + 2 * Day by gapS * S
    } yield {
      seq += 1
      val v = rnd.nextDouble()
      (p, topic, t + rnd.nextInt(1000).toLong, seq, v, (v * 100).toLong,
        s"k${rnd.nextInt(50)}")
    }
    val df = rows.toDF("producer", "topic", "time", "seq", "value", "k",
      "props")
    df.write.parquet(s"$base/in")
    val q = Ingest.startWithStats(spark,
      spark.readStream.schema(df.schema).parquet(s"$base/in"),
      s"$base/data", s"$base/stats", s"$base/cp",
      controlDir = Some(s"$base/control"),
      fieldStats = Some((s"$base/fstats", Seq("value", "k"),
        Seq("props"))))
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    val cat = new IngestedCatalog(s"$base/data", s"$base/stats",
      s"$base/control", Some(s"$base/fstats"))
    new Dp3Service(cat, s => cat.messages(s), Some(IngestStore(cat)))
  }

  private def drain(df: DataFrame): Long =
    df.toJSON.toLocalIterator().asScala.size.toLong

  /** Jobs a warm request submits: primed once, then built and drained
    * under a job group of its own. */
  private def jobsOf(build: => DataFrame): Int = {
    val sc = spark.sparkContext
    assert(drain(build) > 0, "the request must return rows")
    val group = s"budget-${System.nanoTime()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .contains(group)) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job budget", interruptOnCancel = false)
      try drain(build) finally sc.clearJobGroup()
      ListenerBusAccess.drain(sc)
    } finally sc.removeSparkListener(listener)
    n.get
  }

  private val Hour = 3600L * S
  private def ql(q: String): DataFrame = svc.query(spark, q)

  private val budgets: Seq[(String, Int, () => DataFrame)] = Seq(
    ("scan", 4, () =>
      ql(s"from p1 between ${T0 + Hour} and ${T0 + 2 * Hour} imu;")),
    ("filter", 5, () => ql("from p2 gps where gps.value > 0.95;")),
    ("merge", 5, () =>
      ql(s"from p1 between ${T0 + Hour} and ${T0 + 3 * Hour} imu, odom;")),
    ("asof", 6, () =>
      ql(s"from p3 between ${T0 + Hour} and ${T0 + 3 * Hour} imu " +
        "precedes gps by less than 60 seconds;")),
    ("limit", 2, () => ql("from p0 imu limit 50 offset 200;")),
    ("statrange_day", 4, () =>
      svc.statRange(spark, 172L * S, T0, T0 + Day)
        .where(col("topic") === "imu").where(col("producer") === "p1")),
    ("statrange_span", 4, () =>
      svc.statRange(spark, 3840L * S, T0, T0 + 2 * Day)
        .where(col("topic") === "gps").where(col("producer") === "p2")),
    ("statistics", 4, () =>
      svc.statistics(spark, 3840L * S, groupByProducer = false,
        topics = Seq("odom"), startNs = T0, endNs = T0 + 2 * Day)))

  budgets.foreach { case (kind, budget, build) =>
    test(s"a warm $kind request runs at most $budget Spark jobs") {
      val jobs = jobsOf(build())
      assert(jobs <= budget, s"$kind: $jobs jobs, budget $budget")
    }
  }

  test("the filtered scan prunes: its qualifying ranges are pushed") {
    val df = ql("from p2 gps where gps.value > 0.99;")
    assert(PruneMarks.pushedFilters(df)
      .exists(_.contains("GreaterThanOrEqual(time,")))
  }
}
