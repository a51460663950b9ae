package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side, started by `perfbench/run.py`:
  *
  *   perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *                  --dir WORKDIR
  *
  * Generates the inputs from the seed, sets the store up, runs the
  * workload's closed loop for S seconds, checks every reply, and prints
  * each figure as `metric NAME VALUE UNIT` followed by one line
  * `result {json}`. With `--trace 1` it then replays a sample of the
  * requests and reports the per-layer metrics instead of the
  * end-to-end ones. Every file it writes is under WORKDIR.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, dir: String)

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // explicit exit: Dp3Http.stop() leaves its request executor's
    // threads running, so the JVM would never end on its own
    System.exit(code)
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("dir"))
  }

  /** The session `graft.cli.Dp3Server` builds, kept inside the work
    * directory. */
  private def session(dir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val t0 = System.nanoTime()
  /** Progress on stderr, seconds since start. */
  private def phase[A](name: String)(f: => A): A = {
    val r = f
    System.err.println(f"perfbench: $name done at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    r
  }

  def run(o: Opts): Int = {
    val spark = phase("session")(session(o.dir))
    val w = phase("inputs") {
      new Workload(spark, o.workload, o.seed, o.seconds, o.dir) }
    val log = new Log
    val canary = new Canary
    val (served, setupS) = phase("set-up") {
      w.setUpRepeated(if (o.trace) 1 else 3) }
    phase("warm-up")(w.warmUp(served, log))
    val before = served.store.bytesOnDisk
    canary.clear()
    val window = phase("measure")(w.loop(served, log))
    val canaryMs = canary.medianMs
    canary.stop()
    val after = served.store.bytesOnDisk
    val endToEnd = w.endToEnd(window, setupS)
    val detail = w.windowDetail(window, before, after, canaryMs)
    val layers =
      if (!o.trace) Nil
      else phase("trace") {
        val t = new Trace(spark, w, served, log, o.seconds, o.dir)
        val ms = t.run()
        // beside the run's log: the work directory is removed afterwards
        t.writeSpans(new java.io.File(o.dir).getAbsoluteFile.getParent +
          s"/spans-${o.workload}-${o.seed}.jsonl")
        ms
      } ++ detail
    phase("checks")(w.verify(served, log))

    val reported = if (o.trace) layers else endToEnd
    val shown = if (o.trace) endToEnd ++ layers else endToEnd ++ detail
    shown.foreach(m => println(s"metric ${m.name} ${num(m.value)} ${m.unit}"))
    // per-kind means of the window, for reading a run by eye
    window.reads.groupBy(_.req.kind).toSeq.sortBy(_._1).foreach {
      case (k, ss) => println(s"metric read.$k.mean_ms " +
        s"${num(ss.map(_.ms).sum / ss.size)} ms")
    }
    log.errors.foreach(e => System.err.println(s"check failed: $e"))
    val failed = log.failed
    println("result " + json(failed == 0, log.attempted, failed, reported))
    0
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def json(correct: Boolean, attempted: Int, failed: Int,
      ms: Seq[Metric]): String =
    ms.map(m => s""""${m.name}": {"value": ${num(m.value)}, """ +
        s""""unit": "${m.unit}"}""")
      .mkString(s"""{"correct": $correct, "attempted": $attempted, """ +
        s""""failed": $failed, "metrics": {""", ", ", "}}")
}
