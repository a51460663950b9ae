package perfbench

import java.lang.management.ManagementFactory

/** The machine's speed while a run measures: the CPU time of one fixed
  * computation, sampled on a background thread a few times a second.
  * It uses CPU time, not wall time, so the run's own load on the cores
  * does not count; what moves it is how fast this host executes
  * instructions right now, which drifts with the load of other tenants. */
final class Canary {
  private val mx = ManagementFactory.getThreadMXBean
  private val data = {
    val r = new scala.util.Random(1)
    Array.fill(1 << 16)(r.nextLong())
  }
  @volatile private var sink = 0L
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  @volatile private var running = true

  /** CPU ns of the fixed computation, once. */
  def once(): Long = {
    val t0 = mx.getCurrentThreadCpuTime
    val a = data.clone()
    java.util.Arrays.sort(a)
    sink = a(a.length / 2)
    mx.getCurrentThreadCpuTime - t0
  }

  private val thread = new Thread(() => {
    (0 until 50).foreach(_ => once()) // compiled before sampling
    while (running) {
      samples.add(once())
      Thread.sleep(200)
    }
  }, "canary")
  thread.setDaemon(true)
  thread.start()

  def clear(): Unit = samples.clear()

  /** Median CPU ms of the computation since the last `clear`. */
  def medianMs: Double = {
    import scala.jdk.CollectionConverters._
    Stats.median(samples.asScala.toSeq.map(_ / 1e6))
  }

  def stop(): Unit = { running = false; thread.join() }
}
