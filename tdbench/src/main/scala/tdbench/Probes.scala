package tdbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Counters of one finished Spark task, wall-clock ms. */
final case class TaskEvent(launchMs: Long, runMs: Long, gcMs: Long, shuffleBytes: Long)

/** SparkListener registered by the benchmark: keeps every job start and
  * task end in memory, to be attributed to operations afterwards. */
final class SparkProbe extends SparkListener {
  val jobStarts = new ConcurrentLinkedQueue[Long]()
  val tasks = new ConcurrentLinkedQueue[TaskEvent]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskEvent(e.taskInfo.launchTime, m.executorRunTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten))
  }

  /** Wait until the asynchronous listener bus has delivered every event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.tdbenchshim.Bus.drain(sc)
}

/** Samples used heap every few ms on a daemon thread. */
final class HeapPoller(periodMs: Long = 5) extends Thread("tdbench-heap") {
  val samples = new ConcurrentLinkedQueue[(Long, Long)]() // (epoch ms, used bytes)
  @volatile private var running = true
  setDaemon(true)
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean

  override def run(): Unit =
    while (running) {
      samples.add((System.currentTimeMillis(), mem.getHeapMemoryUsage.getUsed))
      Thread.sleep(periodMs)
    }

  def finish(): Unit = { running = false; join() }
}

/** Machine-wide CPU time the hypervisor gave to other guests ("steal"),
  * from the first line of /proc/stat. A run whose timed loop saw much of it
  * was slowed by its neighbours, not by the program. */
object CpuSteal {
  /** (steal, total) jiffies so far; None where /proc/stat is missing. */
  def sample(): Option[(Long, Long)] =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal [guest guest_nice]
      if (f.length < 8) None else Some((f(7), f.take(8).sum))
    } catch { case _: Exception => None }

  /** Steal as a share of all CPU time between two samples. */
  def share(from: Option[(Long, Long)], to: Option[(Long, Long)]): Option[Double] =
    for ((s0, t0) <- from; (s1, t1) <- to if t1 > t0) yield (s1 - s0).toDouble / (t1 - t0)
}

/** Attribution of process-wide samples to the operations in flight. */
object Attribution {
  /** Spread each event's value over the intervals (inclusive, ms) that
    * contain its time, 1/k to each of k overlapping operations; events
    * outside every interval belong to no operation. Returns one total per
    * interval, in interval order. */
  def spread(intervals: IndexedSeq[(Long, Long)], events: Seq[(Long, Double)]): IndexedSeq[Double] = {
    val out = Array.fill(intervals.length)(0.0)
    val byStart = intervals.indices.sortBy(i => intervals(i)._1)
    events.foreach { case (t, v) =>
      val hit = byStart.filter { i => intervals(i)._1 <= t && t <= intervals(i)._2 }
      hit.foreach(i => out(i) += v / hit.length)
    }
    out.toIndexedSeq
  }

  /** Highest sample value within each interval (0 when none falls in it). */
  def peak(intervals: IndexedSeq[(Long, Long)], samples: Seq[(Long, Long)]): IndexedSeq[Long] =
    intervals.map { case (a, b) =>
      samples.iterator.filter { case (t, _) => a <= t && t <= b }.map(_._2).foldLeft(0L)(math.max)
    }

  def jobs(p: SparkProbe): Seq[(Long, Double)] = p.jobStarts.asScala.toSeq.map(t => (t, 1.0))
  def tasks(p: SparkProbe)(f: TaskEvent => Double): Seq[(Long, Double)] =
    p.tasks.asScala.toSeq.map(e => (e.launchMs, f(e)))
}
