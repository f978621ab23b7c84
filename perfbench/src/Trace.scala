package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into a layer's public function. Spans of one event share
  * `trace`; `parent` names the span that caused this one.
  */
final case class Span(trace: String, name: String, parent: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span buffer, written out once when the run ends. */
final class Spans {
  private val buf = ArrayBuffer[Span]()

  def add(s: Span): Unit = synchronized { buf += s }

  def time[T](trace: String, name: String, parent: String = "")(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally add(Span(trace, name, parent, t0, System.nanoTime()))
  }

  def all: Seq[Span] = synchronized(buf.toSeq)

  def ms(name: String): Seq[Double] = all.filter(_.name == name).map(_.ms)

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.foreach { s =>
      w.println(s"""{"trace":"${s.trace}","name":"${s.name}",""" +
        s""""parent":"${s.parent}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Spark work of the jobs run under one job group. */
final class SparkWork {
  var jobs = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
}

/** Attributes jobs, tasks, task time, shuffle, spill and GC to the job
  * group their job was submitted under. Callers wrap a traced call in
  * [[inGroup]], which drains the listener bus before reading, so a late
  * event is never charged to the next call.
  */
final class JobAccounting(sc: SparkContext) extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, SparkWork]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def work(g: String) = byGroup.computeIfAbsent(g, _ => new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        val w = work(g)
        w.synchronized(w.jobs += 1)
        e.stageIds.foreach(s => stageGroup.put(s, g))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val w = work(g)
      val m = e.taskMetrics
      w.synchronized {
        w.tasks += 1
        if (m != null) {
          w.taskMs += m.executorRunTime
          w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          w.gcMs += m.jvmGCTime
        }
      }
    }

  /** Runs `f` under a fresh job group and returns its result with the
    * Spark work charged to that group.
    */
  def inGroup[T](group: String)(f: => T): (T, SparkWork) = {
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val r = try f finally sc.clearJobGroup()
    org.apache.spark.PerfbenchBus.drain(sc)
    (r, Option(byGroup.get(group)).getOrElse(new SparkWork))
  }
}
