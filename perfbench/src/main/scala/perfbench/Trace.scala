package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spark counters per job-group label, recorded by a listener that only
  * the traced run attaches.
  */
final class Recorder extends SparkListener {

  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskMs = 0L; var gcMs = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L
    var bytesRead = 0L; var recordsWritten = 0L
  }

  private val byLabel = new ConcurrentHashMap[String, Counters]()
  private val stageLabel = new ConcurrentHashMap[Int, String]()
  @volatile var unlabelledJobs = 0L
  val unlabelledSites: mutable.Set[String] = ConcurrentHashMap.newKeySet[String]().asScala

  private def counters(label: String) = byLabel.computeIfAbsent(label, _ => new Counters)
  private def labelOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = labelOf(e.properties) match {
    case Some(l) =>
      val c = counters(l)
      c.synchronized(c.jobs += 1)
      e.stageInfos.foreach(s => stageLabel.put(s.stageId, l))
    case None =>
      unlabelledJobs += 1
      unlabelledSites += Option(e.properties).map(_.getProperty("callSite.short")).getOrElse("?")
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    labelOf(e.properties).foreach { l =>
      stageLabel.put(e.stageInfo.stageId, l)
      val c = counters(l)
      c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageLabel.get(e.stageId)).foreach { l =>
      val c = counters(l)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.bytesRead += m.inputMetrics.bytesRead
          c.recordsWritten += m.outputMetrics.recordsWritten
        }
      }
    }

  /** Sum of the counters of every label `p` accepts. */
  def sum(p: String => Boolean): Counters = {
    val out = new Counters
    byLabel.asScala.foreach { case (l, c) =>
      if (p(l)) c.synchronized {
        out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
        out.taskMs += c.taskMs; out.gcMs += c.gcMs
        out.shuffleWriteBytes += c.shuffleWriteBytes; out.spillBytes += c.spillBytes
        out.bytesRead += c.bytesRead; out.recordsWritten += c.recordsWritten
      }
    }
    out
  }

  def of(label: String): Counters = sum(_ == label)
}

/** Spans of the traced run, kept in memory and written once at the end. */
final class Spans {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var next = 0

  def apply[A](name: String)(f: => A): (A, Span) = {
    val id = { next += 1; next }
    val parent = open.headOption.getOrElse(0)
    open = id :: open
    val t0 = System.nanoTime
    try {
      val a = f
      val s = Span(id, parent, name, t0, System.nanoTime)
      done += s
      (a, s)
    } finally open = open.tail
  }

  def all: Seq[Span] = done.toSeq

  /** Span duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double = s.seconds - done.filter(_.parent == s.id).map(_.seconds).sum

  def json: String = done.sortBy(_.startNs).map { s =>
    s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "start_ns": ${s.startNs}, """ +
      s""""end_ns": ${s.endNs}, "self_s": ${selfSeconds(s)}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
