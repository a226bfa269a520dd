package graft.lifecycle

import scala.collection.mutable

import org.apache.spark.scheduler._

final case class Span(id: Int, name: String, parent: Int, req: Long,
    startNs: Long, endNs: Long)

/** In-memory span recorder. A span is (name, start, end, parent, request
  * id); spans stay in memory and are written out once, when the run ends.
  * When disabled, `span` only runs its body.
  */
final class Tracer {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0
  private var req = -1L
  var enabled = false

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name, System.nanoTime()) :: stack
      try body
      finally {
        val (_, _, start) = stack.head
        stack = stack.tail
        done += Span(id, name, parent, req, start, System.nanoTime())
      }
    }

  /** Opens the root span of one timed operation (request `reqId`). */
  def op[A](kind: String, reqId: Long)(body: => A): A = {
    req = reqId
    span("op." + kind)(body)
  }

  def spans: Seq[Span] = done.toSeq

  /** Self time per span: its duration minus the union of its children. */
  def selfNs: Map[Int, Long] = {
    val kids = done.groupBy(_.parent)
    done.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
      s.id -> (s.endNs - s.startNs - covered)
    }.toMap
  }
}

/** Spark work per job, recorded by a listener on the SparkContext, so jobs
  * run from any session (GraphAnn's private walk session included) are
  * seen. Times are epoch milliseconds, as the scheduler reports them.
  */
final class JobLedger extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val stages: Seq[Int]) {
    @volatile var endMs: Long = -1L
    var tasks = 0L
    var runMs = 0L
    var shuffleBytes = 0L
    var stagesRun = 0
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val jobOfStage = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new Job(e.jobId, e.time, e.stageIds)
    jobs(e.jobId) = j
    e.stageIds.foreach(jobOfStage(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      jobOfStage.get(e.stageInfo.stageId).foreach(_.stagesRun += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    jobOfStage.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def snapshot: Seq[Job] = synchronized(jobs.values.toSeq)
}
