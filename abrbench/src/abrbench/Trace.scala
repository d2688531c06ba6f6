package abrbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Wall-clock milliseconds with sub-millisecond resolution, on the same
  * epoch as Spark's task and stage timestamps.
  */
final class Clock {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nanos0 = System.nanoTime()
  def nowMs(): Double = epochMs0 + (System.nanoTime() - nanos0) / 1e6
}

/** In-memory spans recorded around the benchmark's calls into the
  * program: name, operation index, parent span, start and end. Spans nest
  * by call (a thread-local stack); they are written out when the run ends.
  */
final class Tracer(val clock: Clock) {
  private val recorded = ArrayBuffer.empty[Map[String, Any]]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private var nextId = 0

  def span[A](name: String, op: Int)(f: => A): A = {
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val start = clock.nowMs()
    try f
    finally {
      val end = clock.nowMs()
      stack.set(stack.get.tail)
      synchronized {
        recorded += Map("id" -> id, "parent" -> parent, "name" -> name,
          "op" -> op, "start_ms" -> start, "end_ms" -> end)
      }
    }
  }

  def spans: Seq[Map[String, Any]] = synchronized(recorded.toSeq)
}

/** The benchmark's Spark listener: every finished task, stage and job,
  * with the counters the per-layer metrics need. Attribution to spans is
  * by time and happens after the run.
  */
final class TaskLog(clock: Clock) extends SparkListener {
  private val t = ArrayBuffer.empty[Map[String, Any]]
  private val s = ArrayBuffer.empty[Map[String, Any]]
  private val j = ArrayBuffer.empty[Map[String, Any]]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Double]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) t += Map(
      "stage" -> e.stageId,
      "launch_ms" -> e.taskInfo.launchTime,
      "finish_ms" -> e.taskInfo.finishTime,
      "failed" -> e.taskInfo.failed,
      "in_bytes" -> m.inputMetrics.bytesRead,
      "out_bytes" -> m.outputMetrics.bytesWritten,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "spill_bytes" -> m.diskBytesSpilled,
      "gc_ms" -> m.jvmGCTime)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      s += Map("stage" -> i.stageId, "tasks" -> i.numTasks,
        "submit_ms" -> i.submissionTime.getOrElse(0L),
        "complete_ms" -> i.completionTime.getOrElse(0L))
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = clock.nowMs()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    j += Map("job" -> e.jobId,
      "start_ms" -> jobStart.getOrElse(e.jobId, e.time.toDouble),
      "end_ms" -> e.time.toDouble)
  }

  def tasks: Seq[Map[String, Any]] = synchronized(t.toSeq)
  def stages: Seq[Map[String, Any]] = synchronized(s.toSeq)
  def jobs: Seq[Map[String, Any]] = synchronized(j.toSeq)
}
