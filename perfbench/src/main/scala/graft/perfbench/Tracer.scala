package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Benchmark-owned listener: per job, its start/end time, task run time
  * and shuffle bytes. Layer windows are wall-clock intervals taken around
  * each layer call; a job belongs to the window its start falls in (the
  * layer calls of a traced run are sequential). Events carry their own
  * timestamps, so attribution does not depend on listener-bus lag. */
final class Tracer extends SparkListener {
  final class Job(val id: Int, val start: Long) {
    @volatile var end: Long = -1L
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  @volatile private var lastEvent = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, new Job(e.jobId, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    lastEvent = System.currentTimeMillis()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    lastEvent = System.currentTimeMillis()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    for (jid <- Option(stageJob.get(e.stageId)); j <- Option(jobs.get(jid)); if m != null) {
      j.taskMs.addAndGet(m.executorRunTime)
      j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.totalBytesRead)
    }
    lastEvent = System.currentTimeMillis()
  }

  /** Wait until every started job has ended and the bus has been quiet for
    * a moment (events arrive asynchronously after the action returns). */
  def drain(maxMs: Long = 10000L): Unit = {
    val t0 = System.currentTimeMillis()
    def settled = jobs.values.asScala.forall(_.end >= 0) &&
      System.currentTimeMillis() - lastEvent > 300
    while (!settled && System.currentTimeMillis() - t0 < maxMs) Thread.sleep(50)
  }

  /** Every job as (id, start_ms, end_ms, task_s, shuffle_bytes). */
  def dump: Seq[Map[String, Any]] = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
    Map("id" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end,
        "task_s" -> j.taskMs.get / 1000.0, "shuffle_bytes" -> j.shuffleBytes.get)
  }
}

object Tracer {
  def attach(sc: SparkContext): Tracer = {
    val t = new Tracer
    sc.addSparkListener(t)
    t
  }
}
