package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans, written out when the run ends. Times are
  * `System.nanoTime`; a span's self time is its duration minus the
  * part of it that its children cover. */
final class Spans {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  /** Span id of each op's execute step, by op tag. */
  val executeOf = scala.collection.concurrent.TrieMap[String, Long]()

  def newId(): Long = ids.incrementAndGet()
  def add(parent: Long, name: String, startNs: Long, endNs: Long, id: Long = newId()): Long = {
    buf.add(Span(id, parent, name, startNs, endNs))
    id
  }
  def all: Vector[Span] = buf.asScala.toVector

  /** Self milliseconds per span id. */
  def selfMs: Map[Long, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Vector.empty)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }

  def writeJson(path: String): Unit = {
    val lines = all.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

/** Catalyst phase times of one executed `noop` write, in epoch ms. */
final case class PhaseRec(startMs: Long, endMs: Long, analysisMs: Long,
    optimizationMs: Long, planningMs: Long) {
  def totalMs: Long = analysisMs + optimizationMs + planningMs
}

/** Task totals of every stage submitted under one tag. */
final class StageTotals {
  var stages = 0L; var tasks = 0L; var runMs = 0L; var waitMs = 0L
  var inputBytes = 0L; var inputRows = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L
}

final case class JobRec(jobId: Int, tag: String, callSite: String, startMs: Long, var endMs: Long)

final case class BatchRec(batchId: Long, triggerMs: Long, addBatchMs: Long, rows: Long)

/** Listeners on Spark's own events. The streaming listener is always
  * on (microbatch times are an end-to-end metric); the job, task and
  * Catalyst listeners are registered only for the traced run, and
  * record only while `on` is set. Work is
  * attributed through the `graftbench.tag` local property, which the
  * benchmark sets on the thread that calls into graft and which Spark
  * copies to the threads it starts (the stream execution thread). */
final class Probe(spark: SparkSession, traced: Boolean) {
  import Probe._

  /** Whether the job, task and Catalyst listeners record events. */
  @volatile var on = false
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  val phases = new ConcurrentLinkedQueue[PhaseRec]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val totals = new java.util.concurrent.ConcurrentHashMap[String, StageTotals]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        batches.add(BatchRec(p.batchId, d("triggerExecution"), d("addBatch"), p.numInputRows))
      }
    }
  }
  spark.streams.addListener(streaming)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val props = Option(e.properties)
      val j = JobRec(e.jobId, props.flatMap(p => Option(p.getProperty(TagKey))).getOrElse(""),
        props.flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse(""), e.time, -1L)
      jobById.put(e.jobId, j)
      jobs.add(j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on)
      Option(jobById.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (on) {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).getOrElse("")
      val id = e.stageInfo.stageId
      stageTag.put(id, tag)
      stageSubmit.put(id, java.lang.Long.valueOf(
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
      totalsOf(tag).synchronized(totalsOf(tag).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      val tag = Option(stageTag.get(e.stageId)).getOrElse("")
      val t = totalsOf(tag)
      val m = Option(e.taskMetrics)
      val submitted = Option(stageSubmit.get(e.stageId)).map(_.longValue).getOrElse(e.taskInfo.launchTime)
      t.synchronized {
        t.tasks += 1
        t.waitMs += math.max(0L, e.taskInfo.launchTime - submitted)
        m.foreach { tm =>
          t.runMs += tm.executorRunTime
          t.inputBytes += tm.inputMetrics.bytesRead
          t.inputRows += tm.inputMetrics.recordsRead
          t.shuffleWriteBytes += tm.shuffleWriteMetrics.bytesWritten
          t.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on && isNoopWrite(qe)) {
        val ph = qe.tracker.phases
        def dur(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
        val starts = ph.values.map(_.startTimeMs)
        val ends = ph.values.map(_.endTimeMs)
        if (starts.nonEmpty)
          phases.add(PhaseRec(starts.min, ends.max, dur("analysis"), dur("optimization"), dur("planning")))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (traced) {
    org.apache.spark.GraftBenchAccess.addListenerOnOwnQueue(spark.sparkContext, sparkListener)
    spark.listenerManager.register(qeListener)
  }

  private def totalsOf(tag: String): StageTotals =
    totals.computeIfAbsent(tag, _ => new StageTotals)

  def totalsFor(tag: String): StageTotals = Option(totals.get(tag)).getOrElse(new StageTotals)
  def jobsFor(tag: String): Vector[JobRec] = jobs.asScala.filter(_.tag == tag).toVector

  /** Block until every queued event has been delivered. */
  def drain(): Unit = org.apache.spark.GraftBenchAccess.drainListenerBus(spark.sparkContext)

  def stop(): Unit = {
    spark.streams.removeListener(streaming)
    if (traced) {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
    }
  }
}

object Probe {
  val TagKey = "graftbench.tag"

  private def isNoopWrite(qe: QueryExecution): Boolean =
    qe.logical.exists(_.getClass.getSimpleName.startsWith("OverwriteByExpression")) &&
      qe.logical.toString.contains("noop-table")
}
