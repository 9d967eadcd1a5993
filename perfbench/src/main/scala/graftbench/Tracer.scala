package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graftbench.Stats.Span

/** Spans and Spark-side counters of a traced run, recorded from outside
  * the engine.
  *
  * The benchmark wraps every call into a layer in [[span]]. While a span
  * is open its id is the thread's `graftbench.span` local property, which
  * Spark copies into every job submitted under it, so the listener can hang
  * each job (and its stages and tasks) under the layer call that caused
  * it. Planner phase times come from a QueryExecutionListener and are
  * charged to the operation that was running. Spans stay in memory until
  * the run ends. When tracing is off for an operation nothing is recorded.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val epochBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def now(): Long = System.nanoTime() + epochBase

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0L
  private var open: List[(Long, Long)] = Nil // (span id, op id), innermost first

  /** Whether the next operations are traced; flipped by the workloads. */
  var enabled = false

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val (parent, op) = open.headOption.getOrElse((0L, id))
      open = (id, op) :: open
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = now()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, now())
        open = open.tail
        sc.setLocalProperty(SpanKey, open.headOption.map(_._1.toString).orNull)
      }
    }

  private final case class Job(id: Int, parent: Long, start: Long, var end: Long)
  private final case class Stage(id: Int, job: Int, var submit: Long = 0,
      var end: Long = 0, var tasks: Int = 0, var failures: Int = 0,
      var busyMs: Long = 0, var waitMs: Long = 0, var shuffleRead: Long = 0,
      var shuffleWrite: Long = 0, var spill: Long = 0)

  private val lock = new Object
  private val jobs = mutable.Map[Int, Job]()
  private val stages = mutable.Map[Int, Stage]()
  private val phases = mutable.Map[String, Double]().withDefaultValue(0.0)

  private def tracked(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong)

  sc.addSparkListener(new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = lock.synchronized {
      tracked(j.properties).foreach { parent =>
        jobs(j.jobId) = Job(j.jobId, parent, j.time, j.time)
        j.stageIds.foreach(s => if (!stages.contains(s)) stages(s) = Stage(s, j.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized {
        stages.get(e.stageInfo.stageId).foreach(s =>
          s.submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val si = e.stageInfo
        stages.get(si.stageId).foreach { s =>
          s.end = si.completionTime.getOrElse(System.currentTimeMillis())
          val m = si.taskMetrics
          if (m != null) {
            s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            s.spill += m.diskBytesSpilled
          }
        }
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = lock.synchronized {
      stages.get(t.stageId).foreach { s =>
        s.tasks += 1
        if (!t.taskInfo.successful) s.failures += 1
        if (t.taskMetrics != null) s.busyMs += t.taskMetrics.executorRunTime
        if (s.submit > 0) s.waitMs += math.max(0L, t.taskInfo.launchTime - s.submit)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      lock.synchronized {
        if (enabled) qe.tracker.phases.foreach { case (k, v) => phases(k) += v.durationMs }
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(sc)

  /** Planner phase milliseconds (analysis, optimization, planning) of the
    * traced queries that finished so far. */
  def plannerMs: Map[String, Double] = lock.synchronized(phases.toMap)

  /** Harness spans plus one span per traced job and stage. */
  def allSpans: Seq[Span] = lock.synchronized {
    val byId = spans.map(s => s.id -> s).toMap
    val jobSpans = jobs.values.flatMap { j =>
      byId.get(j.parent).map(p =>
        Span(JobBase + j.id, p.id, p.op, "job", j.start * Milli, j.end * Milli))
    }
    val jobOp = jobSpans.map(s => (s.id - JobBase).toInt -> s.op).toMap
    val stageSpans = stages.values.filter(s => s.submit > 0 && s.end > 0)
      .flatMap { s =>
        jobOp.get(s.job).map(op =>
          Span(StageBase + s.id, JobBase + s.job, op, "stage",
            s.submit * Milli, s.end * Milli))
      }
    spans.toSeq ++ jobSpans ++ stageSpans
  }

  /** Spark-side counters per traced layer call. */
  final case class Counts(jobs: Int, stages: Int, tasks: Int, failures: Int,
      busyMs: Long, waitMs: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long)

  /** Counters of the jobs whose submitting span satisfies `pick`. */
  def counts(pick: Span => Boolean): Counts = lock.synchronized {
    val byId = spans.map(s => s.id -> s).toMap
    val js = jobs.values.filter(j => byId.get(j.parent).exists(pick)).map(_.id).toSet
    val ss = stages.values.filter(s => js.contains(s.job))
    Counts(js.size, ss.count(_.submit > 0), ss.map(_.tasks).sum,
      ss.map(_.failures).sum, ss.map(_.busyMs).sum, ss.map(_.waitMs).sum,
      ss.map(_.shuffleRead).sum, ss.map(_.shuffleWrite).sum, ss.map(_.spill).sum)
  }

  def harnessSpans: Seq[Span] = spans.toSeq
}

object Tracer {
  val SpanKey = "graftbench.span"
  private val JobBase = 1L << 40
  private val StageBase = 2L << 40
  private val Milli = 1000000L
}
