package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: the session, the tracer of a traced run, the
  * operation clock and everything the run reports. */
final class Ctx(val spark: SparkSession, val sf: String, val seed: Long,
    val seconds: Double, val trace: Boolean, val cores: Int) {

  val tracer: Option[Tracer] = if (trace) Some(new Tracer(spark)) else None

  def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))

  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  /** Every timed call in order, as (what, ms), for the run record. */
  val samples = mutable.ArrayBuffer[(String, Double)]()
  /** Analytic queries whose results were written under `results/` for
    * the oracle comparison. */
  var oracleQueries: Seq[String] = Nil

  def fail(what: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += what
  }

  /** Run `body` as one checked unit of work: an exception counts as a
    * failed operation and yields None. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        None
    }
  }

  /** Wall time of `body` in nanoseconds. */
  def timed[T](body: => T): (Long, T) = {
    val t0 = System.nanoTime()
    val v = body
    (System.nanoTime() - t0, v)
  }

  /** Nanoseconds spent inside timed operations so far: the clock that
    * freshness is measured on, so the checks between operations do not
    * count. */
  var busy = 0L
  private val tracedNs = mutable.ArrayBuffer[Long]()
  private val untracedNs = mutable.ArrayBuffer[Long]()

  /** One timed operation. In a traced run the caller alternates `traced`
    * so that the run can compare traced with untraced latency. The
    * listener bus is drained after the operation, outside its time. */
  def operation[T](traced: Boolean)(body: => T): (Long, T) = {
    tracer.foreach(_.enabled = traced)
    try {
      val (ns, v) = timed(span("op")(body))
      busy += ns
      (if (traced) tracedNs else untracedNs) += ns
      (ns, v)
    } finally tracer.foreach { t => t.drain(); t.enabled = false }
  }

  // ---- set-up and timed-region bookkeeping

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private def gcMs = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum
  private var gcAtStart = 0L

  def setupDone(repSeconds: Seq[Double]): Unit = {
    e2e("setup_s") = Stats.median(repSeconds)
    heapPools.foreach(_.resetPeakUsage())
    gcAtStart = gcMs
  }

  /** Reports common to every workload, called when the timed region ends. */
  def finish(opLatMs: Seq[Double], opsPerS: Double): Unit = {
    e2e("ops_per_s") = opsPerS
    e2e("op_p50_ms") = if (opLatMs.isEmpty) 0.0 else Stats.median(opLatMs)
    layers("jvm.peak_rss_mb") = peakRssMb()
    layers("jvm.gc_s") = (gcMs - gcAtStart) / 1e3
    layers("jvm.heap_peak_mb") = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    layers("op.samples") = opLatMs.size
    val tail = Stats.highestTail(opLatMs)
    layers("op.tail_pct") = tail.map(_._1 * 100).getOrElse(0.0)
    layers("op.tail_ms") = tail.map(_._2).getOrElse(0.0)
    layers("fail_ratio") = if (attempted == 0) 0.0 else failed.toDouble / attempted
    tracer.foreach(t => traceLayers(t))
  }

  private def peakRssMb(): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
      }.getOrElse(0.0)
      finally src.close()
    }.getOrElse(0.0)

  private val BuildSpans = Set("kv.plan", "query.build")
  private val ActionSpans = Set("kv.exec", "kv.append", "kv.compact", "query.action")
  private val SelfLayers = Seq("op", "kv.plan", "kv.exec", "kv.append", "kv.compact",
    "query.build", "query.action", "reap", "job", "stage")

  /** Per-layer counters of the traced operations, each per operation. */
  private def traceLayers(t: Tracer): Unit = {
    t.drain()
    val spans = t.allSpans
    val harness = t.harnessSpans
    val ops = math.max(1, harness.count(_.parent == 0))
    def per(x: Double) = x / ops
    val all = t.counts(_ => true)
    layers("scheduler.jobs") = per(all.jobs)
    layers("scheduler.stages") = per(all.stages)
    layers("scheduler.tasks") = per(all.tasks)
    layers("scheduler.task_busy_s") = per(all.busyMs / 1e3)
    layers("scheduler.task_wait_s") = per(all.waitMs / 1e3)
    val opMs = harness.filter(_.parent == 0).map(_.dur).sum / 1e6
    layers("scheduler.slot_util") = if (opMs > 0) all.busyMs / (cores * opMs) else 0.0
    layers("scheduler.task_failures") = all.failures
    layers("shuffle.read_mb") = per(all.shuffleRead / 1048576.0)
    layers("shuffle.write_mb") = per(all.shuffleWrite / 1048576.0)
    layers("shuffle.spill_mb") = per(all.spill / 1048576.0)
    val ph = t.plannerMs
    for (p <- Seq("analysis", "optimization", "planning"))
      layers(s"planner.${p}_ms") = per(ph.getOrElse(p, 0.0))
    def spanS(names: Set[String]) =
      harness.filter(s => names.contains(s.name)).map(_.dur).sum / 1e9
    layers("build.jobs") = per(t.counts(s => BuildSpans.contains(s.name)).jobs)
    layers("build.s") = per(spanS(BuildSpans))
    layers("action.jobs") = per(t.counts(s => ActionSpans.contains(s.name)).jobs)
    layers("action.s") = per(spanS(ActionSpans))
    val self = Stats.selfByName(spans)
    for (n <- SelfLayers) layers(s"self.${n}_ms") = per(self.getOrElse(n, 0L) / 1e6)
    layers("trace.spans") = spans.size
    // operations alternate between traced and untraced, so the two
    // medians differ by what recording costs
    layers("trace.overhead_ms") =
      if (tracedNs.isEmpty || untracedNs.isEmpty) 0.0
      else (Stats.median(tracedNs.map(_.toDouble)) -
        Stats.median(untracedNs.map(_.toDouble))) / 1e6
  }

  /** Bytes under `path` and the number of data files there. */
  def du(path: String): (Long, Int) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new File(path)).filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    (files.map(_.length).sum, files.count(_.getName.endsWith(".parquet")))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
