package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, count, lit, max, min, when}

import graft.{Materialize, SparkEntry}
import graft.keyspace.{KvLog, PartitionedLayout}
import graft.streaming.KvStorage
import graftbench.Gen.{IngestStream, Mix, PassOrder}

/** The keyspace read path (point GET on the shard-partitioned layout),
  * with each call split into planning and execution. */
private[graftbench] final class KvReads(c: Ctx, hashDir: String) {

  /** Plan the GET (file listing, schema, analysis, optimization, physical
    * planning), then execute it, each under its own span. */
  def get(key: String): (DataFrame, Array[Row]) = {
    val df = c.span("kv.plan") {
      val d = PartitionedLayout.pointGet(c.spark, hashDir, key)
      d.queryExecution.executedPlan
      d
    }
    (df, c.span("kv.exec")(df.collect()))
  }

  /** A GET answer against the model value (None: key absent). */
  def getOk(rows: Array[Row], key: String, want: Option[String]): Boolean =
    want match {
      case None => rows.isEmpty
      case Some(v) =>
        rows.length == 1 && rows(0).getString(0) == key && rows(0).getString(1) == v
    }

  // traced read-path counters, summed over traced reads
  var reads = 0
  var metadataMs = 0.0
  var files = 0.0
  var rowsScanned = 0.0
  var rowsReturned = 0.0

  private object Plans extends AdaptiveSparkPlanHelper

  /** Record the scan-side SQL metrics of one traced read. */
  def record(df: DataFrame, returned: Int): Unit = {
    val scans = Plans.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    reads += 1
    metadataMs += scans.map(m(_, "metadataTime")).sum
    files += scans.map(m(_, "numFiles")).sum
    rowsScanned += scans.map(m(_, "numOutputRows")).sum
    rowsReturned += returned
  }

  def report(): Unit = {
    val n = math.max(1, reads)
    c.layers("keyspace.scan_metadata_ms") = metadataMs / n
    c.layers("keyspace.files_read_per_op") = files / n
    c.layers("keyspace.rows_scanned_per_row_returned") =
      if (rowsReturned > 0) rowsScanned / rowsReturned else 0.0
    c.tracer.foreach { t =>
      val reads = t.harnessSpans.filter(s => s.name == "kv.plan" || s.name == "kv.exec")
      def med(name: String) = {
        val xs = reads.filter(_.name == name).map(_.dur / 1e6)
        if (xs.isEmpty) 0.0 else Stats.median(xs)
      }
      c.layers("keyspace.plan_ms") = med("kv.plan")
      c.layers("keyspace.exec_ms") = med("kv.exec")
      val ops = t.harnessSpans.filter(s => s.name == "kv.exec").map(_.op).toSet
      c.layers("keyspace.jobs_per_op") =
        if (ops.isEmpty) 0.0 else t.counts(s => ops.contains(s.op)).jobs.toDouble / ops.size
    }
  }
}

/** Workload implementations. Each builds its state in set-up (timed
  * several times; `setup_s` is the median), runs its closed loop with one
  * client for the run's seconds, checks every answer outside the timed
  * calls and fills the run's metrics. */
object Workloads {

  /** The benchmark's model of the live keyspace (key -> value), from the
    * collected compaction of the fixture op log. */
  private def model(c: Ctx): mutable.HashMap[String, String] = {
    val m = mutable.HashMap[String, String]()
    KvLog.state(c.spark, c.sf).select("key", "value").collect()
      .foreach(r => m(r.getString(0)) = r.getString(1))
    m
  }

  /** The timed region: `step(0)`, `step(1)`, ... at least `atLeast`
    * times and then while the run is under its seconds. A traced run
    * alternates traced and untraced steps, so it needs at least two. */
  private def loop(c: Ctx, atLeast: Int)(step: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < atLeast || (System.nanoTime() - t0) / 1e9 < c.seconds) { step(i); i += 1 }
  }

  private val KvLayers = Seq("keyspace.plan_ms", "keyspace.exec_ms",
    "keyspace.scan_metadata_ms", "keyspace.files_read_per_op",
    "keyspace.rows_scanned_per_row_returned", "keyspace.jobs_per_op",
    "keyspace.append_ms", "keyspace.compact_ms", "keyspace.write_amp",
    "keyspace.space_amp", "keyspace.files_per_shard",
    "ingest.ack_p50_ms", "ingest.visible_p50_ms")
  private val OlapLayers = Seq("olap.pass_s", "index.builds", "index.build_s",
    "index.hit_ratio")

  /** Report every per-layer metric a workload does not exercise as 0. */
  private def zeroRest(c: Ctx): Unit =
    (KvLayers ++ OlapLayers ++ Iterative.flatMap(q => Seq(s"build.jobs.$q", s"build.s.$q")))
      .foreach(n => if (!c.layers.contains(n)) c.layers(n) = 0.0)

  private def utf8(s: String) = s.getBytes("UTF-8").length.toDouble

  private def liveBytes(live: collection.Map[String, String]): Double =
    live.iterator.map { case (k, v) => utf8(k) + utf8(v) }.sum

  // --------------------------------------------------------------- kv_ingest

  val BatchWrites = 100
  val Shards = 4 // PartitionedLayout's shard count

  /** The op mix of the fixture log, the key of each of its GETs and its
    * highest sequence number. */
  private def fixtureTraffic(c: Ctx): (Mix, IndexedSeq[String], Long) = {
    val log = KvLog.log(c.spark, c.sf)
    val firstPut = min(when(col("op") === "put", col("seq"))).over(Window.partitionBy("key"))
    val kind = when(col("op") === "get", "get").when(col("op") === "delete", "delete")
      .when(col("seq") === firstPut, "put_new").when(col("value") === "", "put_empty")
      .otherwise("put_update")
    val byKind = log.select(kind.as("kind"), col("seq")).groupBy("kind")
      .agg(count(lit(1)), max(col("seq"))).collect()
    val n = byKind.map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    val getKeys = log.filter(col("op") === "get").select("key").collect()
      .map(_.getString(0)).sorted.toIndexedSeq
    (Mix(n("put_new"), n("put_update"), n("put_empty"), n("delete"), n("get")), getKeys,
      byKind.map(_.getLong(2)).max)
  }

  def kvIngest(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val live = model(c)
    val existing = live.keys.toArray.sorted.toIndexedSeq
    val (mix, getKeys, maxSeq) = fixtureTraffic(c)
    val logDir = new File("kvlog").getAbsolutePath
    val hashDir = new File("layout/hash").getAbsolutePath

    def compact(): Unit =
      PartitionedLayout.write(KvStorage.currentState(spark, logDir), hashDir)

    c.setupDone((1 to 3).map { _ =>
      c.deleteTree(new File(logDir))
      c.timed {
        KvLog.log(spark, c.sf)
          .select(col("seq").cast("long"), col("op"), col("key"), col("value"))
          .write.parquet(logDir)
        compact()
      }._1 / 1e9
    })

    val reads = new KvReads(c, hashDir)
    val stream = new IngestStream(mix, existing, getKeys, maxSeq, BatchWrites, c.seed)
    val acks = mutable.ArrayBuffer[Double]()
    val visible = mutable.ArrayBuffer[Double]()
    val getMs = mutable.ArrayBuffer[Double]()
    var ops = 0L
    var userBytes = 0.0
    var storageBytes = 0.0
    val appendMs = mutable.ArrayBuffer[Double]()
    val compactMs = mutable.ArrayBuffer[Double]()

    /** One GET, checked against the model; true when answered right. */
    def get(key: String, timed: Boolean, traced: Boolean): Boolean =
      c.attempt(s"get $key")(c.operation(traced)(reads.get(key))).exists {
        case (ns, (df, rows)) =>
          val ok = reads.getOk(rows, key, live.get(key))
          if (!ok) c.fail(s"GET $key")
          if (timed) {
            getMs += ns / 1e6
            c.samples += "get" -> ns / 1e6
            ops += 1
            if (traced) reads.record(df, rows.length)
          }
          ok
      }

    /** One cycle: the batch's GETs on the current layout, the batch
      * appended to the log, one compaction, then a read-your-writes GET
      * of one key the batch wrote. */
    def cycle(timed: Boolean, traced: Boolean): Unit = {
      val b = stream.next()
      b.gets.foreach(get(_, timed, traced))
      val submitted = c.busy
      val before = c.du(logDir)._1
      c.attempt("append")(c.operation(traced)(c.span("kv.append") {
        b.ops.toDS().write.mode("append").parquet(logDir)
      })).foreach { case (ns, _) =>
        if (timed) {
          acks += ns / 1e6
          c.samples += "append" -> ns / 1e6
          if (traced) appendMs += ns / 1e6
          ops += b.ops.size
          userBytes += b.ops.map(o => utf8(o.key) + o.value.map(utf8).getOrElse(0.0)).sum
          storageBytes += c.du(logDir)._1 - before
        }
      }
      b.ops.foreach { o =>
        if (o.op == "put") live(o.key) = o.value.get else live.remove(o.key)
      }
      c.attempt("compaction")(c.operation(traced)(c.span("kv.compact")(compact())))
        .foreach { case (ns, _) =>
          if (timed) {
            c.samples += "compact" -> ns / 1e6
            if (traced) compactMs += ns / 1e6
            storageBytes += c.du(hashDir)._1
          }
        }
      if (get(b.ops(b.check).key, timed, traced) && timed)
        visible += (c.busy - submitted) / 1e6
    }

    cycle(timed = false, traced = false) // warm-up
    val busy0 = c.busy
    // whole cycles only, so every run holds the same op mix
    loop(c, atLeast = 2)(i => cycle(timed = true, traced = c.trace && i % 2 == 1))

    c.layers("ingest.ack_p50_ms") = if (acks.isEmpty) 0.0 else Stats.median(acks.toSeq)
    c.layers("ingest.visible_p50_ms") = if (visible.isEmpty) 0.0 else Stats.median(visible.toSeq)
    c.layers("keyspace.append_ms") = if (appendMs.isEmpty) 0.0 else Stats.median(appendMs.toSeq)
    c.layers("keyspace.compact_ms") = if (compactMs.isEmpty) 0.0 else Stats.median(compactMs.toSeq)
    c.layers("keyspace.write_amp") = if (userBytes > 0) storageBytes / userBytes else 0.0
    val (logBytes, _) = c.du(logDir)
    val (layoutBytes, layoutFiles) = c.du(hashDir)
    c.layers("keyspace.space_amp") = (logBytes + layoutBytes) / liveBytes(live)
    c.layers("keyspace.files_per_shard") = layoutFiles.toDouble / Shards
    reads.report()
    c.finish(getMs.toSeq, ops / ((c.busy - busy0) / 1e9))
    zeroRest(c)
  }

  // ------------------------------------------------------------------- olap

  /** Queries of the olap_iterative mix: barrier- and loop-heavy, most of
    * their jobs run while the frame is built. */
  val Iterative = Seq("pagerank_converged", "ret_bm25_compacted", "sim_kmeans_cells")

  private val IndexRoot = new File("target/graft_index")

  private def indexDirs(): Set[String] =
    Option(IndexRoot.listFiles()).toSeq.flatten.filter(_.isDirectory).map(_.getName).toSet

  private def reap(c: Ctx): Unit = c.span("reap") {
    Materialize.reapAll(c.spark)
    c.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  def olap(c: Ctx, queries: Seq[String]): Unit = {
    val spark = c.spark
    val fns = SparkEntry.queries
    val order = new PassOrder(queries, c.seed)
    def action(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    def runOnce(q: String, writeResult: Boolean): Double = {
      val s = c.timed {
        c.attempt(s"set-up $q") {
          val df = fns(q)(spark, c.sf)
          if (writeResult) df.coalesce(1).write.mode("overwrite").parquet(s"results/$q")
          else action(df)
        }
        reap(c)
      }._1 / 1e9
      c.samples += s"set-up $q" -> s * 1e3
      s
    }

    // A first pass runs the whole mix in the cold process from an empty
    // index cache, untimed: it writes each result for the oracle
    // comparison and finds the queries that populate the cache. Set-up is
    // then timed twice, alike: each rep empties the cache and runs the
    // whole mix with a noop write, so every query has run three times
    // before the timed passes.
    c.deleteTree(IndexRoot)
    val indexed = order.next().filter { q =>
      val before = indexDirs()
      runOnce(q, writeResult = true)
      indexDirs() != before
    }.toSet
    val reps = (1 to 2).map { _ =>
      c.deleteTree(IndexRoot)
      order.next().map(q => q -> runOnce(q, writeResult = false))
    }
    c.setupDone(reps.map(_.map(_._2).sum))
    c.oracleQueries = queries.filter(SparkEntry.oracleSql.contains)

    val lat = mutable.ArrayBuffer[Double]()
    val passes = mutable.ArrayBuffer[Double]()
    val perQuery = mutable.Map[String, (Int, Int, Double)]() // traced runs, build jobs, build s
    var lookups = 0
    var builds = 0
    // whole passes only, so every query weighs the same in each run
    loop(c, atLeast = if (c.trace) 2 else 1) { pass =>
      val traced = c.trace && pass % 2 == 1
      val busy0 = c.busy
      for (q <- order.next()) {
        val before = indexDirs()
        c.attempt(q)(c.operation(traced) {
          val df = c.span("query.build")(fns(q)(spark, c.sf))
          c.span("query.action")(action(df))
          reap(c)
        }).foreach { case (ns, _) =>
          lat += ns / 1e6
          c.samples += q -> ns / 1e6
          for (t <- c.tracer if traced) {
            val op = t.harnessSpans.last.op // the query's root span closes last
            def build(s: Stats.Span) = s.op == op && s.name == "query.build"
            val (n, jobs, secs) = perQuery.getOrElse(q, (0, 0, 0.0))
            perQuery(q) = (n + 1, jobs + t.counts(build).jobs,
              secs + t.harnessSpans.filter(build).map(_.dur).sum / 1e9)
          }
        }
        if (indexed.contains(q)) lookups += 1
        if (indexDirs() != before) builds += 1
      }
      passes += (c.busy - busy0) / 1e9
    }

    c.layers("olap.pass_s") = Stats.median(passes.toSeq)
    c.layers("index.builds") = builds
    c.layers("index.build_s") =
      if (indexed.isEmpty) 0.0 else Stats.median(reps.map(_.filter(r => indexed(r._1)).map(_._2).sum))
    c.layers("index.hit_ratio") =
      if (lookups == 0) 0.0 else (lookups - builds).toDouble / lookups
    for (q <- queries; (n, jobs, secs) <- perQuery.get(q)) {
      c.layers(s"build.jobs.$q") = jobs.toDouble / n
      c.layers(s"build.s.$q") = secs / n
    }
    c.finish(lat.toSeq, lat.size / (lat.sum / 1e3))
    zeroRest(c)
  }
}
