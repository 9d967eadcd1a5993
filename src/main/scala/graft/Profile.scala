package graft
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Optimization-round measurement tool (guide §1/§7.1): run the named
  * queries through the noop sink with a SparkListener attached and print
  * a per-query breakdown — job count, stage count, per-stage wall time,
  * task count, and shuffle read/write bytes — so the expensive piece of
  * a multi-job query is identified empirically before anything changes.
  *
  * Usage: runMain graft.Profile <sfDir> <name1,name2,...> [repeats]
  */
object Profile {
  final case class StageRow(jobId: Int, stageId: Int, name: String,
    ms: Long, tasks: Int, shufRead: Long, shufWrite: Long, input: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val repeats = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = Session()

    val stages = mutable.ArrayBuffer[StageRow]()
    val stageToJob = mutable.Map[Int, Int]()
    var collecting = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        j.stageIds.foreach(s => stageToJob(s) = j.jobId)
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (collecting) {
          val si = sc.stageInfo
          val ms = (for {a <- si.completionTime; b <- si.submissionTime}
            yield a - b).getOrElse(-1L)
          val m = si.taskMetrics
          stages += StageRow(stageToJob.getOrElse(si.stageId, -1),
            si.stageId, si.name.takeWhile(_ != '\n').take(60), ms,
            si.numTasks, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead)
        }
    })

    Session.warm(spark, sfDir)

    for (name <- names; fn <- SparkEntry.queries.get(name)) {
      val times = (1 to repeats).map { i =>
        Session.reap(spark)
        stages.clear(); stageToJob.clear()
        collecting = i == repeats // collect stage detail on the warm run
        spark.sparkContext.setJobDescription(name)
        val t0 = System.nanoTime()
        Session.consume(fn(spark, sfDir))
        val t = (System.nanoTime() - t0) / 1e9
        // drain the async listener bus before turning collection off —
        // without this, tail stages whose completion events are still
        // queued would be silently missing from the breakdown
        org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(
          spark.sparkContext)
        collecting = false
        t
      }
      println(f"== $name  samples=${times.map(t => f"$t%.3f").mkString(",")}")
      val rows = stages.sortBy(s => (s.jobId, s.stageId))
      val totalMs = rows.map(_.ms).sum
      println(f"   jobs=${rows.map(_.jobId).distinct.size} stages=${rows.size} sumStageMs=$totalMs")
      rows.foreach { r =>
        println(f"   job=${r.jobId}%3d stage=${r.stageId}%4d ${r.ms}%6d ms tasks=${r.tasks}%3d " +
          f"sr=${r.shufRead}%9d sw=${r.shufWrite}%9d in=${r.input}%9d  ${r.name}")
      }
    }
    spark.stop()
  }
}
