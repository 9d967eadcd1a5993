package graft

import org.apache.spark.sql.{Column, DataFrame}

/** Parallelism repair for unsplittable input, the stage shape AQE
  * mis-sizes (guide §2.5): a parquet file with one row group scans as
  * ONE task, so a compute-heavy derivation fused into the scan stage
  * (shingling, tokenizing, codec decode) runs serially while the rest of
  * the machine idles. The guide's prescription is "repartition
  * immediately after the read". [[spread]] does that, gated on the
  * actual scan partition count so it is a no-op on any corpus big enough
  * to split naturally — at 100 TB the gate never fires and no shuffle is
  * added. The target count comes from the session's
  * `defaultParallelism`, never a constant, so local[N] and a 1000-core
  * cluster each get their own right answer.
  *
  * [[together]] overlaps a query's independent eager legs.
  */
object Par {

  /** Run independent eager legs (each a [[Materialize]] barrier or an
    * index build) of ONE query as concurrent Spark jobs
    * (guide §2.6): actions are only sequential because the driver calls
    * them sequentially, and a composition query whose legs share no
    * lineage wastes the cluster's tail capacity running them one after
    * another. Spark's scheduler is explicitly multi-job-safe; FIFO
    * back-fills the earlier leg's straggler tail with the next leg's
    * tasks. Results are position-stable and the computation per leg is
    * unchanged — only the wall-clock overlap differs. Any leg failure
    * rethrows after all legs settle. */
  def together[A](thunks: (() => A)*): Seq[A] = {
    val threads = thunks.map { t =>
      val box = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, A]]()
      val th = new Thread(() =>
        box.set(try Right(t()) catch { case e: Throwable => Left(e) }))
      th.setDaemon(true)
      th.start()
      (th, box)
    }
    // join ALL legs before inspecting any result: throwing at the first
    // failed leg would unwind the caller while later daemon threads are
    // still running Spark jobs (Materialize barriers), racing the
    // driver's Materialize.reapAll/unpersist and contaminating the next
    // query's timing — the documented "rethrows after all legs settle"
    // contract, now actually implemented that way.
    threads.foreach(_._1.join())
    threads.foreach { case (_, box) =>
      box.get() match {
        case Left(e) => throw e
        case _       => ()
      }
    }
    threads.map(_._2.get().toOption.get)
  }

  /** Repartition an unsplittably-read frame before compute-heavy
    * per-row derivation, keyed (deterministic under retry — guide §2.5)
    * and gated: if the scan already carries at least the session's
    * parallelism (any real corpus), this is the identity and costs no
    * shuffle. `df` must be a raw scan (no shuffle in its plan) so that
    * `rdd.getNumPartitions` is a pure planning question. */
  def spread(df: DataFrame, key: Column): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p, key) else df
  }
}
