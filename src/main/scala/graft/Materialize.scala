package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one eager barrier of `src/main`: every query that materializes a
  * frame — a one-shot pipeline stage (`df.transform(Materialize(_))`)
  * or a superstep loop — does it here, so the fault-tolerance trade is
  * made once, by [[ModeKey]], instead of per call site. A barrier earns
  * its place only when its frame has two or more consumers along the
  * derivations that reach an action (or when a loop or a release needs
  * the frame computed now). A frame with one consumer stays lazy unless
  * `graft.Profile` measures the barrier faster; such a site says so in
  * one line.
  * `MaterializeSpec` fails on any raw `localCheckpoint`/`checkpoint`
  * call outside this file. The superstep loops run on [[iterate]]:
  * converged PageRank, label-propagation connected components,
  * weighted SSSP, the kNN k-core peel, k-means
  * (`sim_kmeans_cells`), the PQ codebooks and BPE training
  * (`text_bpe_train` and the persisted tokenizer's build). The loops
  * that call [[apply]]/[[release]] by hand are star contraction, BFS and
  * HITS (a second barrier inside each round) and the eigvec power
  * iteration (it materializes after every 8th step, not before a probe).
  *
  *   - `local` (default): `localCheckpoint()` — blocks live on
  *     executor-local disk with TRUNCATED, unrecomputable lineage. On
  *     local[N] (one JVM) this is strictly the right call: cheapest
  *     materialization, keeps AQE stats, and "executor loss" means the
  *     whole process died anyway. On a preemptible multi-executor
  *     cluster, ONE lost executor fails the query — hence the switch.
  *   - `persist`: `persist(MEMORY_AND_DISK)` + an eager count — lineage
  *     is KEPT, so a lost executor's blocks recompute from the parent
  *     stages. The cost is that plans grow with iteration depth (no
  *     truncation barrier) and cached entries must be released
  *     explicitly — see the lifecycle contract below.
  *   - `reliable`: `checkpoint()` to the cluster filesystem
  *     (`spark.graft.checkpointDir`, or the session's checkpoint dir if
  *     already set) — lineage truncated AND recoverable, the classic
  *     iterative-engine posture for 100-round loops on preemptible
  *     fleets, at the price of an HDFS/object-store write per round.
  *     On a NON-local master the dir key is REQUIRED: the
  *     `java.io.tmpdir` fallback is node-local, so executor-written
  *     partition files would be invisible to recovery — apply() fails
  *     fast rather than silently un-reliable. Per-round checkpoint
  *     files accumulate for the session's lifetime unless the context
  *     was started with
  *     `spark.cleaner.referenceTracking.cleanCheckpoints=true` (a
  *     start-time SparkConf setting), which GCs files of dropped RDDs.
  *
  * All three modes are EAGER (the frame is computed before apply()
  * returns) and produce bit-identical results — pinned by
  * `MaterializeSpec`, which runs iterative families and one-shot
  * queries under each mode and compares collected bits. Mode is read
  * per-call from `spark.graft.materialize`, so a caller can flip it at
  * runtime without rebuilding anything (release/reap act on what
  * apply() actually did, not on the conf at release time — flipping the
  * mode between the two calls cannot leak).
  *
  * == persist-mode lifecycle contract ==
  * Spark's CacheManager holds STRONG references to cached plans until
  * an explicit unpersist, so dropped frames are never reclaimed by GC.
  * The contract is therefore explicit and two-level:
  *   1. [[iterate]] releases each superseded round's frame as soon as
  *      the next round is materialized, and the hand-rolled loops
  *      [[release]] theirs the same way (bounds WITHIN-query growth to
  *      the live frontier), and
  *   2. the mains call [[Session.reap]] (which runs [[reapAll]])
  *      once a query's result has been written/consumed (bounds
  *      ACROSS-query growth to zero).
  * A long-lived session that embeds the library directly owns step 2:
  * without a reap it retains O(frames-per-query) MEMORY_AND_DISK
  * entries per invocation (each loop's final frame plus never-released
  * inputs, plus in-round barriers a step makes itself, such as the
  * k-core keep set). Releasing is always SAFE in this mode — lineage
  * is kept, so a released frame consumed later recomputes from its
  * parents.
  *
  * == The one exception ==
  * `PageRank.prepared`'s edge table is `repartition(src).persist()`,
  * not a barrier from here: every mode above hands back a frame with no
  * output partitioning (a checkpoint's RDD loses it under AQE, and the
  * persist mode rebases onto a bare RDD), while the cached plan keeps
  * its hash partitioning on `src`, so each round's edges⋈ranks join
  * reads the edge side in place instead of re-shuffling it.
  */
object Materialize {

  /** Session conf key selecting the mode: local | persist | reliable. */
  val ModeKey = "spark.graft.materialize"

  /** Cluster-FS directory for `reliable` mode (only consulted when the
    * SparkContext has no checkpoint dir set yet; REQUIRED off-local). */
  val DirKey = "spark.graft.checkpointDir"

  sealed trait Mode
  case object Local extends Mode
  case object Persisted extends Mode
  case object Reliable extends Mode

  def mode(s: SparkSession): Mode =
    s.conf.get(ModeKey, "local") match {
      case "local"    => Local
      case "persist"  => Persisted
      case "reliable" => Reliable
      case other => throw new IllegalArgumentException(
        s"$ModeKey=$other (expected local | persist | reliable)")
    }

  /** persist-mode bookkeeping: the plan-collapsed frame we hand back →
    * the persisted frame actually holding blocks, so [[release]] /
    * [[reapAll]] can unpersist the right thing. Strong identity keys on
    * purpose: the CacheManager itself pins the cached plan until
    * unpersist, so weak keys could never reclaim anything — the
    * lifecycle is the explicit release/reap contract in the scaladoc. */
  private val backing =
    new java.util.IdentityHashMap[DataFrame, DataFrame]()

  /** Eagerly materialize `df` under the configured mode. */
  def apply(df: DataFrame): DataFrame = mode(df.sparkSession) match {
    case Local => df.localCheckpoint()
    case Persisted =>
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count() // force now — same eagerness contract as the other modes
      // Rebase onto the persisted RDD: persist alone keeps the FULL
      // logical plan, and an iterative loop's plan then grows with
      // iteration count (an O(iters²) explain string OOMed the 60-round
      // PageRank in testing). createDataFrame(p.rdd, schema) truncates
      // the SQL plan while the RDD lineage underneath stays recomputable
      // — block loss re-runs the persisted plan's DAG, which is the
      // whole point of this mode.
      val collapsed = df.sparkSession.createDataFrame(p.rdd, p.schema)
      backing.synchronized { backing.put(collapsed, p) }
      collapsed
    case Reliable =>
      val sc = df.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty) {
        val dir = df.sparkSession.conf.getOption(DirKey)
        if (dir.isEmpty && !sc.isLocal)
          throw new IllegalStateException(
            s"$ModeKey=reliable on master '${sc.master}' requires " +
              s"$DirKey: the java.io.tmpdir fallback is node-local, so " +
              "executor-written checkpoint files would be invisible to " +
              "recovery — the 'reliable' posture would silently not be")
        sc.setCheckpointDir(dir.getOrElse(
          s"${System.getProperty("java.io.tmpdir")}/graft-checkpoints"))
      }
      df.checkpoint()
  }

  /** The superstep loop: materialize `init`, then run `step` for at most
    * `maxRounds` rounds. Round `i` is a probe round when
    * `i % probeEvery == 0` or `i == maxRounds`; between probes the steps
    * stay lazy. A probe round materializes the current state (unless it
    * already is), materializes `next = step(cur)`, and stops the loop
    * when `converged(cur, next)` — both frames are materialized when it
    * runs. Each superseded materialized frame is [[release]]d as soon as
    * its successor exists; the final one stays for [[Session.reap]].
    * Returns the final (materialized) state and the rounds run,
    * including the one that converged. Fixed-count loops pass
    * `(_, _) => false`; signatures carried across rounds live in the
    * caller's `converged` closure. */
  def iterate(init: DataFrame, maxRounds: Int, probeEvery: Int = 1)(
      step: DataFrame => DataFrame)(
      converged: (DataFrame, DataFrame) => Boolean): (DataFrame, Int) = {
    var cur = apply(init)
    var mat = cur // the newest materialized frame; `cur` is lazy over it
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      rounds += 1
      if (rounds % probeEvery == 0 || rounds == maxRounds) {
        if (!(cur eq mat)) { cur = apply(cur); release(mat); mat = cur }
        val next = apply(step(cur))
        done = converged(cur, next)
        release(mat)
        mat = next
        cur = next
      } else cur = step(cur)
    }
    (cur, rounds)
  }

  /** Release a frame previously materialized by [[apply]] once the loop
    * has replaced it. MEMBERSHIP-based, not mode-based: it acts iff
    * apply() persisted this exact frame, so flipping [[ModeKey]] between
    * apply() and release() cannot turn the release into a silent no-op
    * that leaks the persisted blocks. No-op (and safe) on checkpointed
    * or never-materialized frames. */
  def release(df: DataFrame): Unit = {
    val p = backing.synchronized { backing.remove(df) }
    if (p != null) p.unpersist(blocking = false)
  }

  /** Unpin EVERY frame [[apply]] persisted for session `s` — the
    * per-query reap the drivers run once a query's result has been
    * consumed (step 2 of the lifecycle contract). Returns the number of
    * frames released. Safe at any time in persist mode: lineage is
    * kept, so a still-referenced frame recomputes on next use instead
    * of failing. */
  def reapAll(s: SparkSession): Int = {
    val mine = backing.synchronized {
      val it = backing.entrySet().iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.sparkSession eq s) { buf += e.getValue; it.remove() }
        // entries of a STOPPED session can never be released by their
        // owner again (and their blocks died with the session) — drop
        // the registry references so a JVM that recycles sessions
        // doesn't pin dead plan trees for its lifetime
        else if (e.getValue.sparkSession.sparkContext.isStopped) it.remove()
      }
      buf
    }
    mine.foreach(_.unpersist(blocking = false))
    mine.size
  }
}
