package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.dedup.DedupQueries
import graft.sim.Dot64
import graft.sim.SimilarityQueries

/** One vector arriving at the kNN-graph index: the 8-bit LSH bucket it
  * lands in (computed upstream by the same [[SimilarityQueries.bucketed]]
  * hyperplanes as the batch path), its label, and the raw embedding. */
case class VecArrival(bucket: Long, vecId: Long, label: Long,
    embedding: Array[Float])

/** A recomputed-bucket emission. `gen` is the bucket's per-recompute
  * generation counter — the consumer keeps each bucket's max-gen rows,
  * exactly mirroring the batch delta rule "a touched bucket's pair set
  * is replaced whole". `alive = false` rows are generation tombstones: a
  * recompute that produced ZERO pairs (bucket under 2 members or pushed
  * past the posting cap) must still supersede the previous generation,
  * or a cap flip would leave stale pairs visible — the batch path gets
  * this for free because it recomputes touched buckets from scratch. */
case class BucketPairEmit(bucket: Long, gen: Long, alive: Boolean,
    vec_id: Long, label: Long, nbr: Long, nbr_label: Long, cos_sim: Double)

/** Streaming twin of the persisted kNN-graph index's incremental path
  * ([[graft.sim.KnnGraphIndex.pairsWithDelta]]): the graph's bucket
  * membership lives as KEYED STREAMING STATE — one member list per LSH
  * bucket, hash-partitioned across executors, checkpoint-recoverable —
  * and each micro-batch's arrivals trigger an EXACT recompute of exactly
  * the buckets they land in. Untouched buckets emit nothing (their last
  * generation stands), touched buckets emit their full new pair set (or
  * a tombstone when the recompute is empty) — so "latest generation per
  * bucket" is bit-identical to the batch rule "untouched base pairs ∪
  * whole-bucket recompute", including cap flips.
  *
  * Pair scoring inside the state function mirrors the batch arithmetic
  * exactly: cos = dot64(a, b) / (‖a‖·‖b‖) with the strict-left-fold
  * double dot of [[graft.sim.Dot64]] and `math.sqrt` norms — the same
  * executor-side mirror MmrEquivalenceSpec pins for MMR — so emitted
  * `cos_sim` doubles are bit-equal to [[SimilarityQueries.pairsFrom]]'s.
  *
  * State size per bucket is the member list; the
  * [[DedupQueries.MaxPosting]] cap bounds the pairs EMITTED, not the
  * members RETAINED (a bucket past the cap must keep its membership —
  * the batch path still sees those rows in `members/`, and a later
  * arrival keeps it over-cap). At 100 TB the plane count grows with
  * log N, so per-bucket membership stays ~constant while the bucket
  * space grows — the same scale argument as the persisted index.
  * Replays from an at-least-once source are absorbed by vecId dedup on
  * registration, like every keyed-state twin here.
  */
object KnnGraphStream {

  val MaxPosting: Int = DedupQueries.MaxPosting

  /** Bucket state: accumulated members plus the generation counter. */
  case class BucketState(gen: Long,
      members: List[(Long, Long, Array[Float])])

  private def fn(cap: Int)(bucket: Long, rows: Iterator[VecArrival],
      state: GroupState[BucketState]): Iterator[BucketPairEmit] = {
    val prev = state.getOption.getOrElse(BucketState(0L, Nil))
    // vecId-dedup absorbs at-least-once replays; arrival order within a
    // batch is irrelevant because the recompute is over the SET
    val known = prev.members.map(_._1).toSet
    val fresh = rows.toList.filter(r => !known.contains(r.vecId))
      .groupBy(_.vecId).values.map(_.head)
      .map(r => (r.vecId, r.label, r.embedding))
    // a replay-only micro-batch (every vecId already registered) leaves
    // the bucket untouched: no generation bump, no re-emission — the
    // standing generation already reflects the membership. Without this
    // an at-least-once source replaying a hot bucket re-emits its full
    // O(members²) pair set per replay with zero change to the serving
    // view. (state.exists guards the first-ever batch: with no prior
    // state `known` is empty, so fresh can only be empty if rows was.)
    if (fresh.isEmpty && state.exists) Iterator.empty
    else {
      val members = prev.members ++ fresh
      val gen = prev.gen + 1
      state.update(BucketState(gen, members))
      // exact whole-bucket recompute, batch cap semantics: only bucket
      // sizes in [2, MaxPosting] yield pairs; both directions, no diagonal
      val out: List[BucketPairEmit] =
        if (members.size >= 2 && members.size <= cap) {
          val nrm = members.map { case (id, _, e) =>
            id -> math.sqrt(Dot64.dot(e, e))
          }.toMap
          for {
            (ia, la, ea) <- members
            (ib, lb, eb) <- members
            if ia != ib
          } yield BucketPairEmit(bucket, gen, alive = true, ia, la, ib, lb,
            Dot64.dot(ea, eb) / (nrm(ia) * nrm(ib)))
        } else
          List(BucketPairEmit(bucket, gen, alive = false, -1L, -1L, -1L,
            -1L, 0.0))
      out.iterator
    }
  }

  /** Per-touched-bucket recomputed pair generations. The serving view is
    * "max gen per bucket, alive rows only" — see [[BucketPairEmit]].
    * `cap` defaults to the batch [[MaxPosting]]; specs shrink it to
    * exercise the cap-flip tombstone without a 1000-member bucket. */
  def bucketGenerations(rows: Dataset[VecArrival],
      cap: Int = MaxPosting): Dataset[BucketPairEmit] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn(cap))
  }
}
