package graftbench

import java.util.SplittableRandom

import graft.streaming.KvOp

/** Seeded input generators. Everything a workload sends to the engine is
  * drawn here from the run's seed, so one seed always yields the same
  * GETs, write batches and query order. The engine only ever
  * sees the generated values.
  */
object Gen {

  /** A seeded permutation of `0 until n` (Fisher-Yates). */
  def permutation(n: Int, rnd: SplittableRandom): Array[Int] = {
    val p = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }

  /** The fixture's op mix: how many ops of each class `KvLog.log` holds.
    * `putNew` is a key's first PUT, `putEmpty` a later PUT of the empty
    * value, `putUpdate` any other later PUT. */
  final case class Mix(putNew: Long, putUpdate: Long, putEmpty: Long,
      delete: Long, get: Long) {
    def writes: Long = putNew + putUpdate + putEmpty + delete

    /** Whole op counts of each class for a batch of `batchWrites` writes,
      * in the fixture's proportions (largest remainder), and the number
      * of GETs that go with them at the fixture's read/write ratio:
      * (putNew, putUpdate, putEmpty, delete, get). */
    def perBatch(batchWrites: Int): (Int, Int, Int, Int, Int) = {
      val shares = Seq(putNew, putUpdate, putEmpty, delete).map(_.toDouble * batchWrites / writes)
      val floors = shares.map(_.toInt).toArray
      val byRemainder = shares.indices.sortBy(i => -(shares(i) - floors(i)))
      byRemainder.take(batchWrites - floors.sum).foreach(i => floors(i) += 1)
      (floors(0), floors(1), floors(2), floors(3),
        math.round(get.toDouble * batchWrites / writes).toInt)
    }
  }

  /** One kv_ingest cycle: `gets`, the GETs the client sends first, then
    * `ops`, one batch of writes, and `check`, the write whose key is read
    * back once the batch is visible. */
  final case class Batch(gets: Vector[String], ops: Vector[KvOp], check: Int)

  /** kv_ingest cycles in the fixture's op mix. Every batch holds
    * `batchWrites` writes with sequence numbers continuing from
    * `firstSeq`. New keys never existed; later PUTs and DELETEs pick a
    * key of the fixture's keyspace (`existing`) uniformly, as the
    * fixture's own do; GETs pick a fixture GET (`getKeys`, one entry per
    * GET), which carries its skew. */
  final class IngestStream(mix: Mix, existing: IndexedSeq[String],
      getKeys: IndexedSeq[String], firstSeq: Long, batchWrites: Int,
      seed: Long) extends Iterator[Batch] {
    private val rnd = new SplittableRandom(seed)
    private val (nNew, nUpdate, nEmpty, nDelete, nGet) = mix.perBatch(batchWrites)
    private var lastSeq = firstSeq
    private var fresh = 0L
    private def pick(keys: IndexedSeq[String]) = keys(rnd.nextInt(keys.size))
    def hasNext: Boolean = true
    def next(): Batch = {
      val kinds = Vector.fill(nNew)(0) ++ Vector.fill(nUpdate)(1) ++
        Vector.fill(nEmpty)(2) ++ Vector.fill(nDelete)(3)
      val ops = permutation(kinds.size, rnd).toVector.map(kinds).map { k =>
        lastSeq += 1
        k match {
          case 0 =>
            fresh += 1
            KvOp(lastSeq, "put", s"ingest:$fresh", Some(s"v$lastSeq"))
          case 1 => KvOp(lastSeq, "put", pick(existing), Some(s"v$lastSeq"))
          case 2 => KvOp(lastSeq, "put", pick(existing), Some(""))
          case _ => KvOp(lastSeq, "delete", pick(existing), None)
        }
      }
      val gets = Vector.fill(nGet)(pick(getKeys))
      Batch(gets, ops, rnd.nextInt(ops.size))
    }
  }

  /** Query order of every pass over an analytic mix. */
  final class PassOrder(queries: Seq[String], seed: Long)
      extends Iterator[Seq[String]] {
    private val rnd = new SplittableRandom(seed)
    def hasNext: Boolean = true
    def next(): Seq[String] = permutation(queries.size, rnd).toSeq.map(queries)
  }
}
