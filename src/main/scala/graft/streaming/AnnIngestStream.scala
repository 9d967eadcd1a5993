package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.sim.Dot64
import graft.sim.SimilarityQueries.{PqM, PqSubDim}

/** A vector arriving at the index. */
case class VecIngest(vec_id: Long, embedding: Seq[Float])

/** One encoded (vector, subspace) row — the shape of the persisted
  * codes table, ready to append. */
case class IngestCode(vec_id: Long, sub: Int, cluster: Long, cell: Long)

/** Streaming twin of [[graft.sim.IvfPqIndex.deltaCodes]]: arriving
  * vectors are assigned to their coarse cell and PQ-encoded against the
  * index's FROZEN quantizers as they stream in — the continuous-ingest
  * half of the build/serve split. The operation is stateless per vector
  * (the quantizers are read-only), so it runs as a flatMap with the
  * centroids/codebooks shipped in the task closure — ~10 KB for this
  * index geometry, a broadcast at production sizes — with no shuffle
  * and no keyed state to checkpoint.
  *
  * Parity contract (spec-enforced with ==, not ≈): every double op
  * replicates the batch path's exact IEEE sequence — [[graft.sim.Dot64]]'s
  * strict left fold for dot products, `(dvv − 2·dvc) + dcc` for the
  * squared distance, cosine as `dab / (√daa · √dbb)` — and the
  * tie-breaks (max cos → smallest cell; min dist → smallest cluster)
  * are reproduced by strict-inequality scans in ascending key order.
  */
object AnnIngestStream {

  /** The frozen quantizers, collected once from the persisted index
    * (cells ascending, (sub, cluster) ascending — scan order IS the
    * tie-break). */
  final case class Quantizers(cells: Array[(Long, Array[Float])],
      codebooks: Array[((Int, Long), Array[Double])]) extends Serializable

  def loadQuantizers(s: SparkSession, indexPath: String): Quantizers = {
    val cents = s.read.parquet(s"$indexPath/centroids").collect()
      .map(r => r.getAs[Long]("cell") ->
        r.getAs[Seq[Float]]("c_emb").toArray)
      .sortBy(_._1)
    val cbs = s.read.parquet(s"$indexPath/codebooks").collect()
      .map(r => (r.getAs[Int]("sub"), r.getAs[Long]("cluster")) ->
        r.getAs[Seq[Double]]("c").toArray)
      .sortBy(_._1)
    Quantizers(cents, cbs)
  }

  /** Encode one arriving vector: coarse cell (max cosine, ties to the
    * smaller cell) + one PQ code per subspace (min squared distance,
    * ties to the smaller cluster). */
  def encode(q: Quantizers)(v: VecIngest): Seq[IngestCode] = {
    val emb = v.embedding.toArray
    // cell: argmax cosine — ascending scan with strict > keeps the
    // smallest cell among ties, matching ORDER BY cos DESC, cell
    var bestCell = -1L
    var bestCos = Double.NegativeInfinity
    for ((cell, c) <- q.cells) {
      val cos = Dot64.dot(emb, c) /
        (math.sqrt(Dot64.dot(emb, emb)) * math.sqrt(Dot64.dot(c, c)))
      if (cos > bestCos) { bestCos = cos; bestCell = cell }
    }
    (0 until PqM).map { j =>
      val slice = java.util.Arrays.copyOfRange(
        emb, j * PqSubDim, (j + 1) * PqSubDim)
      val dvv = Dot64.dot(slice, slice)
      // cluster: argmin (dist, cluster) — ascending scan, strict <
      var bestCluster = -1L
      var bestDist = Double.PositiveInfinity
      for (((sub, cluster), c) <- q.codebooks if sub == j) {
        val d = (dvv - 2.0 * Dot64.dot(slice, c)) + Dot64.dot(c, c)
        if (d < bestDist) { bestDist = d; bestCluster = cluster }
      }
      IngestCode(v.vec_id, j, bestCluster, bestCell)
    }
  }

  /** The ingest stream: stateless flatMap, no shuffle, no keyed state —
    * works identically over a streaming or batch Dataset. */
  def codes(vecs: Dataset[VecIngest], q: Quantizers): Dataset[IngestCode] = {
    import vecs.sparkSession.implicits._
    vecs.flatMap(encode(q))
  }
}
