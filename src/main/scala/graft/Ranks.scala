package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed total-order ranking — the scale-safe replacement for
  * `row_number().over(Window.orderBy(...))`, whose physical plan is a
  * SINGLE-partition WindowExec: every input row moves to one task, which
  * sorts the whole table alone. Correct at sf0.1; a one-task sort over
  * 10⁹ users / docs at 100 TB.
  *
  * [[rowNumber]] is the classic two-stage rank instead, with zero
  * full-data exchanges beyond the sort itself:
  *   1. `repartitionByRange` + `sortWithinPartitions` on the sort
  *      order — a PARALLEL range-partitioned sort; partition i's rows
  *      all precede partition i+1's, so global position = position
  *      within partition + rows in earlier partitions;
  *   2. `monotonically_increasing_id()` captured IN the sorted stage
  *      and materialized: the id encodes (partition << 33) + row
  *      offset in partition order, so partition id AND the local rank
  *      are bit operations on one column — no window, no second
  *      shuffle of the data;
  *   3. per-partition row counts (a map-side-combined,
  *      ≤ `spark.sql.shuffle.partitions`-row aggregate) folded into
  *      offsets on the driver — the repo's documented bounded-collect
  *      idiom — and inlined back as one FLAT CaseWhen (width O(P),
  *      depth O(1): production partition counts must not nest the
  *      expression tree).
  *
  * The sort columns must form a STRICT total order (include a unique
  * tiebreak): then the produced rank is bit-identical to the global
  * window's `row_number`, for any range-boundary sampling, because each
  * row's set of predecessors is order-determined, not boundary-
  * determined. Pinned by RanksSpec (bit-equality with the global
  * window, plan free of unpartitioned WindowExec) and the three board
  * queries' DuckDB oracles.
  */
object Ranks {

  private val MidCol = "__graft_mid"

  /** Global 1-based `row_number` over `sortCols` as column `out`
    * (LongType). `sortCols` must be a strict total order. */
  def rowNumber(df: DataFrame, out: String, sortCols: Column*): DataFrame =
    rowNumberAndCount(df, out, sortCols: _*)._1

  /** [[rowNumber]] plus the input's total row count — already known
    * exactly from the offset fold, so callers that also need n (e.g.
    * an ntile derivation) don't schedule a second counting job. */
  def rowNumberAndCount(df: DataFrame, out: String,
      sortCols: Column*): (DataFrame, Long) = {
    require(!df.columns.contains(MidCol) && !df.columns.contains(out),
      s"input must not already carry '$MidCol' or '$out'")
    val parts = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    // the id must be minted INSIDE the sorted stage and then frozen:
    // monotonically_increasing_id is (partitionId << 33) + row-offset
    // in partition order, and sortWithinPartitions fixes that order to
    // the range-partitioned total order. The checkpoint materializes
    // the assignment so every consumer sees one layout.
    val ranged = df.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn(MidCol, monotonically_increasing_id())
      .transform(Materialize(_))
    val pidOf = shiftright(col(MidCol), 33)
    // bounded collect: ≤ `parts` rows, map-side combined
    val counts = ranged.groupBy(pidOf.as("pid")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (pid, n) =>
      val o = acc; acc += n; (pid, o)
    }
    // offset-of-partition as ONE flat CaseWhen — when(...).when(...)
    // appends branches to a single node; a fold through .otherwise()
    // would nest P-deep and overflow Catalyst's recursion at
    // production partition counts
    val offsetOf = offsets.toList match {
      case Nil => lit(0L)
      case (p0, o0) :: rest =>
        rest.foldLeft(when(pidOf === p0, lit(o0))) {
          case (e, (pid, o)) => e.when(pidOf === pid, lit(o))
        }.otherwise(lit(0L))
    }
    // local rank = the id's low 33 bits + 1; global = offset + local
    val ranked = ranged
      .withColumn(out,
        offsetOf + (col(MidCol) - shiftleft(pidOf, 33)) + lit(1L))
      .drop(MidCol)
    (ranked, acc)
  }

  /** SQL-standard `ntile(k)` computed from a [[rowNumber]] rank and the
    * total row count `n`: with base = n div k and rem = n mod k, the
    * first rem buckets hold base+1 rows and the rest base — exactly
    * Spark's and DuckDB's NTile assignment, so quartiles derived this
    * way are bit-equal to `ntile(k).over(Window.orderBy(...))` without
    * the single-partition window. All integer arithmetic; the
    * `greatest` guards the degenerate n < k case (where the otherwise-
    * branch is never selected but must not divide by zero). */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    val kL = lit(k.toLong)
    val base = call_function("div", n, kL)
    val rem = pmod(n, kL)
    val cut = rem * (base + lit(1L))
    when(rank <= cut,
      call_function("div", rank - lit(1L), base + lit(1L)) + lit(1L))
      .otherwise(rem + lit(1L) +
        call_function("div", rank - cut - lit(1L), greatest(base, lit(1L))))
  }
}
