package graft.keyspace

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.hash.Fnv1a32.shardId

/** Physical layout for the keyspace at scale: parquet partitioned by
  * `shard_id`, so a point GET prunes to one partition directory before a
  * single row is read — the exact analog of the coordinator routing a key
  * to one node (`cmd/coordinator/main.go:564-592`) instead of broadcasting
  * to all of them.
  *
  * `shard_id = pmod(fnv1a32(key), 4)` is computed from a literal at query
  * time; the expression is foldable, so Catalyst constant-folds it and the
  * partition filter arrives at the file index as a literal — static
  * partition pruning, no data-dependent planning needed. At 100 TB with
  * more shards (the shard count is a layout parameter, not a semantic),
  * the same layout bounds every point op to one page range of one file.
  *
  * The engine owns the layout's schema: the writers project to it and the
  * readers declare it, so a GET or a listing plans without reading a
  * parquet footer (schema inference is a Spark job of its own, paid on
  * every call) and what is read can never drift from what was written.
  */
object PartitionedLayout {

  /** The hash layout's columns; `shard_id` is BIGINT, as `shardId` makes it. */
  val Schema: StructType =
    StructType.fromDDL("key STRING, value STRING, shard_id BIGINT")

  /** The range layout's columns ([[writeRanged]], [[rangeScan]]); the
    * range id takes the place of the hash shard id. */
  val RangedSchema: StructType =
    StructType.fromDDL("key STRING, value STRING, range_id INT")

  private def project(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)

  /** Rows per parquet page in every layout written here. Parquet's column
    * index keeps each page's key min/max, so on a key-sorted file a
    * `key = k` read decodes one page range, at most this many rows.
    * Measured on the sf0.1 keyspace (148,514 keys, ~37K per shard):
    * 1,000-row pages read 1,000 rows per GET, against 18,702 with
    * parquet's default 20,000-row pages and the whole shard unsorted, and
    * the bytes stay within 1% of the unsorted layout's; 100-row pages
    * read 100 rows but add 23% to the bytes and did not make a GET
    * faster. A key bloom filter is not written: it made in-range misses
    * read 0 rows but tripled the layout's bytes, and a GET's time did not
    * move. */
  val PageRows = 1000

  /** The one sorted writer behind [[write]], [[writeRanged]],
    * [[compactFiles]] and [[writeZOrdered]]: one write task per `part`
    * value (`repartition` on it, so each task owns its whole directory),
    * rows sorted by `sortCol`, pages of at most [[PageRows]] rows and
    * files of at most `maxRecordsPerFile` rows (0: no limit). The sort is
    * on (`part`, `sortCol`), not `sortCol` alone: the file writer needs
    * its input sorted by the partition column, and a `sortCol`-only sort
    * gets a `part` sort planned on top of it that throws the `sortCol`
    * order away. Every kept relation of `path` is dropped before and
    * after the rewrite. */
  private def sortedWrite(df: DataFrame, part: String, path: String,
      sortCol: String = "key", maxRecordsPerFile: Long = 0): Unit = {
    forget(path)
    df.repartition(col(part)).sortWithinPartitions(part, sortCol)
      .write.mode("overwrite")
      .option("parquet.page.row.count.limit", PageRows.toLong)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(part).parquet(path)
    forget(path)
  }

  /** Write `state` as the hash layout at `path`: one parquet file per
    * shard directory, sorted by key, in pages of [[PageRows]] rows, so a
    * GET prunes to one directory at planning and to one page range of
    * its one file in the reader.
    *
    * The readers ([[pointGet]], [[listShard]], [[listPage]]) keep the
    * layout's relation per (session, path): the directory is listed and
    * its shards resolved by the first read, and later reads only filter
    * the kept frame. This writer drops the path's kept relations of every
    * session before and after it rewrites the path, so a read after a
    * write sees the new files. A layout rewritten by anything else is
    * not seen until [[forget]] drops its entries. Entries of a stopped
    * session are dropped on the next read, as
    * [[graft.Materialize.reapAll]] drops its registry's, so a JVM that
    * recycles sessions does not keep them. */
  def write(state: DataFrame, path: String): Unit =
    sortedWrite(project(state, Schema), "shard_id", path)

  /** The kept relations: (session, normalized path) → the layout as that
    * session reads it with [[Schema]]. Sessions compare by identity. */
  private val kept =
    scala.collection.mutable.HashMap.empty[(SparkSession, String), DataFrame]

  private def pathKey(path: String): String =
    new org.apache.hadoop.fs.Path(path).toString

  /** The hash layout at `path` as `spark` reads it, listed once and kept
    * until [[forget]] (see [[write]]). */
  private[keyspace] def relation(spark: SparkSession, path: String): DataFrame =
    kept.synchronized {
      kept.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
      kept.getOrElseUpdate((spark, pathKey(path)),
        spark.read.schema(Schema).parquet(path))
    }

  /** Drop every session's kept relation of `path`; the next read lists
    * the directory again. */
  def forget(path: String): Unit = kept.synchronized {
    val p = pathKey(path)
    kept.filterInPlace { case ((_, q), _) => q != p }
  }

  /** Point GET against the partitioned layout: shard filter (pruned at
    * planning) + key filter (pushed into the parquet reader). `numShards`
    * must match the layout's writer — it is a layout parameter, not a
    * semantic (the reference hard-codes 4, `cmd/coordinator/
    * main.go:219-232`). */
  def pointGet(spark: SparkSession, path: String, key: String,
      numShards: Int = 4): DataFrame =
    relation(spark, path)
      .filter(col("shard_id") === shardId(lit(key), numShards) &&
        col("key") === key)

  /** Per-shard listing: reads exactly one partition directory. */
  def listShard(spark: SparkSession, path: String, shard: Int): DataFrame =
    relation(spark, path)
      .filter(col("shard_id") === shard)
      .select("key")

  /** Keyset-paginated per-shard listing (the reference's own noted gap,
    * store.go:425-426): shard filter prunes to one directory at planning,
    * the cursor predicate pushes into the parquet reader, and the
    * sort+limit plans as TakeOrderedAndProject — per-partition top-n, no
    * global sort, O(page) work per call no matter the store size. */
  def listPage(spark: SparkSession, path: String, shard: Int,
      cursor: String, n: Int): DataFrame =
    relation(spark, path)
      .filter(col("shard_id") === shard && col("key") > cursor)
      .select("key").orderBy("key").limit(n)

  /** Route a batch of keys: derive shard, join the assignment dimension —
    * the bulk form of GetNodeForKey. */
  def route(keys: DataFrame, assignments: DataFrame): DataFrame =
    keys.withColumn("shard_id", shardId(col("key")))
      .join(broadcast(assignments), Seq("shard_id"), "left")

  /** Range-sharded layout: directories cover disjoint lexicographic key
    * intervals — the layout a range-scan-heavy keyspace uses INSTEAD of
    * hash sharding, because `fnv1a32 % n` scatters every key range across
    * all shards and forces O5 scans to touch the whole corpus. `bounds`
    * are the interval split points (range `i` holds keys in
    * `[bounds(i-1), bounds(i))`); it is written by the same sorted writer
    * as [[write]], so page stats stay tight for sub-range reads. */
  def writeRanged(state: DataFrame, path: String,
      bounds: Seq[String]): Unit = {
    val rangeId = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col("key") >= b, 1).otherwise(0)
    }
    sortedWrite(project(state.withColumn("range_id", rangeId), RangedSchema),
      "range_id", path)
  }

  /** Unsigned UTF-8 byte comparison — the ordering Spark's UTF8String
    * key columns (and the reference's Go byte-wise compare) use. JVM
    * String comparison orders UTF-16 code units instead, which diverges
    * for supplementary characters: a surrogate pair sorts below U+FFFF
    * in UTF-16 but above it in UTF-8 bytes, so a String-ordered router
    * would skip the directory holding such keys. */
  private def byteCompare(x: String, y: String): Int = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Bucketed co-location for big–big joins: both tables are hashed into
    * the same bucket count on their join key AT WRITE TIME, so a join
    * between them needs no exchange at all — each task reads bucket i of
    * both sides and joins locally. Broadcast solves small-dim joins;
    * bucketing is the layout answer when BOTH sides are fact-sized
    * (orders ⋈ lineitem at 100 TB): the shuffle is paid once, at ingest,
    * and amortized over every subsequent join. `sortBy` pre-sorts inside
    * each bucket so the sort-merge join skips its sort too. Proven
    * exchange-free in PlanAuditSpec. */
  def writeBucketed(df: DataFrame, table: String, path: String,
      key: String, buckets: Int = 8): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .option("path", path).format("parquet")
      .saveAsTable(table)

  /** Small-files compaction for a shard-partitioned layout — the #1
    * operational chore of any long-lived 100 TB table: every incremental
    * append writes one-file-per-task, and a year of appends turns point
    * reads into thousand-file directory listings. This is [[write]]'s
    * sorted writer bounded by `maxRecordsPerFile`, Spark's native
    * file-size governor, so output is ceil(shard rows / target) files per
    * shard: bin-packed, never one giant unsplittable file, each file
    * key-sorted in [[PageRows]]-row pages. The input is read with the
    * declared [[Schema]], so no schema-inference job runs. Data is
    * byte-identical — CompactFilesSpec proves row equality and the exact
    * post-compaction file count. */
  def compactFiles(spark: SparkSession, path: String, outPath: String,
      targetRowsPerFile: Long): Unit =
    sortedWrite(spark.read.schema(Schema).parquet(path), "shard_id", outPath,
      maxRecordsPerFile = targetRowsPerFile)

  /** Morton/Z-value of two bounded non-negative integer dimensions: the
    * low `bits` bits of `x` and `y` interleaved (x on even positions).
    * Built from shift/mask primitives only, so it stays inside
    * whole-stage codegen; the terms occupy disjoint bits, so `+` is `|`. */
  def zValue(x: Column, y: Column, bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc +
        shiftleft(shiftright(x, i).cast("long") % 2, 2 * i) +
        shiftleft(shiftright(y, i).cast("long") % 2, 2 * i + 1)
    }

  /** Both Z-layout parameters have hard validity constraints — violating
    * them does not error downstream, it SILENTLY DROPS ROWS from box
    * scans (truncated coordinates land in aliased cells the router never
    * enumerates), so they are enforced here, fail-fast. */
  private def requireZParams(bits: Int, cellShift: Int): Unit = {
    require(bits >= 1 && bits <= 30, s"bits must be in [1, 30], got $bits")
    require(cellShift % 2 == 0 && cellShift >= 0 && cellShift < 2 * bits,
      s"cellShift must be even and < 2*bits (square cells the box router " +
        s"can enumerate), got cellShift=$cellShift bits=$bits")
    require(2 * bits - cellShift <= 20,
      s"2^${2 * bits - cellShift} cells: the driver-side cell router (and " +
        s"the filesystem) need the directory count bounded — raise cellShift")
  }

  /** Z-ordered layout over two dimensions — the multi-column analog of
    * [[writeRanged]]: hash sharding scatters every range, single-column
    * range sharding prunes only its own column, but sorting by the
    * interleaved Z-value keeps rows close in BOTH dimensions close on
    * disk, so a (x-range × y-range) box query prunes to the cells the
    * box overlaps — the data-skipping layout for multi-dimensional scans
    * (time × tenant, day × user-cohort) at 100 TB. `cellShift` trades
    * directory count against cell granularity; an EVEN shift keeps every
    * cell a square, so the directory filter is a rectangle union. Rows
    * are Z-sorted inside each cell file, in [[PageRows]]-row pages, to
    * keep page and row-group stats tight. */
  def writeZOrdered(df: DataFrame, path: String, x: Column, y: Column,
      bits: Int = 8, cellShift: Int = 10): Unit = {
    requireZParams(bits, cellShift)
    val staged = df.withColumn("zv", zValue(x, y, bits))
      .withColumn("z_cell", shiftright(col("zv"), cellShift))
    // domain check: zValue truncates to the low `bits` bits, so an
    // out-of-domain coordinate would alias into another cell and its
    // rows would silently vanish from box scans — refuse to write it
    val mx = df.select(max(x.cast("long")), max(y.cast("long")),
      min(x.cast("long")), min(y.cast("long"))).collect()(0)
    if (!mx.isNullAt(0)) {
      val bound = 1L << bits
      require(mx.getLong(2) >= 0 && mx.getLong(3) >= 0 &&
        mx.getLong(0) < bound && mx.getLong(1) < bound,
        s"z-order domain overflow: x in [${mx.getLong(2)}, ${mx.getLong(0)}], " +
          s"y in [${mx.getLong(3)}, ${mx.getLong(1)}] must fit [0, $bound)")
    }
    sortedWrite(staged, "z_cell", path, sortCol = "zv")
  }

  /** The (x, y) rectangle a Z-cell covers (even `cellShift` ⇒ square).
    * Driver-side arithmetic over the cell id — the router's cell-table
    * lookup, O(#cells), no data touched. */
  private[graft] def cellBounds(cell: Long, cellShift: Int): (Long, Long, Long, Long) = {
    val base = cell << cellShift
    var (x0, y0) = (0L, 0L)
    var i = 0
    while (i < 32) {
      x0 |= ((base >> (2 * i)) & 1L) << i
      y0 |= ((base >> (2 * i + 1)) & 1L) << i
      i += 1
    }
    val side = 1L << (cellShift / 2)
    (x0, x0 + side - 1, y0, y0 + side - 1)
  }

  /** Box scan `[x0,x1] × [y0,y1]` against [[writeZOrdered]]'s layout:
    * enumerate the cells whose rectangles intersect the box (cell-table
    * arithmetic, no data), send them as a partition filter, and let the
    * exact per-column predicates push into the reader for row-group
    * pruning inside the surviving directories. */
  def boxScan(spark: SparkSession, path: String, xCol: String, yCol: String,
      x0: Long, x1: Long, y0: Long, y1: Long,
      bits: Int = 8, cellShift: Int = 10): DataFrame = {
    requireZParams(bits, cellShift)
    val nCells = 1L << (2 * bits - cellShift)
    val hit = (0L until nCells).filter { c =>
      val (cx0, cx1, cy0, cy1) = cellBounds(c, cellShift)
      cx0 <= x1 && x0 <= cx1 && cy0 <= y1 && y0 <= cy1
    }
    spark.read.parquet(path)
      .filter(col("z_cell").isin(hit: _*) &&
        col(xCol).between(x0, x1) && col(yCol).between(y0, y1))
  }

  /** Range scan `[start, end)` against [[writeRanged]]'s layout: the
    * touched interval set is computed from the bounds (the router's
    * range-table lookup) and arrives as a partition filter, so only
    * overlapping directories are read; the key predicate then pushes into
    * the reader for page pruning inside them. */
  def rangeScan(spark: SparkSession, path: String, start: String,
      end: String, bounds: Seq[String]): DataFrame = {
    val lo = bounds.count(b => byteCompare(b, start) <= 0)
    val hi = bounds.count(b => byteCompare(b, end) < 0)
    spark.read.schema(RangedSchema).parquet(path)
      .filter(col("range_id") >= lo && col("range_id") <= hi &&
        col("key") >= start && col("key") < end)
      .select("key")
      .orderBy("key")
  }
}
