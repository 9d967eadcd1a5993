package graftbench

import graftbench.Gen.{IngestStream, Mix, PassOrder}
import graftbench.Stats.Span

/** The harness's own tests: seeded generators, the percentile rule and
  * span self-time arithmetic. No Spark session is needed.
  *
  * Run with: python3 perfbench/build.py --test
  */
object SelfTest {

  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private val keys = (1 to 500).map(i => s"order:$i").sorted
  private val getKeys = keys.take(50) ++ keys.take(10)
  // the sf0.1 fixture log's counts
  private val mix = Mix(putNew = 150000, putUpdate = 1546, putEmpty = 1456,
    delete = 1485, get = 37200)

  private def batches(seed: Long, n: Int) =
    new IngestStream(mix, keys, getKeys, 1000L, 100, seed).take(n).toVector

  private val queries = Seq("a", "b", "c", "d", "e", "f")

  private def orders(seed: Long) = new PassOrder(queries, seed).take(5).toVector

  def main(args: Array[String]): Unit = {
    check("same seed, same write batches")(batches(7, 5) == batches(7, 5))
    check("another seed, other write batches")(batches(7, 5) != batches(8, 5))
    check("write batches number ops consecutively after the log") {
      val seqs = batches(7, 3).flatMap(_.ops.map(_.seq))
      seqs == (1001L to 1300L)
    }
    check("a batch's share of each op class is the fixture's") {
      mix.perBatch(100) == ((97, 1, 1, 1, 24)) &&
        Mix(1, 1, 1, 0, 3).perBatch(10) == ((4, 3, 3, 0, 10))
    }
    check("every batch carries the fixture mix") {
      batches(7, 20).forall { b =>
        val o = b.ops
        o.count(_.key.startsWith("ingest:")) == 97 &&
          o.count(x => x.op == "put" && x.value.contains("") ) == 1 &&
          o.count(_.op == "delete") == 1 &&
          o.forall(x => (x.op == "delete") == x.value.isEmpty) &&
          b.gets.size == 24 && b.gets.forall(getKeys.contains)
      }
    }
    check("the read-back op lies in its batch") {
      batches(3, 50).forall(b => b.check >= 0 && b.check < b.ops.size)
    }
    check("same seed, same query order")(orders(5) == orders(5))
    check("another seed, another query order")(orders(5) != orders(6))
    check("every pass runs every query once") {
      orders(5).forall(_.sorted == queries)
    }

    val hundred = (1 to 100).map(_.toDouble)
    check("p90 of 100 samples has ten beyond it") {
      Stats.percentile(hundred, 0.9).contains(90.0)
    }
    check("p90 of 99 samples is not reported") {
      Stats.percentile(hundred.take(99), 0.9).isEmpty
    }
    check("p99 needs 1000 samples") {
      val xs = (1 to 1000).map(_.toDouble)
      Stats.percentile(xs, 0.99).contains(990.0) &&
        Stats.percentile(xs.take(999), 0.99).isEmpty
    }
    check("the highest supported tail is chosen") {
      Stats.highestTail(hundred).contains((0.9, 90.0)) &&
        Stats.highestTail(hundred.take(50)).isEmpty
    }
    check("median of odd and even samples") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5
    }

    // op 1: root [0,100] with children [10,30] and [20,50] (overlapping)
    // and [90,120] (running past the root); [20,50] has a child [25,35]
    val spans = Seq(
      Span(1, 0, 1, "op", 0, 100),
      Span(2, 1, 1, "kv.plan", 10, 30),
      Span(3, 1, 1, "kv.exec", 20, 50),
      Span(4, 1, 1, "job", 90, 120),
      Span(5, 3, 1, "stage", 25, 35))
    val self = Stats.selfTimes(spans)
    check("self time counts overlapping children once and clips them") {
      self(1) == 100 - 40 - 10
    }
    check("self time subtracts only direct children") {
      self(3) == 30 - 10 && self(2) == 20 && self(5) == 10
    }
    check("self time per layer sums its spans") {
      val by = Stats.selfByName(spans :+ Span(6, 0, 6, "op", 200, 210))
      by("op") == 50 + 10 && by("kv.exec") == 20
    }

    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }
}
