package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Pins the [[Materialize]] mode switch: the three fault-tolerance
  * postures (local checkpoint / lineage-kept persist / reliable
  * checkpoint) must be pure execution-strategy choices — bit-identical
  * results on the queries whose barriers go through it. Runs the
  * connected-components family (label propagation + star contraction +
  * SSSP all route through Materialize), HITS, k-means, the k-core peel,
  * BPE training, the convergence-driven PageRank and two one-shot
  * queries under each mode and compares collected rows exactly. Also
  * pins that no raw barrier exists outside Materialize.
  */
class MaterializeSpec extends SparkSpec {

  private def withMode[T](mode: String)(body: => T): T = {
    val old = spark.conf.getOption(Materialize.ModeKey)
    spark.conf.set(Materialize.ModeKey, mode)
    try body
    finally old match {
      case Some(v) => spark.conf.set(Materialize.ModeKey, v)
      case None    => spark.conf.unset(Materialize.ModeKey)
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("mode parsing: unknown mode is rejected loudly") {
    intercept[IllegalArgumentException] {
      withMode("lcoal") { Materialize.mode(spark) }
    }
  }

  test("components family is bit-identical under all three modes") {
    import spark.implicits._
    // two components (a 4-chain and a triangle) plus a self-loop vertex —
    // enough rounds for the loop to actually iterate and release frames
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 20L)).toDF("doc_a", "doc_b")
    val got = Seq("local", "persist", "reliable").map { m =>
      m -> withMode(m) { rows(dedup.DedupComponents.components(edges)) }
    }.toMap
    assert(got("persist") === got("local"),
      "persist mode diverged from localCheckpoint")
    assert(got("reliable") === got("local"),
      "reliable checkpoint mode diverged from localCheckpoint")
    assert(got("local").nonEmpty)
  }

  test("HITS is bit-identical under all three modes") {
    val got = Seq("local", "persist", "reliable").map { m =>
      m -> withMode(m) {
        rows(graph.HitsQueries.queries("graph_hits")(spark, sf))
      }
    }.toMap
    assert(got("persist") === got("local"),
      "persist mode diverged from localCheckpoint")
    assert(got("reliable") === got("local"),
      "reliable checkpoint mode diverged from localCheckpoint")
    assert(got("local").nonEmpty)
  }

  test("the k-means Lloyd loop is bit-identical under all three modes") {
    val got = Seq("local", "persist", "reliable").map { m =>
      m -> withMode(m) {
        rows(sim.SimilarityQueries.queries("sim_kmeans_cells")(spark, sf))
      }
    }.toMap
    assert(got("persist") === got("local"))
    assert(got("reliable") === got("local"))
    assert(got("local").nonEmpty)
  }

  test("persist mode: loops release superseded rounds; reapAll drains the rest") {
    withMode("persist") {
      import spark.implicits._
      // frames left registered after one components run: a loop that
      // releases its superseded rounds leaves the same number whatever
      // the round count, so a 4-chain and a 12-chain must agree
      def leftAfter(chainLen: Int): Int = {
        Materialize.reapAll(spark) // start from an empty registry
        val edges = (1 until chainLen).map(i => (i.toLong, i + 1L))
          .toDF("doc_a", "doc_b")
        val got = rows(dedup.DedupComponents.components(edges))
        assert(got.size === chainLen)
        Materialize.reapAll(spark)
      }
      val short = leftAfter(4)
      val long = leftAfter(12)
      assert(short > 0,
        "the loop should have left registered persist-mode frames")
      assert(long === short,
        s"a longer chain left $long frames vs $short: rounds leaked")
      // the reap drains EVERYTHING: a second reap has nothing left to do
      assert(Materialize.reapAll(spark) === 0,
        "reapAll must drain the registry completely")
    }
  }

  test("k-core peel and BPE training are bit-identical under all three modes") {
    val got = Seq("local", "persist", "reliable").map { m =>
      m -> withMode(m) {
        val (core, rounds) = sim.SimilarityQueries.knnKCoreWithRounds(spark, sf)
        val bpe = text.TextQueries.queries("text_bpe_train")(spark, sf)
        (rows(core), rounds, rows(bpe))
      }
    }.toMap
    Materialize.reapAll(spark) // the per-query reap the mains run
    assert(got("persist") === got("local"))
    assert(got("reliable") === got("local"))
    val (core, rounds, bpe) = got("local")
    assert(core.nonEmpty && bpe.nonEmpty)
    assert(rounds === 2, s"peel depth moved: $rounds rounds")
  }

  test("release acts on what apply did, not the conf at release time") {
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("a", "b")
    // drain what earlier tests left, so the registry holds only this frame
    Materialize.reapAll(spark)
    val m = withMode("persist") { Materialize(df) }
    assert(df.storageLevel !== StorageLevel.NONE, "persist mode must cache the frame")
    // flip the mode away BEFORE releasing: release must still unpersist
    // the frame apply() persisted (membership-based, not mode-based)
    withMode("local") { Materialize.release(m) }
    assert(df.storageLevel === StorageLevel.NONE,
      "release left the frame cached after a runtime mode flip")
    assert(Materialize.reapAll(spark) === 0,
      "the persisted frame leaked past a runtime mode flip")
  }

  test("reliable mode falls back to tmpdir only on a local master") {
    // on local[*] the tmpdir fallback is sound (one machine); the
    // fail-fast for non-local masters is unit-tested by construction:
    // sc.isLocal is true here, so apply() must succeed without DirKey
    withMode("reliable") {
      import spark.implicits._
      assert(Materialize(Seq(1L).toDF("x")).count() === 1L)
    }
  }

  test("convergence-driven PageRank is bit-identical under all modes") {
    val got = Seq("local", "persist", "reliable").map { m =>
      m -> withMode(m) {
        val (r, iters) = relational.PageRank.convergedRanks(spark, sf)
        (rows(r.orderBy(col("pr").desc, col("node"))), iters)
      }
    }.toMap
    assert(got("persist") === got("local"))
    assert(got("reliable") === got("local"))
    assert(got("local")._1.nonEmpty && got("local")._2 > 0)
  }

  // -- one-shot (non-iterative) barriers ----------------------------------

  test("one-shot barriers are bit-identical under all three modes") {
    // ret_rrf_fusion: fused lists over the materialized tokenize;
    // dedup_minhash_estimate: a shingle barrier feeding the signatures
    // AND the pair derivation, and a signature barrier read by a self-join
    for (q <- Seq("ret_rrf_fusion", "dedup_minhash_estimate")) {
      val got = Seq("local", "persist", "reliable").map { m =>
        m -> withMode(m) { rows(SparkEntry.queries(q)(spark, sf)) }
      }.toMap
      Materialize.reapAll(spark)
      assert(got("persist") === got("local"), s"$q: persist diverged")
      assert(got("reliable") === got("local"), s"$q: reliable diverged")
      assert(got("local").nonEmpty, s"$q: no rows")
    }
  }

  test("persist mode: a one-shot query's barriers register and one reap drains them") {
    withMode("persist") {
      Materialize.reapAll(spark) // start from an empty registry
      Session.consume(SparkEntry.queries("q15_top_supplier")(spark, sf))
      assert(Materialize.reapAll(spark) > 0,
        "a one-shot barrier did not go through Materialize")
      assert(Materialize.reapAll(spark) === 0,
        "reapAll must drain the registry completely")
    }
  }

  test("no raw barrier in src/main: every one goes through Materialize") {
    // the forked test JVM runs in the sbt base directory
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    val barrier = raw"\.(localCheckpoint|checkpoint)\(".r
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap { f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f)
        else Nil
      }
    val scanned = files(root).filter(_.getName != "Materialize.scala")
    assert(scanned.nonEmpty)
    val offenders = scanned.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (l, i) if barrier.findFirstIn(l).isDefined =>
          s"${f.getPath}:${i + 1}"
      }.toList
      finally src.close()
    }
    if (offenders.nonEmpty)
      fail("raw barriers outside Materialize (write .transform(Materialize(_))):\n" +
        offenders.mkString("\n"))
  }
}
