package graft
import scala.collection.mutable.ArrayBuffer

/** Adaptive measurement logic, separated from the Spark plumbing so the
  * contention defense itself is unit-testable (BenchLogicSpec simulates a
  * host-load window and asserts `totalClean` stays within 15% of the quiet
  * total — the round-4 verdict's acceptance test, deterministic in CI).
  *
  * The threat model, observed twice (rounds 2 and 4): the driver's bench
  * lands during sustained host load, every sample of a handful of queries
  * inflates 3-15x, and min-of-2 repeats records the contended number as if
  * clean (149.3 s emitted for a suite that replays at 114.5 s). Defenses:
  *
  *   - **committed records**: `bench_record.json` (a clean run's
  *     bench_detail.json, committed) gives every query a clean-time prior.
  *     A measured min exceeding [[SuspectRatio]]x its record triggers extra
  *     repeats — a genuine regression reproduces under re-runs, a host
  *     stall eventually yields one clean sample;
  *   - **bounded escalation**: at most [[MaxAttempts]] total samples per
  *     query; a query still suspect after that is flagged `contended` and
  *     its committed record (the best clean estimate) feeds `totalClean`
  *     while the measured min still feeds `total` — the artifact carries
  *     both numbers plus the flags, so a reader can separate code cost
  *     from host luck;
  *   - **sentinel turbulence**: the fixed constant-cost probe interleaved
  *     every [[Bench.SentinelEvery]] queries marks blocks where the host
  *     was loaded; queries WITHOUT a record (new this round) get an extra
  *     repeat inside turbulent blocks and are flagged if their best two
  *     samples still disagree by more than [[AgreePct]].
  */
object BenchLogic {

  /** Records below this (seconds) are timer-noise territory; the 3x
    * suspicion test uses max(record, floor) so a 10 ms query measured at
    * 40 ms does not escalate. */
  val RecordFloor = 0.05
  val SuspectRatio = 3.0
  val AgreePct = 0.20
  val MaxAttempts = 6
  val TurbulenceRatio = 2.0

  final case class Outcome(name: String, samples: Vector[Double],
                           best: Double, clean: Double, contended: Boolean)

  final case class SuiteResult(outcomes: Vector[Outcome],
                               sentinel: Vector[Double]) {
    def total: Double = outcomes.collect { case o if o.best >= 0 => o.best }.sum
    def totalClean: Double =
      outcomes.collect { case o if o.clean >= 0 => o.clean }.sum
    def contendedNames: Vector[String] =
      outcomes.collect { case o if o.contended => o.name }
  }

  def bestTwoAgree(ok: Seq[Double]): Boolean = {
    val s = ok.sorted
    s.size >= 2 && (s(1) - s(0)) <= AgreePct * s(0)
  }

  private def suspect(okMin: Double, record: Option[Double]): Boolean =
    record.exists(r => okMin > SuspectRatio * math.max(r, RecordFloor))

  /** Measure one query adaptively. `runOnce` returns elapsed seconds or a
    * negative value for failure. Escalation re-runs while the best sample
    * still exceeds 3x the committed record; once escalated it also demands
    * the best two samples agree within 20% before trusting the min. */
  def measure(name: String, runOnce: () => Double, record: Option[Double],
              baseRepeats: Int, turbulent: Boolean): Outcome = {
    var samples = Vector.fill(baseRepeats)(runOnce())
    if (turbulent && record.isEmpty && samples.size < MaxAttempts)
      samples :+= runOnce()
    def ok = samples.filter(_ >= 0)
    var escalated = false
    while (ok.nonEmpty && samples.size < MaxAttempts &&
           (suspect(ok.min, record) || (escalated && !bestTwoAgree(ok)))) {
      escalated = true
      samples :+= runOnce()
    }
    val okF = ok
    if (okF.isEmpty) Outcome(name, samples, -1.0, -1.0, contended = false)
    else {
      val best = okF.min
      // an escalated query that exhausted its attempts without ever
      // producing an agreeing pair is contended even when its min crept
      // under the 3x line — a ~2.9x-inflated sample would otherwise
      // enter total_clean unflagged
      val contended = suspect(best, record) ||
        (escalated && !bestTwoAgree(okF)) ||
        (record.isEmpty && turbulent && !bestTwoAgree(okF))
      // contended + record: the committed clean time is the best available
      // estimate of code cost (measured min is provably host-inflated).
      // contended + no record: nothing better than the measured min exists;
      // keep it but leave the flag so the reader discounts it.
      val clean =
        if (contended) record.map(r => math.min(best, r)).getOrElse(best)
        else best
      Outcome(name, samples, best, clean, contended)
    }
  }

  /** Drive a whole suite: sentinel bracketing every `sentinelEvery`
    * queries, turbulence derived from the latest sentinel vs the committed
    * clean sentinel median (fallback: median observed so far). */
  def runSuite(queries: Seq[(String, () => Double)], sentinel: () => Double,
               records: Map[String, Double], recordSentinelMed: Option[Double],
               baseRepeats: Int = 2, sentinelEvery: Int = 10): SuiteResult = {
    val sentinels = ArrayBuffer[Double](sentinel())
    def cleanSentMed: Double = recordSentinelMed.getOrElse {
      val s = sentinels.sorted; s(s.size / 2)
    }
    val outcomes = queries.zipWithIndex.map { case ((name, runOnce), i) =>
      val turbulent = sentinels.last > TurbulenceRatio * math.max(cleanSentMed, 0.01)
      val o = measure(name, runOnce, records.get(name), baseRepeats, turbulent)
      if ((i + 1) % sentinelEvery == 0) sentinels += sentinel()
      o
    }.toVector
    sentinels += sentinel()
    SuiteResult(outcomes, sentinels.toVector)
  }

  /** End-of-suite recovery pass for queries the in-suite escalation could
    * not save. Driver round 5 showed isolated 5-12x inflations with CLEAN
    * bracketing sentinels (`kv_shard_chi2` 5.0 s vs a 0.48 s record between
    * 0.13 s sentinels): the pressure window is shorter than the sentinel
    * cadence and wider than [[MaxAttempts]] back-to-back repeats, so every
    * sample of one query inflates while its neighbors stay clean. Re-running
    * the worst offenders AFTER the whole suite completes samples a point in
    * time minutes away from the original window — a genuine regression
    * reproduces, a transient stall does not.
    *
    * Picks the queries whose measured best exceeds `inflationGate` x their
    * committed record (the absolute excess over record, i.e. recoverable
    * seconds, breaks ties), up to `maxQueries`, and gives each
    * `extraRepeats` fresh samples. Outcomes are re-derived from the merged
    * sample set; queries without a record are left alone (nothing to
    * compare against — the turbulence path already handled them). */
  def remeasurePass(suite: SuiteResult, runners: Map[String, () => Double],
                    records: Map[String, Double], maxQueries: Int = 20,
                    extraRepeats: Int = 2,
                    inflationGate: Double = 1.5): SuiteResult = {
    val worst = suite.outcomes.flatMap { o =>
      for {
        r <- records.get(o.name)
        if o.best >= 0 && o.best > inflationGate * math.max(r, RecordFloor)
        runner <- runners.get(o.name)
      } yield (o, r, runner)
    }.sortBy { case (o, r, _) => -(o.best - r) }.take(maxQueries)
    if (worst.isEmpty) suite
    else {
      val revised = worst.map { case (o, r, runner) =>
        val extra = Vector.fill(extraRepeats)(runner())
        val samples = o.samples ++ extra
        val ok = samples.filter(_ >= 0)
        val best = if (ok.isEmpty) -1.0 else ok.min
        val contended = best >= 0 &&
          best > SuspectRatio * math.max(r, RecordFloor)
        val clean =
          if (best < 0) -1.0
          else if (contended) math.min(best, r)
          else best
        o.name -> Outcome(o.name, samples, best, clean, contended)
      }.toMap
      suite.copy(outcomes =
        suite.outcomes.map(o => revised.getOrElse(o.name, o)))
    }
  }

  /** Minimal extractor for bench_detail.json-shaped records (flat "queries"
    * object of name:number, flat "sentinel" array). Returns (per-query
    * records, sentinel median); negative entries (recorded failures) are
    * dropped. Whitespace-tolerant around every `:` and `,`: round 5 shipped
    * with colon-tight regexes, and the committed bench_record.json — merged
    * by external tooling that re-serializes Python-style (`"sf": "..."`) —
    * silently parsed to empty, disarming the whole contention defense in
    * the driver's run (BENCH_r05 recorded 259.3 s with record:none for code
    * replaying at ~160 s). Tolerant: any parse miss yields empty. */
  def loadRecord(text: String): (Map[String, Double], Option[Double]) = {
    val qre = "\"queries\"\\s*:\\s*\\{([^}]*)\\}".r
    val sre = "\"sentinel\"\\s*:\\s*\\[([^\\]]*)\\]".r
    val pair = "\"([^\"]+)\"\\s*:\\s*(-?[0-9.]+)".r
    val queries = qre.findFirstMatchIn(text).map { m =>
      pair.findAllMatchIn(m.group(1))
        .map(p => p.group(1) -> p.group(2).toDouble)
        .filter(_._2 >= 0).toMap
    }.getOrElse(Map.empty)
    val sentMed = sre.findFirstMatchIn(text).flatMap { m =>
      val xs = m.group(1).split(",").toSeq.filter(_.nonEmpty)
        .flatMap(s => scala.util.Try(s.toDouble).toOption).sorted
      if (xs.isEmpty) None else Some(xs(xs.size / 2))
    }
    (queries, sentMed)
  }

  /** Does this record text belong to scale-factor directory `sfDir`?
    * Whitespace-tolerant for the same reason as [[loadRecord]] — the
    * round-5 gate used a literal `contains("\"sf\":\"...")` and a single
    * space after the colon defeated it. */
  def recordMatchesSf(text: String, sfDir: String): Boolean =
    ("\"sf\"\\s*:\\s*\"" + java.util.regex.Pattern.quote(sfDir) + "\"").r
      .findFirstIn(text).isDefined
}

/** Benchmark harness, hardened to be contention-auditable.
  *
  * Round 2's driver run recorded 1147 s for a suite that replays at 93 s;
  * round 4's recorded 149.3 s for a committed-clean 114.5 s. Defenses (see
  * [[BenchLogic]] for the adaptive core): committed clean records trigger
  * extra repeats for any query measured >3x its record; still-suspect
  * queries are flagged `contended` and `total_clean` substitutes their
  * committed record; a fixed sentinel query timestamps host load directly
  * into the artifact; failures record `-1`, never a small elapsed time.
  */
object Bench {

  val Repeats = 2
  val SentinelEvery = 10

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()

    // Committed clean-run records (bench_record.json = a clean run's
    // bench_detail.json, updated only when a quiet-host run is committed).
    // Records are sf-specific: only honored when the record's "sf" matches
    // this run's, so an sf0.01 dev loop never compares against sf0.1 times.
    val recordPath = sys.env.getOrElse("SPARK_GRAFT_RECORD", "bench_record.json")
    val (records, recordSentMed) =
      try {
        val text = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(recordPath)), "UTF-8")
        if (BenchLogic.recordMatchesSf(text, sfDir)) BenchLogic.loadRecord(text)
        else (Map.empty[String, Double], None)
      } catch { case _: Throwable => (Map.empty[String, Double], None) }

    Session.warm(spark, sfDir)

    def sentinelOnce(): Double = {
      // explicit GC every sentinel block (i.e. every SentinelEvery queries,
      // outside any timed region): driver round 5 showed isolated 5-12x
      // single-query inflations between clean sentinels — heap pressure
      // accumulated across ~285 plans is one of the few in-process causes
      // we can actually remove. ~100 ms every 10 queries is noise against
      // the suite total and buys each block a clean-slate heap.
      System.gc()
      val t0 = System.nanoTime()
      try Session.consume(spark.read.parquet(s"$sfDir/region.parquet")
        .groupBy("r_name").count())
      catch { case _: Throwable => () }
      (System.nanoTime() - t0) / 1e9
    }

    val errors = ArrayBuffer[(String, String)]()
    // sorted-name execution order: bench-over-bench per-query diffs stay
    // cache-warmth-comparable as queries are added (hash order moved
    // neighbors around every round).
    // optional comma-separated name filter for scoped local timing runs
    // (scaling audits, single-query perf loops); a filtered run writes
    // its detail to bench_detail_subset.json so the committed full-suite
    // record is never clobbered by a subset
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val runners: Map[String, () => Double] =
      ordered.map { case (name, fn) =>
        name -> { () =>
          val t0 = System.nanoTime()
          val failed =
            try { Session.consume(fn(spark, sfDir)); false }
            catch {
              case e: Throwable =>
                if (!errors.exists(_._1 == name))
                  errors += name -> s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
                true
            }
          val t = (System.nanoTime() - t0) / 1e9
          // outside the timed region: each timing stays independent of
          // the blocks earlier queries left behind
          Session.reap(spark)
          if (failed) -1.0 else t
        }
      }.toMap
    val firstPass = BenchLogic.runSuite(
      ordered.map { case (name, _) => name -> runners(name) },
      sentinelOnce _, records, recordSentMed,
      baseRepeats = Repeats, sentinelEvery = SentinelEvery)
    // second chance for in-suite pressure windows the sentinel missed:
    // re-run the worst record-relative inflations now that the suite (and
    // whatever host load overlapped it) has moved on — see
    // BenchLogic.remeasurePass.
    val suite = BenchLogic.remeasurePass(firstPass, runners, records)

    // The driver captures only the LAST 2000 characters of stdout; rounds 2
    // and 3 emitted a single ~6 KB line (full per-query samples inline) and
    // the driver recorded `"parsed": null` both times — the artifact was a
    // truncated fragment. Two outputs now:
    //   - bench_detail.json (cwd): the complete record — every query's min
    //     and raw repeat samples, the full sentinel series, full errors,
    //     contended flags;
    //   - stdout: ONE compact JSON line, packed to stay under the capture
    //     budget — headline total + total_clean, sentinel median/max (the
    //     contention signal), and the slowest queries greedily added until
    //     the line would exceed ~1800 chars, the rest under "others".
    // Locale.ROOT: the f interpolator is locale-sensitive — a comma-
    // decimal default locale would emit "0,339" and corrupt both JSON
    // outputs (exactly the parsed:null failure this format exists to fix)
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val results = suite.outcomes.map(o => o.name -> o.best)
    val total = suite.total
    val totalClean = suite.totalClean
    val contended = suite.contendedNames
    val sortedSent = suite.sentinel.sorted
    val sentMed = sortedSent(sortedSent.size / 2)
    val sentMax = sortedSent.last

    val detail = {
      val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
        .mkString("{", ",", "}")
      val sampleJson = suite.outcomes.map { o =>
        "\"" + o.name + "\":" + o.samples.map(r3).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      val sentinelJson = suite.sentinel.map(r3).mkString("[", ",", "]")
      val errJson = errors.map { case (k, msg) =>
        "\"" + k + "\":\"" + jsonEscape(msg) + "\""
      }.mkString("{", ",", "}")
      val contJson = contended.map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","total_clean":${r3(totalClean)},"contended":$contJson,"queries":$qs,"base_repeats":$Repeats,"max_attempts":${BenchLogic.MaxAttempts},"samples":$sampleJson,"sentinel":$sentinelJson,"errors":$errJson,"record":"${if (records.isEmpty) "none" else recordPath}","sf":"$sfDir"}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(
        if (only.isEmpty) "bench_detail.json" else "bench_detail_subset.json"),
      detail.getBytes("UTF-8"))

    // ≤1200 chars total for the stdout line (round-11 verdict item 2):
    // the driver captures the LAST 2000 characters of the run's output
    // and parses the JSON line out of it; at ~1800 chars the line plus
    // sbt's trailing "[success]" line left almost no slack for any
    // interleaved logging, and the driver recorded parsed:null two
    // rounds running. 1200 + the ~80-char trailer leaves ~700 chars of
    // headroom. The complete per-query record still goes to
    // bench_detail.json above — nothing is lost, only the stdout
    // truncation point moves.
    val budget = 1200
    val byTime = results.sortBy { case (_, t) => -t }
    val shown = ArrayBuffer[(String, Double)]()
    var used = 0
    for ((k, v) <- byTime) {
      val entry = "\"" + k + "\":" + r3(v) + ","
      if (used + entry.length < budget - 360) { // reserve room for the frame
        shown += k -> v; used += entry.length
      }
    }
    val shownSet = shown.map(_._1).toSet
    val rest = results.filter { case (k, _) => !shownSet.contains(k) }
    val restSum = rest.collect { case (_, t) if t >= 0 => t }.sum
    val qs = shown.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // base_repeats/max_attempts, not "repeats": sampling is adaptive
    // (2-6 per query), so a fixed repeats header would misdescribe the
    // samples arrays
    val detailName =
      if (only.isEmpty) "bench_detail.json" else "bench_detail_subset.json"
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","total_clean":${r3(totalClean)},"n_contended":${contended.size},"n_queries":${results.size},"base_repeats":$Repeats,"max_attempts":${BenchLogic.MaxAttempts},"errors":${errors.size},"sentinel_med":${r3(sentMed)},"sentinel_max":${r3(sentMax)},"queries":$qs,"others":{"n":${rest.size},"sum":${r3(restSum)}},"detail":"$detailName","sf":"$sfDir"}""")
    spark.stop()
  }
}
