package graft

/** Sweeping invariants over the whole driver contract:
  *
  *   - oracle keys equal query keys: every query has an oracle (the
  *     oracle compare covers the whole board) and every oracle names a
  *     registered query (a dangling key would fail on a missing result);
  *   - every query executes at sf0.001 and returns rows (the driver's
  *     smoke-level check), except the deliberate empty-result queries;
  *   - no query plans a CartesianProduct, except the whitelisted quadratic
  *     oracle baselines (documented as such).
  *
  * The execution sweep is one test per registry module, so a failure or
  * a timeout names its family.
  */
class QuerySweepSpec extends SparkSpec {

  private val mayBeEmpty = Set("kv_point_get_missing")
  // quadratic-by-design oracle baselines (scale path is the LSH variant)
  private val quadraticBaselines =
    Set("dedup_embedding_cosine", "sim_topk_bruteforce", "sim_ann_lsh",
      "sim_ivf_ann",
      // bounded sample × sample by construction (1-in-10 hash sample)
      "sim_cosine_calibration")

  test("oracle keys equal query keys") {
    val (queries, oracles) =
      (SparkEntry.queries.keySet, SparkEntry.oracleSql.keySet)
    assert((oracles -- queries).isEmpty,
      s"oracles without queries: ${oracles -- queries}")
    assert((queries -- oracles).isEmpty,
      s"queries without oracles: ${queries -- oracles}")
  }

  for (module <- SparkEntry.modules) {
    val family = module.getClass.getSimpleName.stripSuffix("$")
    test(s"every $family query runs at sf0.001, returns rows, " +
      "and avoids cartesian plans") {
      val failures = module.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          try {
            val df = fn(spark, sf)
            val plan = df.queryExecution.executedPlan.toString
            val cartesian = plan.contains("CartesianProduct") &&
              !quadraticBaselines.contains(name)
            val n = df.count()
            val empty = n == 0 && !mayBeEmpty.contains(name)
            if (cartesian) Some(s"$name: CartesianProduct in plan")
            else if (empty) Some(s"$name: returned 0 rows")
            else None
          } catch {
            case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}")
          }
      }
      assert(failures.isEmpty, failures.mkString("\n"))
    }
  }

  test("flagship entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle SQL is transcendental-free and deterministic") {
    // ln/log/exp round differently across engines (ORACLE.md) and
    // random()/now() break replay — none may appear in any oracle.
    // This lint runs over the ACTUAL shipped SQL with word-boundary
    // matching (CTE names like reg_log(...) must not false-positive).
    // The sole sanctioned exception: the HLL estimator's linear-
    // counting ln(), whose 64 possible arguments were enumerated and
    // verified bit-identical between the JVM and DuckDB.
    val lnWhitelist = Set("events_approx_users", "events_hll_rolling")
    val banned =
      raw"(?i)(?<![a-z0-9_])(ln|log|log2|log10|exp|pow|power|random|now)\s*\(".r
    val hits = SparkEntry.oracleSql.toSeq.flatMap { case (name, sql) =>
      banned.findAllMatchIn(sql).map(_.group(1).toLowerCase).toSeq.distinct
        .filterNot(f => f == "ln" && lnWhitelist.contains(name))
        .map(f => s"$name uses $f(")
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
