package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in the current directory, which must be empty:
  * layouts, the op log and the index cache (`target/graft_index`) are all
  * created under it.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --sf FIXTURE_DIR --cores C --out RESULT.json
  *
  * Writes the result to --out and, for a traced run, every span to
  * `spans.jsonl`. perfbench/run.py builds the classpath, starts this in a
  * fresh directory, runs the oracle comparison and prints the result line.
  */
object Main {

  val Workloads = Seq("kv_ingest", "olap_iterative")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val cores = a("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File("spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the reap between queries unpersists locally checkpointed RDDs, and
    // each unpersist logs a warning that carries no information here
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)

    val c = new Ctx(spark, a("sf"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", cores)
    workload match {
      case "kv_ingest" => graftbench.Workloads.kvIngest(c)
      case "olap_iterative" =>
        graftbench.Workloads.olap(c, graftbench.Workloads.Iterative)
    }

    val conf = spark.sparkContext.getConf.getAll.toSeq.sorted
      .filterNot { case (k, _) => k.startsWith("spark.driver.") || k == "spark.app.id" || k == "spark.app.startTime" }
    val out = Json.obj(Seq(
      "workload" -> workload,
      "attempted" -> c.attempted,
      "failed" -> c.failed,
      "errors" -> c.errors.toSeq,
      "e2e" -> c.e2e.toSeq,
      "layers" -> c.layers.toSeq,
      "oracle_queries" -> c.oracleQueries,
      "samples" -> c.samples.toSeq.map { case (what, ms) => Seq(what, ms) },
      "spark_conf" -> conf,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version))
    Files.writeString(Paths.get(a("out")), out)
    c.tracer.foreach { t =>
      val lines = t.allSpans.sortBy(_.start).map { s =>
        Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end))
      }
      Files.writeString(Paths.get("spans.jsonl"), lines.mkString("", "\n", "\n"))
    }
    if (c.oracleQueries.nonEmpty) {
      val sql = graft.SparkEntry.oracleSql
      Files.writeString(Paths.get("results/oracle_sql.json"),
        Json.obj(c.oracleQueries.map(q => q -> sql(q))))
    }
    spark.stop()
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric $d")
      java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case kv: Seq[_] if kv.forall(_.isInstanceOf[(_, _)]) && kv.nonEmpty =>
      obj(kv.asInstanceOf[Seq[(String, Any)]])
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
