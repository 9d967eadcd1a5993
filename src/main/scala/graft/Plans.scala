package graft
import java.nio.file.{Files, Paths}

/** Optimization-round measurement tool (guide §1/§7.2): dump
  * `.explain("formatted")` for every declared query (or a filtered
  * subset) to one text file per query, so plan shape (Exchange count,
  * join strategy, PushedFilters/ReadSchema, WholeStageCodegen spans)
  * can be audited and diffed offline. Planning only — nothing executes.
  *
  * Usage: runMain graft.Plans <sfDir> <outDir> [name1,name2,...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.lift(2).map(_.split(",").toSet)
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/$name.txt"), txt)
        } catch { case e: Throwable =>
          System.err.println(s"[plans] $name failed: ${e.getMessage}")
        }
        Session.reap(spark)
      }
    spark.stop()
  }
}
