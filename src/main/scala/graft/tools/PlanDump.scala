package graft.tools

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named catalog queries to files —
  * plan evidence under $SPARK_GRAFT_PLANS_DIR (default plans/r16).
  *
  *   sbt "runMain graft.tools.PlanDump before graph_pagerank knn_ivfpq"
  *   sbt "runMain graft.tools.PlanDump flagship"
  *
  * Writes <dir>/<query>_<tag>.txt for each name; with no names it dumps
  * the flagship queries SCALE.md quotes. Uses the same session shape as
  * Bench so plans match what the bench executes.
  */
object PlanDump {

  val Flagship = Seq("q6_forecast", "q5_nation_revenue", "ev_slice_time",
    "ev_fold_all", "ev_asof_take", "dedup_minhash_lsh", "knn_lsh",
    "li_interval_days")

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <tag> [query...]")
    val tag = args.head
    val names = if (args.length > 1) args.tail.toSeq else Flagship
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.network.timeout", "3600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r16")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => println(s"$name: not in catalog")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(s"${outDir}/${name}_$tag.txt"), txt)
            println(s"$name: wrote ${outDir}/${name}_$tag.txt (${txt.length} chars)")
          } catch {
            case e: Throwable =>
              println(s"$name: FAILED ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
          spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
