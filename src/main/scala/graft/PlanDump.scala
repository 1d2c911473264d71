package graft

import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}

/** Writes each named query's `.explain("formatted")` output to
  * `<outDir>/<query><suffix>.txt` — the optimization rounds' plan-evidence
  * deliverable (plans/rNN/<query>_before.txt / _after.txt). It runs every
  * requested entry's fn: lake/stream setups execute their side effects,
  * so a full dump costs roughly one bench setup pass.
  *
  *   sbt "runMain graft.PlanDump plans/r16 _after dedup_ngram_jaccard ..."
  *   (no names = all queries)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, rest @ _*) = args: @unchecked
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession()
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.select(rest).foreach { case (n, fn) =>
      GraftSession.isolate(spark)
      val body =
        try fn(spark, sfDir).queryExecution
          .explainString(FormattedMode)
        catch { case e: Throwable =>
          s"ERROR building plan: ${e.getClass.getName}: ${e.getMessage}" }
      Files.write(Paths.get(outDir, s"$n$suffix.txt"), body.getBytes("UTF-8"))
      println(s"dumped $n")
    }
    spark.stop()
  }
}
