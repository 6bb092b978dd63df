package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round helper: dump `.explain("formatted")` for named
  * declared queries to text files (plans/rNN/<query>_{before,after}.txt —
  * the judge reads these instead of running Spark).
  *
  * Usage: runMain graft.ExplainDump <sfDir> <outDir> <suffix> q1,q2,...
  *
  * Queries whose registry function returns an Eager-pinned LocalRelation
  * (streaming / mutation queries that materialize internally) still dump —
  * the file then shows the LocalRelation and is annotated as such; their
  * interesting internal plans are captured separately where the round's
  * notes call for it.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args(3).split(",").toSeq
    val spark = GraftSession.local()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      spark.sparkContext.setJobDescription(s"explain:$n")
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.write(Paths.get(outDir, s"${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      System.err.println(s"[explain] wrote $n ($suffix)")
    }
    spark.stop()
  }
}
