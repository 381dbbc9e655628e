package graft.tools

import graft.core.GraftSession
import org.apache.spark.sql.execution.ExplainMode

/** Dump declared queries' physical plans (`explain("formatted")`) for plan
  * auditing — pushdown, broadcast choices, exchanges — and as the evidence
  * artifact the optimization rounds commit under `plans/rNN/`. Uses the
  * [[graft.queries.TrainingData.planOnly]] seam so operators that
  * materialize their small result (collect + local frame) expose the REAL
  * composed plan instead of a `Scan ExistingRDD` stub.
  *
  * Usage: `runMain graft.tools.DumpPlan <sfDir> [query] [outFile]` — no
  * query dumps every declared query; no outFile prints to stdout.
  */
object DumpPlan {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val only = args.lift(1)
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.VectorFunctions.register(spark)
    def plan(name: String): String = {
      val df = graft.queries.TrainingData.planOnly.withValue(true) {
        graft.SparkEntry.queries(name)(spark, dir)
      }
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    }
    args.lift(2) match {
      case Some(file) =>
        val p = plan(args(1))
        java.nio.file.Files.write(java.nio.file.Paths.get(file), p.getBytes)
        println(s"plan: $file (${p.length} chars, " +
          s"""${"Exchange \\(".r.findAllIn(p).length} exchanges)""")
      case None =>
        val names = only.map(Seq(_))
          .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
        names.foreach { name =>
          println(s"\n===== $name =====")
          try println(plan(name))
          catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
        }
    }
    spark.stop()
  }
}
