package graft

import org.apache.spark.sql.execution.ExplainMode

/** Measurement tool (guide §1.1/§7.2): writes `.explain("formatted")` for
  * every declared query (or the `SPARK_GRAFT_ONLY` name-prefix subset, the
  * filter every main shares) to a directory, one `<query>.txt` per query —
  * the plan evidence the round deliverables commit under `plans/<round>/`.
  * Plans are derived, never executed, so a full dump is seconds, not a
  * bench run.
  *
  *   SPARK_GRAFT_SF_DIR=<dir> [SPARK_GRAFT_ONLY=q114,q220] \
  *     tools/run.sh graft.PlanDump <outDir>
  *
  * The session is `Graft.localSession` with `SPARK_GRAFT_CPUS` cores, the
  * one Bench and Verify open, so the initial plans match what they execute.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/plans")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    new java.io.File(outDir).mkdirs()
    val spark = Graft.localSession(Graft.cpus)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => Graft.selected(n) }
      .foreach { case (name, fn) =>
        val txt =
          try fn(spark, sfDir).queryExecution
            .explainString(ExplainMode.fromString("formatted"))
          catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}" }
        val w = new java.io.PrintWriter(s"$outDir/$name.txt")
        try w.println(txt) finally w.close()
        println(s"[plandump] $name")
      }
    spark.stop()
  }
}
