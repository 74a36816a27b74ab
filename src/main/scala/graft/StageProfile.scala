package graft

/** Measurement tool (guide §1/§7): runs ONE declared query and prints its
  * job/stage timeline — where the wall-clock goes (which stage, how much
  * executor time vs scheduling gap, shuffle bytes per stage), the
  * empirical half of the optimization loop the Spark UI would normally
  * provide (the bench runs with the UI off).
  *
  *   SPARK_GRAFT_SF_DIR=<dir> SPARK_GRAFT_CPUS=32 \
  *     tools/run.sh graft.StageProfile q355_ktruss_fixpoint [reps]
  *
  * Output per rep (one [[Meter.measure]] each): total seconds, then one
  * line per job (start offset, duration, gap since previous job's end =
  * driver/planning time) and the 20 longest stages (duration, task count,
  * executor run time, shuffle read/write, input bytes). The session is
  * Bench's (`Graft.localSession`, `SPARK_GRAFT_CPUS` cores, default 4).
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("query name required"))
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.localSession(Graft.cpus)
    val fn = SparkEntry.queries(name)

    // warm-up (JIT/codegen), unprofiled
    try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"warmup: ${e.getMessage}") }

    (1 to reps).foreach { rep =>
      val t0 = System.nanoTime()
      val r = Meter.measure(spark)(fn(spark, sfDir))
      val total = (System.nanoTime() - t0) / 1e9
      val base = r.jobs.headOption.map(_.start).getOrElse(0L)
      println(f"== $name rep $rep: $total%.3f s, ${r.jobs.size} jobs, " +
        s"${r.stages.size} stages ==")
      var prevEnd = base
      r.jobs.foreach { j =>
        val gap = j.start - prevEnd
        println(f"  job ${j.id}%3d +${(j.start - base) / 1e3}%7.3f s " +
          f"dur ${(j.end - j.start) / 1e3}%7.3f s gap ${gap / 1e3}%7.3f s " +
          s" ${j.desc.take(70)}")
        prevEnd = math.max(prevEnd, j.end)
      }
      val hot = r.stages.filter(s => s.completed > s.submitted)
        .sortBy(s => -(s.completed - s.submitted)).take(20)
      hot.foreach { s =>
        println(f"  stage ${s.id}%4d dur ${(s.completed - s.submitted) / 1e3}%7.3f s " +
          f"tasks ${s.tasks}%3d run ${s.runMs / 1e3}%7.3f s " +
          f"shR ${s.shuffleRead / 1024}%8d K shW ${s.shuffleWrite / 1024}%8d K " +
          f"in ${s.input / 1024}%8d K  ${s.name.take(60)}%s")
      }
    }
    spark.stop()
  }
}
