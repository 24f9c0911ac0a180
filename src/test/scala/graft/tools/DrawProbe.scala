package graft.tools

/** Generic per-draw variance probe (round 15, for the d12 question):
  * N timed draws of ONE catalog entry in a fresh JVM, with Bench's
  * session (EngineSession, so SPARK_GRAFT_EXTRA_CONFS=k=v;… sets
  * hypothesis-isolation confs, e.g. spark.sql.adaptive.enabled=false),
  * honoring
  *
  *   SPARK_GRAFT_PROBE_PLANS=<dir>  dump every execution's FINAL
  *     adaptive plan, duration in the filename (diff slow vs fast)
  *
  * Why it exists: round 14 proved per-draw variance on identical code
  * can be a nondeterministic AQE plan flip, not noise (the e08
  * bimodality). Any entry whose driver-side bench swings now gets this
  * treatment first: ~10 draws, plan dumps, diff — either "identical
  * plans, duration-only variance" (true noise, case closed) or a flip
  * to pin the way e08's was.
  *
  * Run (fresh JVM per invocation — that is the point):
  *   java <add-opens> -cp "<test-classes>:<classes>:<spark jars>"
  *     graft.tools.DrawProbe <queryName> <sfDir> [draws]
  * Prints one JSON line {"query":…,"sf":…,"draws":[…]}.
  */
object DrawProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DrawProbe <queryName> <sfDir> [draws]")
    val Array(name, sfDir) = args.take(2)
    val draws = if (args.length > 2) args(2).toInt else 10
    val spark = graft.core.EngineSession.fromEnv("graft-draw-probe")

    sys.env.get("SPARK_GRAFT_PROBE_PLANS").foreach { dir =>
      new java.io.File(dir).mkdirs()
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit = {
            val f = s"$dir/plan_${durationNs / 1000000}ms_${System.nanoTime()}.txt"
            java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
              qe.executedPlan.toString)
          }
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })
    }

    // round 17: same forcing mechanism as graft.Bench (whole-plan job
    // over toRdd) so the main frame's FINAL adaptive plan is readable
    // per draw — each draw prints its structural fingerprint
    // (PlanFingerprint), making flip-vs-noise legible from the probe's
    // own output; the listener above still captures every interior
    // execution's raw plan when SPARK_GRAFT_PROBE_PLANS is set.
    def exec(): (Double, String) = {
      // construction INSIDE the timed window (matches graft.Bench):
      // for the streaming t-entries and eager builders (d12, e06) the
      // construction call IS most of the work
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val qe = df.queryExecution
      spark.sparkContext.runJob(qe.toRdd,
        (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
          while (it.hasNext) it.next(); ()
        })
      val sec = (System.nanoTime() - t0) / 1e9
      sys.env.get("SPARK_GRAFT_PROBE_PLANS").foreach { dir =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(
            s"$dir/main_${(sec * 1000).toLong}ms_${System.nanoTime()}.txt"),
          PlanFingerprint.describe(qe.executedPlan) + "\n----RAW----\n" +
            qe.executedPlan.toString)
      }
      (sec, PlanFingerprint.of(qe.executedPlan))
    }

    exec() // warm (page cache + codegen)
    val runs = (1 to draws).map(_ => exec())
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(s"""{"query":"$name","sf":"$sfDir","draws":[${
      runs.map(r => f"${r._1}%.3f").mkString(",")}],"fps":[${
      runs.map(r => "\"" + r._2 + "\"").mkString(",")}]}""")
  }
}
