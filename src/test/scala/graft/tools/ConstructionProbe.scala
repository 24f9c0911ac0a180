package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Does CONSTRUCTING a catalog entry's DataFrame launch Spark jobs
  * before any action runs? (round 19, ADVICE follow-up): `fanOut`
  * reads `queryExecution.toRdd.getNumPartitions` to learn the source
  * width; on a plan that already contains an Exchange, toRdd under AQE
  * finalizes the adaptive plan, which MATERIALIZES every non-result
  * query stage — a full eager execution of the upstream shuffle whose
  * result is then discarded. This probe separates construction-time
  * jobs/tasks from action-time jobs/tasks per entry.
  *
  *   java <add-opens> -cp "<test-classes>:<classes>:<spark jars>"
  *     graft.tools.ConstructionProbe <sfDir> <name> [name...]
  */
object ConstructionProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ConstructionProbe <sfDir> <name>...")
    val sfDir = args.head
    val spark = graft.core.EngineSession.fromEnv("graft-construction-probe")
    val jobs = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        tasks.addAndGet(e.stageInfo.numTasks); ()
      }
    })
    def snap(): (Int, Int) = { Thread.sleep(400); (jobs.get(), tasks.get()) }
    for (name <- args.tail) {
      val (j0, t0) = snap()
      val tC0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val qe = df.queryExecution
      val conSec = (System.nanoTime() - tC0) / 1e9
      val (j1, t1) = snap()
      val tA0 = System.nanoTime()
      spark.sparkContext.runJob(qe.toRdd,
        (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
          while (it.hasNext) it.next(); ()
        })
      val actSec = (System.nanoTime() - tA0) / 1e9
      val (j2, t2) = snap()
      println(f"$name: construction ${j1 - j0}%d jobs / ${t1 - t0}%d tasks " +
        f"(${conSec}%.3f s)  action ${j2 - j1}%d jobs / ${t2 - t1}%d tasks " +
        f"(${actSec}%.3f s)")
    }
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
  }
}
