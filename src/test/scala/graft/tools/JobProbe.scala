package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-JOB time attribution for one catalog entry (round 18, guide §1):
  * at bench scale (sf0.1 ≈ 17 MB) entry seconds are dominated by the
  * NUMBER of Spark jobs/stages an entry runs, not by data volume — so
  * the first optimization question is "which jobs, how long, how many
  * stages/tasks", not "which shuffle is big". DrawProbe answers
  * flip-vs-noise; this answers where-the-time-goes.
  *
  * Run (fresh JVM, same conf surface as graft.Bench):
  *   java <add-opens> -cp "<test-classes>:<classes>:<spark jars>"
  *     graft.tools.JobProbe <queryName> <sfDir> [draws]
  *
  * Prints per-draw: total sec, job count, stage count, task count, sum
  * of task time; then a per-job table for the LAST draw (job wall ms,
  * stages, tasks, first-stage name from the call site).
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JobProbe <queryName> <sfDir> [draws]")
    val Array(name, sfDir) = args.take(2)
    val draws = if (args.length > 2) args(2).toInt else 3
    val spark = graft.core.EngineSession.fromEnv("graft-job-probe")

    final case class JobRec(start: Long, var end: Long = 0L, desc: String)
    final case class StageRec(name: String, tasks: Int, taskMs: Long,
        wallMs: Long, shufWrite: Long, shufRead: Long)
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stages = mutable.ArrayBuffer.empty[StageRec]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("")
        jobs.synchronized { jobs(e.jobId) = JobRec(e.time, desc = d.take(90)) }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          val si = e.stageInfo
          val wall = (for {
            a <- si.submissionTime; b <- si.completionTime
          } yield b - a).getOrElse(0L)
          // the stage name of an AQE-materialized stage is the async
          // future's call site — useless. The RDD scopes inside the
          // stage name the physical operators it executes.
          val scopes = si.rddInfos.sortBy(_.id).flatMap(_.scope)
            .map(_.name).distinct.mkString(">")
          stages += StageRec(scopes.take(250),
            si.numTasks, si.taskMetrics.executorRunTime, wall,
            si.taskMetrics.shuffleWriteMetrics.bytesWritten,
            si.taskMetrics.shuffleReadMetrics.totalBytesRead)
        }
    })

    def exec(): Double = {
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val qe = df.queryExecution
      spark.sparkContext.runJob(qe.toRdd,
        (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
          while (it.hasNext) it.next(); ()
        })
      (System.nanoTime() - t0) / 1e9
    }

    exec() // warm
    for (i <- 1 to draws) {
      jobs.synchronized(jobs.clear())
      stages.synchronized(stages.clear())
      val sec = exec()
      Thread.sleep(300) // listener bus drain
      val (nj, jwall) = jobs.synchronized {
        (jobs.size, jobs.values.map(j => math.max(0L, j.end - j.start)).sum)
      }
      val (ns, nt, tms) = stages.synchronized {
        (stages.size, stages.map(_.tasks).sum, stages.map(_.taskMs).sum)
      }
      println(f"draw $i: $sec%.3f s  jobs=$nj stages=$ns tasks=$nt " +
        f"taskTime=${tms}ms jobWall=${jwall}ms")
      if (i == draws) stages.synchronized {
        // aggregate stages by name: the per-callsite CPU profile
        stages.groupBy(_.name).map { case (n, ss) =>
          (n, ss.size, ss.map(_.tasks).sum, ss.map(_.taskMs).sum,
            ss.map(_.wallMs).sum, ss.map(_.shufWrite).sum,
            ss.map(_.shufRead).sum)
        }.toSeq.sortBy(-_._4).foreach { case (n, c, t, ms, w, sw, sr) =>
          println(f"  stage x$c%-2d tasks=$t%4d taskTime=$ms%6d ms wall=$w%5d ms sw=${sw / 1024}%7d KB sr=${sr / 1024}%7d KB  $n%s")
        }
      }
    }
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
  }
}
