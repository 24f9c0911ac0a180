package graft.operators

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame

/** Fault-tolerance probe for the managed-persist paths, run in its OWN
  * JVM (see CurationFaultSpec): task retries need a `local[N, 2]`
  * master, and the shared suite session is `local[4]` (maxFailures=1,
  * any task failure fails the job).
  *
  * Injects a ONE-SHOT task failure (first attempt of partition 0 of
  * the source scan) under `curateManaged` and `report`, and asserts
  * recompute-not-corrupt semantics: the retried computation produces
  * exactly the clean run's survivors, the persisted frame isn't
  * corrupted by the half-computed first attempt, and `report`'s
  * Observation counters don't double-count the failed attempt (Spark
  * only folds accumulator updates from SUCCESSFUL tasks into observe
  * metrics — this pins that contract for the one place we rely on it).
  */
object CurationFaultProbe {

  /** Set exactly when the injected exception is thrown — proves the
    * fault actually fired (the assertions would be vacuous otherwise).
    */
  val fired = new AtomicBoolean(false)

  private def oneShotFaulty(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.as[(Long, String)].mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0 &&
          fired.compareAndSet(false, true))
        throw new RuntimeException("injected one-shot task failure")
      it
    }.toDF("doc_id", "text")
  }

  def main(args: Array[String]): Unit = {
    // local[8, 2]: 2 task attempts, one injected failure + retry
    val spark = graft.core.EngineSession.build("graft-fault-probe",
      "local[8, 2]", 8)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // corpus with exact dups, near dups, and low-quality rows so every
    // curation stage does real work
    val r = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def text(): String =
      (0 until 12).map(_ => words(r.nextInt(words.size)) + r.nextInt(50))
        .mkString(" ")
    val base = (0 until 600).map(i => (i.toLong, text()))
    val exactDups = (0 until 100).map(i => (1000L + i, base(i)._2))
    val lowQ = (0 until 50).map(i => (2000L + i, "x"))
    val docs = (base ++ exactDups ++ lowQ).toDF("doc_id", "text")

    def survivors(df: DataFrame): Seq[Long] = {
      val (out, release) = Curation.curateManaged(df, "doc_id", "text")
      try out.select("doc_id").as[Long].collect().sorted.toSeq
      finally release()
    }

    val clean = survivors(docs)
    fired.set(false)
    val faulty = survivors(oneShotFaulty(docs))
    require(fired.get(), "injected fault never fired (curateManaged)")
    require(clean == faulty,
      s"curateManaged diverged after task retry: clean=${clean.size} " +
        s"faulty=${faulty.size}")
    require(clean.nonEmpty, "vacuous: zero survivors")

    val cleanReport = Curation.report(docs, "doc_id", "text")
    fired.set(false)
    val faultyReport = Curation.report(oneShotFaulty(docs), "doc_id", "text")
    require(fired.get(), "injected fault never fired (report)")
    require(cleanReport == faultyReport,
      s"report diverged after task retry: $cleanReport vs $faultyReport")

    spark.stop()
    println("FAULT_PROBE_OK")
  }
}
