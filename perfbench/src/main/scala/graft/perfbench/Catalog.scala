package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow

import graft.SparkEntry

/** One catalog entry's timed pass: construction, planning, forcing job. */
final case class EntryRun(name: String, constructS: Double, planS: Double, executeS: Double,
                          rows: Long, error: Option[String]) {
  def wallS: Double = constructS + planS + executeS
}

/** The catalog workload: a fixed set of `Catalog.all` entries, one from
  * every family the catalog has, forced by the whole-plan `toRdd` job
  * `graft.Bench` uses (with a row counter). Two warm passes, then timed
  * passes for the window, reported per entry as its best run over the
  * passes; row counts are checked against DuckDB counts recorded for the
  * benchmark corpus.
  */
final class Catalog(spark: SparkSession, a: Args) {
  private val ledger = new JobLedger
  private val tracer = new Tracer

  private def runEntry(name: String, owner: String, traced: Boolean): EntryRun = {
    val sc = spark.sparkContext
    def timed[T](phase: String, parent: Long)(body: => T): (T, Double) = {
      sc.setJobGroup(s"pb-entry-$owner-$phase", phase, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val v = if (traced) tracer.span(s"catalog.$phase", owner, parent)(_ => body) else body
      (v, (System.nanoTime() - t0) / 1e9)
    }
    def go(root: Long): EntryRun =
      try {
        val (df, c) = timed("construct", root)(SparkEntry.queries(name)(spark, a.corpus))
        val qe = df.queryExecution
        val (_, p) = timed("plan", root)(qe.executedPlan)
        val (rows, e) = timed("execute", root)(sc.runJob(qe.toRdd,
          (it: Iterator[InternalRow]) => { var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n }
        ).sum)
        EntryRun(name, c, p, e, rows, None)
      } catch {
        case e: Exception => EntryRun(name, 0, 0, 0, -1, Some(s"$name: ${e.getMessage}"))
      } finally sc.clearJobGroup()
    if (traced) tracer.span("catalog.entry", owner)(go) else go(0L)
  }

  private def pass(names: Seq[String], tag: String, traced: Boolean): Seq[EntryRun] =
    names.map(n => runEntry(n, s"$tag:$n", traced))

  def run(sessionReadyS: Double): Outcome = {
    val want = Catalog.expectedCounts(a.sf)
    val names = scala.util.Random.javaRandomToRandom(new java.util.Random(a.seed))
      .shuffle(Catalog.Entries)
    // set-up: the session, then warm passes until the first timed one.
    // The first runs everything cold; the second lets the JIT catch up
    val t0 = System.nanoTime()
    val warm = (1 to Catalog.WarmPasses).map(k => pass(names, s"warm$k", traced = false))
    val setupS = sessionReadyS + (System.nanoTime() - t0) / 1e9

    // timed passes until the window is used, and at least MinPasses
    val passes = mutable.ArrayBuffer.empty[Seq[EntryRun]]
    val w0 = System.nanoTime()
    do passes += pass(names, s"p${passes.size}", traced = false)
    while ((System.nanoTime() - w0) / 1e9 < a.seconds || passes.size < Catalog.MinPasses)
    val totals = passes.map(_.map(_.wallS).sum)
    // each entry's best run over the timed passes: the passes still speed
    // up for several passes after the warm ones, and bursts on a shared
    // machine only ever add time, so the best run is the steadiest
    // estimate of an entry's warm cost
    val best = names.map(n => passes.map(_.find(_.name == n).get).minBy(_.wallS))

    // traced runs add one listened, spanned pass; its gap to the last
    // untraced pass is the tracing overhead
    val traced = if (a.trace) {
      spark.sparkContext.addSparkListener(ledger)
      val tp = pass(names, "traced", traced = true)
      ledger.drain(spark.sparkContext)
      Some(tp)
    } else None

    val all = warm ++ passes.toSeq ++ traced.toSeq
    val bad = all.flatten.collect {
      case r if r.error.nonEmpty => r.name -> r.error.get
      case r if want.get(r.name).exists(_ != r.rows) =>
        r.name -> s"${r.name}: ${r.rows} rows, DuckDB oracle counts ${want(r.name)}"
    }.distinct
    val failures = bad.map(_._2)
    val wallS = best.map(_.wallS).sum
    // against the adjacent untraced pass: passes still speed up a little
    val layers = traced.map(tp => layersOf(tp, totals.last)).getOrElse(Map.empty)
    Outcome(
      attempted = best.size, failed = bad.map(_._1).distinct.size.toLong,
      checked = want.keySet == Catalog.Entries.toSet,
      // the operation is a pass over the entries (the catalog wall)
      endToEnd = Map("setup_s" -> setupS, "op_ms" -> wallS * 1000,
        "ops_per_s" -> best.size / wallS, "rss_peak_mb" -> Rig.rssPeakMb()),
      layers = layers,
      props = Map("entries" -> best.size.toString, "catalog_wall_s" -> Stats.num(wallS),
        "pass_totals_s" -> totals.map(Stats.num).mkString("[", ",", "]"),
        "warm_passes_s" -> warm.map(w => Stats.num(w.map(_.wallS).sum)).mkString("[", ",", "]"),
        "entry_wall_s" -> best.map(r => s"${Stats.str(r.name)}:${Stats.num(r.wallS)}")
          .mkString("{", ",", "}"),
        "entry_walls_s" -> names.map(n => s"${Stats.str(n)}:" + passes.map(p =>
          Stats.num(p.find(_.name == n).get.wallS)).mkString("[", ",", "]")).mkString("{", ",", "}"),
        "corpus_bytes" -> SyncSource.dirBytes(Paths.get(a.corpus)).toString),
      failures = failures,
      spans = if (a.trace) Some(tracer.json) else None)
  }

  private def layersOf(tp: Seq[EntryRun], untracedWallS: Double): Map[String, Either[Double, Summary]] = {
    val groups = ledger.inGroups("pb-entry-traced:")
    def jobs(name: String, phase: String) = groups.getOrElse(s"pb-entry-traced:$name-$phase", Nil)
    def total(f: JobRec => Double) = Left(tp.map(r =>
      (jobs(r.name, "construct") ++ jobs(r.name, "execute")).map(f).sum).sum)
    def family(f: String) = Left(tp.filter(_.name.startsWith(f)).map(_.executeS).sum)
    Map(
      "catalog.wall_s" -> Left(tp.map(_.wallS).sum),
      "catalog.construct_s" -> Left(tp.map(_.constructS).sum),
      "catalog.construct_jobs" -> Left(tp.map(r => jobs(r.name, "construct").size.toDouble).sum),
      "catalog.plan_s" -> Left(tp.map(_.planS).sum),
      "catalog.execute_s" -> Left(tp.map(_.executeS).sum),
      "catalog.execute_s.q" -> family("q"), "catalog.execute_s.t" -> family("t"),
      "catalog.execute_s.d" -> family("d"), "catalog.execute_s.e" -> family("e"),
      "catalog.execute_s.m" -> family("m"),
      "spark.jobs" -> total(_ => 1.0),
      "spark.stages" -> total(_.stages.get.toDouble),
      "spark.tasks" -> total(_.tasks.get.toDouble),
      "spark.task_run_s" -> total(_.runMs.get / 1e3),
      "spark.task_cpu_s" -> total(_.cpuNs.get / 1e9),
      "spark.gc_s" -> total(_.gcMs.get / 1e3),
      "spark.slot_wait_ms" -> Right(Stats.summarize(groups.values.flatten.map(_.slotWaitMs))),
      "spark.shuffle_write_bytes" -> total(_.shuffleWrite.get.toDouble),
      "spark.shuffle_read_bytes" -> total(_.shuffleRead.get.toDouble),
      "spark.spill_bytes" -> total(_.spill.get.toDouble),
      "trace.overhead_share" -> Left(tp.map(_.wallS).sum / untracedWallS - 1))
  }
}

object Catalog {
  val WarmPasses = 2
  val MinPasses = 4

  /** One entry from every family (q relational, t streaming, d text,
    * e vector, m multimodal), sized so several passes fit the window.
    */
  val Entries: Seq[String] = Seq(
    "q12_join_agg", "t01_stream_hourly", "d09_simhash_neardups", "e01_knn_brute",
    "m01_multimodal_features")

  /** DuckDB row counts of the entries' oracle SQL on the corpus at `sf`,
    * recorded by record_counts.py into catalog_counts.json.
    */
  def expectedCounts(sf: Double): Map[String, Long] = {
    val f = Paths.get("perfbench", "catalog_counts.json")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f.toFile)
    val node = root.get(sf.toString)
    if (node == null) Map.empty
    else Entries.flatMap(n => Option(node.get(n)).map(v => n -> v.asLong())).toMap
  }

  /** The entries' oracle SQL, for recording their DuckDB counts. */
  def dumpOracle(out: Path): Unit = {
    val sql = SparkEntry.oracleSql
    val missing = Entries.filterNot(sql.contains)
    require(missing.isEmpty, s"entries without oracle SQL: ${missing.mkString(",")}")
    Files.writeString(out, Entries.map(n => s"${Stats.str(n)}:${Stats.str(sql(n))}")
      .mkString("{", ",\n", "}\n"))
  }
}
