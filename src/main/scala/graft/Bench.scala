package graft

import java.util.Locale

import scala.collection.mutable

/** Benchmark main (driver contract): runs the query catalog against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{name:sec},"sf":…}`.
  *
  * Each query is forced through full materialization by running a
  * whole-plan job over `queryExecution.toRdd` (every row of every
  * partition iterated, nothing collected to the driver) — `count()`
  * would let Catalyst collapse scan-only plans to parquet-footer
  * metadata and under-report real work. Through round 16 the forcing
  * sink was a noop DataFrameWriter; the toRdd job does the identical
  * distributed work minus the V2 writer wrapper (A/B-verified
  * like-for-like at round 17 switch time, see OPERATORS.md) and —
  * the reason for the switch — leaves the FINAL adaptive plan
  * readable on the frame's own QueryExecution, so every draw can be
  * fingerprinted.
  *
  * SELF-CERTIFICATION (round 17, r16 verdict task 1): twice running,
  * the driver's bench artifact carried outliers (d12 at sf1: 151 s vs
  * a 9.0–11.7 s same-code DrawProbe band) that needed a post-hoc probe
  * session to classify as noise-vs-flip. Now the artifact carries the
  * verdict itself:
  *
  *  - every execution of every entry is fingerprinted
  *    ([[graft.tools.PlanFingerprint]] — the DrawProbe normalization,
  *    hashed); entries whose draws produced >1 distinct final plan are
  *    listed in `"flips"` on the driver line (normally `[]`). An
  *    outlier duration with an empty flips list is HOST CONDITION,
  *    certified by the artifact; a flipped entry is a real plan
  *    nondeterminism to pin.
  *  - `"plans"` is one hash over the {entry → headline fingerprint}
  *    map, so cross-round plan drift (an optimizer or code change that
  *    re-plans anything) is visible by comparing two BENCH lines.
  *  - `"canary"` carries a pre/post rig reading: seconds for a fixed
  *    pure-CPU xorshift workload, 1-min loadavg, and MemAvailable GiB.
  *    A degraded post-canary (or a pre/post gap) stamps the run as
  *    measured on a loaded host — the drifting-rig signature that
  *    inflated whole BENCH sections in r15/r16.
  *
  * Per-entry fingerprint lists and per-pass canaries go to the detail
  * file (SPARK_GRAFT_BENCH_FILE) — the driver tail window (~2 KB) only
  * has room for the compact summary fields.
  *
  * Measurement is steady-state and interference-resistant. This host
  * has co-tenant bursts lasting minutes (measured: the same query at
  * 3.6 s and 42.7 s within one JVM; load avg spiking 0→16). Two
  * defenses, both motivated by real polluted rounds:
  *
  *  1. Timed draws run ROUND-ROBIN across entries (pass 1 runs every
  *     entry once, pass 2 runs every entry again, …) instead of
  *     back-to-back per entry. Back-to-back draws all land inside the
  *     same burst window: round 5 reported d28 at 72.4 s where the
  *     quiet-window truth is 0.84 s because one burst covered every
  *     draw. With passes separated by a full catalog sweep (~1–4 min),
  *     a burst must outlast the whole suite to own all draws of any
  *     single entry.
  *  2. The per-entry map carries the MINIMUM across passes — the
  *     minimum estimates intrinsic cost, the only per-entry quantity
  *     comparable across rounds (medians made round 4's d19 read as a
  *     15× regression on unchanged code). Entries whose spread still
  *     says "polluted" (max >> min) get two rescue draws at the end,
  *     again round-robin over the flagged set.
  *
  * HEADLINE + RIG VERDICT (round 18, r17 verdict task 3): `value` is
  * the MEDIAN of per-pass totals — the verify skill's median-of-3
  * protocol computed inside one invocation — with `vmin` (sum of
  * per-entry minima, the former `value`) kept for cross-round
  * continuity, and `rig` a self-verdict ("quiet"/"degraded") derived
  * from the vmed/vmin gap (quiet ≤ ~1.17 on this host, the loaded r17
  * driver artifact at 1.74; threshold 1.35) or a systemic-interference
  * rescue skip. `errors` lists entries with any failed execution (r17
  * ADVICE — a failing entry used to deflate totals invisibly), and
  * with SPARK_GRAFT_INTERIOR_FP=true every Dataset-action execution
  * INSIDE an entry (checkpoint rounds, counts, model fits) is also
  * fingerprinted and cross-draw-compared into `iflips` (r17 verdict
  * task 2 — the localCheckpoint-hidden join class). SPARK_GRAFT_
  * BENCH_ONLY=<a,b,…> restricts the catalog for targeted probes.
  *
  * Because min-of-draws can only hide contention effects, the JSON
  * line also carries `vmed` (sum of per-entry medians): a vmed far
  * above `value` flags an interference-polluted round, while a vmed
  * rise with flat `value` distinguishes contention from intrinsic
  * regressions. Full per-run draw lists (full precision, in pass
  * order) go to SPARK_GRAFT_BENCH_FILE (default target/bench_full
  * .json) for offline analysis — the driver tail window (~2 KB) has
  * no room for 103 raw run lists.
  *
  * The driver parses the tail of the captured output, so the emitted
  * line must (a) be the true last line — logs are switched off and the
  * session stopped before printing — and (b) fit the tail window:
  * per-query seconds are rounded to 3 decimals and keyed by the short
  * catalog id (the full-name map overflowed the window in r01/r02).
  *
  * When the primary run is the driver's sf0.1 sweep and `localdata/sf1`
  * is synthesized, the line also carries an `sf1` section: the 10
  * heaviest entries re-measured at the 10× point, so decade-scaling
  * regressions surface per-round instead of via one-off probes.
  */
object Bench {
  private def fmt(v: Double): String = String.format(Locale.ROOT, "%.3f", v)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  // sink defeating dead-code elimination of the canary loop
  @volatile private var canarySink: Long = 0L

  /** Rig canary: (seconds for a fixed single-thread CPU workload,
    * 1-min loadavg, MemAvailable GiB). The CPU number moves with
    * frequency scaling / co-tenant steal; loadavg and free memory
    * catch the burst-shaped interference measured on this host.
    */
  private def canary(): (Double, Double, Double) = {
    var x = 0x9E3779B97F4A7C15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < (1 << 26)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    canarySink = x
    val sec = (System.nanoTime() - t0) / 1e9
    val load = try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }
    val memGb = try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().find(_.startsWith("MemAvailable"))
        .map(_.split("\\s+")(1).toDouble / 1048576.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Throwable => -1.0 }
    (sec, load, memGb)
  }

  private def canaryJson(c: (Double, Double, Double)): String =
    s"[${fmt(c._1)},${fmt(c._2)},${fmt(c._3)}]"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val timedRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = graft.core.EngineSession.fromEnv("graft-bench")

    // every execution's fingerprint, keyed "<dir-tag>:<name>" — warm,
    // timed, and rescue draws all append, so a flip in ANY draw is seen
    val fps = mutable.LinkedHashMap.empty[String, Vector[String]]

    // INTERIOR-plan fingerprinting (round 18, r17 verdict task 2):
    // checkpointing entries (d12/d18 via ConnectedComponents, the
    // IVF/PQ model fits) do most of their join work in Dataset actions
    // the final-plan fingerprint never sees — localCheckpoint and
    // count() run their own QueryExecutions, and a nondeterministic
    // AQE build-side flip there (the d13/d18 class, round 17) would
    // not land in "flips" today. Env-gated (SPARK_GRAFT_INTERIOR_FP):
    // a QueryExecutionListener fingerprints EVERY Dataset-action
    // execution; attribution is by a current-entry label plus a
    // quiesce-drain after each entry (the listener bus is async, so
    // the drain waits for the per-entry event stream to go stable
    // before the next entry starts). The per-execution interior lists
    // go to the detail file; entries whose executions produced more
    // than one distinct interior list are summarized in "iflips".
    // Not on by default: the drain adds ~0.1 s floor per execution,
    // which would pollute the headline timings of the full catalog.
    val interiorOn = sys.env.get("SPARK_GRAFT_INTERIOR_FP").contains("true")
    val interiorSeen =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    @volatile var interiorLabel = ""
    val interior = mutable.LinkedHashMap.empty[String, Vector[Vector[String]]]
    if (interiorOn) spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          val fp = try graft.tools.PlanFingerprint.of(qe.executedPlan)
          catch { case _: Throwable => "err" }
          interiorSeen.add((interiorLabel, s"$funcName:$fp")); ()
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = {
          interiorSeen.add((interiorLabel, s"$funcName:err")); ()
        }
      })
    /** Wait for the async listener bus to go quiet, then fold this
      * execution's interior events into `interior` under `key`.
      */
    def drainInterior(key: String): Unit = {
      var stable = 0
      var last = -1
      var waited = 0
      while (stable < 2 && waited < 3000) {
        val n = interiorSeen.size
        if (n == last) stable += 1 else stable = 0
        last = n
        Thread.sleep(50); waited += 50
      }
      val mine = Vector.newBuilder[String]
      val it = interiorSeen.iterator()
      while (it.hasNext) {
        val (lbl, fp) = it.next()
        if (lbl == key) mine += fp
        // events mislabeled across a boundary would surface as a
        // spurious iflip; the drain makes that structurally rare and
        // any residue is visible in the detail file's raw lists
      }
      interiorSeen.clear()
      interior(key) = interior.getOrElse(key, Vector.empty) :+ mine.result()
    }

    def execIn(dir: String)(name: String): Double = {
      var qe: org.apache.spark.sql.execution.QueryExecution = null
      if (interiorOn) interiorLabel = (if (dir == sfDir) "" else "sf1:") + name
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        qe = df.queryExecution
        // full-materialization forcing job: iterate every row of every
        // partition on the executors (nothing returned); the final
        // adaptive plan is then readable from qe.executedPlan
        spark.sparkContext.runJob(qe.toRdd,
          (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
            while (it.hasNext) it.next(); ()
          })
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        qe = null
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // fingerprint OUTSIDE the timed window (string work, ~ms)
      val fp =
        if (qe == null) "err"
        else try graft.tools.PlanFingerprint.of(qe.executedPlan)
        catch { case _: Throwable => "err" }
      val key = (if (dir == sfDir) "" else "sf1:") + name
      fps(key) = fps.getOrElse(key, Vector.empty) :+ fp
      if (interiorOn) drainInterior(key)
      sec
    }
    def exec(name: String): Double = execIn(sfDir)(name)

    // probe filter (round 18): a comma list restricts the catalog —
    // 10-draw interior-fingerprint probes of the checkpointing entries
    // would otherwise pay a full 105-entry sweep per draw
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = graft.queries.Catalog.all.map(_.name)
      .filter(n => only.forall(_.contains(n)))
    require(names.nonEmpty, "SPARK_GRAFT_BENCH_ONLY matched no catalog entry")
    val canaries = mutable.LinkedHashMap("pre" -> canary())
    names.foreach(exec) // warm pass: codegen + JIT + page cache
    val draws = mutable.LinkedHashMap(names.map(_ -> Vector.empty[Double]): _*)
    val passTotals = Vector.newBuilder[Double]
    for (pass <- 1 to timedRuns) {
      var pt = 0.0
      for (n <- names) { val s = exec(n); draws(n) = draws(n) :+ s; pt += s }
      passTotals += pt
      canaries(s"pass$pass") = canary()
    }
    // interference rescue: if an entry's spread still says the sample
    // is polluted after round-robin separation, buy two more draws —
    // themselves round-robin over the flagged set. Breadth-capped:
    // when most of the catalog flags at once the burst is SYSTEMIC
    // (measured: 88/105 flagged under a sustained load-15 window) and
    // two more full sweeps just extend the exposure without cleaning
    // any minimum — skip, and let the vmed/value gap report the
    // pollution instead.
    val flagged = names.filter { n =>
      val r = draws(n); r.max > r.min * 1.5 + 0.05
    }
    if (flagged.size <= names.size / 3)
      for (_ <- 1 to 2; n <- flagged)
        draws(n) = draws(n) :+ exec(n)
    else
      System.err.println(s"[bench] systemic interference: ${flagged.size}/" +
        s"${names.size} entries polluted — skipping rescue draws")

    val results = names.map(n => n -> draws(n).min)
    // headline protocol (round 18, r17 verdict task 3): `value` is the
    // MEDIAN of per-pass totals — the verify skill's median-of-3
    // protocol computed inside the artifact, so the driver's single
    // invocation stops publishing what is effectively one draw's
    // minimum envelope as the headline. `vmin` keeps the former
    // semantics (sum of per-entry minima, the intrinsic-cost floor)
    // for cross-round continuity with BENCH_r01–r17.
    val vmin = results.map(_._2).sum
    val passTotalsV = passTotals.result()
    val total = if (passTotalsV.size >= 3) median(passTotalsV) else vmin
    // short keys (the driver-contract example's "q1":sec shape): the
    // catalog id before the first underscore is unique per entry, and
    // the full-name map at ~27 chars/entry × 100+ entries overflows
    // the driver's output-tail window (~2 KB — BENCH_r01/r02 were both
    // truncated to parsed:null). Full names live in the detail file.
    val qs = results.map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + fmt(v)
    }.mkString("{", ",", "}")
    val totalMed = names.map(n => median(draws(n))).sum
    // rig self-verdict (round 18, r17 verdict task 3): the vmed/vmin
    // gap is the discriminator this host actually separates on — the
    // four r17 quiet-window draws sat at 1.10/1.10/1.15/1.17 while the
    // loaded driver artifact hit 1.74 (the canary CPU loop stayed flat
    // at ~0.14 s in BOTH regimes, and post-run 1-min loadavg overlaps:
    // quiet 9.6–12.7 vs loaded 12.6, our own 32 threads dominate it).
    // A systemic-interference rescue skip is a degraded verdict by
    // definition (most of the catalog polluted at once).
    val systemic = flagged.size > names.size / 3
    val rigGap = if (vmin > 0) totalMed / vmin else 1.0
    val rig = if (systemic || rigGap > 1.35) "degraded" else "quiet"

    // sf1 decade section: the 10 heaviest entries by this run's sf0.1
    // minimum, re-measured at the synthesized sf1 point (warm + 2
    // round-robin draws, min). Decade-scaling regressions — the kind
    // r7/r8 caught only via one-off probes — become visible for free
    // in every round's BENCH line. On by default only for the driver's
    // sf0.1 run (local quick loops at other SFs stay quick); override
    // with SPARK_GRAFT_BENCH_SF1=true/false.
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "localdata/sf1")
    val sf1On = sys.env.get("SPARK_GRAFT_BENCH_SF1")
      .map(_ == "true").getOrElse(sfDir.endsWith("sf0.1"))
    val sf1Draws = mutable.LinkedHashMap.empty[String, Vector[Double]]
    val sf1Json =
      if (!sf1On ||
          !java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sf1Dir))) ""
      else {
        // Pinned core: the 10 heaviest entries, stable across r8–r10.
        // Picking purely by THIS run's minima let a co-tenant burst
        // rotate an entry in/out between rounds, breaking 1:1 key
        // joins across BENCH files (ADVICE r10). The union keeps keys
        // stable AND still admits a genuine newcomer from this run's
        // top-10 (which then earns a spot in the pin next round).
        val pinnedHeavy = Vector(
          "d12_curation", "t06_stream_interval_join_outer",
          "t08_stream_snapshot_sync", "t05_stream_interval_join",
          "q05_groupby_pricing", "e07_knn_pq", "e08_semantic_dedup",
          "e09_ann_recall", "d21_boilerplate_chunks",
          "d18_neardup_clusters")
        val present = results.map(_._1).toSet
        val core = pinnedHeavy.filter(present)
        val heavy = (core ++
          results.sortBy(-_._2).take(10).map(_._1)).distinct
        heavy.foreach(execIn(sf1Dir)) // warm: page cache + fresh codegen
        heavy.foreach(n => sf1Draws(n) = Vector.empty)
        for (_ <- 1 to 2; n <- heavy)
          sf1Draws(n) = sf1Draws(n) :+ execIn(sf1Dir)(n)
        val entries = heavy.map(n =>
          "\"" + n.takeWhile(_ != '_') + "\":" + fmt(sf1Draws(n).min))
          .mkString("{", ",", "}")
        // sf1_total sums the PINNED core only: a fixed denominator, so
        // round-over-round deltas compare like for like even when this
        // run's top-10 admits a newcomer (newcomers still appear in the
        // per-key map above and earn a pin slot next round)
        s""","sf1":$entries,"sf1_total":${fmt(core.map(sf1Draws(_).min).sum)}"""
      }

    canaries("post") = canary()

    // self-certification summary (r16 verdict task 1): entries whose
    // executions produced more than one distinct final plan this run
    // (an outlier draw with an empty flips list is host condition, not
    // a plan flip), plus one hash over the headline fingerprint map so
    // cross-round plan drift shows up by diffing two BENCH lines
    val flips = fps.collect {
      case (k, v) if v.filterNot(_ == "err").distinct.size > 1 => k
    }.toVector
    val flipsJson = flips.map("\"" + _ + "\"").mkString("[", ",", "]")
    // r17 ADVICE: an intermittently failing entry used to be invisible
    // here — its "err" fingerprints are filtered out of flips and its
    // near-zero partial elapsed deflates the totals, with only a
    // stderr note. The artifact now certifies failures the way it
    // certifies flips.
    val errors = fps.collect {
      case (k, v) if v.contains("err") => k
    }.toVector
    val errorsJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    // interior flips: executions of one entry that ran different
    // interior plan sequences (order-sensitive — the checkpoint rounds
    // of an iterative operator are a sequence, and a flip in ANY round
    // must show). Only meaningful when SPARK_GRAFT_INTERIOR_FP ran.
    val iflips = interior.collect {
      case (k, lists) if lists.map(_.mkString(";")).distinct.size > 1 => k
    }.toVector
    val iflipsJson = iflips.map("\"" + _ + "\"").mkString("[", ",", "]")
    // primary-SF entries only: the sf1 section's key set is top-10-by-
    // this-run's-minima, so including it makes the hash vary with rig
    // jitter instead of with plans (observed across the first three
    // draws: identical primary fingerprint maps, three different
    // hashes). sf1 plan identity is still covered by flips + detail.
    val plansSha = graft.tools.PlanFingerprint.ofString(
      fps.collect { case (k, v) if !k.startsWith("sf1:") =>
        s"$k=${v.lastOption.getOrElse("")}" }.mkString("\n"))
    val canaryJsonLine =
      s""""canary":{"pre":${canaryJson(canaries("pre"))},"post":${
        canaryJson(canaries("post"))}}"""

    val iflipsField = if (interiorOn) s""","iflips":$iflipsJson""" else ""
    val json =
      s"""{"metric":"total","value":${fmt(total)},"vmin":${fmt(vmin)},"vmed":${fmt(totalMed)},"rig":"$rig","unit":"sec","queries":$qs,"sf":"$sfDir"$sf1Json,"plans":"$plansSha","flips":$flipsJson,"errors":$errorsJson$iflipsField,$canaryJsonLine}"""

    // full-precision per-draw detail for offline analysis (not part of
    // the driver contract); draws are in pass order, so a burst shows
    // up as the same ordinal polluted across many entries
    val benchFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILE", "target/bench_full.json")
    try {
      val d = names.map { n =>
        "\"" + n + "\":[" + draws(n).map(_.toString).mkString(",") + "]"
      }.mkString("{", ",", "}")
      val d1 = sf1Draws.map { case (n, v) =>
        "\"" + n + "\":[" + v.map(_.toString).mkString(",") + "]"
      }.mkString("{", ",", "}")
      // full per-execution fingerprint lists (warm first, then timed
      // draws in pass order, then any rescue draws) + per-pass canaries
      val fpJson = fps.map { case (k, v) =>
        "\"" + k + "\":[" + v.map("\"" + _ + "\"").mkString(",") + "]"
      }.mkString("{", ",", "}")
      val canJson = canaries.map { case (k, c) =>
        "\"" + k + "\":" + canaryJson(c)
      }.mkString("{", ",", "}")
      // interior fingerprint lists: one inner array per execution of
      // the entry (warm, timed passes, rescue — same order as
      // "fingerprints"); each element "actionName:fp"
      val intJson = interior.map { case (k, lists) =>
        "\"" + k + "\":" + lists.map(
          _.map("\"" + _ + "\"").mkString("[", ",", "]"))
          .mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      val ptJson = passTotalsV.map(_.toString).mkString("[", ",", "]")
      val p = java.nio.file.Paths.get(benchFile)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p,
        s"""{"total":$total,"vmin":$vmin,"total_median":$totalMed,"rig":"$rig","rig_gap":$rigGap,"pass_totals":$ptJson,"sf":"$sfDir","runs":$d,"sf1_runs":$d1,"fingerprints":$fpJson,"flips":$flipsJson,"errors":$errorsJson,"interior":$intJson,"iflips":$iflipsJson,"plans":"$plansSha","canaries":$canJson}""".getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }

    // the driver parses the tail of captured output: stop everything
    // that could log first, then print the JSON exactly once as the
    // true last line (sbt's [success] footer is disabled in build.sbt)
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(json)
  }
}
