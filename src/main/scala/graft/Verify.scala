package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2,
      s"usage: graft.Verify <sfDir> <outDir> (got ${args.length} args)")
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_MASTER / SPARK_GRAFT_EXTRA_CONFS re-dump the catalog
    // on another master (local-cluster for the speculation axis, since
    // local mode never starts the speculation scheduler) or under
    // another execution conf
    val spark = graft.core.EngineSession.fromEnv("graft-verify")
    // Non-vacuity pin for the speculation axis: when the dump claims to
    // run under speculative execution, at least one speculative task
    // attempt must actually have launched — otherwise the "axis" dump
    // is just a slow baseline re-run proving nothing. Exit nonzero so
    // the gate recipe cannot record a vacuous pass.
    // case-insensitive: SPARK_GRAFT_EXTRA_CONFS='spark.speculation=TRUE'
    // must arm the guard too — Spark parses the conf with toBoolean
    // semantics, so the guard must match or it silently disarms
    val speculationOn = spark.conf.getOption("spark.speculation")
      .exists(_.trim.equalsIgnoreCase("true"))
    val speculativeTasks = new java.util.concurrent.atomic.AtomicLong(0)
    if (speculationOn)
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskStart(
              t: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
            if (t.taskInfo.speculative) speculativeTasks.incrementAndGet()
        })
    new java.io.File(outDir).mkdirs()
    // dev-loop subset: SPARK_GRAFT_ONLY=name1,name2 restricts the dump
    // (the driver never sets it — absent means the full catalog)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.filter(e => selected(e._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(e => selected(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (speculationOn) {
      // listener events are posted async (no public drain API): poll
      // instead of a fixed sleep — one attempt is enough to prove
      // non-vacuity, so break as soon as any is counted; a genuinely
      // vacuous run waits out the full window (rare, axis runs only)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (speculativeTasks.get() == 0 && System.nanoTime() < deadline)
        Thread.sleep(500)
      System.err.println(
        s"[verify] speculativeTasks=${speculativeTasks.get()}")
      if (speculativeTasks.get() == 0) {
        System.err.println("[verify] speculation axis was VACUOUS — no " +
          "speculative attempt ever launched (local master? multiplier/" +
          "quantile too lax?)")
        // a vacuous dump must not be comparable even by a gate that
        // ignores the exit code: remove the dump and leave a marker
        // file AT the outDir path (any parquet read of it fails loudly)
        def rmRf(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rmRf))
          f.delete()
        }
        rmRf(new java.io.File(outDir))
        val markerText =
          "VACUOUS: speculation axis launched zero speculative attempts;" +
            " this dump was deleted — do not compare\n"
        // if rmRf couldn't fully delete (open handle, permission), the
        // path is still a directory and writeString AT it would throw —
        // leaving the partially-intact dump unmarked, the exact
        // exit-code-ignoring-gate hole the marker exists to plug. Fall
        // back to planting the marker INSIDE the survivor.
        if (new java.io.File(outDir).isDirectory)
          Files.writeString(Paths.get(outDir, "VACUOUS"), markerText)
        else Files.writeString(Paths.get(outDir), markerText)
        spark.stop()
        sys.exit(3)
      }
    }
    spark.stop()
  }
}
