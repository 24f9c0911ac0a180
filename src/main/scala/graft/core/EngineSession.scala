package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Bench, Verify, ServeMain, the
  * dev tools, the forked probes and the shared test session all get the
  * same conf surface, so the conf Verify checks is the conf Bench
  * measures. Callers pass an app name, a master and a width, plus conf
  * pairs only where they really need a different value; everything
  * else is fixed here:
  *
  *  - session time zone UTC, UI off;
  *  - `spark.sql.shuffle.partitions` = width;
  *  - AQE with partition coalescing;
  *  - a 10000-entry codegen cache: Bench's round-robin passes interleave
  *    100+ distinct queries, and the 100-entry default thrashes (every
  *    draw re-runs Janino for every stage). Static conf, so it must be
  *    set before the session exists. Long-lived JVMs pass [[longLived]];
  *  - FAIR scheduling, one pool per serving thread in QueryEngine, so
  *    concurrent requests share task slots. Jobs without a pool property
  *    run in FAIR's default FIFO pool: Bench and Verify are unaffected;
  *  - on `local-cluster` / `spark://` masters, this JVM's classpath as
  *    the executor extraClassPath: the worker forks executors through
  *    spark-class, which knows only the Spark assembly jars.
  *
  * Caller pairs are applied after these, and SPARK_GRAFT_EXTRA_CONFS
  * after those, so an env override wins over everything.
  *
  * Env: SPARK_GRAFT_CPUS (width; default the machine's core count),
  * SPARK_GRAFT_MASTER (default `local[width]`), SPARK_GRAFT_EXTRA_CONFS
  * (`k=v;k=v`, e.g. `spark.sql.adaptive.enabled=false` for the AQE-off
  * axis). The invariance gate re-dumps the catalog under execution
  * confs a real cluster moves this way, without forking a main.
  */
object EngineSession {

  /** Task width: SPARK_GRAFT_CPUS, else the machine's core count. */
  def width(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Master: SPARK_GRAFT_MASTER, else `local[width]`. */
  def master(env: Map[String, String] = sys.env): String =
    env.getOrElse("SPARK_GRAFT_MASTER", s"local[${width(env)}]")

  /** SPARK_GRAFT_EXTRA_CONFS as conf pairs. Malformed entries fail
    * loudly: a silent skip (or a ';' inside a value splitting into
    * garbage) would run under NOT the confs being claimed.
    */
  def extraConfs(env: Map[String, String]): Seq[(String, String)] =
    env.get("SPARK_GRAFT_EXTRA_CONFS").toSeq
      .flatMap(_.split(";").map(_.trim).filter(_.nonEmpty))
      .map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.nonEmpty => k -> v
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_EXTRA_CONFS entry '$kv' is not k=v (entries " +
              "are ';'-separated, so neither keys nor values may " +
              "contain ';')")
        }
      }

  /** The full conf list a session gets, in application order. */
  def confs(master: String, width: Int, overrides: Seq[(String, String)],
            env: Map[String, String]): Seq[(String, String)] = {
    val cluster =
      if (master.startsWith("local-cluster") || master.startsWith("spark://"))
        Seq("spark.executor.extraClassPath" -> System.getProperty("java.class.path"))
      else Nil
    Seq(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> width.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.scheduler.mode" -> "FAIR") ++ cluster ++ overrides ++
      extraConfs(env)
  }

  def build(appName: String, master: String, width: Int,
            overrides: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder().appName(appName).master(master)
    confs(master, width, overrides, sys.env).foreach { case (k, v) =>
      builder.config(k, v)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A session on SPARK_GRAFT_MASTER at SPARK_GRAFT_CPUS width. */
  def fromEnv(appName: String,
              overrides: Seq[(String, String)] = Nil): SparkSession =
    build(appName, master(), width(), overrides)

  /** Overrides for a long-lived JVM that runs an open-ended stream of
    * distinct queries (the server, the shared test session): Spark's
    * default 100-entry codegen cache. A catalog-sized cache keeps every
    * compiled class alive for the life of the JVM. A server adopts a
    * fresh child session per snapshot generation and its queries
    * compile fresh classes after each adoption: AdoptionChurnProbe's
    * used-after-GC heap grew 372 MiB over 1,800 adoptions at 10000
    * entries, 173 MiB at 100.
    */
  val longLived: Seq[(String, String)] =
    Seq("spark.sql.codegen.cache.maxEntries" -> "100")
}
