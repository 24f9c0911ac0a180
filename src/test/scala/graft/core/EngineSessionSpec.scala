package graft.core

import org.apache.spark.scheduler.SchedulingMode

import graft.SparkSpec

/** Pins the one engine conf surface (read back from the shared test
  * session, so no extra SparkContext starts) and the env parsing, which
  * is a pure function of an env map.
  */
class EngineSessionSpec extends SparkSpec {

  test("the shared session carries the engine conf") {
    val conf = spark.sparkContext.getConf
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    // the shared session is long-lived; batch mains get the big cache
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "100")
    assert(spark.sparkContext.getSchedulingMode == SchedulingMode.FAIR)
    assert(EngineSession.confs("local[4]", 4, Nil, Map.empty).toMap
      .apply("spark.sql.codegen.cache.maxEntries") == "10000")
  }

  test("malformed SPARK_GRAFT_EXTRA_CONFS entries throw, naming the entry") {
    for ((value, entry) <- Seq("k" -> "k", "=v" -> "=v", "k=v;;junk" -> "junk")) {
      val e = intercept[IllegalArgumentException](
        EngineSession.extraConfs(Map("SPARK_GRAFT_EXTRA_CONFS" -> value)))
      assert(e.getMessage.contains(s"entry '$entry'"), e.getMessage)
    }
  }

  test("env confs parse in order and win over caller pairs") {
    assert(EngineSession.extraConfs(Map.empty).isEmpty)
    assert(EngineSession.extraConfs(
      Map("SPARK_GRAFT_EXTRA_CONFS" -> " a=1 ; b=x=y ;")) ==
      Seq("a" -> "1", "b" -> "x=y"))
    val confs = EngineSession.confs("local[3]", 3,
      Seq("spark.sql.shuffle.partitions" -> "9"),
      Map("SPARK_GRAFT_EXTRA_CONFS" -> "spark.sql.adaptive.enabled=false"))
      .toMap // later pairs win, as they do on the builder
    assert(confs("spark.sql.shuffle.partitions") == "9")
    assert(confs("spark.sql.adaptive.enabled") == "false")
    assert(!confs.contains("spark.executor.extraClassPath"))
    assert(EngineSession.confs("local-cluster[2,1,1024]", 2, Nil, Map.empty)
      .toMap.contains("spark.executor.extraClassPath"))
  }

  test("width and master come from the env map") {
    val cpus = Map("SPARK_GRAFT_CPUS" -> "5")
    assert(EngineSession.width(cpus) == 5)
    assert(EngineSession.width(Map.empty) ==
      Runtime.getRuntime.availableProcessors)
    assert(EngineSession.master(cpus) == "local[5]")
    assert(EngineSession.master(
      cpus + ("SPARK_GRAFT_MASTER" -> "local-cluster[2,4,4096]")) ==
      "local-cluster[2,4,4096]")
  }
}
