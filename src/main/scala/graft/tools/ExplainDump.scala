package graft.tools

/** Dumps formatted physical plans for headline queries (dev tool). */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
      else graft.queries.Catalog.headline.map(_.name)
    val spark = graft.core.EngineSession.fromEnv("graft-explain")
    names.foreach { n =>
      println(s"\n================ $n ================")
      println(graft.queries.Catalog.queries(n)(spark, d)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
