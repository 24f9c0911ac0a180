package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per suite via lazy val). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  @volatile private var current: SparkSession = _

  /** Shared session, rebuilt if the context was stopped. The driver runs
    * every suite in ONE JVM whose order we do not control; a fatal task
    * error in local mode (or any suite-level stop) kills the shared
    * SparkContext, and a plain `lazy val` would then hand every later
    * suite a dead session (r18 driver run: Sf1ServeSoakSpec failed on a
    * stopped context). Suites run sequentially in the forked test JVM,
    * so the synchronized rebuild cannot race an in-flight suite.
    */
  def session: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      // FAIR (set by EngineSession) lets HttpApiSpec exercise
      // QueryEngine's per-thread pools, as ServeMain does in production.
      // This JVM runs every suite's queries for the whole test run, so
      // it takes the long-lived codegen cache (a 10000-entry one would
      // keep the classes of thousands of distinct plans alive)
      current = graft.core.EngineSession.build("graft-test", "local[4]", 4,
        graft.core.EngineSession.longLived)
    }
    current
  }
}
