package graft.tools

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.sys.process._

/** Launches a probe main in a child JVM with a capped heap, inheriting
  * this JVM's --add-opens/--add-exports module flags and classpath.
  * ONE copy shared by every spec that forks a probe, so a future
  * JVM-flag fix (tmpdir propagation, a new module export) lands in all
  * of them instead of drifting between pasted launchers. Session confs
  * come from EngineSession inside the probe.
  */
object ForkedJvm {

  /** Runs `mainClass args...` under `-Xmx$heap` and returns
    * (exit code, interleaved stdout+stderr). */
  def run(mainClass: String, args: Seq[String], heap: String,
          extraJvmFlags: Seq[String] = Nil,
          extraEnv: Seq[(String, String)] = Nil): (Int, String) = {
    val java = System.getProperty("java.home") + "/bin/java"
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    val moduleFlags = jvmArgs.zipWithIndex.collect {
      case (a, i) if a == "--add-opens" || a == "--add-exports" =>
        Seq(a, jvmArgs(i + 1))
      case (a, _) if a.startsWith("--add-opens=") ||
          a.startsWith("--add-exports=") => Seq(a)
    }.flatten
    val cmd = Seq(java) ++ moduleFlags ++ Seq(s"-Xmx$heap") ++
      extraJvmFlags ++ Seq(
        "-cp", System.getProperty("java.class.path"), mainClass) ++ args
    val out = new StringBuilder
    val code = Process(cmd, None, extraEnv: _*).!(ProcessLogger(
      l => out.synchronized { out.append(l).append('\n') },
      l => out.synchronized { out.append(l).append('\n') }))
    (code, out.toString)
  }
}
