package graft.sources

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

/** Shared child-JVM launcher for the cross-process race specs: same
  * classpath as the forked test JVM, the JDK17 add-opens Spark needs
  * (inherited from this JVM's own args so the list can't drift from
  * build.sbt), and a bounded heap. */
private[sources] object ForkedProbe {

  def childCmd(args: Seq[String]): java.util.List[String] = {
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val addOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .sliding(2).collect { case Seq("--add-opens", v) => Seq("--add-opens", v) }
      .flatten.toSeq
    (Seq(javaBin) ++ addOpens ++ Seq("-Xmx1500m",
      "-cp", System.getProperty("java.class.path"),
      "graft.sources.RaceProbe") ++ args).asJava
  }

  def start(args: Seq[String]): Process = {
    val pb = new ProcessBuilder(childCmd(args))
    pb.redirectErrorStream(true)
    pb.start()
  }

  /** Like [[start]] but with output redirected to `outFile` — for
    * long-running children whose output the parent only drains at the
    * end (an undrained 64 KB pipe buffer would block the child). */
  def startToFile(args: Seq[String], outFile: java.io.File): Process = {
    val pb = new ProcessBuilder(childCmd(args))
    pb.redirectErrorStream(true)
    pb.redirectOutput(outFile)
    pb.start()
  }
}
