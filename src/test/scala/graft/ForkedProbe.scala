package graft

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

/** Shared child-JVM launcher for the cross-process specs: runs
  * `mainClass` on the same classpath as the forked test JVM, with the
  * JDK17 add-opens Spark needs (inherited from this JVM's own args so
  * the list can't drift from build.sbt), a bounded heap and any extra
  * `jvmOpts`. */
object ForkedProbe {

  private def childJvm(mainClass: String, args: Seq[String],
      jvmOpts: Seq[String]): ProcessBuilder = {
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    // the JVM reports `--add-opens X` as one `--add-opens=X` argument
    val addOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq.filter(_.startsWith("--add-opens="))
    new ProcessBuilder((Seq(javaBin) ++ addOpens ++ jvmOpts ++ Seq("-Xmx1500m",
      "-cp", System.getProperty("java.class.path"), mainClass) ++ args).asJava)
      .redirectErrorStream(true)
  }

  def start(mainClass: String, args: Seq[String]): Process =
    childJvm(mainClass, args, Nil).start()

  /** Like [[start]] but with output redirected to `outFile` — for
    * long-running children whose output the parent only drains at the
    * end (an undrained 64 KB pipe buffer would block the child). */
  def startToFile(mainClass: String, args: Seq[String], outFile: java.io.File,
      jvmOpts: Seq[String] = Nil): Process =
    childJvm(mainClass, args, jvmOpts).redirectOutput(outFile).start()
}
