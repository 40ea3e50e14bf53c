package graft.tools

import graft.SparkEntry

/** Plan-audit utility: dumps `.explain("formatted")` for the named
  * queries (or all) so scan pruning (ReadSchema/PushedFilters),
  * broadcast choices, and WholeStageCodegen spans can be reviewed
  * without running anything.
  *
  * Usage: runMain graft.tools.Explain <sfDir> [query...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.drop(1).toSet
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        println(s"\n======== $name ========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"(explain failed: ${e.getMessage})") }
      }
    spark.stop()
  }
}
