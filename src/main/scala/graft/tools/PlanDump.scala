package graft.tools

import graft.{Bench, Sessions, SparkEntry}

/** Writes `.explain("formatted")` of headline queries to
  * plans/<tag>/<query>_<suffix>.txt under the bench session for the dir
  * ([[graft.Bench.profile]]), so plan-shape claims are checkable files.
  * Usage: runMain graft.tools.PlanDump <tag> <suffix> [dir] [q1 q2 ...] */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args.lift(0).getOrElse("r15")
    val suffix = args.lift(1).getOrElse("before")
    val dir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 3) args.drop(3).toSeq else SparkEntry.headline
    val cpus = Sessions.cores(32)
    val spark = Sessions.local(cpus,
      Bench.profile(cpus, new java.io.File(dir).getName, dir), "ERROR")
    val outDir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(outDir)
    for (n <- names if SparkEntry.queries.contains(n)) {
      val df = SparkEntry.queries(n)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), txt)
      val nEx = "Exchange".r.findAllIn(txt).size
      println(f"[plan] $n%-28s -> plans/$tag/${n}_$suffix.txt (Exchange refs: $nEx)")
    }
    spark.stop()
  }
}
