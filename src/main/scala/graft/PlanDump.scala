package graft

/** r20 deliverable helper (measurement infra, same standing as Bench):
  * writes `.explain("formatted")` for each named query to
  * `<outDir>/<query>_<tag>.txt`. Streaming-harness queries (q185/q210/
  * q214+) execute a full stream inside their builder, so their returned
  * frame is the RESULT READBACK plan — still dumped (it is the declared
  * query's plan), with the harness noted in the header.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> <q1,q2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, list) = args.take(4)
    val names = list.split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkEntry.session(cpus, "graft-plandump")
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
        (s"== $name @ $sfDir ($tag) ==\n" + txt).getBytes("UTF-8"))
      println(s"dumped $name")
    }
    spark.stop()
  }
}
