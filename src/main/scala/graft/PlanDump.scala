package graft

/** Dump `.explain("formatted")` for named queries to files — the
  * optimization-round evidence artifact (plans/rNN/<query>_{before,after}.txt).
  * Usage: runMain graft.PlanDump <dataDir> <outDir> <suffix> <q1> <q2> ...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = args(1)
    val suffix = args(2)
    val names = args.drop(3)
    val spark = Sessions.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      val df = fn(spark, dir).asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(out, s"${n}_$suffix.txt"), txt)
      println(s"dumped $n ($suffix)")
    }
    spark.stop()
  }
}
