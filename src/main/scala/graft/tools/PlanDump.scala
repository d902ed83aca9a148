package graft.tools

/** Scratch main: dump the formatted physical plan of EVERY SparkEntry
  * query into `<outDir>/<name>.txt` in ONE JVM (`runMain
  * graft.tools.PlanDump <sfDir> <outDir> [name,...]`), with a stderr
  * marker line per query so optimizer warnings (e.g. HintErrorLogger's
  * "hint not part of a join relation") can be attributed to the query
  * that raised them. Plan construction only — nothing is executed.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet)
      else scala.None
    val spark = graft.GraftSession.builder("local[4]", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
      .foreach { name =>
        Console.err.println(s"PLANDUMP_BEGIN $name")
        Console.err.flush()
        try {
          val df = graft.SparkEntry.queries(name)(spark, dir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(out, s"$name.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        } catch {
          case e: Throwable =>
            Console.err.println(s"PLANDUMP_FAILED $name: ${e.getMessage}")
        }
        Console.err.println(s"PLANDUMP_END $name")
        Console.err.flush()
        graft.Bench.clearLeftovers(spark)
      }
    spark.stop()
  }
}
