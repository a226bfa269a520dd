package graft.tools

/** Dev tool: write `.explain("formatted")` for the named registered queries
  * to plans/<tag>/<query>_<suffix>.txt — the optimization-round evidence
  * files (plan shape: Exchange count, join strategy, PushedFilters).
  *
  * Usage: runMain graft.tools.ExplainPlans <tag> <suffix> <q1,q2,...|all> [sfDir]
  */
object ExplainPlans {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val suffix = args(1)
    val names: Seq[String] =
      if (args(2) == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    // the board's session (Bench builds the same one), so the dumps are
    // the plans the board runs
    val spark = graft.GraftSession.harness(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val dir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(dir)
    names.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[explain] no such query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(dir.resolve(s"${name}_$suffix.txt"),
              txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            println(s"[explain] wrote $name ($suffix)")
          } catch { case e: Throwable =>
            System.err.println(s"[explain] $name failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
