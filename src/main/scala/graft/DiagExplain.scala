package graft

/** Dump `.explain("formatted")` for a list of SparkEntry queries to
  * files — the plan-evidence collector for the optimization-round
  * before/after records (plans/r06/). Usage:
  *   DiagExplain <outDir> <suffix> [query ...]   (no queries = all)
  */
object DiagExplain {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Main.session("diag-explain", "ERROR")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val plan = try {
        val df = SparkEntry.queries(name)(spark, dir)
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      } catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      println(s"[diagexplain] wrote $name")
    }
    spark.stop()
  }
}
