package graft

/** Scratch tool: write `.explain("formatted")` for the named ops to
  * <outDir>/<op>_<suffix>.txt — the optimization rounds' before/after
  * plan evidence (plans/r15/...). Usage:
  *   runMain graft.PlanDump <sfDir> <outDir> <suffix> op1,op2,...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0); val out = args(1); val suffix = args(2)
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build("graft-plandump", s"local[$cpus]", cpus.toInt)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    names.foreach { n =>
      val df = Registry.byName(n).run(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$out/${n}_$suffix.txt"), txt.getBytes("UTF-8"))
      println(s"wrote $out/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
