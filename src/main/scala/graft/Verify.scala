package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each registered op's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated op-name filter (local tooling;
    // the driver always invokes with exactly two args = full run)
    val ops = Registry.select(args.lift(2))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build("graft-verify", s"local[$cpus]", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    ops.foreach { op =>
      try op.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${op.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${op.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = ops.flatMap(op => op.oracle.map(v => s"${q(op.name)}: ${q(v)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // full key list incl. rows-only ops, so tooling can detect ops
    // that failed to produce output at all
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      ops.map(op => q(op.name)).mkString("[", ",", "]"))
    spark.stop()
  }
}
