package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY restricts the run and its oracle_sql.json to
    // those entries (a recorded verify leaves it unset and covers all)
    val names = Harness.select(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    Harness.warmUp(spark, sfDir)
    // A query that throws must still leave a trace: errors.json gets one
    // entry per failure, and a ZERO-row parquet with a lone `err` column
    // is written in the query's place — the driver's compare then
    // records an explicit schema/row failure instead of the query
    // silently vanishing from the correctness file (round-6 lesson:
    // 5 breakages read as "fewer queries").
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    Harness.run(spark, sfDir, names) { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }.foreach { e =>
      e.result.left.foreach { err =>
        System.err.println(s"[verify] ${e.name} failed: ${err.getMessage}")
        errors(e.name) = Option(err.getMessage).getOrElse(err.getClass.getName)
        import spark.implicits._
        Seq.empty[String].toDF("err").coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${e.name}")
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
    val ran = names.toSet
    val json = SparkEntry.oracleSql.iterator
      .filter { case (k, _) => ran.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
  }
}
