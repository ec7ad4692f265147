package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (builder-side
    // iteration aid; the driver always runs the full surface)
    val only: Option[Set[String]] =
      args.lift(2).map(_.split(",").toSet)
    val spark = Sessions.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A query that throws must surface as an EXPLICIT failure in the
    // driver's compare, not a silent omission (round-6 lesson: 24 broken
    // queries vanished from CORRECTNESS and the artifact read as green).
    // Write a one-row `__error` parquet in its place — guaranteed
    // schema/hash mismatch vs any oracle — and summarize on stderr.
    var failed = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed ::= name
        try {
          import spark.implicits._
          Seq(Option(e.getMessage).getOrElse(e.getClass.getName))
            .toDF("__error").coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
      finally Scoped.release()
    }
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} FAILED: ${failed.reverse.mkString(", ")}")
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
