package graft
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus, cpus, "graft-verify")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated name filter for targeted local checks
    // (tools/check.py walks the dump subdirs, so a partial dump works);
    // the driver sets no env and always gets the full dump
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      dump(s"$outDir/$name", name)(fn(spark, sfDir))
      // what a query cached (dedup/simhash intermediates, checkpointed
      // graph rounds) must not accumulate across the whole session
      GraftSession.scrub(spark)
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Write one query's result to `dir` as a single parquet file and
    * report whether it succeeded. A query that throws (while planning or
    * while running) leaves `dir` EMPTY — never absent and never holding
    * an earlier run's dump — so tools/check.py reports it as "no spark
    * output" instead of silently skipping it or passing on stale rows. */
  def dump(dir: String, name: String)(result: => DataFrame): Boolean =
    try {
      result.coalesce(1).write.mode("overwrite").parquet(dir)
      true
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      util.Scratch.delete(dir)
      Files.createDirectories(Paths.get(dir))
      false
    }
}
