package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // dev-only filter: an optional comma-separated query-name list
    // dumps a subset (the driver always calls with two args → all)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Tolerance oracles for the approx/sketch family: exact SQL + per-
    // column relative bound; tools/compare_oracle.py enforces these so
    // the approx queries get a checked-within-ε record, not a bare
    // no_oracle. (Kept out of oracle_sql.json — the driver's gate is a
    // hash match, which an estimate fails by design.)
    val bounds = SparkEntry.approxOracles
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, a) =>
        val tol = a.colTol.map { case (c, t) => s"${q(c)}: $t" }
          .mkString("{", ",", "}")
        s"${q(k)}: {${q("sql")}: ${q(a.sql)}, ${q("tol")}: $tol}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_bounds.json"), bounds)
    spark.stop()
  }
}
