package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, the inputs of the DuckDB oracle compare.
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir> [name...]`. Naming
  * entries restricts the dump, and oracle_sql.json, to them — the inner
  * loop for one operator and its oracle; `scripts/check_correctness.py
  * <outDir>` gates either layout unchanged.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [name...]")
    val (sfDir, outDir, names) = (args(0), args(1), args.drop(2).toSeq)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown catalog entries: ${unknown.mkString(", ")}")
    val keep: String => Boolean = if (names.isEmpty) _ => true else names.toSet
    val spark = Sessions.local(Sessions.envCpus(4))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter { case (name, _) => keep(name) }.foreach { case (name, fn) =>
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
    val json = SparkEntry.oracleSql.filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
