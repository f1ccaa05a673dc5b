package graft.tools

import java.nio.file.{Files, Paths}

import graft.harness.{GoldenFormat, QueryCatalog}

/** Regenerates the committed golden fixtures for the catalog entries in
  * [[GoldenFormat.goldenNames]] — the ones whose outputs are hash-seeded
  * (xxhash64) and therefore have no SQL-portable DuckDB oracle. Outputs
  * are deterministic (no RNG, no time), so an exact fixture compare is a
  * valid oracle.
  *
  * Usage: runMain graft.tools.GoldenGen [sfDir] [outDir]
  * then commit the CSVs under src/test/resources/goldens/.
  */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("/root/repo/src/test/resources/goldens")
    val spark = graft.Sessions.local(8)

    Files.createDirectories(Paths.get(outDir))
    GoldenFormat.goldenNames.foreach { name =>
      val df = QueryCatalog.queries(name)(spark, sfDir)
      val text = GoldenFormat.render(df)
      Files.writeString(Paths.get(s"$outDir/$name.csv"), text)
      println(s"[golden] wrote $name: ${text.linesIterator.size - 1} rows")
    }
    spark.stop()
  }
}
