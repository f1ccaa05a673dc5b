package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  /** Build a predicates frame from (subject_id, "yyyy-MM-dd HH:mm[:ss]"|null, counts…). */
  def predicatesDf(cols: Seq[String], rows: Seq[(Long, String, Seq[Long])]): DataFrame = {
    import spark.implicits._
    val flat = rows.map { case (s, ts, vs) => (s, Option(ts), vs) }
    flat
      .toDF("subject_id", "ts_str", "vals")
      .select(
        Seq(
          col("subject_id"),
          to_timestamp(col("ts_str")).as("timestamp")
        ) ++ cols.zipWithIndex.map { case (c, i) => col("vals").getItem(i).as(c) }: _*
      )
  }

  /** Deletes `dir` and everything under it. */
  def deleteTree(dir: java.nio.file.Path): Unit = {
    val files = java.nio.file.Files.walk(dir)
    try files.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
    finally files.close()
  }

  /** Render a result frame to sorted rows of strings for golden comparison.
    * Timestamps formatted in UTC seconds precision; nulls → "null".
    */
  def snap(df: DataFrame): Seq[String] = {
    val cols = df.schema.fields.map { f =>
      f.dataType.typeName match {
        case "timestamp" => date_format(df(s"`${f.name}`"), "yyyy-MM-dd HH:mm:ss").as(f.name)
        case _           => df(s"`${f.name}`").cast("string").as(f.name)
      }
    }
    df.select(cols.toSeq: _*)
      .collect()
      .map(r => (0 until r.length).map(i => if (r.isNullAt(i)) "null" else r.getString(i)).mkString("|"))
      .sorted
      .toSeq
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
