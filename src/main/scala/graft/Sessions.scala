package graft

import org.apache.spark.sql.SparkSession

import graft.sources.Tables

/** The one session factory every graft main builds its SparkSession with. */
object Sessions {

  /** Core count from `SPARK_GRAFT_CPUS`, else `default`. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** `local[cpus]` with one shuffle partition per core, the UI off and
    * [[Tables.configure]] applied; `confs` are applied last, so they
    * override any of those (`"spark.master" -> m` replaces the master).
    * Returns the existing default session when one is running.
    */
  def local(cpus: Int, confs: (String, String)*): SparkSession = {
    val b = Tables.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.ui.enabled", "false"))
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
