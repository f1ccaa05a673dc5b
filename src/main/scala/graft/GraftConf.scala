package graft

import org.apache.spark.sql.SparkSession

/** Every `spark.graft.*` session setting graft reads, declared once.
  *
  * An ACES run is defined by its task YAML and its data; these settings
  * only place scratch data (`checkpoint`, `checkpoint.dir`,
  * `esgpt.staging`) or trade ANN recall for cost (`ivf.*`, measured by
  * `tools.RecallProbe`). Each is read from the session of the frame it
  * applies to, never the thread's active one, so two sessions of one
  * application can differ. Tuning bounds with no measured reason to vary
  * are constants next to the code they bound.
  */
object GraftConf {

  /** One setting: its `key`, its `default`, a one-line `doc`, and `parse`,
    * which turns a set value (with its key, for the error) into the typed
    * setting or fails loudly.
    */
  final class Entry[T] private[GraftConf] (
      val key: String,
      val default: T,
      val doc: String,
      parse: (String, String) => T) {

    /** The setting in `spark`'s conf, else the default. */
    def apply(spark: SparkSession): T = spark.conf.getOption(key).fold(default)(parse(key, _))
  }

  /** Read only by [[graft.plans.Materialize]], whose cuts belong to the
    * dedup, curation, retrieval and fit operators. [[graft.Query]] makes no
    * cut, so an ACES run is the same plan under every value.
    */
  val Checkpoint = new Entry[String]("spark.graft.checkpoint", "local",
    "lineage cuts: `local` (localCheckpoint), `reliable` (checkpoint to `checkpoint.dir`) or `off`",
    { (key, v) =>
      require(Set("local", "reliable", "off")(v), s"$key must be local, reliable or off, got '$v'")
      v
    })

  val CheckpointDir = new Entry[Option[String]]("spark.graft.checkpoint.dir", None,
    "directory for `reliable` cuts; unset, the context keeps its own or gets one under /tmp",
    (_, v) => Some(v))

  val EsgptStaging = new Entry[Option[String]]("spark.graft.esgpt.staging", None,
    "where ESGPT directory loads stage their parquet; unset, a temp dir deleted at JVM exit",
    (_, v) => Some(v))

  val IvfFitFraction = new Entry[Double]("spark.graft.ivf.fitFraction", 1.0,
    "share of the corpus (hash-sampled on id) that the IVF and PQ Lloyd fits run on",
    (_, v) => v.toDouble)

  val IvfNprobeFraction = new Entry[Double]("spark.graft.ivf.nprobeFraction", 0.625,
    "share of the IVF lists a query probes when `nprobe <= 0`",
    { (key, v) =>
      val f = v.toDouble
      require(f > 0 && f <= 1.0, s"$key must be in (0, 1], got $f")
      f
    })
}
