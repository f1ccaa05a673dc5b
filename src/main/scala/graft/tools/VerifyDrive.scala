package graft.tools

import org.apache.spark.sql.functions._

import graft.model.{EventBounds, TemporalBounds}
import graft.operators.{EventBoundAgg, TemporalWindowAgg}
import graft.time.Timedelta

/** Scratch driver: exercise the public operator API end-to-end against the
  * real sf0.001 testdata (events table mapped to a predicates frame).
  */
object VerifyDrive {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(4)

    val preds = graft.sources.Tables.eventsAsPredicates(
      spark, "/root/testdata/sf0.001", Seq("click", "purchase", "error"))
    preds.printSchema()

    println("== TemporalWindowAgg: clicks/purchases in [t, t+24h], closed both ==")
    val w = TemporalWindowAgg(preds, TemporalBounds(true, Timedelta.parseMicros("24h"), true, 0L))
    w.orderBy("subject_id", "timestamp").show(8, truncate = false)
    println(s"rows=${w.count()} (input=${preds.count()})")

    println("== EventBoundAgg: sums from each row to next purchase, closed both ==")
    val eb = EventBoundAgg(preds, EventBounds(true, "is_purchase", true, 0L))
    eb.orderBy("subject_id", "timestamp").show(8, truncate = false)

    println("== probe: empty input frame ==")
    val empty = preds.filter(col("subject_id") === -999)
    val we = TemporalWindowAgg(empty, TemporalBounds(true, 86400000000L, true, 0L))
    println(s"temporal on empty: rows=${we.count()} schema=${we.columns.mkString(",")}")
    val ebe = EventBoundAgg(empty, EventBounds(true, "is_purchase", true, 0L))
    println(s"event-bound on empty: rows=${ebe.count()}")

    println("== probe: explain of temporal agg (shuffle count) ==")
    w.explain("formatted")

    println("== full query pipeline: YAML task over events table ==")
    val yaml =
      """predicates:
        |  click: { code: click }
        |  purchase: { code: purchase }
        |  error: { code: error }
        |  converted: { expr: "or(purchase, signup)" }
        |  signup: { code: signup }
        |trigger: click
        |windows:
        |  input:
        |    start: NULL
        |    end: trigger + 24h
        |    start_inclusive: True
        |    end_inclusive: True
        |    has: { _ANY_EVENT: "(2, None)" }
        |    index_timestamp: end
        |  target:
        |    start: input.end
        |    end: start -> converted
        |    start_inclusive: False
        |    end_inclusive: True
        |    label: purchase
        |""".stripMargin
    val cfg = graft.config.TaskConfig.fromYaml(yaml)
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select(
        col("user_id").as("subject_id"),
        col("ts").as("timestamp"),
        col("event_type").as("code"),
        col("value").cast("float").as("numeric_value"))
    val plain = graft.sources.PredicateFrames.fromMeds(ev, cfg.plainPredicates.toSeq)
    val preds2 = graft.sources.PredicateFrames.finalize(cfg, plain)
    val res = graft.Query(cfg, preds2)
    res.select("subject_id", "index_timestamp", "label", "trigger").show(6, truncate = false)
    println(s"cohort rows=${res.count()}")
    println("== probe: MEDS label coercion ==")
    graft.Query.toMedsLabels(res).show(4, truncate = false)

    spark.stop()
  }
}
