package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{AudioFingerprint, Compressibility, Multimodal, PerceptualHash, VideoFingerprint}

/** The partition-wise operators build a plan and run nothing: over an
  * input with a shuffle, none of the input is evaluated before the first
  * action on the operator's output.
  */
class LazyOperatorsSpec extends SparkSpec {

  private val operators: Seq[(String, DataFrame => DataFrame)] = Seq(
    "PerceptualHash.signatures" -> (m => PerceptualHash.signatures(m)),
    "AudioFingerprint.signatures" -> (m => AudioFingerprint.signatures(m)),
    "VideoFingerprint.signatures" -> (m => VideoFingerprint.signatures(m, frameBytes = 16)),
    "Multimodal.containerMeta" -> (m => Multimodal.containerMeta(m)),
    "Compressibility.compressionRatio" ->
      (m => Compressibility.compressionRatio(
        m.select(col("media_id").as("doc_id"), col("payload").cast("string").as("text")))))

  for ((name, op) <- operators) {
    test(s"$name runs none of its input before the first action") {
      val evaluations = spark.sparkContext.longAccumulator
      val touch = udf { (x: Long) => evaluations.add(1); x }
      val media = spark.range(0, 40, 1, 2)
        .select(touch(col("id")).as("media_id"))
        .repartition(4)
        .select(col("media_id"), lit(Array.tabulate[Byte](64)(_.toByte)).as("payload"))
      val out = op(media)
      assert(evaluations.value == 0L)
      out.collect()
      assert(evaluations.value > 0L)
    }
  }
}
