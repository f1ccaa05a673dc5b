package graft.operators

import java.util.zip.Deflater

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

/** Compression-ratio quality signal: deflate each document's UTF-8 bytes
  * and report `compressed / raw` — the entropy proxy the CCNet /
  * RefinedWeb-family pipelines use to drop degenerate text (a very LOW
  * ratio means highly repetitive/templated content; a ratio near or
  * above 1 means random-looking bytes — both ends get filtered before
  * training).
  *
  * Scale shape: partition-wise `mapPartitions` with ONE `Deflater`
  * allocated per partition and `reset()` between documents — codec state
  * is exactly the per-partition-init pattern of [[Multimodal]]'s decode
  * hooks; no shuffle, no driver involvement. Deterministic for a fixed
  * level (golden-fixture oracle; a local re-implementation is asserted
  * equal in tests).
  */
object Compressibility {

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("n_compressed", LongType, nullable = false),
    StructField("compress_ratio", DoubleType, nullable = true)
  ))

  /** Deflate-compressed size of one byte array (level fixed, no header
    * variance — `nowrap = false` keeps the standard zlib framing).
    */
  private def compressedSize(deflater: Deflater, bytes: Array[Byte], buf: Array[Byte]): Long = {
    deflater.reset()
    deflater.setInput(bytes)
    deflater.finish()
    var total = 0L
    while (!deflater.finished()) total += deflater.deflate(buf)
    total
  }

  /** Per-document compression metrics: (doc_id, n_bytes, n_compressed,
    * compress_ratio) — ratio rounded to 4 places (oracle-comparison
    * friendly), null for empty documents.
    */
  def compressionRatio(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      level: Int = Deflater.DEFAULT_COMPRESSION
  ): DataFrame = {
    docs
      .select(idCol, textCol)
      .mapPartitions { rows =>
        // One codec per partition, reused across documents and released
        // when the partition iterator drains (native zlib memory —
        // don't wait for the finalizer).
        val deflater = new Deflater(level)
        val buf = new Array[Byte](64 * 1024)
        val mapped = rows.map { r =>
          val id = r.getLong(0)
          val bytes =
            if (r.isNullAt(1)) Array.empty[Byte] else r.getString(1).getBytes("UTF-8")
          val n = bytes.length.toLong
          val c = if (n == 0) 0L else compressedSize(deflater, bytes, buf)
          val ratio =
            if (n == 0) null
            else java.lang.Double.valueOf(math.rint(c.toDouble / n * 10000) / 10000)
          Row(id, n, c, ratio)
        }
        new Iterator[Row] {
          def hasNext: Boolean = {
            val h = mapped.hasNext
            if (!h) deflater.end()
            h
          }
          def next(): Row = mapped.next()
        }
      }(Encoders.row(schema))
  }
}
