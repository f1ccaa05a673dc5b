package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.harness.MediaFixtures
import graft.sources.Tables
import graft.streaming.StreamingPredicates

/** Streaming state-store sizing probe — the measurement behind the
  * per-key state claims in [[graft.streaming.StreamingPredicates]]
  * (16 B/key exact & url, 16 B/window substring, 24 B/doc-copy phash,
  * banded-payload formulas for minhash/embedding). The parity specs
  * prove the streams CORRECT; this probe proves their state stays
  * BOUNDED the way the docs promise, by feeding salted 1×/k×/K× corpora
  * through each stream and reading the state-operator metrics Spark
  * itself reports (`numRowsTotal`, `memoryUsedBytes`, and the
  * serialized `stateOnCurrentVersionSizeBytes`).
  *
  * Two claims per stream, both checked across scales:
  *   - state ROWS grow with the documented key population (distinct
  *     texts/urls/windows, docs × band copies) — linear in input, never
  *     superlinear;
  *   - serialized bytes PER ROW stay constant as the corpus grows (the
  *     per-key payload claim; the store adds a fixed UnsafeRow + version
  *     scaffolding on top of the documented logical payload, so compare
  *     marginal per-row bytes across scales, not absolute vs logical).
  *
  * Copies are salted (distinct keys per copy — the TextScaleProbe rule)
  * so the key population grows linearly instead of collapsing onto the
  * base corpus's keys. Run:
  * `sbt "runMain graft.tools.StreamStateProbe [sfDir]"`; results are
  * committed to BENCH_NOTES.md.
  */
object StreamStateProbe {

  final case class StateReading(
      op: String, scale: Int, inputRows: Long,
      stateRows: Long, memBytes: Long, serBytes: Long) {
    def serPerRow: Double = if (stateRows == 0) 0.0 else serBytes.toDouble / stateRows
    def memPerRow: Double = if (stateRows == 0) 0.0 else memBytes.toDouble / stateRows
  }

  private def readState(q: StreamingQuery): (Long, Long, Long) = {
    val progress = q.recentProgress.reverse
      .find(_.stateOperators.exists(_.numRowsTotal > 0))
      .orElse(q.recentProgress.lastOption)
      .getOrElse(sys.error("no streaming progress recorded"))
    val ops = progress.stateOperators
    val ser = ops.map { so =>
      Option(so.customMetrics).map { m =>
        // HDFS-backed store: serialized current-version size. RocksDB:
        // the SST file footprint (its on-disk equivalent).
        math.max(
          Long2long(m.getOrDefault("stateOnCurrentVersionSizeBytes", 0L)),
          Long2long(m.getOrDefault("rocksdbSstFileSize", 0L)))
      }.getOrElse(0L)
    }.sum
    (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum, ser)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.filterNot(_.startsWith("--")).headOption
      .getOrElse("/root/testdata/sf0.1")
    // --rocksdb: measure under the RocksDB state store — the provider a
    // production cluster runs when state outgrows executor heaps (same
    // rows/key-population checks; the size metric becomes SST bytes).
    val rocksdb = args.contains("--rocksdb")
    val spark = graft.Sessions.local(graft.Sessions.envCpus(8),
      (if (rocksdb) Seq("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else Nil): _*)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def ts(minute: Int) = Timestamp.valueOf(f"2024-01-01 10:${minute % 60}%02d:00")

    // Base corpora, collected once (a probe harness, not a data path).
    val docRows = Tables.table(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val embRows = Tables.table(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").limit(1000).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val idStride = docRows.map(_._1).max + 1L
    def saltedDocs(k: Int, limit: Int): Seq[(Long, String)] = {
      val base = docRows.take(limit)
      (0 until k).flatMap { i =>
        base.map { case (id, t) =>
          (id + i * idStride,
            if (i == 0) t else t.split(' ').map(w => s"${w}_$i").mkString(" "))
        }
      }
    }

    def loadavg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    println(f"[state-probe] sfDir=$sfDir docs=${docRows.length} " +
      f"store=${if (rocksdb) "rocksdb" else "hdfs"} loadavg=${loadavg()}%.1f")

    val chunkSize = 10000
    val readings = scala.collection.mutable.ArrayBuffer.empty[StateReading]

    def run(name: String, scale: Int, inputRows: Long)(
        start: => StreamingQuery): Unit = {
      val t0 = System.nanoTime()
      val q = start
      try {
        q.processAllAvailable()
        val secs = (System.nanoTime() - t0) / 1e9
        val (rows, mem, ser) = readState(q)
        val r = StateReading(name, scale, inputRows, rows, mem, ser)
        readings += r
        println(f"[state-probe] ${r.op}%-12s x${r.scale}%-3d in=${r.inputRows}%8d " +
          f"stateRows=${r.stateRows}%8d ser=${r.serBytes / 1024}%8d KiB " +
          f"(${r.serPerRow}%6.1f B/row) mem=${r.memBytes / 1024}%8d KiB " +
          f"(${r.memPerRow}%6.1f B/row) ingest=${inputRows / secs}%8.0f docs/s")
      } finally q.stop()
    }

    // ---------------------------------------------------------- exact text
    for (scale <- Seq(1, 10, 50)) {
      val rows = saltedDocs(scale, docRows.length)
      val input = MemoryStream[(Long, Timestamp, String)]
      val docs = input.toDF().toDF("doc_id", "timestamp", "text")
        .withWatermark("timestamp", "1 hour")
      run("dedup_exact", scale, rows.length) {
        val q = StreamingPredicates.dedupExactStream(docs)
          .writeStream.format("noop").outputMode("append").start()
        rows.grouped(chunkSize).zipWithIndex.foreach { case (chunk, i) =>
          input.addData(chunk.map { case (id, t) => (id, ts(i), t) }: _*)
        }
        q
      }
    }

    // ------------------------------------------------------------ url keys
    for (scale <- Seq(1, 10, 50)) {
      val n = docRows.length
      val rows = (0 until scale).flatMap(i =>
        docRows.indices.map(j =>
          (i.toLong * n + j, s"https://www.ex$i.com/p$j?utm_source=feed&a=1")))
      val input = MemoryStream[(Long, Timestamp, String)]
      val docs = input.toDF().toDF("doc_id", "timestamp", "url")
        .withWatermark("timestamp", "1 hour")
      run("url_dedup", scale, rows.length) {
        val q = StreamingPredicates.urlDedupStream(docs)
          .writeStream.format("noop").outputMode("append").start()
        rows.grouped(chunkSize).zipWithIndex.foreach { case (chunk, i) =>
          input.addData(chunk.map { case (id, u) => (id, ts(i), u) }: _*)
        }
        q
      }
    }

    // ----------------------------------------------------- substring spans
    // 1000 base docs: window-key population is tokens-per-doc × docs.
    for (scale <- Seq(1, 10, 25)) {
      val rows = saltedDocs(scale, 1000)
      val input = MemoryStream[(Long, Timestamp, String)]
      val docs = input.toDF().toDF("doc_id", "timestamp", "text")
        .withWatermark("timestamp", "1 hour")
      run("substring", scale, rows.length) {
        val q = StreamingPredicates.substringDupStream(docs, k = 5)
          .writeStream.format("noop").outputMode("append").start()
        rows.grouped(chunkSize).zipWithIndex.foreach { case (chunk, i) =>
          input.addData(chunk.map { case (id, t) => (id, ts(i), t) }: _*)
        }
        q
      }
    }

    // ----------------------------------------------------- minhash (text)
    for (scale <- Seq(1, 10)) {
      val rows = saltedDocs(scale, 1000)
      val input = MemoryStream[(Long, Timestamp, String)]
      val docs = input.toDF().toDF("doc_id", "timestamp", "text")
        .withWatermark("timestamp", "1 hour")
      run("minhash", scale, rows.length) {
        val q = StreamingPredicates.minhashNearDupStream(docs, threshold = 0.8)
          .writeStream.format("noop").outputMode("append").start()
        rows.grouped(chunkSize).zipWithIndex.foreach { case (chunk, i) =>
          input.addData(chunk.map { case (id, t) => (id, ts(i), t) }: _*)
        }
        q
      }
    }

    // ----------------------------------------------- embedding (vectors)
    // Copies perturbed deterministically so hyperplane signatures spread
    // instead of stacking every copy into the same buckets.
    for (scale <- Seq(1, 10)) {
      val rows = (0 until scale).flatMap { i =>
        embRows.map { case (id, v) =>
          val pv = if (i == 0) v
            else v.zipWithIndex.map { case (x, j) => x + 0.01f * (((i * 31 + j) % 7) - 3) }
          (id + i * 100000L, pv)
        }
      }
      val input = MemoryStream[(Long, Timestamp, Array[Float])]
      val vecs = input.toDF().toDF("vec_id", "timestamp", "embedding")
        .withWatermark("timestamp", "1 hour")
      run("embedding", scale, rows.length) {
        val q = StreamingPredicates.embeddingNearDupStream(vecs, threshold = 0.95)
          .writeStream.format("noop").outputMode("append").start()
        rows.grouped(chunkSize).zipWithIndex.foreach { case (chunk, i) =>
          input.addData(chunk.map { case (id, v) => (id, ts(i), v) }: _*)
        }
        q
      }
    }

    // --------------------------------------------------------- phash (image)
    for (scale <- Seq(1, 10)) {
      val n = 2000
      val ids = (0L until (n.toLong * scale))
      val input = MemoryStream[(Long, Timestamp, Array[Byte])]
      val media = input.toDF().toDF("media_id", "timestamp", "payload")
      run("phash", scale, ids.length) {
        val q = StreamingPredicates.phashNearDupStream(media)
          .writeStream.format("noop").outputMode("append").start()
        ids.grouped(chunkSize).zipWithIndex.foreach { case (chunk, i) =>
          input.addData(chunk.map(id => (id, ts(i), MediaFixtures.bmpPayload(id))): _*)
        }
        q
      }
    }

    // ------------------------------------------------------------- summary
    println("\n[state-probe] per-row stability across scales (ser B/row at each scale):")
    readings.groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, rs) =>
      val sorted = rs.sortBy(_.scale)
      val perRow = sorted.map(r => f"x${r.scale}:${r.serPerRow}%.1f").mkString("  ")
      val rowsPerInput = sorted.map(r =>
        f"x${r.scale}:${r.stateRows.toDouble / r.inputRows}%.2f").mkString("  ")
      println(f"  $op%-12s serB/row [$perRow]  stateRows/input [$rowsPerInput]")
    }
    spark.stop()
  }
}
