package graft

import org.apache.spark.sql.DataFrame

import graft.operators.PerceptualHash

/** Incremental signature dedup against the batch run over the union,
  * restricted to shard-touching pairs. Null-signature edge: decode-failed
  * items carry null signatures, and batch groups them into one exact
  * cluster (Window.partitionBy groups nulls). The shard-restricted path
  * must retrieve null-sig corpus twins too — its star semi-join is
  * null-safe — or a shard's null-sig item would silently never pair.
  */
class PerceptualIncrSpec extends SparkSpec {

  import spark.implicits._

  private def key(df: DataFrame): Set[(Long, Long, Int)] =
    df.select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.get(2).asInstanceOf[Number].intValue)).toSet

  test("null signatures pair with their twins through the incremental star pass") {
    val corpus = Seq((1L, Option(100L)), (2L, None), (3L, None), (4L, Option(200L)))
      .toDF("media_id", "phash")
    val shard = Seq((10L, None: Option[Long]), (11L, Option(100L)))
      .toDF("media_id", "phash")
    val union = corpus.unionByName(shard)

    // Batch reference through the same public API: an empty corpus makes
    // the restriction a no-op, so this IS sigDedupPairs over the union.
    val batch = key(PerceptualHash.dedupIncrementalSigs(union, corpus.limit(0)))
    val shardIds = Set(10L, 11L)
    val want = batch.filter(p => shardIds(p._1) || shardIds(p._2))
    val got = key(PerceptualHash.dedupIncrementalSigs(shard, corpus))
    assert(got == want,
      s"incremental diverged from the restricted batch run: got $got want $want")
    assert(want.contains((2L, 10L, 0)),
      "expected the null-sig shard item to star-pair with its corpus twins")
  }

  test("seeded scalar fixture: incremental equals restricted batch") {
    // Randomized corpus/shard of 64-bit signatures: seeded bases, 0-3 bit
    // flips, exact-dup clusters, and null signatures (decode failures).
    val rnd = new scala.util.Random(1542)
    val bases = Seq.fill(40)(rnd.nextLong())
    def flip(s: Long, n: Int): Long =
      (0 until n).foldLeft(s)((acc, _) => acc ^ (1L << rnd.nextInt(64)))
    val corpus = (bases.zipWithIndex.flatMap { case (b, i) =>
      val id = i * 10L
      Seq((id, Option(b))) ++
        (if (i % 3 == 0) Seq((id + 1, Option(flip(b, 1 + i % 3)))) else Nil) ++
        (if (i % 5 == 0) Seq((id + 2, Option(b))) else Nil) // exact dup
    } ++ Seq((9000L, None), (9001L, None))).toDF("media_id", "phash")
    // Shard: re-encounters (near and exact variants of corpus bases),
    // fresh singletons, and a null-sig item.
    val shift = 100000L
    val shard = (bases.zipWithIndex.flatMap { case (b, i) =>
      if (i % 4 == 0) Seq((shift + i, Option(flip(b, i % 4))))
      else if (i % 7 == 1) Seq((shift + i, Option(b)))
      else Nil
    } ++ Seq.tabulate(10)(j => (shift + 500L + j, Option(rnd.nextLong()))) ++
      Seq((shift + 600L, None: Option[Long]))).toDF("media_id", "phash")

    val shardIds = shard.select("media_id").as[Long].collect().toSet
    for (maxHamming <- 0 to 3) {
      val want = key(PerceptualHash.dedupIncrementalSigs(
        corpus.unionByName(shard), corpus.limit(0), maxHamming))
        .filter(p => shardIds(p._1) || shardIds(p._2))
      val got = key(PerceptualHash.dedupIncrementalSigs(shard, corpus, maxHamming))
      assert(got == want,
        s"incremental diverged from the restricted batch run at maxHamming=$maxHamming: " +
          s"got $got want $want")
    }
  }
}
