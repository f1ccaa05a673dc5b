package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{Closed, EventBounds, TemporalBounds}
import graft.operators.{EventBoundAgg, TemporalWindowAgg}

/** Property tests mirroring the reference's Hypothesis suite
  * (reference: tests/test_aggregate_hypothesis.py:16-113): random small
  * predicate frames, random bounds; outputs re-verified by brute-force
  * per-row re-filtering and re-summing.
  */
class PropertySpec extends AnyFunSuite with SparkSpec {

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private val US_PER_HOUR = 3600000000L

  private case class Ev(subject: Long, tsUs: Long, vals: Seq[Long])

  // ≤3 subjects, ≤50 events each, 3 predicate columns, hour-grid timestamps
  // in a ~10-year range (mirrors the reference's strategy ranges).
  private val frameGen: Gen[List[Ev]] = for {
    nSubj <- Gen.choose(1, 3)
    rows <- Gen.listOfN(
      nSubj * 12, // enough to get interesting density
      for {
        s <- Gen.choose(1L, nSubj.toLong)
        t <- Gen.choose(0L, 87600L) // hours in ~10 years
        vs <- Gen.listOfN(3, Gen.choose(0L, 3L))
      } yield Ev(s, t * US_PER_HOUR, vs))
  } yield rows
    .groupBy(e => (e.subject, e.tsUs))
    .map(_._2.head)
    .toList // unique (subject, ts)

  private val boundsGen: Gen[TemporalBounds] = for {
    li <- Gen.oneOf(true, false)
    ri <- Gen.oneOf(true, false)
    windowH <- Gen.oneOf(Gen.choose(1L, 24L * 366 * 5), Gen.choose(-24L * 366 * 5, -1L))
    offsetH <- Gen.choose(0L, 24L * 365)
  } yield TemporalBounds(li, windowH * US_PER_HOUR, ri, offsetH * US_PER_HOUR)

  private def toDf(rows: List[Ev]) = {
    import spark.implicits._
    rows
      .map(e => (e.subject, new java.sql.Timestamp(e.tsUs / 1000), e.vals(0), e.vals(1), e.vals(2)))
      .toDF("subject_id", "timestamp", "pA", "pB", "pC")
  }

  /** Brute-force oracle (reference: test_aggregate_hypothesis.py:89-113). */
  private def bruteTemporal(rows: List[Ev], b: TemporalBounds): Map[(Long, Long), Seq[Long]] = {
    val (lo, hi) = b.frameLoHi
    rows.map { r =>
      val inWin = rows.filter { x =>
        x.subject == r.subject && {
          val d = x.tsUs - r.tsUs
          val loOk = if (b.closed == Closed.Both || b.closed == Closed.Left) d >= lo else d > lo
          val hiOk = if (b.closed == Closed.Both || b.closed == Closed.Right) d <= hi else d < hi
          loOk && hiOk
        }
      }
      (r.subject, r.tsUs) -> Seq(0, 1, 2).map(i => inWin.map(_.vals(i)).sum)
    }.toMap
  }

  test("TemporalWindowAgg matches brute-force oracle on random frames") {
    check(Prop.forAll(frameGen, boundsGen) { (rows, b) =>
      rows.isEmpty || {
        val out = TemporalWindowAgg(toDf(rows), b)
          .collect()
          .map { r =>
            (r.getLong(0), r.getTimestamp(1).getTime * 1000) ->
              Seq(r.getLong(4), r.getLong(5), r.getLong(6))
          }
          .toMap
        out == bruteTemporal(rows, b)
      }
    }, 30)
  }

  /** Brute-force event-bound oracle, per the executable doctest semantics
    * (incl. the offset doctests, aggregate.py:768-944): the bound is the
    * nearest eligible boundary relative to `t + offset` (eligibility
    * inclusive/exclusive per mode × closed), and the aggregation window is
    * [bound, t+offset] (bound_to_row) / [t+offset, bound] (row_to_bound)
    * with the `closed` endpoints applied.
    */
  private def bruteEventBound(
      rows: List[Ev],
      boundaryIdx: Int,
      mode: String,
      closed: Closed.Value,
      offsetUs: Long = 0L): Map[(Long, Long), Seq[Long]] = {
    val bySubj = rows.groupBy(_.subject).view.mapValues(_.sortBy(_.tsUs)).toMap
    rows.map { r =>
      val subjRows = bySubj(r.subject)
      val bounds = subjRows.filter(_.vals(boundaryIdx) > 0).map(_.tsUs)
      val anchor = r.tsUs + offsetUs
      val boundTs: Option[Long] =
        if (mode == "bound_to_row") {
          val eligible =
            if (closed == Closed.Left || closed == Closed.Both) bounds.filter(_ <= anchor)
            else bounds.filter(_ < anchor)
          eligible.lastOption
        } else {
          val eligible =
            if (closed == Closed.Right || closed == Closed.Both) bounds.filter(_ >= anchor)
            else bounds.filter(_ > anchor)
          eligible.headOption
        }
      val sums = boundTs match {
        case None => Seq(0L, 0L, 0L)
        case Some(b) =>
          val (lo, hi) = if (mode == "bound_to_row") (b, anchor) else (anchor, b)
          val inWin = subjRows.filter { x =>
            val loOk = if (closed == Closed.Both || closed == Closed.Left) x.tsUs >= lo else x.tsUs > lo
            val hiOk = if (closed == Closed.Both || closed == Closed.Right) x.tsUs <= hi else x.tsUs < hi
            loOk && hiOk
          }
          Seq(0, 1, 2).map(i => inWin.map(_.vals(i)).sum)
      }
      (r.subject, r.tsUs) -> sums
    }.toMap
  }

  test("EventBoundAgg (offset 0) matches brute-force oracle on random frames") {
    val modeGen = Gen.oneOf("bound_to_row", "row_to_bound")
    val closedGen = Gen.oneOf(Closed.Both, Closed.Left, Closed.Right, Closed.None)
    check(Prop.forAll(frameGen, modeGen, closedGen) { (rows, mode, closed) =>
      rows.isEmpty || {
        val endEvent = if (mode == "bound_to_row") "-pB" else "pB"
        val out = EventBoundAgg(
          toDf(rows),
          EventBounds(
            leftInclusive = closed == Closed.Both || closed == Closed.Left,
            endEvent = endEvent,
            rightInclusive = closed == Closed.Both || closed == Closed.Right,
            0L))
          .collect()
          .map { r =>
            (r.getLong(0), r.getTimestamp(1).getTime * 1000) ->
              Seq(r.getLong(4), r.getLong(5), r.getLong(6))
          }
          .toMap
        out == bruteEventBound(rows, 1, mode, closed)
      }
    }, 30)
  }

  test("EventBoundAgg with random signed offsets matches brute-force oracle") {
    val modeGen = Gen.oneOf("bound_to_row", "row_to_bound")
    val closedGen = Gen.oneOf(Closed.Both, Closed.Left, Closed.Right, Closed.None)
    val offsetGen = Gen.oneOf(
      Gen.choose(1L, 24L * 14).map(_ * US_PER_HOUR),
      Gen.choose(-24L * 14, -1L).map(_ * US_PER_HOUR))
    check(Prop.forAll(frameGen, modeGen, closedGen, offsetGen) { (rows, mode, closed, off) =>
      rows.isEmpty || {
        val out = EventBoundAgg
          .boolExprBoundSum(
            toDf(rows), org.apache.spark.sql.functions.col("pB") > 0, mode, closed, off)
          .collect()
          .map { r =>
            (r.getLong(0), r.getTimestamp(1).getTime * 1000) ->
              Seq(r.getLong(4), r.getLong(5), r.getLong(6))
          }
          .toMap
        out == bruteEventBound(rows, 1, mode, closed, off)
      }
    }, 40)
  }

  test("collapse modes (direct / skew-safe / adaptive) agree on random frames") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import spark.implicits._
    // Raw rows WITH duplicate (subject, ts) pairs — collapse's whole job.
    val rawGen: Gen[List[(Long, Long, Long, Long)]] = Gen.listOfN(
      40,
      for {
        s <- Gen.choose(1L, 4L)
        t <- Gen.choose(0L, 48L)
        a <- Gen.choose(0L, 3L)
        b <- Gen.choose(0L, 3L)
      } yield (s, t, a, b))
    check(Prop.forAll(rawGen) { rows =>
      rows.isEmpty || {
        val df = rows
          .toDF("subject_id", "h", "a", "b")
          .withColumn("timestamp",
            to_timestamp(col("h") * 3600 + 1700000000L))
          .select("subject_id", "timestamp", "a", "b")
        def run(mode: String): Seq[String] =
          snap(graft.sources.PredicateFrames.collapse(df, Seq("a", "b"), mode))
        val direct = run("direct")
        direct.nonEmpty && direct == run("skew-safe") && direct == run("adaptive")
      }
    }, 15)
  }

  test("duplicateClusters matches a local union-find on random graphs") {
    import spark.implicits._
    val graphGen: Gen[List[(Long, Long)]] = Gen.listOfN(
      25,
      for { a <- Gen.choose(1L, 15L); b <- Gen.choose(1L, 15L) if a != b } yield (a, b))
    check(Prop.forAll(graphGen) { edges =>
      edges.isEmpty || {
        val got = graft.operators.Dedup
          .duplicateClusters(edges.toDF("doc_a", "doc_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // Local union-find with min-id representatives.
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        val want = parent.keys.map(n => n -> find(n)).toMap
        got == want
      }
    }, 15)
  }

  test("duplicateSpanSummary matches brute-force oracle on random corpora") {
    import spark.implicits._
    // Tiny vocab forces heavy window collisions; doc lengths straddle k
    // so the too-short, exactly-k, and long cases all occur.
    val vocab = Vector("a", "b", "c", "d")
    val docGen = Gen.choose(0, 30).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val corpusGen = for {
      nd <- Gen.choose(1, 8)
      texts <- Gen.listOfN(nd, docGen)
    } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val kGen = Gen.choose(1, 6)
    check(Prop.forAll(corpusGen, kGen) { (rows, k) =>
      val df = rows.toDF("doc_id", "text")
      val wins = rows.flatMap { case (id, t) =>
        val toks = t.toLowerCase.split("\\s+").toSeq
        if (toks.size < k) Seq.empty
        else toks.sliding(k).zipWithIndex.map { case (w, i) => (id, i, w.mkString(" ")) }.toSeq
      }
      val cnt = wins.groupBy(_._3).map { case (w, xs) => w -> xs.size }
      val hitPos = wins.filter(x => cnt(x._3) >= 2).groupBy(_._1)
        .map { case (id, xs) => id -> xs.map(_._2).sorted }
      val want = rows.map { case (id, t) =>
        val total = t.toLowerCase.split("\\s+").length.toLong
        val ps = hitPos.getOrElse(id, Seq.empty)
        val spans = ps.foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: rest, p) if p - e < k => (s, p) :: rest
          case (acc, p)                         => (p, p) :: acc
        }
        val covered = spans.map { case (s, e) => e - s + k }.sum.toLong
        id -> ((ps.size.toLong, spans.size.toLong, covered, total))
      }.toMap
      val got = graft.operators.Dedup.duplicateSpanSummary(df, k = k)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      got == want
    }, 12)
  }

  test("BPE encode is lossless and respects merge ranks on random words") {
    val wordGen = Gen.nonEmptyListOf(Gen.oneOf('a', 'b', 'c')).map(_.mkString)
    val mergesGen = Gen.listOf(
      Gen.zip(Gen.oneOf("a", "b", "c", "ab", "bc", "aa"), Gen.oneOf("a", "b", "c")))
      .map(_.distinct.zipWithIndex.map { case ((l, r), i) => ((l, r), i) }.toMap)
    check(Prop.forAll(wordGen, mergesGen) { (word, ranks) =>
      val toks = graft.functions.Bpe.encodeWord(word, ranks)
      // Lossless: concatenation reconstructs the word exactly.
      val lossless = toks.mkString == word
      // Fixpoint: no adjacent pair in the output is still mergeable.
      val done = toks.length < 2 ||
        toks.zip(toks.tail).forall(p => !ranks.contains(p))
      lossless && done
    }, 200)
  }

  test("chunking invariants hold on random texts (driven through Spark once)") {
    import spark.implicits._
    val texts = (0 until 300).map { i =>
      val len = (i * 37) % 400
      (i.toLong, ("ab" * 200).substring(0, len) + "x") // lengths 1..400
    }
    val chunkChars = 50
    val overlap = 13
    val stride = chunkChars - overlap
    val out = graft.operators.Chunking
      .chunk(texts.toDF("doc_id", "text"), chunkChars, overlap)
      .as[(Long, Int, String, Long)].collect()
      .groupBy(_._1)
    val byId = texts.toMap
    out.foreach { case (id, chunks) =>
      val text = byId(id)
      val sorted = chunks.sortBy(_._2)
      // Dense chunk ids from 0; every chunk is the exact substring at its
      // stride offset; full coverage; all but the last are full-width.
      assert(sorted.map(_._2).sameElements(sorted.indices))
      sorted.foreach { case (_, cid, ct, cc) =>
        val start = cid * stride
        assert(ct == text.substring(start, math.min(start + chunkChars, text.length)))
        assert(cc == ct.length)
      }
      assert(sorted.init.forall(_._4 == chunkChars))
      assert(sorted.last._2 * stride + sorted.last._4 == text.length)
      if (text.length <= chunkChars) assert(sorted.length == 1)
    }
    assert(out.size == texts.size)
  }

  test("logQuantileSketch holds its relative-error bound on random distributions") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // Ten columns, each a different shape: uniform, heavy-tail
    // (lognormal-ish), small-integer, sub-1 magnitudes, mixed-sign.
    val n = 2000
    val cols = (0 until 10).map { c =>
      val xs = (0 until n).map { _ =>
        c % 5 match {
          case 0 => rnd.nextDouble() * 1000 + 1
          case 1 => math.exp(rnd.nextGaussian() * 2 + 3)
          case 2 => (rnd.nextInt(50) + 1).toDouble
          case 3 => rnd.nextDouble() * 0.01 + 1e-4
          case 4 => (rnd.nextDouble() - 0.5) * 200
        }
      }
      s"c$c" -> xs
    }
    val df = (0 until n).map(i => (i.toLong +: cols.map(_._2(i))).toList match {
      case id :: vs => (id.asInstanceOf[Long], vs(0).asInstanceOf[Double], vs(1).asInstanceOf[Double],
        vs(2).asInstanceOf[Double], vs(3).asInstanceOf[Double], vs(4).asInstanceOf[Double],
        vs(5).asInstanceOf[Double], vs(6).asInstanceOf[Double], vs(7).asInstanceOf[Double],
        vs(8).asInstanceOf[Double], vs(9).asInstanceOf[Double])
    }).toDF("id" +: cols.map(_._1): _*)
    for (alpha <- Seq(0.01, 0.05)) {
      val sk = graft.operators.Profiling.logQuantileSketch(
        df, cols.map(_._1), alpha = alpha)
      val probs = Seq(0.05, 0.25, 0.5, 0.75, 0.95)
      val ests = graft.operators.Profiling.quantilesFromLogSketch(sk, probs, alpha)
        .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      for ((name, xs) <- cols; p <- probs) {
        val sorted = xs.sorted
        val exact = sorted(sorted.indices.find(i => (i + 1) > p * (n - 1)).get)
        val est = ests((name, p))
        // DDSketch guarantee is for |v| > 0; the mixed-sign column can
        // straddle the zero bucket at a quantile — allow its bound on
        // magnitude with the bucket-0 epsilon.
        assert(math.abs(est - exact) <= alpha * math.abs(exact) + 1e-3,
          s"$name q$p alpha=$alpha: est=$est exact=$exact")
      }
    }
  }

  test("perGroupHead equals the brute-force n-smallest-hash pick on random groups") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // Skewed groups: g0 holds ~70% of rows (the head-heavy shape the
    // pre-filter guard exists for).
    val rows = (0L until 3000L).map { id =>
      val g = if (rnd.nextDouble() < 0.7) "g0" else s"g${rnd.nextInt(9) + 1}"
      (id, g)
    }
    val nHead = 7L
    val got = graft.operators.Sampling.perGroupHead(rows.toDF("doc_id", "grp"), nHead, "grp")
      .select("doc_id", "grp", "rk").as[(Long, String, Long)].collect()
      .groupBy(_._2).view.mapValues(_.sortBy(_._3).map(_._1).toSeq).toMap
    def hash(id: Long): Long = (id % 1048576L) * 2654435761L % 4294967296L
    val want = rows.groupBy(_._2).view.mapValues(
      _.map(_._1).sortBy(id => (hash(id), id)).take(nHead.toInt).toSeq).toMap
    assert(got.keySet == want.keySet)
    for (g <- want.keySet)
      assert(got(g) == want(g), s"group $g: ${got(g)} != ${want(g)}")
  }

  test("perGroupHead survives a group whose ids collapse to one hash residue") {
    import spark.implicits._
    // Every id in g0 shares the residue mod 2^20, so the whole group maps
    // to ONE pseudo-shuffle value — if it lands above the pre-filter
    // threshold a naive guard starves the group. The coverage audit must
    // disable the filter for g0 and still return its exact head.
    val base = 3L // hash(3) is large: 3·2654435761 mod 2^32 ≈ 3.67e9 — above any thin threshold
    val g0 = (0L until 2000L).map(k => (base + k * 1048576L, "g0"))
    val g1 = (1L to 40L).map(id => (id * 7L + 1L, "g1"))
    val rows = g0 ++ g1
    val nHead = 5L
    def hash(id: Long): Long = (id % 1048576L) * 2654435761L % 4294967296L
    val got = graft.operators.Sampling.perGroupHead(rows.toDF("doc_id", "grp"), nHead, "grp")
      .select("doc_id", "grp", "rk").as[(Long, String, Long)].collect()
      .groupBy(_._2).view.mapValues(_.sortBy(_._3).map(_._1).toSeq).toMap
    val want = rows.groupBy(_._2).view.mapValues(
      _.map(_._1).sortBy(id => (hash(id), id)).take(nHead.toInt).toSeq).toMap
    assert(got("g0").size == nHead && got("g0") == want("g0"))
    assert(got("g1") == want("g1"))
  }

  test("mixPlan emits null epochs (not Infinity) for zero-token weighted groups") {
    import spark.implicits._
    val rows = Seq(
      (1L, "en", 100L), (2L, "en", 50L),
      (3L, "zz", 0L), (4L, "zz", 0L)) // weighted but token-empty
    val plan = graft.operators.Sampling
      .mixPlan(rows.toDF("doc_id", "grp", "n_tokens"),
        Map("en" -> 1.0, "zz" -> 1.0), 1000L, "grp")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(plan("zz").getAs[Any]("epochs") == null)
    assert(plan("en").getAs[Double]("epochs") > 0)
  }

  test("mixPlan algebra matches driver math on random weighted frames") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 5) {
      val groups = ('a' to 'f').map(_.toString)
      val rows = (0L until 500L).map(id =>
        (id, groups(rnd.nextInt(groups.length)), (rnd.nextInt(200) + 1).toLong))
      val weighted = groups.take(4).map(g => g -> (rnd.nextDouble() * 5 + 0.1)).toMap
      val total = 1000000L
      val plan = graft.operators.Sampling
        .mixPlan(rows.toDF("doc_id", "grp", "n_tokens"), weighted, total, "grp")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(5))).toMap
      val wSum = weighted.values.sum
      val present = rows.groupBy(_._2).view
        .mapValues(rs => (rs.size.toLong, rs.map(_._3).sum)).toMap
      val expectedKeys = weighted.keySet.filter(present.contains)
      assert(plan.keySet == expectedKeys)
      for (g <- expectedKeys) {
        val (nDocs, toks) = present(g)
        val w = weighted(g) / wSum
        val (gotN, gotT, gotW, gotE) = plan(g)
        assert(gotN == nDocs && gotT == toks)
        assert(math.abs(gotW - w) <= 5e-7)
        assert(math.abs(gotE - w * total / toks) <= 5e-7 * (1 + w * total / toks))
      }
    }
  }

  test("packTokenIds equals a driver-side reference packer; tokenTar round-trips bit-exactly") {
    import graft.operators.Packing
    val d = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val vocab = Packing.rankVocab(d, 200)
    val packed = Packing.packTokenIds(d, vocab, budgetTokens = 64, buckets = 4)
    val vmap = vocab.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(vmap.values.min == 1 && vmap.values.max == math.min(200, vmap.size),
      "tok_id must be the 1-based rank (0 reserved for OOV)")
    val docsL = d.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("")))
    val want = docsL.groupBy(_._1 % 4).flatMap { case (b, ds) =>
      val ids = ds.sortBy(_._1).flatMap(
        _._2.toLowerCase.split(" ").filter(_.nonEmpty).map(t => vmap.getOrElse(t, 0)))
      ids.grouped(64).zipWithIndex.map { case (chunk, i) =>
        ((b.toInt, i.toLong), chunk.toSeq) }
    }
    val got = packed.collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getSeq[Int](2))).toMap
    assert(got.keySet == want.keySet, "sequence key sets differ")
    want.foreach { case (k, ids) =>
      assert(got(k) == ids, s"sequence $k drifted from the reference packer") }
    // Binary release: little-endian int32 payloads decode to the same ids.
    val out = java.nio.file.Files.createTempDirectory("toktar").toString + "/tokens"
    Packing.tokenTar(packed, out, targetShardBytes = 4096)
    val back = graft.sources.WebDataset.scanTar(spark, out).collect().map { r =>
      val k = r.getString(1).toLong
      val bb = java.nio.ByteBuffer.wrap(r.getAs[Array[Byte]](3))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      ((k >> 32).toInt, k & 0xffffffffL) ->
        Seq.fill(r.getAs[Array[Byte]](3).length / 4)(bb.getInt())
    }.toMap
    assert(back == got.map { case (k, v) => (k._1, k._2) -> v },
      "binary shards decoded to different sequences")
  }

  test("dedupLines equals a driver-side reference on random corpora; second pass drops nothing") {
    import graft.operators.Dedup
    import spark.implicits._
    // A small line pool forces real cross-doc duplicates; %d lines stay
    // doc-unique. Pool mixes exempt-length (< 10 non-space chars) and
    // eligible lines so the exemption path is always exercised.
    val linePool = Gen.oneOf(
      "", "-", "x y", "the cat", "shared boilerplate header line",
      "another long duplicated line", "third repeated eligible line",
      "unique filler line for doc %d")
    val corpusGen: Gen[List[(Long, String)]] = for {
      n <- Gen.choose(1, 10)
      docs <- Gen.listOfN(n, Gen.choose(1, 5).flatMap(m => Gen.listOfN(m, linePool)))
    } yield docs.zipWithIndex.map { case (ls, i) =>
      (i.toLong, ls.map(l => if (l.contains("%d")) l.format(i) else l).mkString("\n"))
    }
    val eligible = (l: String) => l.replaceAll("\\s", "").length >= 10
    val prop = Prop.forAll(corpusGen) { rows =>
      val df = rows.toDF("doc_id", "text")
      val got = Dedup.dedupLines(df, minLineChars = 10).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toList
      val exploded = rows.sortBy(_._1).flatMap { case (id, t) =>
        t.split("\n", -1).zipWithIndex.map { case (l, i) => (id, i, l) } }
      val firsts = exploded.filter(t => eligible(t._3))
        .groupBy(_._3).map { case (l, occ) => l -> occ.minBy(o => (o._1, o._2)) }
      val kept = exploded.filter { case (id, i, l) =>
        !eligible(l) || firsts(l) == ((id, i, l)) }
      val want = rows.sortBy(_._1).map { case (id, t) =>
        val mine = kept.filter(_._1 == id).sortBy(_._2).map(_._3)
        val total = t.split("\n", -1).length
        (id, mine.mkString("\n"), mine.length.toLong, (total - mine.length).toLong)
      }
      val stable = got == want
      // Idempotence: after one pass every eligible line is globally
      // unique, so a second pass must drop nothing.
      val again = Dedup.dedupLines(
        Dedup.dedupLines(df, minLineChars = 10).select("doc_id", "text"),
        minLineChars = 10)
        .agg(org.apache.spark.sql.functions.sum("n_dropped")).head().getLong(0)
      stable && again == 0L
    }
    check(prop, 12)
  }

  test("unimaxPlan matches the paper's sequential greedy on random frames") {
    import spark.implicits._
    // Literal Algorithm 1 (Chung et al. 2023): ascend by token mass,
    // give each group min(cap, remaining budget / groups left).
    def greedy(tokens: Map[String, Long], b: Double, n: Double): Map[String, Double] = {
      var remaining = b
      var left = tokens.size
      val out = scala.collection.mutable.Map[String, Double]()
      for ((g, t) <- tokens.toSeq.sortBy { case (g, t) => (t * n, g) }) {
        val alloc = math.min(t * n, remaining / left)
        out(g) = alloc; remaining -= alloc; left -= 1
      }
      out.toMap
    }
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 6) {
      val groups = ('a' to 'g').map(_.toString)
      val rows = (0L until 400L).map(id =>
        (id, groups(rnd.nextInt(groups.length)), (rnd.nextInt(500) + 1).toLong))
      // Budgets spanning all-capped (tiny N), mixed, and all-uncapped.
      val budget = Seq(20000L, 120000L, 900000L)(trial % 3)
      val n = Seq(0.5, 2.0, 4.0)(trial % 3)
      val got = graft.operators.Sampling
        .unimaxPlan(rows.toDF("doc_id", "grp", "n_tokens"), budget, n, "grp")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
      val present = rows.groupBy(_._2).view
        .mapValues(rs => (rs.size.toLong, rs.map(_._3).sum)).toMap
      val want = greedy(present.view.mapValues(_._2).toMap, budget.toDouble, n)
      assert(got.keySet == present.keySet)
      for (g <- got.keySet) {
        val (nDocs, toks) = present(g)
        val (gotN, gotT, gotCap, gotA, gotE) = got(g)
        assert(gotN == nDocs && gotT == toks)
        assert(math.abs(gotCap - toks * n) <= 1e-3)
        assert(math.abs(gotA - want(g)) <= 1e-3 + 1e-9 * want(g),
          s"trial $trial group $g: alloc $gotA vs greedy ${want(g)}")
        assert(gotE <= n + 1e-6, s"epochs $gotE exceeds cap $n")
      }
      // Budget conservation: sum alloc = min(B, sum caps).
      val totAlloc = got.values.map(_._4).sum
      val totCap = present.values.map(_._2 * n).sum
      assert(math.abs(totAlloc - math.min(budget.toDouble, totCap)) <= 1e-2)
    }
  }
}
