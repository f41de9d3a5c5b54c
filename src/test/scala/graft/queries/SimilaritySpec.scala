package graft.queries

import graft.{Tables, TestSpark}
import graft.functions.{ScoredId, TopKAggregator}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Similarity-search semantics vs driver-side brute force. */
class SimilaritySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir
  import spark.implicits._

  test("lsh hyperplanes are pairwise independent, not ± one shared vector") {
    // round-14 regression pin: FNV-1a's low bit is the XOR-parity of
    // the input bytes' low bits, which made every lshHyperplane(i)
    // EXACTLY ± one shared vector — all sign bits perfectly correlated,
    // 2 distinct signatures over any corpus, zero banding pruning in
    // s6/d8/d20. The splitmix64 finalizer fixes it; this pin fails on
    // any future hash whose hyperplanes collapse again.
    val hs = (0 until 64).map(Similarity.lshHyperplane)
    for (i <- hs.indices; j <- i + 1 until hs.size) {
      val agree = hs(i).zip(hs(j)).count { case (a, b) => a == b }
      // ±shared-vector degeneracy is agree ∈ {0, 64}; independent ±1
      // vectors have agree ~ Binomial(64, 1/2) — huge slack both sides
      assert(agree >= 16 && agree <= 48,
        s"hyperplanes $i,$j agree on $agree/64 dims — degenerate banding")
    }
    // and each hyperplane is itself balanced-ish (a constant-sign
    // hyperplane would make its sig bit constant)
    hs.zipWithIndex.foreach { case (h, i) =>
      val pos = h.count(_ > 0)
      assert(pos >= 16 && pos <= 48, s"hyperplane $i has $pos/64 positive dims")
    }
  }

  /** Driver-side exact top-k with the same rounding + tie-break. */
  private def bruteTopK(k: Int, nq: Int): Map[Long, Seq[(Long, Double)]] = {
    val vs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def nrm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val norms = vs.map { case (id, v) => id -> nrm(v) }.toMap
    vs.filter(_._1 < nq).map { case (qid, qv) =>
      val scored = vs.filter(_._1 != qid).map { case (cid, cv) =>
        val dot = qv.zip(cv).map { case (a, b) => a * b }.sum
        val cos = BigDecimal(dot / (norms(qid) * norms(cid)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (cid, cos)
      }
      qid -> scored.sortBy { case (id, c) => (-c, id) }.take(k).toSeq
    }.toMap
  }

  test("s1 brute-force cosine top-5 matches driver-side computation") {
    val got = Similarity.s1CosineTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val exp = bruteTopK(5, 20)
    got.foreach { case (id1, id2, cos, rank) =>
      val (eid, ecos) = exp(id1)(rank - 1)
      assert(id2 == eid && math.abs(cos - ecos) < 2e-6,
        s"q$id1 rank$rank: got ($id2,$cos) want ($eid,$ecos)")
    }
    assert(got.length == exp.size * 5)
  }

  test("s2 ivf scores are exact for returned pairs; recall@5 >= 0.5") {
    val exact = bruteTopK(5, 20)
    val allScores = exact // only used for spot checks on shared pairs
    val got = Similarity.s2IvfTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    // any returned pair that IS in the exact top-5 must carry the same score
    got.foreach { case (id1, id2, cos) =>
      allScores(id1).find(_._1 == id2).foreach { case (_, ecos) =>
        assert(math.abs(cos - ecos) < 2e-6)
      }
    }
    val exactPairs = exact.flatMap { case (q, tops) => tops.map(t => (q, t._1)) }.toSet
    val gotPairs = got.map(g => (g._1, g._2)).toSet
    val recall = exactPairs.intersect(gotPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.5, s"recall@5 $recall")
  }

  test("s7 quantized rerank: exact scores, high recall from 50-deep candidates") {
    val exact = bruteTopK(5, 20)
    val got = Similarity.s7QuantizedTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    // reranked scores are full-precision cosines — any pair shared with
    // the exact answer must agree
    got.foreach { case (id1, id2, cos) =>
      exact(id1).find(_._1 == id2).foreach { case (_, ecos) =>
        assert(math.abs(cos - ecos) < 2e-6)
      }
    }
    // a 50-deep integer-dot candidate pool over 500 vectors recovers
    // most of the true top-5 despite the 8-bit quantization
    val exactPairs = exact.flatMap { case (q, t) => t.map(x => (q, x._1)) }.toSet
    val gotPairs = got.map(g => (g._1, g._2)).toSet
    val recall = exactPairs.intersect(gotPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.6, s"recall@5 $recall")
  }

  test("s6 lsh scores are exact for returned pairs; multi-probe finds neighbors") {
    val exact = bruteTopK(5, 20)
    val got = Similarity.s6LshTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    got.foreach { case (id1, id2, cos) =>
      exact(id1).find(_._1 == id2).foreach { case (_, ecos) =>
        assert(math.abs(cos - ecos) < 2e-6)
      }
    }
    // per query, ranks are 1..n and scores non-increasing
    got.groupBy(_._1).foreach { case (_, rows) =>
      val scores = rows.map(_._3)
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b - 1e-9 })
    }
    val exactPairs = exact.flatMap { case (q, tops) => tops.map(t => (q, t._1)) }.toSet
    val gotPairs = got.map(g => (g._1, g._2)).toSet
    val recall = exactPairs.intersect(gotPairs).size.toDouble / exactPairs.size
    // 37-of-256-bucket multiprobe (hamming ≤ 2) on near-random vectors:
    // modest recall by design (~0.4 at sf0.01 with genuine hyperplanes —
    // the old 0.64 was the degenerate-banding artifact, see
    // Similarity.lshHyperplane's round-14 note); assert a real fraction
    assert(recall >= 0.2, s"recall@5 $recall")
  }

  test("s9 pq-adc rerank: exact scores, substantial recall, full rank shape") {
    val exact = bruteTopK(5, 20)
    val got = Similarity.s9PqTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.nonEmpty)
    // every query returns exactly K ranked rows, ranks 1..K, scores
    // non-increasing within a query
    got.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1 to 5), s"query $q ranks")
      val ordered = rows.sortBy(_._4).map(_._3)
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a >= b },
        s"query $q scores not monotone")
    }
    // reranked scores are full-precision cosines — pairs shared with the
    // exact answer must agree
    got.foreach { case (id1, id2, cos, _) =>
      exact(id1).find(_._1 == id2).foreach { case (_, ecos) =>
        assert(math.abs(cos - ecos) < 2e-6)
      }
    }
    // 16-cell × 8-subspace ADC over 500 vectors with a 50-deep rerank
    // pool: most of the true top-5 survives the quantization
    val exactPairs = exact.flatMap { case (q, t) => t.map(x => (q, x._1)) }.toSet
    val gotPairs = got.map(g => (g._1, g._2)).toSet
    val recall = exactPairs.intersect(gotPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.5, s"recall@5 $recall")
  }

  test("s3 kmeans-ivf: exact scores, recall monotone in nprobe, exact at full probe") {
    val exact = bruteTopK(5, 20)
    val exactPairs = exact.flatMap { case (q, tops) => tops.map(t => (q, t._1)) }.toSet
    def recallAt(nprobe: Int): (Double, Array[(Long, Long, Double)]) = {
      val got = Similarity.ivfKmeans(spark, dir, nprobe).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val gotPairs = got.map(g => (g._1, g._2)).toSet
      (exactPairs.intersect(gotPairs).size.toDouble / exactPairs.size, got)
    }
    val (r2, got2) = recallAt(2)
    val (r8, _) = recallAt(8)
    val (r16, got16) = recallAt(16)
    // any returned pair in the exact top-5 carries the exact score
    got2.foreach { case (id1, id2, cos) =>
      exact(id1).find(_._1 == id2).foreach { case (_, ecos) =>
        assert(math.abs(cos - ecos) < 2e-6)
      }
    }
    assert(r2 > 0.0, "probing 2 cells found nothing")
    assert(r2 <= r8 + 1e-9 && r8 <= r16 + 1e-9, s"recall not monotone: $r2 $r8 $r16")
    // probing every cell IS the exhaustive search — must equal s1 exactly
    assert(r16 == 1.0, s"full probe recall $r16")
    got16.foreach { case (id1, id2, cos) =>
      val idx = exact(id1).indexWhere(_._1 == id2)
      assert(idx >= 0 && math.abs(cos - exact(id1)(idx)._2) < 2e-6)
    }
  }

  test("s8 k-center: deterministic, distinct picks, non-increasing radii") {
    val a = Similarity.s8KCenterSample(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val b = Similarity.s8KCenterSample(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(a.toSeq == b.toSeq, "farthest-point traversal is not deterministic")
    assert(a.length == Similarity.KCenterK)
    assert(a.map(_._2).distinct.length == a.length, "repeated center")
    // rank 0 is the min-id seed with sentinel radius 0; from rank 1 on,
    // the coverage radius (min cosine distance at selection) can only
    // shrink as centers accumulate
    assert(a.head._1 == 0 && a.head._3 == 0.0)
    val radii = a.drop(1).map(_._3)
    assert(radii.zip(radii.tail).forall { case (x, y) => y <= x },
      radii.mkString(","))
  }

  /** Three tight unit-vector bundles on orthogonal axes, 12 rows; each
    * row's cluster is vec_id % 3.
    */
  private lazy val planted = {
    val dim = 8
    def axisVec(axis: Int, eps: Double, flip: Int): Seq[Double] = {
      val v = Array.fill(dim)(0.0)
      v(axis) = 1.0
      v((axis + 3) % dim) = eps * (if (flip % 2 == 0) 1 else -1)
      v.toSeq
    }
    (0 until 12).map(i => (i.toLong, axisVec(i % 3, 0.01 + 0.001 * i, i), i % 3))
      .toDF("vec_id", "v", "cluster")
      .withColumn("nrm", graft.functions.SimFunctions.l2Norm(col("v")))
  }

  test("s8 covers planted clusters before revisiting any of them") {
    // the first three selections must touch all three clusters (greedy
    // k-center's defining behavior), regardless of cluster sizes
    val picked = Similarity.kCenterFrame(planted, 3).collect().map(_.getLong(1))
    assert(picked.map(_ % 3).toSet == Set(0L, 1L, 2L),
      s"first 3 centers hit clusters ${picked.map(_ % 3).toSeq}")
  }

  test("k-center on the planted frame: recorded picks, radii and ranks; no pin left behind") {
    def run(df: org.apache.spark.sql.DataFrame, k: Int, grid: Boolean) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val rows = Similarity.kCenterFrame(df, k, grid).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(spark.sparkContext.getPersistentRDDs.keySet -- before == Set.empty,
        s"k=$k grid=$grid left pins")
      rows
    }
    // recorded from the loop as it stood before the fixed-point driver
    // (seed from a count + sorted collect, argmax by TakeOrdered(1))
    val head = Seq((0, 0L, 0.0), (1, 1L, 1.0), (2, 2L, 1.0))
    val mid = Seq((3, 11L, 5.44e-4), (4, 10L, 4.8e-4), (5, 9L, 4.2e-4))
    val tail = Seq(6L, 7L, 8L, 3L, 4L, 5L)
    val gridTail = Seq(3L, 4L, 5L, 6L, 7L, 8L)
    def ranked(ids: Seq[Long]) = ids.zipWithIndex.map { case (id, i) => (6 + i, id, 1.8e-5) }
    for (grid <- Seq(false, true)) {
      assert(run(planted, 3, grid) == head)
      val all = head ++ mid ++ ranked(if (grid) gridTail else tail)
      // k = n and k > n both stop once every row is a center
      assert(run(planted, 12, grid) == all)
      assert(run(planted, 16, grid) == all)
    }
    assert(run(planted.filter(col("vec_id") === 5L), 3, grid = false) == Seq((0, 5L, 0.0)))
  }

  test("s8b runs at least 17 fewer jobs than the loop before the fixed-point driver") {
    // n and the seed ride the first checkpoint and each round's argmax
    // its own: 35 jobs per call on this fixture before, at k = 16
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val rows =
      try Similarity.s8bKCenterFixed(spark, dir).collect()
      finally {
        Thread.sleep(1000) // let the async listener bus drain
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(rows.length == Similarity.KCenterK)
    assert(jobs.get() <= 35 - 17, s"${jobs.get()} jobs for one s8b call")
  }

  test("TopKAggregator equals global sort-take on random input under any split") {
    val rng = new scala.util.Random(3)
    val data = Seq.fill(500)(ScoredId(rng.nextInt(50) / 10.0, rng.nextInt(1000).toLong))
    val ord = Ordering.by((s: ScoredId) => (-s.score, s.id))
    val expect = data.sorted(ord).take(7)
    val agg = new TopKAggregator(7)
    // random split into chunks, reduce each, merge in random order
    val chunks = data.grouped(37).toSeq
    val partials = chunks.map(c => c.foldLeft(agg.zero)(agg.reduce))
    val merged = rng.shuffle(partials).reduce(agg.merge)
    assert(agg.finish(merged) == expect)
  }

  test("s10 recall eval: bounded, consistent with a direct s1∩s2 recount") {
    val out = Similarity.s10RecallEval(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 20) // one row per query, even at recall 0
    out.foreach { case (id, n, rec) =>
      assert(n >= 0 && n <= 5, s"query $id n_hits $n")
      assert(math.abs(rec - n / 5.0) < 1e-9, s"query $id recall")
    }
    // recount hits directly from the two source queries
    val exact = Similarity.s1CosineTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.s2IvfTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = exact.toSeq.filter(approx.contains).groupBy(_._1)
      .map { case (k, v) => k -> v.length.toLong }
    out.foreach { case (id, n, _) =>
      assert(n == direct.getOrElse(id, 0L), s"query $id recount")
    }
    // the index is useful at all: mean recall above a coarse floor
    val mean = out.map(_._3).sum / out.length
    assert(mean > 0.5, s"mean recall $mean")
  }

  test("s11 mmr matches brute-force greedy; scores monotone after rank 1") {
    val rows = Similarity.s11MmrTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == (0L until 20L).toSet)
    byQ.foreach { case (qid, sel) =>
      assert(sel.map(_._2).sorted.toSeq == (1 to 8), s"query $qid ranks")
      assert(sel.map(_._3).distinct.length == 8, s"query $qid dup picks")
      // rank 1 scores pure relevance (λ·cosq); from rank 2 on, each
      // step's argmax is over a smaller set with a no-smaller penalty,
      // so MMR scores are non-increasing
      val mmr = sel.sortBy(_._2).map(_._4)
      mmr.drop(1).sliding(2).foreach { w =>
        if (w.length == 2) assert(w(1) <= w(0) + 1e-9, s"query $qid not monotone") }
    }
    // independent greedy over the same rounded-cosine pool
    val vs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toMap
    def nrm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    def cos(a: Long, b: Long): Double = {
      val (va, vb) = (vs(a), vs(b))
      val d = va.zip(vb).map { case (x, y) => x * y }.sum
      BigDecimal(d / (nrm(va) * nrm(vb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    bruteTopK(32, 20).foreach { case (qid, cands0) =>
      var selected = Vector.empty[(Long, Double)]
      var remaining = cands0
      while (selected.length < 8 && remaining.nonEmpty) {
        val best = remaining.map { case (cid, cosq) =>
          val msim = if (selected.isEmpty) 0.0
            else selected.map(s => cos(cid, s._1)).max
          (cid, 0.5 * cosq - 0.5 * msim)
        }.minBy { case (cid, sc) => (-sc, cid) }
        selected :+= best
        remaining = remaining.filterNot(_._1 == best._1)
      }
      val got = byQ(qid).sortBy(_._2)
      assert(got.map(_._3).toSeq == selected.map(_._1), s"query $qid picks")
      got.map(_._4).zip(selected.map(_._2)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 2e-6, s"query $qid score $a vs $b") }
    }
  }

  test("s12 hard negatives: in-band only, ranked, consistent with brute force") {
    val rows = Similarity.s12HardNegatives(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rows.nonEmpty, "band empty on the fixture — thresholds vacuous")
    rows.foreach { case (q, c, cos, _) =>
      assert(cos >= Similarity.S12Lo && cos < Similarity.S12Hi, s"($q,$c) cos $cos")
    }
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._4).sorted.toSeq == (1 to rs.length), s"query $q ranks")
      val byRank = rs.sortBy(_._4).map(_._3)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => b <= a },
        s"query $q not sorted")
    }
    // brute-force replay: per query, the k best rounded cosines in band
    val brute = bruteTopK(Int.MaxValue / 2, 20)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val want = brute(q)
        .filter(t => t._2 >= Similarity.S12Lo && t._2 < Similarity.S12Hi)
        .take(Similarity.S12K)
      assert(rs.sortBy(_._4).map(t => (t._2, t._3)).toSeq == want.toSeq,
        s"query $q mismatch")
    }
  }

  test("s3b fixed k-means: partitions the corpus, training tightens cells, deterministic") {
    val n = Tables.embeddings(spark, dir).count()
    val rows = Similarity.s3bKmeansFixed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every cell id is one of the seeds; members partition the corpus
    assert(rows.map(_._1).forall(c => c >= 0 && c < Similarity.S3bCells))
    assert(rows.map(_._2).sum === n, "cell sizes must partition the corpus")
    assert(rows.forall(_._3 >= 0L), "integer inertia is non-negative")
    assert(rows.forall(r => r._4 >= 0 && r._4 < n), "min_member in range")
    // Lloyd rounds must tighten the cells vs the untrained seed
    // centroids (floor-div means deviate from true means by < 1 grid
    // unit per dim — noise next to the seed-to-trained gap)
    val seedInertia = Similarity.kmeansFixedFrame(spark, dir, 0).collect()
      .map(_.getLong(2)).sum
    assert(rows.map(_._3).sum < seedInertia,
      s"trained inertia ${rows.map(_._3).sum} !< seed $seedInertia")
    val again = Similarity.s3bKmeansFixed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq === again.toSeq)
  }

  test("s8b grid k-center: seed row, distinct picks, non-increasing radii, deterministic") {
    val rows = Similarity.s8bKCenterFixed(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length === Similarity.KCenterK)
    assert(rows.head === ((0, 0L, 0.0)), "seed is min vec_id at radius 0")
    assert(rows.map(_._2).distinct.length === rows.length, "picks repeat")
    // coverage radius is the max of a pointwise non-increasing running
    // min — it can only shrink as centers accumulate (rank ≥ 1)
    val radii = rows.drop(1).map(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a },
      s"radii must be non-increasing: ${radii.mkString(",")}")
    assert(radii.forall(r => r > 0.0 && r <= 2.0))
    val again = Similarity.s8bKCenterFixed(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq === again.toSeq)
  }

  test("s13 probe sweep: recall and cost both rise monotonically with nprobe") {
    val rows = Similarity.s13ProbeSweep(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.map(_._1).toSeq === Similarity.S13Probes)
    val recalls = rows.map(_._3); val cands = rows.map(_._4)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a },
      s"recall must be monotone in nprobe: ${recalls.mkString(",")}")
    assert(cands.zip(cands.tail).forall { case (a, b) => b > a },
      s"candidate cost must grow with nprobe: ${cands.mkString(",")}")
    assert(recalls.forall(r => r > 0.0 && r <= 1.0))
    // probing every queried cell must beat the single-cell recall on
    // this clustered fixture by a visible margin
    assert(recalls.last > recalls.head)
  }
}
