package graft.queries

import graft.{Tables, TestSpark}
import graft.functions.TextFunctions._
import graft.functions.SimFunctions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Near-dup operator semantics, verified against brute-force driver-side
  * computation and planted synthetic duplicates.
  */
class DedupSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir
  import spark.implicits._

  /** Brute-force 3-shingle Jaccard over the collected fixture. */
  private def bruteJaccard(threshold: Double): Map[(Long, Long), Double] = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").toSeq))
      .filter(_._2.size >= 3)
      .map { case (id, t) =>
        (id, t.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet)
      }
    (for {
      (i1, s1) <- docs; (i2, s2) <- docs if i1 < i2
      inter = (s1 & s2).size
      j = inter.toDouble / (s1.size + s2.size - inter)
      if j >= threshold
    } yield (i1, i2) -> j).toMap
  }

  test("d1 exact jaccard pairs match brute force") {
    val got = Dedup.d1JaccardPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exp = bruteJaccard(0.2)
    assert(got.keySet == exp.keySet)
    got.foreach { case (k, j) => assert(math.abs(j - exp(k)) < 1e-6) }
  }

  test("d1 hot-shingle cap branch stays exact when a shingle exceeds the df cap") {
    // synthetic corpus where one shingle ("hot hot hot") is in EVERY doc
    // (df = 80 > D1MaxDf = 64 → nHot > 0 → the bounded-verify branch
    // runs); docs 0/1 are near-identical, the rest are disjoint apart
    // from the hot shingle
    val mkDoc = (i: Int, words: Seq[String]) =>
      (i.toLong, ("hot hot hot " + words.mkString(" ")))
    val docs = Seq(
      mkDoc(0, (0 until 30).map(k => s"a$k")),
      mkDoc(1, (0 until 30).map(k => if (k == 17) "zzz" else s"a$k")),
    ) ++ (2 until 80).map(i => mkDoc(i, (0 until 30).map(k => s"u${i}_$k")))
    val tmp = java.nio.file.Files.createTempDirectory("d1hot").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$tmp/documents.parquet")
    val got = Dedup.d1JaccardPairs(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute force over the SAME synthetic corpus
    val sets = docs.map { case (id, t) =>
      (id, t.split("\\s+").toSeq.sliding(3).map(_.mkString(" ")).toSet)
    }
    val exp = (for {
      (i1, s1) <- sets; (i2, s2) <- sets if i1 < i2
      inter = (s1 & s2).size
      j = inter.toDouble / (s1.size + s2.size - inter)
      if j >= 0.2
    } yield (i1, i2) -> j).toMap
    assert(exp.contains((0L, 1L)), "fixture must plant a qualifying pair")
    assert(got.keySet == exp.keySet)
    got.foreach { case (k, j) => assert(math.abs(j - exp(k)) < 1e-6) }
  }

  test("d1 documented residual: all-hot intersection between large docs is skipped") {
    // Pin the ONE approximation d1's scaladoc documents (the Broder
    // frequency-pruning residual): docs 0..69 share a 16-word block, so
    // every block shingle has df = 70 > the absolute cap D1MaxDf = 64
    // (hot), and all seventy docs are LARGE (> D1SmallDoc shingles) —
    // their pairwise Jaccard is real (≈0.26 ≥ 0.2) but consists of hot
    // shingles only, so the pairs never reach candidate generation.
    // d1 must (a) skip exactly those pairs and (b) stay exact on
    // everything else. The miss class is corpus-frequent-phrase
    // overlap, which d2's capless MinHash path covers at its threshold.
    val nBlock = 70
    val block = (0 until 16).map(k => s"c$k").mkString(" ")
    val docs = (0 until nBlock).map(i =>
      (i.toLong, block + " " + (0 until 20).map(k => s"u${i}_$k").mkString(" "))) ++
      (nBlock until nBlock + 16).map(i =>
        (i.toLong, (0 until 34).map(k => s"v${i}_$k").mkString(" ")))
    val tmp = java.nio.file.Files.createTempDirectory("d1big").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$tmp/documents.parquet")
    val sets = docs.map { case (id, t) =>
      (id, t.split("\\s+").toSeq.sliding(3).map(_.mkString(" ")).toSet)
    }
    val exp = (for {
      (i1, s1) <- sets; (i2, s2) <- sets if i1 < i2
      inter = (s1 & s2).size
      j = inter.toDouble / (s1.size + s2.size - inter)
      if j >= 0.2
    } yield (i1, i2)).toSet
    val residual = (for (a <- 0L until nBlock; b <- 0L until nBlock if a < b)
      yield (a, b)).toSet
    assert(residual.subsetOf(exp), "fixture must plant qualifying large pairs")
    // every planted block doc exceeds the small-doc retention bound, so
    // none can silently fall under D1SmallDoc and dodge the residual
    sets.take(nBlock).foreach { case (id, s) =>
      assert(s.size > Dedup.D1SmallDoc, s"doc $id too small for the test")
    }
    val got = Dedup.d1JaccardPairs(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exp -- residual,
      s"d1 must skip exactly the documented residual: got $got, exp ${exp -- residual}")
  }

  test("d2 minhash-lsh finds exactly the pairs >= 0.5 on the fixture") {
    val got = Dedup.d2MinHashPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == bruteJaccard(0.5).keySet)
  }

  test("minhash signature agreement approximates jaccard on synthetic sets") {
    // two 80%-overlapping shingle sets: signature agreement ≈ 0.8
    val base = (0 until 100).map(i => s"sh$i")
    val df = Seq(
      (1L, base),
      (2L, base.drop(20) ++ (100 until 120).map(i => s"x$i"))
    ).toDF("doc_id", "sh")
    val sigs = df.select(col("doc_id"), minHashSignature(col("sh"), 256).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val agree = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b } / 256.0
    val trueJ = 80.0 / 120.0 // |∩|=80, |∪|=120
    assert(math.abs(agree - trueJ) < 0.12, s"agreement $agree vs jaccard $trueJ")
  }

  test("native minhash128 signature agreement approximates jaccard") {
    val base = (0 until 100).map(i => s"sh$i")
    val df = Seq(
      (1L, base),
      (2L, base.drop(20) ++ (100 until 120).map(i => s"x$i"))
    ).toDF("doc_id", "sh")
    val sigs = df.select(col("doc_id"), call_udf("minhash128", col("sh")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L).length == 128 && sigs(2L).length == 128)
    val agree = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b } / 128.0
    val trueJ = 80.0 / 120.0 // |∩|=80, |∪|=120
    assert(math.abs(agree - trueJ) < 0.15, s"agreement $agree vs jaccard $trueJ")
  }

  test("identical texts get identical simhash; near-identical low hamming") {
    val text = (0 until 60).map(i => s"w${i % 25}").mkString(" ")
    val mutated = text.replace("w3", "zzz") // a few shingles change
    val df = Seq((1L, text), (2L, text), (3L, mutated)).toDF("doc_id", "text")
    val sig = df
      .select(col("doc_id"),
        call_udf("simhash64", shingles(tokenize(col("text")), 3)).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(2L))
    val ham = java.lang.Long.bitCount(sig(1L) ^ sig(3L))
    assert(ham > 0 && ham <= 16, s"hamming to mutated doc was $ham")
  }

  test("winnow fingerprints: identity, substring guarantee, selectivity") {
    import graft.expressions.WinnowFingerprints.compute
    val text = "the quick brown fox jumps over the lazy dog again and again"
    // identical input → identical fingerprints
    assert(compute(text.getBytes).toSeq == compute(text.getBytes).toSeq)
    // a long shared substring guarantees a shared fingerprint value
    val shared = "XXXX " + text + " YYYY"
    val fp1 = compute(text.getBytes).toSet
    val fp2 = compute(shared.getBytes).toSet
    assert(fp1.intersect(fp2).nonEmpty)
    // unrelated strings share nothing
    val other = compute("zebra quartz viable mixup jolly".getBytes).toSet
    assert(fp1.intersect(other).isEmpty)
    // short input: below k → empty; k..k+w-1 bytes → single fingerprint
    assert(compute(("a" * 23).getBytes).isEmpty)
    assert(compute(("b" * 24).getBytes).length == 1)
  }

  test("d5 winnow pairs finds the planted near-dups") {
    val got = Dedup.d5WinnowPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty)
    val strong = bruteJaccard(0.9).keySet
    if (strong.nonEmpty)
      assert(got.intersect(strong).nonEmpty, "missed all strong near-dups")
  }

  test("d3 simhash pairs have verified hamming <= 6 and include a planted near-dup") {
    val rows = Dedup.d3SimHashPairs(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 <= 6))
    // the fixture's strongest jaccard near-dups should appear
    val strong = bruteJaccard(0.9).keySet
    if (strong.nonEmpty)
      assert(rows.map(_._1).toSet.intersect(strong).nonEmpty)
  }

  test("d3 banded join survives adversarial band skew: one hot bucket with 10% of the corpus") {
    // Adversarial fixture for the pigeonhole band join: 200 of 2000 docs
    // share IDENTICAL text, so all four 16-bit chunk buckets of their
    // (identical) simhash hold 10% of the corpus — the worst band skew a
    // dedup corpus realistically produces (a boilerplate page crawled
    // 200×). The hot bucket yields C(200,2)·4 raw join hits; d3's
    // design point is that the codegen'd hamming filter runs INSIDE the
    // join stage (before distinct), so the flood dies without being
    // shuffled — this case pins that the job completes and the answer
    // is exactly the hot clique, no skew-induced loss or junk.
    val hot = "breaking news boilerplate header shared across every syndicated page of the network"
    val docs = (0 until 2000).map { i =>
      if (i % 10 == 0) (i.toLong, hot)
      else (i.toLong, (0 until 14).map(k => s"w${i}_$k unique token").mkString(" "))
    }
    val tmp = java.nio.file.Files.createTempDirectory("d3skew").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$tmp/documents.parquet")
    val rows = Dedup.d3SimHashPairs(spark, tmp).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
    val hotIds = (0 until 2000 by 10).map(_.toLong)
    val clique = (for (a <- hotIds; b <- hotIds if a < b) yield (a, b)).toSet
    assert(rows.map(_._1).toSet == clique,
      s"expected the ${clique.size}-pair hot clique, got ${rows.length} pairs")
    assert(rows.forall(_._2 == 0), "identical docs must verify at hamming 0")
  }

  test("d16 containment finds directional subset pairs jaccard can't see") {
    import spark.implicits._
    // B embeds A verbatim inside unrelated body text: j(A,B) ≈ 0.14
    // (below d1's 0.2 — resemblance never pairs them), containment
    // C(A→B) = 1.0. C is unrelated. Only (A→B) may clear 0.8.
    val aWords = (0 until 12).map(k => s"quote$k")
    val bWords = (0 until 60).map(k => s"body$k")
    val aText = aWords.mkString(" ")
    val bText = (bWords.take(30) ++ aWords ++ bWords.drop(30)).mkString(" ")
    val cText = (0 until 40).map(k => s"other$k").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("d16").toString
    Seq((0L, aText), (1L, bText), (2L, cText)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = Dedup.d16ContainmentPairs(spark, tmp).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(rows.keySet == Set((0L, 1L)), s"got ${rows.keySet}")
    assert(math.abs(rows((0L, 1L)) - 1.0) < 1e-9)
  }

  test("d16 hot-cap branch stays exact: contained pair survives a corpus-hot shingle") {
    import spark.implicits._
    // every doc opens with the same hot run (df = 80 > D1MaxDf = 64 →
    // the capped verify branch runs); doc 1 embeds doc 0's quote words
    val mk = (words: Seq[String]) => "hot hot hot " + words.mkString(" ")
    val quote = (0 until 12).map(k => s"q$k")
    val docs = Seq(
      (0L, mk(quote)),
      (1L, mk((0 until 14).map(k => s"b$k") ++ quote ++ (14 until 28).map(k => s"b$k"))),
    ) ++ (2 until 80).map(i => (i.toLong, mk((0 until 20).map(k => s"u${i}_$k"))))
    val tmp = java.nio.file.Files.createTempDirectory("d16hot").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$tmp/documents.parquet")
    val got = Dedup.d16ContainmentPairs(spark, tmp).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // brute force both directions over the same corpus
    val sets = docs.map { case (id, t) =>
      (id, t.split("\\s+").toSeq.sliding(3).map(_.mkString(" ")).toSet) }
    val exp = (for {
      (i1, s1) <- sets; (i2, s2) <- sets if i1 != i2
      c = (s1 & s2).size.toDouble / s1.size
      if c >= Dedup.D16Threshold
    } yield (i1, i2) -> c).toMap
    assert(exp.contains((0L, 1L)), "fixture must plant a contained pair")
    assert(got.keySet == exp.keySet, s"got ${got.keySet} vs ${exp.keySet}")
    got.foreach { case (k, c) => assert(math.abs(c - exp(k)) < 1e-6, s"$k") }
  }

  test("d17 weights: cluster members split one copy's mass, singletons keep 1.0") {
    val w = Dedup.d17SoftDedupWeights(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val clusters = Dedup.d7DupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val size = clusters.groupBy(_._2).view.mapValues(_.length).toMap
    val byDoc = clusters.map { case (d, c) => d -> size(c) }.toMap
    assert(w.length == graft.Tables.documents(spark, dir).count())
    w.foreach { case (docId, cs, wt) =>
      val expected = byDoc.getOrElse(docId, 1)
      assert(cs == expected, s"doc $docId cluster_size $cs != $expected")
      assert(math.abs(wt - 1.0 / expected) < 1e-6, s"doc $docId weight")
    }
    // non-vacuous on the fixture: real near-dup clusters exist
    assert(w.exists(_._2 > 1), "fixture has no cluster > 1 — weights vacuous")
    // mass conservation: every cluster's weights sum to one copy
    clusters.groupBy(_._2).foreach { case (c, members) =>
      val s = members.map(m => w.find(_._1 == m._1).get._3).sum
      assert(math.abs(s - 1.0) < 1e-4, s"cluster $c mass $s")
    }
  }

  test("d8 lsh pairs are a subset of d4 exact pairs with identical scores") {
    // this subset assertion is only sound while d4's probe panel covers
    // the WHOLE fixture (vec_id < D4ProbeCap ⇒ d4 == uncapped exact
    // answer); fail loudly here if the fixture ever outgrows the cap
    // instead of letting d8 pairs with id1 >= cap spuriously fail below
    val maxId = Tables.embeddings(spark, dir)
      .agg(max(col("vec_id"))).head.getLong(0)
    assert(maxId < Dedup.D4ProbeCap,
      s"embeddings fixture outgrew D4ProbeCap=${Dedup.D4ProbeCap} " +
        s"(max vec_id $maxId): compare d8 against an uncapped exact answer")
    val exact = Dedup.d4EmbeddingDups(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = Dedup.d8EmbeddingLsh(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(lsh.nonEmpty)
    // precision 1.0: every LSH pair is a true >=0.4 pair, same score
    lsh.foreach { case (pair, cos) =>
      assert(exact.contains(pair), s"$pair not in exact answer")
      assert(math.abs(exact(pair) - cos) < 1e-9)
    }
    // banding recall on this fixture is substantial, not token
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.2, s"recall $recall")
  }

  test("d11 bloom-pruned decontamination equals the exact d6 answer") {
    // the sketch may only PRUNE the probe side (miss ⇒ provably absent;
    // hits exactly verified) — outputs must be identical, row for row
    val exact = Dedup.d6Decontaminate(spark, dir).collect().map(_.getLong(0)).toSeq
    val bloom = Dedup.d11BloomDecontaminate(spark, dir).collect().map(_.getLong(0)).toSeq
    assert(bloom == exact)
  }

  test("d14 planted spans: exact boundaries, island merge, intra-doc repeats") {
    val K = Dedup.D14SpanK
    assert(K == 10, "span accounting below is written for K=10")
    def w(prefix: String, n: Int): String =
      (1 to n).map(prefix + _).mkString(" ")
    // a 14-word span shared by docs 0 and 1 (planted mid-document):
    // 5 covering grams each merge into ONE span of exactly 14 words
    val shared = w("s", 14)
    val docs = Seq(
      (0L, w("a", 20) + " " + shared + " " + w("b", 20)),
      (1L, w("c", 7) + " " + shared + " " + w("d", 31)),
      // 2: unique vocabulary throughout → zero spans
      (2L, w("e", 60)),
      // 3: TWO disjoint shared spans (with doc 4), gap 20 > K → 2 islands
      (3L, w("x", 11) + " " + w("g", 20) + " " + w("y", 11)),
      (4L, w("p", 5) + " " + w("x", 11) + " " + w("q", 25) + " " + w("y", 11)),
      // 5: intra-doc repetition — the same 10-word run twice in ONE doc
      //    counts as duplicated even though no other doc shares it
      (5L, w("r", 10) + " " + w("z", 15) + " " + w("r", 10)),
    ).toDF("doc_id", "text")
    val got = Dedup.d14SpanFrame(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    def check(id: Long, nWords: Long, nSpans: Long, dupWords: Long): Unit = {
      val (w0, s0, d0, f0) = got(id)
      assert((w0, s0, d0) == ((nWords, nSpans, dupWords)), got(id).toString)
      assert(math.abs(f0 - dupWords.toDouble / nWords) < 5e-7, got(id).toString)
    }
    // docs 0/1: one span, exactly the 14 shared words
    check(0L, 54L, 1L, 14L)
    check(1L, 52L, 1L, 14L)
    check(2L, 60L, 0L, 0L)
    // docs 3/4: two 11-word islands each (gap >> K keeps them apart)
    check(3L, 42L, 2L, 22L)
    check(4L, 52L, 2L, 22L)
    // doc 5: both copies of the repeated run are duplicated positions
    check(5L, 35L, 2L, 20L)
  }

  test("d12 overlap-ratio decontamination flags clones, spares light overlap") {
    // bench doc 0; doc 1 = verbatim clone (ratio 1.0 ⇒ flagged); doc 2 =
    // one shared trigram out of 12 (< 10% ⇒ unflagged); doc 3 = disjoint
    // vocabulary (zero hits ⇒ unflagged); doc 4 = half-clone (≥10% ⇒
    // flagged with the exact integer counts)
    val benchText = "alpha beta gamma delta epsilon zeta eta theta"
    val half = "alpha beta gamma delta " +
      "quux corge grault garply waldo fred plugh xyzzy thud aa bb cc"
    val docs = Seq(
      (0L, benchText),
      (1L, benchText),
      (2L, "alpha beta gamma " + (1 to 11).map("w" + _).mkString(" ")),
      (3L, "uno dos tres cuatro cinco seis"),
      (4L, half),
    ).toDF("doc_id", "text")
    val got = Dedup.d12OverlapFrame(docs, col("doc_id") === 0)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == Set(1L, 4L), got.toString)
    assert(got(1L) == ((6L, 6L)))    // 8 tokens -> 6 trigrams, all hits
    // doc 2: 14 tokens -> 12 trigrams, exactly 1 hit -> 10 < 12 spared
    val doc4Grams = half.split(" ").length - 2
    assert(got(4L)._1 == doc4Grams && got(4L)._2 * 10 >= doc4Grams)
  }

  test("d9 semdedup (trained cells) drops planted near-duplicates, keeps min-id survivors") {
    val rng = new scala.util.Random(7)
    val dim = 64
    def randVec() = Seq.fill(dim)(rng.nextGaussian())
    val base = (0 until 120).map(i => (i.toLong, randVec()))
    // exact clones: identical vectors land in the same cell under ANY
    // quantizer, so the drop rule MUST fire on them
    val clones = Seq((200L, base(0)._2), (201L, base(0)._2), (210L, base(1)._2))
    // a planted exact-cosine-0.6 near-clone of base(2): 0.6·u + 0.8·w, w ⊥ u
    val u = { val v = base(2)._2; val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val w = {
      val w0 = randVec()
      val proj = u.zip(w0).map { case (a, b) => a * b }.sum
      val o = w0.zip(u).map { case (b, a) => b - proj * a }
      val n = math.sqrt(o.map(x => x * x).sum); o.map(_ / n)
    }
    val near = Seq((220L, u.zip(w).map { case (a, b) => 0.6 * a + 0.8 * b }))
    val input = base ++ clones ++ near
    val df = input.toDF("vec_id", "v").withColumn("nrm", l2Norm(col("v")))
    val survivors = Dedup.semDedup(df, Dedup.SemDedupThr).collect()
      .map(_.getLong(0)).toSet
    // the drop path executed, on the planted clones specifically
    assert(survivors.size < input.size)
    assert(Seq(200L, 201L, 210L).forall(!survivors.contains(_)),
      "exact clones must be dropped")
    // min-id survivor rule on the clone groups
    assert(survivors.contains(0L) && survivors.contains(1L))
    // soundness of every drop: a dropped id must have a lower-id partner
    // with cos >= thr somewhere (in-cell drop implies one exists)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = input.toMap
    val dropped = input.map(_._1).toSet -- survivors
    dropped.foreach { d =>
      assert(input.exists { case (i, v) => i < d && cos(v, byId(d)) >= Dedup.SemDedupThr },
        s"dropped $d has no eligible lower-id near-duplicate")
    }
    // the min id of each brute-force near-dup component can never be
    // dropped (its partners all have higher ids), under ANY quantizer
    val pairs = for {
      (i, vi) <- input; (j, vj) <- input
      if i < j && cos(vi, vj) >= Dedup.SemDedupThr
    } yield (i, j)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val mins = pairs.flatMap(p => Seq(p._1, p._2)).map(find).toSet
    mins.foreach(m => assert(survivors.contains(m), s"component min $m was dropped"))
  }

  test("d9 and d10 drop paths execute on the embeddings fixture") {
    val in = Tables.embeddings(spark, dir).count()
    // d10's fixed panel: >=1 intra-cell pair above SemDedupThr at every
    // fixture scale (measured: max intra-cell cos 0.470 at sf0.001,
    // 0.493 at sf0.01) — the oracle comparison exercises real drops
    val d10 = Dedup.d10SemDedupFixed(spark, dir).count()
    assert(d10 < in, "d10 dropped nothing — threshold no longer bites the fixture")
    // d9's trained cells: rows-only sanity (non-empty, no growth)
    val d9 = Dedup.d9SemDedup(spark, dir).count()
    assert(d9 > 0 && d9 <= in)
  }

  test("semDedupPanels: √k codebooks keep cells ~256 wide at every corpus size") {
    for (n <- Seq(500L, 2000L, 1L << 20, 1L << 30, 1L << 40, 100L * (1L << 40) / 1024)) {
      val k = math.max(16L, n / Dedup.SemDedupCellTarget)
      val (kc, kf) = Dedup.semDedupPanels(n)
      // product cells cover the conceptual k, so expected width stays ≤ ~256
      assert(kc.toLong * kf >= k, s"n=$n: kc*kf=${kc.toLong * kf} < k=$k")
      assert(n.toDouble / (kc.toLong * kf) <= Dedup.SemDedupCellTarget + 1,
        s"n=$n: expected cell width exceeds the target")
      // per-row assignment work is O(√k), the whole point of two levels
      assert(kc + kf <= 2 * math.ceil(math.sqrt(k.toDouble)).toLong + 2,
        s"n=$n: kc+kf=${kc + kf} not O(√k)")
      // vs the round-7 flat rule: n·(kc+kf) ≪ n·k once k outgrows the clamp
      if (k > 64) assert((kc + kf).toLong * 4 <= k,
        s"n=$n: two-level does not beat flat assignment")
    }
  }

  test("10× probe: two-level assignment beats the flat n·k panel on wall clock") {
    // 40k synthetic unit-ish vectors (20× the sf0.01 fixture, 10× its 10×
    // regen): deterministic sin() features, no driver-side generation
    val n = 40000L
    val emb = spark.range(n).select(col("id").as("vec_id"),
        expr("transform(sequence(0, 63), j -> cast(sin(id * 64 + j) as double))").as("v"))
      .withColumn("nrm", l2Norm(col("v"))).cache()
    emb.count()
    val kFlat = math.max(16L, (n + 255) / 256).toInt // round-7 rule: 157 cents
    val (kc, kf) = Dedup.semDedupPanels(n)           // two-level: 9 + 9
    def panel(lim: Int, descending: Boolean) = {
      val s = if (descending) emb.orderBy(col("vec_id").desc) else emb.orderBy(col("vec_id"))
      s.limit(lim).select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))
    }
    def argmaxTime(panels: Seq[org.apache.spark.sql.DataFrame]): Double = {
      val t0 = System.nanoTime
      panels.foreach { p =>
        emb.join(broadcast(p), lit(true))
          .select(col("vec_id"), col("cent_id"),
            round(dot(col("v"), col("cv")) / (col("nrm") * col("cn")), 6).as("cs"))
          .groupBy(col("vec_id"))
          .agg(max_by(col("cent_id"), struct(col("cs"), -col("cent_id"))).as("cell"))
          .count()
      }
      (System.nanoTime - t0) / 1e9
    }
    // rows through the two argmax shapes: the cost model itself
    val flatRows = n * kFlat
    val twoRows = n * (kc + kf)
    assert(twoRows * 5 <= flatRows,
      s"row-count model: two-level $twoRows vs flat $flatRows not ≥5× apart")
    // wall-clock is info-only at this size: per-job scheduling overhead
    // (~0.1 s) swamps 6M codegen'd rows, so a timing assert here would
    // measure the scheduler, not the work. The n=4M receipt (same two
    // shapes, SURVEY.md's semantic-dedup row) measures where compute
    // dominates: at n=4M the flat rule takes 165.5 s vs two-level
    // 3.15 s (52×) — the quadratic vs n·2√k cost model made visible.
    argmaxTime(Seq(panel(kc, false))) // warm the cache + codegen once
    val tTwo = argmaxTime(Seq(panel(kc, false), panel(kf, true)))
    val tFlat = argmaxTime(Seq(panel(kFlat, false)))
    info(f"assignment at n=$n: two-level (kc=$kc+kf=$kf) $tTwo%.2fs, flat (k=$kFlat) $tFlat%.2fs")
    emb.unpersist(blocking = false)
  }

  test("d15 picks the max-quality member per cluster, min-id on ties") {
    val labels = Dedup.d7DupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val quality = Text.t10QualityScore(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val exp = labels.groupBy(_._2).map { case (cluster, members) =>
      val ms = members.map(_._1)
      // max quality, ties to smallest doc_id
      val rep = ms.minBy(id => (-quality(id), id))
      cluster -> (ms.length.toLong, rep, quality(rep))
    }
    val got = Dedup.d15ClusterReps(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got == exp)
    assert(exp.nonEmpty, "fixture must produce at least one dup cluster")
  }

  test("d7 clusters equal brute-force union-find over the d2 pair graph") {
    val pairs = Dedup.d2MinHashPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val out = Dedup.d7DupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // driver-side union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expected = nodes.map(n => n -> find(n)).toMap
    assert(out == expected)
    // every cluster label is its own member and the component minimum
    out.groupBy(_._2).foreach { case (label, members) =>
      assert(members.keySet.min == label)
    }
  }

  test("d13 semantic decontamination flags benchmark clones and spares orthogonal vectors") {
    // vec_id 0 is benchmark (0 % 5 == 0); 1 is a scaled clone of it
    // (cos exactly 1), 2 is orthogonal (cos 0), 3 mixes at cos 0.6
    val dim = 8
    def basis(i: Int, scale: Float) =
      Seq.tabulate(dim)(j => if (j == i) scale else 0.0f)
    val rows = Seq(
      (0L, basis(0, 1.0f)),
      (1L, basis(0, 2.0f)),
      (2L, basis(1, 1.0f)),
      (3L, Seq.tabulate(dim)(j =>
        if (j == 0) 0.6f else if (j == 1) 0.8f else 0.0f)),
    )
    val df = rows.toDF("vec_id", "embedding")
    val got = Dedup.semanticDecontaminate(df, 5, 0.7).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == Set(1L), s"expected only the clone flagged, got $got")
    assert(math.abs(got(1L) - 1.0) < 1e-9)
    // threshold below the mixed vector's 0.6 cosine picks it up too
    val loose = Dedup.semanticDecontaminate(df, 5, 0.55).collect()
      .map(_.getLong(0)).toSet
    assert(loose == Set(1L, 3L))
  }

  test("d13 on the fixture matches brute-force max-cosine against the benchmark split") {
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val bench = vecs.filter(_._1 % 23 == 0)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val exp = vecs.filter(_._1 % 23 != 0)
      .map { case (id, v) => id -> bench.map(b => cos(v, b._2)).max }
      .filter(_._2 >= Dedup.D13Thr).toMap
    val got = Dedup.d13SemanticDecontaminate(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == exp.keySet)
    got.foreach { case (id, c) => assert(math.abs(c - exp(id)) < 1e-6) }
    assert(got.nonEmpty, "threshold must bite on the fixture")
  }

  test("d18 ensemble clusters refine-union the single-signal d7 clusters") {
    import org.apache.spark.sql.functions.col
    val ens = Dedup.d18EnsembleClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // membership: every endpoint of every signal's pair graph is clustered
    val endpoints = (Dedup.d2MinHashPairs(spark, dir).select(col("id1"), col("id2")).collect() ++
      Dedup.d3SimHashPairs(spark, dir).select(col("id1"), col("id2")).collect() ++
      Dedup.d5WinnowPairs(spark, dir).select(col("id1"), col("id2")).collect())
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(ens.keySet === endpoints)
    // labels are canonical minima of their own component
    ens.groupBy(_._2).foreach { case (lbl, members) =>
      assert(members.keys.min === lbl, s"cluster $lbl label not its min id")
    }
    // coarsening: the union graph can only MERGE d7's (d2-only) clusters,
    // never split them — same d7 cluster ⇒ same d18 cluster
    val d7 = Dedup.d7DupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    d7.groupBy(_._2).values.foreach { members =>
      val ids = members.keys.toSeq
      assert(ids.map(ens).distinct.size === 1,
        s"d7 cluster ${ids.take(3)} split by the ensemble")
    }
    // and the extra signals genuinely contribute edges on the fixture
    assert(ens.size >= d7.size)
  }

  test("d7 and d18 labels from the driver path equal the star loop's row for row") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def viaLoop(edges: org.apache.spark.sql.DataFrame) = {
      assert(Dedup.ccOnDriver(edges.count()), "the fixture graph closes on the driver")
      val (cp, _) = Dedup.connectedComponentsLoop(edges)
      try rows(cp.df.orderBy(col("id"))) finally cp.release()
    }
    val d7 = rows(Dedup.d7DupClusters(spark, dir))
    assert(d7.nonEmpty)
    assert(d7 == viaLoop(Dedup.minHashPairs(spark, dir).select(col("id1"), col("id2"))))
    assert(rows(Dedup.d18EnsembleClusters(spark, dir)) == viaLoop(Dedup.d18Edges(spark, dir)))
  }

  test("d19 persisted-index round-trip and planted batch clone") {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val batch = docs.filter(col("doc_id") % 10 === 7)

    // the inline answer matches the asymmetric brute force
    val inline = Dedup.d19Frame(corpus, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exp = bruteJaccard(0.5).flatMap { case ((a, b), j) =>
      if (a % 10 == 7 && b % 10 != 7) Some((a, b) -> j)
      else if (b % 10 == 7 && a % 10 != 7) Some((b, a) -> j)
      else None
    }
    assert(inline.keySet == exp.keySet)
    inline.foreach { case (k, j) => assert(math.abs(j - exp(k)) < 1e-6) }

    // persisted-index contract: bands written to parquet and reloaded
    // produce byte-identical verdicts — the probe never needs the
    // corpus text beyond the candidate-id verify fetch
    val tmp = java.nio.file.Files.createTempDirectory("d19-index-")
    try {
      val corpusSh = Dedup.shingleSetsOf(corpus).cache()
      Dedup.minhashBands(corpusSh).write.mode("overwrite")
        .parquet(tmp.resolve("bands").toString)
      val loaded = spark.read.parquet(tmp.resolve("bands").toString)
      val probed = Dedup.d19Probe(batch, loaded, corpusSh).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(probed == inline)
      corpusSh.unpersist()
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    }

    // stored-probe parity: the bucketed-store path (bands + partitioned
    // shingles on disk, candidate-bucket pruning) returns byte-identical
    // verdicts to the inline probe
    val storeTmp = java.nio.file.Files.createTempDirectory("d19-store-")
    try {
      Dedup.d19WriteStore(corpus, storeTmp.toString)
      val stored = Dedup.d19ProbeStored(spark, batch, storeTmp.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(stored == inline)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(storeTmp.toFile)
    }

    // planted positive (d20, the embedding-side gate): a batch vector
    // cloning a corpus vector must surface with cos exactly 1.0, and the
    // persisted (bands, sigs) index must reproduce the inline verdicts
    val emb = Tables.embeddings(spark, dir)
    val eCorpus = emb.filter(col("vec_id") % 10 =!= 7)
    val eBatch = emb.filter(col("vec_id") % 10 === 7)
    val d20Inline = Dedup.d20Frame(eCorpus, eBatch).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val embTmp = java.nio.file.Files.createTempDirectory("d20-index-")
    try {
      val ce = Dedup.embedSigsSpec(eCorpus, Dedup.SigNarrow)
      Dedup.embedBandsSpec(ce, Dedup.SigNarrow).write.parquet(embTmp.resolve("bands").toString)
      ce.write.parquet(embTmp.resolve("sigs").toString)
      val probed = Dedup.d20Probe(eBatch,
        spark.read.parquet(embTmp.resolve("bands").toString),
        spark.read.parquet(embTmp.resolve("sigs").toString)).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(probed == d20Inline)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(embTmp.toFile)
    }
    // and the BUCKETED store path (candidate-bucket pruned verify)
    // returns the same verdicts
    val d20StoreTmp = java.nio.file.Files.createTempDirectory("d20-store-")
    try {
      Dedup.d20WriteStore(eCorpus, d20StoreTmp.toString)
      val stored = Dedup.d20ProbeStored(spark, eBatch, d20StoreTmp.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(stored == d20Inline)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(d20StoreTmp.toFile)
    }

    val srcVec = eCorpus.orderBy(col("vec_id")).limit(1).collect().head
    val vClone = Seq((9000042L, srcVec.getSeq[Float](srcVec.fieldIndex("embedding"))))
      .toDF("vec_id", "embedding")
    val vFound = Dedup.d20Frame(eCorpus, vClone).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(vFound.exists { case (n, d, c) =>
      n == 9000042L && d == srcVec.getLong(srcVec.fieldIndex("vec_id")) && c == 1.0 })

    // planted positive: a batch doc that clones a corpus doc verbatim
    // must surface with jaccard exactly 1.0
    val srcRow = corpus.select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).limit(1).collect().head
    val clone = Seq((9000007L, srcRow.getString(1)))
      .toDF("doc_id", "text")
    val found = Dedup.d19Frame(corpus, clone).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(found.exists { case (n, d, j) =>
      n == 9000007L && d == srcRow.getLong(0) && j == 1.0 })
  }

  test("the MinHash band index caches (doc_id, bands) — 32 longs, no 128-long signature — and evaluates minhash128 once") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.types.{ArrayType, LongType}
    graft.Checkpoints.sweep(spark) {
      val sh = Dedup.shingleSetsOf(Tables.documents(spark, dir))
      val bands = Dedup.minhashBands(sh)
      val cached = bands.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r
      }
      assert(cached.size == 1, bands.queryExecution.withCachedData.toString)
      val index = cached.head
      assert(index.output.map(_.name) == Seq("doc_id", "bands"),
        index.output.toString)
      assert(index.output(1).dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      }, index.output.toString)
      // one minhash128 in the cached plan: the 128 element_at reads see
      // a projected column, not 128 inlined copies of the expression
      val logical = index.cacheBuilder.logicalPlan
      val nMinhash = logical.collect { case n =>
        n.expressions.map(_.collect {
          case m: graft.expressions.MinHash128 => m }.size).sum
      }.sum
      assert(nMinhash == 1, logical.toString)
      assert(index.cacheBuilder.cachedPlan.toString.split("minhash128\\(").length - 1 == 1,
        index.cacheBuilder.cachedPlan.toString)
      // 32 band rows per doc, banded 0..31
      val perDoc = bands.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n"), min(col("band")).as("lo"),
          max(col("band")).as("hi"))
        .select(col("n"), col("lo"), col("hi")).distinct().collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
      assert(perDoc == Seq((32L, 0, 31)))
    }
  }

  test("MinHashSpec geometry: default is the frozen oracle shape; the sharp 16x8 store halves index rows, surfaces clones, and refines candidates") {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val batch = docs.filter(col("doc_id") % 10 === 7)
    // the default spec derives EXACTLY the pre-spec frozen marker
    // string — existing stores re-claim unchanged
    assert(Dedup.MinHashDefault.geometryId ==
      "minhash:shingle=3,bands=32x4,buckets=64")
    assert(Dedup.MinHashSharp.geometryId ==
      "minhash:shingle=3,bands=16x8,buckets=64")
    // ...and IS minhashBands: same rows, and half the rows at sharp
    // (16 vs 32 band rows per doc — the index-size dividend)
    val sh = Dedup.shingleSetsOf(corpus).cache()
    try {
      val legacy = Dedup.minhashBands(sh).collect().map(_.toSeq).toSet
      val viaSpec = Dedup.minhashBandsSpec(sh, Dedup.MinHashDefault)
        .collect().map(_.toSeq).toSet
      assert(viaSpec == legacy)
      val nDocs = sh.count()
      assert(Dedup.minhashBandsSpec(sh, Dedup.MinHashSharp).count() ==
        16 * nDocs)
      assert(legacy.size == 32 * nDocs)
    } finally sh.unpersist()

    val defStore = java.nio.file.Files.createTempDirectory("mh-def-")
    val sharpStore = java.nio.file.Files.createTempDirectory("mh-sharp-")
    try {
      Dedup.d19WriteStore(corpus, defStore.toString)
      Dedup.d19WriteStore(corpus, sharpStore.toString, Dedup.MinHashSharp)
      def verdicts(store: java.nio.file.Path, spec: Dedup.MinHashSpec,
          b: org.apache.spark.sql.DataFrame) =
        Dedup.d19ProbeStored(spark, b, store.toString, spec).collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val defV = verdicts(defStore, Dedup.MinHashDefault, batch)
      val sharpV = verdicts(sharpStore, Dedup.MinHashSharp, batch)
      // sharp bands are pairwise refinements of adjacent default bands
      // (perms 8b..8b+7 agreeing implies both 4-perm halves agree), so
      // sharp candidates — and therefore verified verdicts — are a
      // SUBSET of the default's; shared pairs carry identical jaccard
      assert(sharpV.keySet.subsetOf(defV.keySet),
        s"sharp produced non-default pairs: ${sharpV.keySet -- defV.keySet}")
      sharpV.foreach { case (k, j) => assert(j == defV(k)) }
      // a verbatim clone (j = 1: every band hash equal) surfaces under
      // ANY geometry — the planted-positive guarantee the sharp
      // near-clone gate is for
      val srcRow = corpus.select(col("doc_id"), col("text"))
        .orderBy(col("doc_id")).limit(1).collect().head
      val clone = Seq((9000008L, srcRow.getString(1))).toDF("doc_id", "text")
      val found = verdicts(sharpStore, Dedup.MinHashSharp, clone)
      assert(found.get((9000008L, srcRow.getLong(0))).contains(1.0),
        s"sharp store missed the planted clone: $found")
      // the FLAT store layout pins its geometry too: probing the sharp
      // store at the default spec is refused loudly instead of silently
      // band-matching nothing
      val eGeom = intercept[IllegalStateException] {
        Dedup.d19ProbeStored(spark, batch, sharpStore.toString)
      }
      assert(eGeom.getMessage.contains("geometry"), eGeom.getMessage)
      // a mis-specced probe of a live store is refused by the geometry
      // pin at the streaming layer, before any banding runs
      val out = java.nio.file.Files.createTempDirectory("mh-out-")
      graft.streaming.StreamNearDedup.processBatch(spark,
        corpus.limit(50), 0L, s"$out/store", s"$out/out",
        mhSpec = Dedup.MinHashSharp)
      val e = intercept[IllegalStateException] {
        graft.streaming.StreamNearDedup.processBatch(spark,
          batch.limit(50), 1L, s"$out/store", s"$out/out")
      }
      assert(e.getMessage.contains("geometry"), e.getMessage)
      org.apache.commons.io.FileUtils.deleteQuietly(out.toFile)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(defStore.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(sharpStore.toFile)
    }
    // the spec space is validated up front
    intercept[IllegalArgumentException](Dedup.MinHashSpec(33, 4))
    intercept[IllegalArgumentException](Dedup.MinHashSpec(0, 4))
  }

  test("d20 SigWide geometry: clones survive any geometry, verdicts agree where shared") {
    // the production-width path: 64-bit/4×16-band signatures for at-scale
    // stores (the 16-bit/4-band narrow form stays the oracle-pinned
    // twin). Geometry changes the CANDIDATE set only — the exact-cosine
    // verify makes precision exact under any SigSpec, verbatim clones
    // (s → 1) collide with certainty under every geometry, and pairs
    // both geometries happen to report must carry identical cosines.
    // constructor diagnostics: a bands typo must name the constraint,
    // not surface as an ArithmeticException from the modulo
    assert(intercept[IllegalArgumentException] {
      Dedup.SigSpec(16, 0) }.getMessage.contains("bands must be positive"))
    assert(intercept[IllegalArgumentException] {
      Dedup.SigSpec(16, 3) }.getMessage.contains("divisible"))
    val emb = Tables.embeddings(spark, dir)
    val eCorpus = emb.filter(col("vec_id") % 10 =!= 7)
    val eBatch = emb.filter(col("vec_id") % 10 === 7)
      .select(col("vec_id"), col("embedding"))
    val srcs = eCorpus.orderBy(col("vec_id")).limit(3).collect()
    val clones = srcs.zipWithIndex.map { case (r, i) =>
      (9000100L + i, r.getSeq[Float](r.fieldIndex("embedding"))) }.toSeq
      .toDF("vec_id", "embedding")
    val batchPlus = eBatch.unionByName(clones)

    // narrow signatures are a prefix-truncation of wide ones (same
    // hyperplane i at every geometry) — the structural fact the
    // clone-survival argument rests on
    val sample = eCorpus.orderBy(col("vec_id")).limit(20)
    val sigPairs = Dedup.embedSigsSpec(sample, Dedup.SigWide)
      .select(col("vec_id"), col("sig"))
      .join(Dedup.embedSigsSpec(sample, Dedup.SigNarrow)
        .select(col("vec_id"), col("sig").as("nsig")), Seq("vec_id"))
      .collect()
    assert(sigPairs.nonEmpty)
    sigPairs.foreach { r =>
      assert((r.getLong(1) & 0xFFFFL) == r.getLong(2),
        "narrow sig is not a prefix of the wide sig") }

    val wStore = java.nio.file.Files.createTempDirectory("d20-wide-")
    val nStore = java.nio.file.Files.createTempDirectory("d20-narrow-")
    try {
      Dedup.d20WriteStore(eCorpus, wStore.toString, Dedup.SigWide)
      Dedup.d20WriteStore(eCorpus, nStore.toString) // narrow default
      def verdicts(store: String, spec: Dedup.SigSpec) =
        Dedup.d20ProbeStored(spark, batchPlus, store, spec)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val wide = verdicts(wStore.toString, Dedup.SigWide)
      val narrow = verdicts(nStore.toString, Dedup.SigNarrow)
      // planted clones surface at cos exactly 1.0 under BOTH geometries
      srcs.zipWithIndex.foreach { case (r, i) =>
        val key = (9000100L + i, r.getLong(r.fieldIndex("vec_id")))
        assert(wide.get(key).contains(1.0), s"wide geometry missed clone $key")
        assert(narrow.get(key).contains(1.0), s"narrow geometry missed clone $key")
      }
      // any pair BOTH geometries report carries the identical cosine
      // (the verify is geometry-independent; only candidacy differs)
      val shared = wide.keySet intersect narrow.keySet
      assert(shared.nonEmpty)
      shared.foreach(k => assert(wide(k) == narrow(k)))
      // the geometry's purpose: 8-bit bands pass fewer uncorrelated
      // candidates, so the wide REPORTED set cannot exceed the narrow
      // one on this fixture (recall trades down, precision is exact)
      assert(wide.size <= narrow.size,
        s"wide geometry reported ${wide.size} pairs vs narrow ${narrow.size}")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(wStore.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(nStore.toFile)
    }
  }

  test("eagerBuild-bracketed stored probes leak no persistent RDDs after release") {
    // the stored probes pin internal caches during CONSTRUCTION (their
    // driver-side bucket-list collect), so the release hook is
    // Checkpoints.eagerBuild's thunk form — this pins the contract a
    // long-running streaming gate depends on: after materialize + write
    // + release, executor storage is back to where it started
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val batch = docs.filter(col("doc_id") % 10 === 7)
    val emb = Tables.embeddings(spark, dir)
    val d19Store = java.nio.file.Files.createTempDirectory("d19-rel-")
    val d20Store = java.nio.file.Files.createTempDirectory("d20-rel-")
    try {
      Dedup.d19WriteStore(corpus, d19Store.toString)
      Dedup.d20WriteStore(emb.filter(col("vec_id") % 10 =!= 7), d20Store.toString)
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val cp19 = graft.Checkpoints.eagerBuild(spark)(
        Dedup.d19ProbeStored(spark, batch, d19Store.toString))
      assert(cp19.df.count() > 0) // verdicts exist (near-dup fixture)
      cp19.release()
      val cp20 = graft.Checkpoints.eagerBuild(spark)(
        Dedup.d20ProbeStored(spark, emb.filter(col("vec_id") % 10 === 7),
          d20Store.toString))
      assert(cp20.df.count() > 0)
      cp20.release()
      val leaked = sc.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"stored probes leaked persistent RDDs: $leaked")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(d19Store.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(d20Store.toFile)
    }
  }

  test("d20 multi-probe: depth 0 unchanged, deeper probes only ADD pairs, recall lifts below the clone regime") {
    // masks are bounded policy data: 1 + bandBits + C(bandBits, 2)
    assert(Dedup.d20ProbeMasks(16, 0) == Seq(0L))
    assert(Dedup.d20ProbeMasks(16, 1).size == 17)
    assert(Dedup.d20ProbeMasks(16, 2).size == 137)
    assert(Dedup.d20ProbeMasks(16, 2).distinct.size == 137)
    intercept[IllegalArgumentException] { Dedup.d20ProbeMasks(16, 3) }

    // sign-DIVERSE fixture (SCALING.md's round-14 signature-geometry
    // finding: the sf embeddings are sign-degenerate — 2 distinct
    // signatures corpus-wide — so they cannot exercise banding math).
    // Plants at cos 0.90/0.95, exactly the near-dup regime SigWide's
    // depth-0 recall is thin in (~30% / ~55% per SigSpec's binomial
    // analysis).
    val dims = 64
    val rnd = new scala.util.Random(20260816L)
    def vec(): Array[Double] = Array.fill(dims)(rnd.nextGaussian())
    def norm(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    // exact-cosine plant: cos·v̂ + sin·ŵ⊥ (float rounding moves the
    // verify's cosine a hair, never the side of the 0.4 gate)
    def plantAt(v: Array[Double], cos: Double): Array[Double] = {
      val vh = norm(v)
      val w = vec()
      val proj = w.zip(vh).map { case (a, b) => a * b }.sum
      val orth = norm(w.zip(vh).map { case (a, b) => a - proj * b })
      val sin = math.sqrt(1 - cos * cos)
      vh.zip(orth).map { case (a, b) => cos * a + sin * b }
    }
    val batchVecs = (0 until 40).map(k => (3000000L + k, vec()))
    val plants = for {
      (id, v) <- batchVecs
      (c, ci) <- Seq(0.90, 0.95).zipWithIndex
    } yield ((id - 3000000L) * 10 + 4000000L + ci, plantAt(v, c), id)
    val decoys = (0 until 4000).map(k => (5000000L + k, vec()))
    def toDf(rows: Seq[(Long, Array[Double])]) =
      rows.map { case (id, v) => (id, v.map(_.toFloat).toSeq) }
        .toDF("vec_id", "embedding")
    val batchDf = toDf(batchVecs)
    val corpusDf = toDf(plants.map(p => (p._1, p._2)) ++ decoys)
    val store = java.nio.file.Files.createTempDirectory("d20-mp-")
    try {
      Dedup.d20WriteStore(corpusDf, store.toString, Dedup.SigWide)
      def probe(depth: Int): Map[(Long, Long), Double] =
        Dedup.d20ProbeStored(spark, batchDf, store.toString,
            Dedup.SigWide, depth)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
          .toMap
      // THE round-15 pin: the default (no probeDepth argument) equals
      // depth 0 exactly — adding the dial changed nothing existing
      val p0 = probe(0)
      val pDefault = Dedup.d20ProbeStored(spark, batchDf, store.toString,
          Dedup.SigWide)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      assert(p0 == pDefault, "depth-0 verdicts differ from the default path")
      val p1 = probe(1)
      val p2 = probe(2)
      // probing is candidacy-only: supersets with identical cosines
      assert(p0.keySet.subsetOf(p1.keySet), "depth 1 lost a depth-0 pair")
      assert(p1.keySet.subsetOf(p2.keySet), "depth 2 lost a depth-1 pair")
      p0.keySet.foreach(k => assert(p0(k) == p1(k) && p1(k) == p2(k),
        s"cosine changed with probe depth at $k"))
      // recall on the planted near-dups rises with depth
      def recall(p: Map[(Long, Long), Double]): Int =
        plants.count(pl => p.contains((pl._3, pl._1)))
      val (r0, r1, r2) = (recall(p0), recall(p1), recall(p2))
      assert(r0 <= r1 && r1 <= r2)
      assert(r2 > r0, s"multi-probe added no recall: $r0 -> $r1 -> $r2")
      assert(r2 >= (plants.size * 0.8).toInt,
        s"depth-2 recall $r2/${plants.size} below the binomial prediction")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(store.toFile)
    }
  }
}
