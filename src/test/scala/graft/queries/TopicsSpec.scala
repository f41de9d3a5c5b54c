package graft.queries

import graft.TestSpark
import graft.functions.TextFunctions.tokenize
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** LDA/vocabulary semantics: structural and determinism properties (the
  * reference's gensim topics can never match topic-for-topic — SURVEY
  * §7.5.5 — so tests assert structure, seed-stability, and separation on
  * a synthetic 2-topic corpus).
  */
class TopicsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir
  import spark.implicits._

  test("vocabulary respects minDF and maxDF bounds") {
    val rows = Topics.m1Vocabulary(spark, dir).collect()
    assert(rows.nonEmpty)
    val nDocs = Topics.corpus(spark, dir).count()
    rows.foreach { r =>
      val df = r.getLong(1)
      assert(df >= 10 && df <= 0.9 * nDocs, s"${r.getString(0)} df=$df")
    }
  }

  test("the shared corpus cache holds one joined string per doc and round-trips the tokens") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-corpus-").toString
    Seq((1L, "Markets rallied as investors weighed the central bank outlook"),
      (2L, "a of the an it"), // stop words and short words only: no tokens
      (3L, ""),
      (4L, null: String))
      .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
    val c = Topics.cachedCorpus(spark, tmp)
    val scans = c.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
    }
    assert(scans.size == 1)
    assert(scans.head.relation.output.map(_.dataType) ==
      Seq(org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.StringType))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), Option(r.getSeq[String](1)))).sortBy(_._1).toSeq
    val got = rows(c)
    assert(got == rows(Topics.corpus(spark, tmp)))
    assert(got.map(_._2.map(_.size)) == Seq(Some(7), Some(0), Some(0), None))
  }

  test("the vocabulary fit persists no token copy of its own and keeps the maxDF fraction") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
    val c = Topics.cachedCorpus(spark, dir)
    c.count()
    val sc = spark.sparkContext
    val stored = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        val i = e.blockUpdatedInfo
        if (i.storageLevel.isValid) i.blockId.asRDDId.foreach(b => stored.add(b.rddId))
      }
    }
    org.apache.spark.GraftSparkInternals.drainListenerBus(sc)
    sc.addSparkListener(l)
    val cv = try { val m = Topics.fitVectorizer(c)
      org.apache.spark.GraftSparkInternals.drainListenerBus(sc); m }
    finally sc.removeSparkListener(l)
    // CountVectorizer always caches its vocabulary-sized term counts; a
    // second stored RDD is the token copy it persists to count the corpus
    assert(stored.size <= 1, s"CountVectorizer stored RDDs $stored")
    val ref = new org.apache.spark.ml.feature.CountVectorizer()
      .setInputCol("tokens").setMinDF(10).setMaxDF(0.9)
      .fit(Topics.corpus(spark, dir).cache())
    assert(cv.vocabulary.toSeq == ref.vocabulary.toSeq)
  }

  test("LDA with fixed seed is deterministic run-to-run") {
    val c = Topics.corpus(spark, dir).cache()
    val cv = Topics.fitVectorizer(c)
    val v = cv.transform(c).cache()
    val t1 = Topics.fitLda(v, k = 4, maxIter = 5).describeTopics(5)
      .collect().map(_.toString).toSeq
    val t2 = Topics.fitLda(v, k = 4, maxIter = 5).describeTopics(5)
      .collect().map(_.toString).toSeq
    assert(t1 == t2)
  }

  test("shared models persist to disk and reload bit-identically (S10 flow)") {
    val c = Topics.corpus(spark, dir).cache()
    val cv1 = Topics.sharedVectorizer(c, dir)
    val lda1 = Topics.sharedLda(cv1.transform(c), dir)
    val vocab1 = cv1.vocabulary.toSeq
    val topics1 = lda1.describeTopics(10).collect().map(_.toString).toSeq
    // drop the in-JVM registry: the next touch must LOAD the artifact a
    // fresh JVM (e.g. a session-per-query bench) would load, not refit
    Topics.clearModelCache()
    val cv2 = Topics.sharedVectorizer(c, dir)
    val lda2 = Topics.sharedLda(cv2.transform(c), dir)
    assert(cv2.vocabulary.toSeq == vocab1)
    assert(lda2.describeTopics(10).collect().map(_.toString).toSeq == topics1)
  }

  test("LDA separates a synthetic 2-topic corpus") {
    // topic A vocabulary disjoint from topic B; 40 docs each
    val rng = new scala.util.Random(13)
    val aWords = (0 until 30).map(i => s"alpha$i")
    val bWords = (0 until 30).map(i => s"beta$i")
    def doc(ws: Seq[String]) = Seq.fill(40)(ws(rng.nextInt(ws.size)))
    val docs = (0 until 40).map(i => (i.toLong, doc(aWords), "A")) ++
      (40 until 80).map(i => (i.toLong, doc(bWords), "B"))
    val df = docs.toDF("doc_id", "tokens", "truth")
    val cv = new org.apache.spark.ml.feature.CountVectorizer()
      .setInputCol("tokens").setOutputCol("features").fit(df)
    val v = cv.transform(df)
    val lda = new org.apache.spark.ml.clustering.LDA()
      .setK(2).setSeed(42).setMaxIter(30).fit(v)
    val argmaxUdf = udf { vec: org.apache.spark.ml.linalg.Vector => vec.argmax }
    val assigned = lda.transform(v)
      .select(col("truth"), argmaxUdf(col("topicDistribution")).as("t"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    // every truth group should map overwhelmingly to one topic, and the
    // two groups to different topics
    val byTruth = assigned.groupBy(_._1).map { case (k, vs) =>
      val counts = vs.groupBy(_._2).view.mapValues(_.size)
      k -> counts.maxBy(_._2)
    }
    val purity = byTruth.values.map(_._2).sum.toDouble / assigned.length
    assert(purity >= 0.9, s"purity $purity")
    assert(byTruth("A")._1 != byTruth("B")._1, "both groups collapsed to one topic")
  }

  test("full-fidelity model-selection sweep over the reference k-grid (O-M2)") {
    // the reference sweeps k ∈ {2,4,…,14} with passes=20
    // (topic_modelling.ipynb:346-375); this runs the SAME grid at
    // sf0.001 with maxIter=5 (documented divergence: gensim "passes"
    // are corpus passes of online VB — MLlib's online optimizer at
    // maxIter=5 is the cost-reduced equivalent; scores differ, the
    // selection SHAPE is what carries over)
    val ks = Seq(2, 4, 6, 8, 10, 12, 14)
    val rows = Topics.ldaSweep(spark, dir, ks, maxIter = 5).collect()
      .map(r => r.getInt(0) -> r.getDouble(1))
    assert(rows.map(_._1).toSeq == ks)
    // c_v is a mean of cosines of NPMI vectors — every score in [-1, 1]
    rows.foreach { case (k, c) =>
      assert(!c.isNaN && c >= -1.0 && c <= 1.0, s"k=$k c_v=$c") }
    // the sweep must actually discriminate between model sizes (a flat
    // curve would mean the scorer ignores the models)
    assert(rows.map(_._2).distinct.length > 1, "coherence curve is flat")
  }

  /** Runs `body` against a fresh, empty model root, so every shared
    * model and per-doc artifact is fitted cold.
    */
  private def coldModels[T](body: => T): T = {
    val root = java.nio.file.Files.createTempDirectory("graft-models-")
    Topics.modelRootOverride = Some(root.toString)
    Topics.clearModelCache()
    try body
    finally {
      Topics.modelRootOverride = None
      Topics.clearModelCache()
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }
  }

  private def sweepRows(ks: Seq[Int]): Seq[(Int, Double)] =
    Topics.ldaSweep(spark, dir, ks, maxIter = 5).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toSeq

  test("concurrent sweep is bit-identical to fitting each k alone") {
    val ks = Seq(2, 4, 6, 8, 10, 12, 14)
    val c = Topics.corpus(spark, dir).cache()
    val (swept, sweptWords) = coldModels {
      val rows = sweepRows(ks)
      // registry hits: the models the sweep fitted
      val cv = Topics.sharedVectorizer(c, dir)
      (rows, ks.map(k => Topics.topTopicWords(
        Topics.sharedLda(cv.transform(c), dir, k = k, maxIter = 5), cv.vocabulary, 10)))
    }
    // each k alone: its own one-k sweep, and a direct fit on the plain
    // uncached transform (tokens column included)
    val alone = ks.flatMap(k => coldModels(sweepRows(Seq(k))))
    val cv = Topics.fitVectorizer(c)
    val aloneWords = ks.map(k => Topics.topTopicWords(
      Topics.fitLda(cv.transform(c), k = k, maxIter = 5), cv.vocabulary, 10))
    assert(swept == alone)
    assert(sweptWords == aloneWords)
  }

  test("a failed per-k fit is rethrown and leaves no sweep thread alive") {
    def sweepThreads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.getName == "topics-sweep" && t.isAlive)
    val e = coldModels {
      intercept[IllegalArgumentException](sweepRows(Seq(2, 1, 4)))
    }
    // LDA's own parameter check rejects k = 1
    assert(e.getMessage.contains("invalid value 1"), e.getMessage)
    // shutdown() lets idle workers exit; give them a moment to do so
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (sweepThreads.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(sweepThreads.isEmpty, sweepThreads.map(_.getName).mkString(", "))
  }

  test("m2 and m4 keep only the shared corpus cache, not their LDA input") {
    val sc = spark.sparkContext
    def leakedBy(run: => Unit): Seq[String] = {
      val before = sc.getPersistentRDDs.keySet
      run
      sc.getPersistentRDDs.collect { case (id, r) if !before(id) => String.valueOf(r.name) }.toSeq
    }
    coldModels {
      // each may add the corpus cache (m3/m5 reuse it); neither may keep
      // a vectorized frame cached, nor an LDA-owned training copy
      for (leaked <- Seq(leakedBy(Topics.m2DominantTopics(spark, dir).collect()),
          leakedBy(Topics.m4LdaSweep(spark, dir).collect()))) {
        assert(leaked.size <= 1, leaked.mkString(" | "))
        assert(!leaked.exists(_.contains("features")), leaked.mkString(" | "))
      }
    }
  }

  test("k=32: the reference's best published configuration trains and coheres") {
    // The reference's README reports its best coherence, c_v = 0.54, at
    // k = 32 (README.md:120) — a k the sweep grid (2..14) never touches.
    // Bounded probe (maxIter=5, shared-artifact cached like every other
    // model): the shape must hold — 32 topics, finite per-topic c_v in
    // [-1, 1], and genuinely distinct topic-word lists, not one topic
    // cloned 32 times.
    val c = Topics.corpus(spark, dir).cache()
    val cv = Topics.sharedVectorizer(c, dir)
    val lda = Topics.sharedLda(cv.transform(c), dir, k = 32, maxIter = 5)
    val words = Topics.topTopicWords(lda, cv.vocabulary, 10)
    assert(words.length == 32)
    assert(words.forall(_.length == 10))
    val distinctTopics = words.map(_.toSet).distinct.length
    assert(distinctTopics > 16,
      s"only $distinctTopics/32 distinct topic-word sets — degenerate fit")
    val coh = graft.functions.Coherence.cv(
      c.select(col("doc_id"), col("tokens")), words)
    assert(coh.length == 32)
    coh.foreach(s => assert(!s.isNaN && s >= -1.0 && s <= 1.0, s"c_v=$s"))
    c.unpersist(blocking = false)
  }

  test("jsPcoa geometry: near-identical topics project close, distinct ones far") {
    // 4 distributions over 6 terms: two near-clones (a, a2) and two
    // sitting on disjoint term pairs — the 2D embedding must keep the
    // clone pair's distance below every cross-pair distance
    val a = Array(0.45, 0.45, 0.025, 0.025, 0.025, 0.025)
    val a2 = Array(0.44, 0.46, 0.025, 0.025, 0.025, 0.025)
    val b = Array(0.025, 0.025, 0.45, 0.45, 0.025, 0.025)
    val c = Array(0.025, 0.025, 0.025, 0.025, 0.45, 0.45)
    val xy = Topics.jsPcoa(Array(a, a2, b, c))
    def d(i: Int, j: Int) =
      math.hypot(xy(i)._1 - xy(j)._1, xy(i)._2 - xy(j)._2)
    assert(d(0, 1) < d(0, 2) && d(0, 1) < d(0, 3) && d(0, 1) < d(2, 3),
      xy.mkString(", "))
    xy.foreach { case (x, y) => assert(!x.isNaN && !y.isNaN) }
    // classical MDS coordinates are centered at the origin
    assert(math.abs(xy.map(_._1).sum) < 1e-9)
    assert(math.abs(xy.map(_._2).sum) < 1e-9)
  }

  test("m18 intertopic payload: k rows, finite spread coords, proportions sum to 1") {
    val rows = Topics.m18Intertopic(spark, dir).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == (0 until 12))
    rows.foreach { case (t, x, y, p) =>
      assert(!x.isNaN && !y.isNaN, s"topic $t coords")
      assert(p >= 0.0 && p <= 1.0, s"topic $t proportion $p")
    }
    // token-weighted topic masses are a partition of the corpus
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-3)
    // 12 fitted topics can't all collapse onto one point
    assert(rows.map(r => (r._2, r._3)).distinct.length > 1)
  }

  test("sweep on the 2-topic toy corpus scores the true k cohesively") {
    // lda_toy_corpus.jsonl (FIXTURES §B): two disjoint 10-word
    // vocabularies, 20 docs each — at k=2 both topics' top words come
    // from one vocabulary, so c_v must be high
    val toy = spark.read.schema("doc_id LONG, tokens ARRAY<STRING>")
      .json(getClass.getResource("/bbc/lda_toy_corpus.jsonl").getPath)
    val cv = new org.apache.spark.ml.feature.CountVectorizer()
      .setInputCol("tokens").setOutputCol("features").fit(toy)
    val v = cv.transform(toy)
    val lda = new org.apache.spark.ml.clustering.LDA()
      .setK(2).setSeed(42).setMaxIter(30).fit(v)
    val words = Topics.topTopicWords(lda, cv.vocabulary, 8)
    val coh = graft.functions.Coherence.cv(
      toy.select(col("doc_id"), col("tokens")), words)
    assert(coh.length == 2)
    coh.foreach(c => assert(c > 0.5, s"toy-corpus coherence $c"))
  }

  test("ldavis payload ranks topN terms per topic by relevance (O-M9)") {
    val df = Topics.m7Ldavis(spark, dir)
    val rows = df.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    val k = rows.map(_._1).distinct.length
    assert(k == 12, s"expected 12 topics, got $k")
    rows.groupBy(_._1).foreach { case (topic, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to 10), s"topic $topic ranks")
      // relevance strictly ordered by rank and always finite
      val byRank = rs.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"topic $topic not sorted by relevance")
      rs.foreach(r => assert(!r._4.isNaN && !r._4.isInfinite))
    }
    // S11: the payload renders as the reference's HTML artifact
    val path = java.nio.file.Files.createTempDirectory("ldavis")
      .resolve("ldaplot.html").toString
    graft.sources.HtmlReport.saveHtml(df, path, "LDA topics")
    val html = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    assert(html.contains("<th>relevance</th>") && html.contains("<td>1</td>"))
  }

  test("m22 components reproduce m7's λ=0.6 relevance; extremes lead their metric") {
    val comp = Topics.m22LdavisComponents(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    val byTopic = comp.groupBy(_._1)
    assert(byTopic.keySet == (0 until 12).toSet)
    // candidate union per topic: at least one full list (the whole vocab
    // if it is smaller than the list size — sf0.001's minDF=10 vocab is)
    val vocabSize = Topics.m1Vocabulary(spark, dir).count().toInt
    val lower = math.min(Topics.M22Candidates, vocabSize)
    byTopic.foreach { case (t, rows) =>
      assert(rows.length >= lower &&
        rows.length <= 2 * Topics.M22Candidates, s"topic $t ${rows.length}")
      assert(rows.map(_._2).distinct.length == rows.length, s"topic $t dup terms")
    }
    // λ=0.6 recomputed from the components matches m7 for every m7 term
    // present in the candidate set (components rounded at 1e-6)
    val compMap = comp.map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val m7 = Topics.m7Ldavis(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    var covered = 0
    m7.foreach { case (t, _, term, rel) =>
      compMap.get((t, term)).foreach { case (lp, ll) =>
        covered += 1
        assert(math.abs(0.6 * lp + 0.4 * ll - rel) < 5e-6,
          s"topic $t term $term")
      }
    }
    // the fixture's λ=0.6 top-10s are (at least overwhelmingly) inside
    // the candidate union — the slider shows what m7 shows at its λ
    assert(covered >= m7.length - 2, s"only $covered of ${m7.length} m7 terms covered")
    // the artifact renders with the slider wired to this payload
    val coords = Topics.m18Intertopic(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("ldavis22")
      .resolve("map.html").toString
    graft.sources.HtmlReport.saveIntertopicHtml(coords,
      Topics.m7Ldavis(spark, dir), path, "LDA map",
      Some(Topics.m22LdavisComponents(spark, dir)))
    val html = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    assert(html.contains("""<input id="lam""""))
  }

  test("m23/m24 unigram tokenizer: planted piece wins, coverage floor, count bounds") {
    // planted table: one dominant repeating word — EM must learn a
    // multi-char piece for it rather than spelling it out
    val words = Array(("ababab", 100L), ("xy", 5L))
    val vocab = Topics.unigramTrain(words)
    val pieces = vocab.map(_._1).toSet
    assert(Set("a", "b", "x", "y").subsetOf(pieces), "single-char floor missing")
    // kept-piece probabilities stay inside the simplex
    assert(vocab.map(t => math.exp(t._3)).sum <= 1.0 + 1e-6)
    // a training word segments losslessly into vocab pieces, and the
    // learned multi-char pieces beat char spelling
    val tot = math.max(1L, vocab.map(_._2).sum).toDouble
    val probs = vocab.map { case (p, u, _) => p -> math.max(u / tot, 1e-12) }.toMap
    val seg = Topics.unigramSegment("ababab", probs)
    assert(seg.mkString == "ababab" && seg.forall(pieces), seg.toString)
    assert(seg.length < 6, s"no compression learned: $seg")
    // determinism
    assert(Topics.unigramTrain(words).toSeq == vocab.toSeq)
    // unknown chars survive via the single-char fallback
    assert(Topics.unigramSegment("azb", probs).mkString == "azb")
    // fixture m23: contiguous ranks ordered by usage; m24: every word
    // yields at least one piece, multi-word docs compress below chars
    val m23 = Topics.m23UnigramTrain(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(m23.map(_._1).toSeq == (1 to m23.length))
    val usages = m23.map(_._3)
    assert(usages.zip(usages.tail).forall { case (a, b) => b <= a })
    val m24 = Topics.m24UnigramEncode(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(m24.nonEmpty)
    m24.foreach { case (id, nw, np) =>
      assert(np >= nw, s"doc $id: fewer pieces than words") }
  }

  test("m24b integer Viterbi: hand-trace, tie rule, fallback, m24 consistency") {
    // hand-built integer log-prob grid: 'abc' segments as ab+c (-150)
    // over abc (-250) and a+b+c (-300); tie between cd (-170) and
    // c+d (-85-85 = -170) must pick the LONGER piece (cd → 1 piece)
    val ilp = Map("ab" -> -100L, "abc" -> -250L, "c" -> -50L,
      "a" -> -120L, "b" -> -130L, "cd" -> -170L, "d" -> -120L)
    assert(Topics.unigramCountInt("abc", ilp) === 2)
    assert(Topics.unigramCountInt("a", ilp) === 1)
    assert(Topics.unigramCountInt("", ilp) === 0)
    // tie: cd as one piece (longer last piece wins the equal score)
    val tie = Map("c" -> -85L, "d" -> -85L, "cd" -> -170L)
    assert(Topics.unigramCountInt("cd", tie) === 1)
    // OOV chars survive via the flat fallback; OOV multi-char pieces
    // can never be chosen (they are skipped, not scored)
    assert(Topics.unigramCountInt("azb", ilp) === 3)
    // seed model: every char of the training words is in the vocab, and
    // all log-probs are strictly negative integers on the 1e-6 grid
    val seed = Topics.unigramSeedIlp(Array(("ababab", 100L), ("xy", 5L)))
    assert(Set("a", "b", "x", "y", "ab", "ababab").subsetOf(seed.keySet))
    assert(seed.values.forall(_ < 0L))
    // fixture m24b: same shape contract as m24 (pieces ≥ words, one row
    // per doc), and deterministic across runs
    val m24b = Topics.m24bUnigramEncodeSeed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(m24b.nonEmpty && m24b.map(_._1).distinct.length === m24b.length)
    m24b.foreach { case (id, nw, np) =>
      assert(np >= nw, s"doc $id: fewer pieces than words") }
    val again = Topics.m24bUnigramEncodeSeed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(m24b.toSeq === again.toSeq)
  }

  test("m24b packing invariant: the word-length cap bounds the twin's pack") {
    // the twin packs (score + C)·8 + l into one BIGINT with C = 2e17;
    // correctness needs score > −C (else b % 8 mis-decodes the length)
    // and (0 + C)·8 + UniMaxPiece within Long range. The worst DP score
    // under the UniMaxWordLen cap is every char OOV at UniFallbackIlp —
    // these asserts trip if any of the three constants drifts apart.
    val C = 200000000000000000L
    val worst = Topics.UniMaxWordLen.toLong * Topics.UniFallbackIlp
    assert(worst > -C,
      s"cap ${Topics.UniMaxWordLen} lets DP scores reach $worst ≤ −C")
    assert(C <= (Long.MaxValue - Topics.UniMaxPiece) / 8,
      "packing ceiling overflows Long")
  }

  test("m9 OOV rate matches brute-force counting against the m1 vocabulary") {
    val vocab = Topics.m1Vocabulary(spark, dir).collect().map(_.getString(0)).toSet
    val out = Topics.m9OovRate(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.cleanChain(col("text")).as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    docs.foreach { case (id, cleaned) =>
      val toks = cleaned.trim.split("\\s+").filter(_.nonEmpty)
      val oov = toks.count(!vocab.contains(_))
      val (nTok, nOov, rate) = out(id)
      assert(nTok == toks.length, s"doc $id n_tok")
      assert(nOov == oov, s"doc $id n_oov")
      assert(math.abs(rate - oov.toDouble / toks.length) < 5e-7, s"doc $id rate")
    }
    assert(out.size == docs.length)
  }

  test("m12 BPE training reproduces the hand-computed merge trace") {
    // the HuggingFace BPE tutorial corpus; merges traced by hand:
    //   pairs over {hug:10, pug:5, pun:12, bun:4, hugs:5} + "</w>":
    //   (u,g)=20 wins; then (n,</w>)=16 beats (u,n)=16 on tie-break;
    //   then (u,n</w>)=16
    val words = Array(("hug", 10L), ("pug", 5L), ("pun", 12L),
      ("bun", 4L), ("hugs", 5L))
    val merges = Topics.bpeMerges(words, 3)
    assert(merges == Seq((0, "u", "g", 20L), (1, "n", "</w>", 16L),
      (2, "u", "n</w>", 16L)), merges.toString)
    // exhaustion: a single 2-char word runs out of pairs after 2 merges
    assert(Topics.bpeMerges(Array(("ab", 1L)), 10).length == 2)
  }

  test("m12 on the fixture: full rank ladder, non-increasing merge counts") {
    val rows = Topics.m12BpeTrain(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(3), r.getLong(4)))
    assert(rows.length == Topics.BpeMerges)
    assert(rows.map(_._1).toSeq == (0 until Topics.BpeMerges))
    val counts = rows.map(_._2)
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      counts.mkString(","))
    // the MaxWords cap's receipt: the kept vocabulary must cover ≥ 90%
    // of corpus token occurrences (measured ≥ 99% on the fixture — the
    // Zipf-head property the cap's soundness rests on, now checked)
    val keptPpm = rows.head._3
    assert(rows.forall(_._3 == keptPpm))
    assert(keptPpm >= 900000L && keptPpm <= 1000000L, s"kept_mass_ppm $keptPpm")
  }

  test("m13 BPE encode: hand trace, zero-merge identity, monotonicity, training consistency") {
    // hand trace against the m12 tutorial merges (u,g), (n,</w>), (u,n</w>):
    //   hug  -> h u g </w>  -> h ug </w>
    //   pun  -> p u n </w>  -> p u n</w> -> p un</w>
    //   bugs -> b u g s </w> -> b ug s </w> (no other merge applies)
    val merges = Array(("u", "g"), ("n", "</w>"), ("u", "n</w>"))
    assert(Topics.bpeEncode("hug", merges).toSeq == Seq("h", "ug", "</w>"))
    assert(Topics.bpeEncode("pun", merges).toSeq == Seq("p", "un</w>"))
    assert(Topics.bpeEncode("bugs", merges).toSeq == Seq("b", "ug", "s", "</w>"))
    // zero merges: chars + the word boundary, always
    assert(Topics.bpeEncode("hello", Array.empty).toSeq ==
      Seq("h", "e", "l", "l", "o", "</w>"))
    // encoding a training word with the full learned table reproduces the
    // training loop's final symbol state: its length ladder is
    // non-increasing as more merges apply
    val words = Array(("hug", 10L), ("pug", 5L), ("pun", 12L),
      ("bun", 4L), ("hugs", 5L))
    val learned = Topics.bpeMerges(words, 3).map(m => (m._2, m._3)).toArray
    words.foreach { case (w, _) =>
      val lens = (0 to learned.length)
        .map(k => Topics.bpeEncode(w, learned.take(k)).length)
      assert(lens.zip(lens.tail).forall { case (a, b) => b <= a },
        s"$w: $lens")
    }
  }

  test("tokenizer round-trip: BPE and unigram pieces always reassemble the word") {
    // lossless-segmentation property over arbitrary words and merge
    // tables: whatever merges apply, concatenating the pieces (minus the
    // </w> boundary) must reproduce the input exactly — the integrity
    // contract that lets a pipeline bill by tokens without ever storing
    // the tokenized form
    val corpus = Array(("hug", 10L), ("pug", 5L), ("pun", 12L), ("bun", 4L),
      ("hugs", 5L), ("unhug", 2L), ("gg", 7L), ("u", 3L))
    val learned = Topics.bpeMerges(corpus, 6).map(m => (m._2, m._3)).toArray
    val probe = Seq("hug", "pun", "bugs", "gnu", "unplugged", "x", "uggg")
    probe.foreach { w =>
      (0 to learned.length).foreach { k =>
        val pieces = Topics.bpeEncode(w, learned.take(k))
        assert(pieces.mkString.stripSuffix("</w>").replace("</w>", "") === w,
          s"bpe($w, $k merges): $pieces")
      }
    }
    // unigram segmentation round-trips too, incl. OOV chars
    val uniWords = corpus.map { case (w, n) => (w, n) }
    val trained = Topics.unigramTrain(uniWords)
    val tot = math.max(1L, trained.map(_._2).sum).toDouble
    val probs = trained.map { case (p, u, _) => p -> math.max(u / tot, 1e-12) }.toMap
    probe.foreach { w =>
      assert(Topics.unigramSegment(w, probs).mkString === w, s"unigram($w)")
    }
  }

  test("m13 on the fixture: word counts match tokenize, token counts bounded and monotone") {
    val out = Topics.m13BpeEncode(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val docs = graft.Tables.documents(spark, dir).count()
    assert(out.length == docs)
    out.foreach { case (id, nWords, nBpe) =>
      // every word encodes to between 1 and len+1 symbols, so the doc
      // total is bounded by words below and chars+words above
      assert(nBpe >= nWords, s"doc $id: $nBpe < $nWords")
    }
    assert(out.exists { case (_, nWords, nBpe) => nBpe > nWords },
      "50 merges cannot compress every word of the fixture to one token")
  }

  test("m14 zipf slope matches a brute-force regression and is negative on text") {
    val row = Topics.m14ZipfSlope(spark, dir).collect().head
    val (n, slope, icept) = (row.getLong(0), row.getDouble(1), row.getDouble(2))
    // brute force from the same word counts
    val counts = graft.Tables.documents(spark, dir)
      .select(explode(tokenize(col("text"))).as("w"))
      .filter(col("w") =!= "").groupBy("w").count()
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (w, c) => (-c, w) }
      .take(Topics.ZipfTopN)
    assert(n == counts.length)
    val pts = counts.zipWithIndex.map { case ((_, c), i) =>
      (math.log(i + 1.0), math.log(c.toDouble)) }
    val m = pts.length
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val expSlope = (m * sxy - sx * sy) / (m * sxx - sx * sx)
    assert(math.abs(slope - expSlope) < 1e-5, s"$slope vs $expSlope")
    assert(slope < 0, "rank-frequency slope must be negative on natural text")
    assert(math.abs(icept - (sy - expSlope * sx) / m) < 1e-5)
  }

  test("m15 heaps growth: cumulative, bounded buckets, totals match the corpus") {
    val rows = Topics.m15HeapsGrowth(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length <= Topics.HeapsBuckets)
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq)
    // strictly increasing tokens, non-decreasing vocab
    rows.sliding(2).foreach { case Array((_, t1, v1), (_, t2, v2)) =>
      assert(t2 > t1 && v2 >= v1)
    case _ => ()
    }
    // final checkpoint equals whole-corpus totals
    val toks = graft.Tables.documents(spark, dir)
      .select(explode(tokenize(col("text"))).as("w"))
      .filter(col("w") =!= "")
    assert(rows.last._2 == toks.count())
    assert(rows.last._3 == toks.distinct().count())
  }

  test("model save/load round-trips describeTopics (S10)") {
    val c = Topics.corpus(spark, dir).cache()
    val v = Topics.fitVectorizer(c).transform(c).cache()
    val m = Topics.fitLda(v, k = 3, maxIter = 3)
    val path = java.nio.file.Files.createTempDirectory("lda_model").toString + "/m"
    m.save(path)
    val loaded = org.apache.spark.ml.clustering.LocalLDAModel.load(path)
    assert(loaded.describeTopics(5).collect().map(_.toString).toSeq ==
      m.describeTopics(5).collect().map(_.toString).toSeq)
  }

  test("m21 perplexity buckets: ordered thirds at bin granularity") {
    val out = Topics.m21PplBuckets(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(out.nonEmpty)
    assert(out.map(_._3).toSet.subsetOf(Set("head", "middle", "tail")))
    // bucket boundaries respect NLL order at bin (0.01) granularity:
    // every head bin ≤ every middle bin ≤ every tail bin
    def bins(b: String) = out.filter(_._3 == b).map(t => math.floor(t._2 * 100))
    if (bins("head").nonEmpty && bins("middle").nonEmpty)
      assert(bins("head").max <= bins("middle").min, "head/middle boundary")
    if (bins("middle").nonEmpty && bins("tail").nonEmpty)
      assert(bins("middle").max <= bins("tail").min, "middle/tail boundary")
    // tercile targets: cumulative-histogram thresholds guarantee the
    // head (and head+middle) cover at least their third, overshooting
    // only within the boundary bin
    val n = out.length.toDouble
    val nHead = out.count(_._3 == "head")
    val nMid = out.count(_._3 == "middle")
    assert(nHead >= n / 3 - 1, s"head $nHead of $n")
    assert(nHead + nMid >= 2 * n / 3 - 1, s"head+middle ${nHead + nMid} of $n")
    // the NLL column is exactly m19's (same docs, same scores)
    val m19 = Topics.m19BigramNll(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    out.foreach { case (id, nll, _) =>
      assert(m19(id) == nll, s"doc $id nll drifted from m19")
    }
  }
}
