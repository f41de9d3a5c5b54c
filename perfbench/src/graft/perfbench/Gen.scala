package graft.perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every value is a pure function of
  * (seed, id), so the same seed yields byte-identical inputs and a
  * window or batch can be generated lazily in any order.
  */
object Gen {

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  /** Links per ingest window — the spider's `limit(500)`. */
  val WindowSize = 500

  def rng(seed: Long, stream: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 0x9E3779B97F4A7C15L + stream) + id))

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))

  def wordCount(text: String): Int = text.split(" ", -1).length

  // ---------------------------------------------------------------- ingest

  private val subjects = Vector("the council", "a hospital trust", "the minister",
    "local residents", "the police", "a charity", "the school", "union leaders",
    "the government", "campaigners", "a small business", "the club", "scientists",
    "the company", "volunteers", "the court")
  private val verbs = Vector("warned of", "welcomed", "criticised", "announced",
    "rejected", "praised", "questioned", "celebrated", "delayed", "approved",
    "opposed", "supported", "reported", "investigated")
  private val adjectives = Vector("serious", "new", "difficult", "successful",
    "weak", "urgent", "remarkable", "terrible", "generous", "poor", "great",
    "controversial", "happy", "dangerous", "popular", "expensive", "fair")
  private val nouns = Vector("plan", "crisis", "scheme", "proposal", "decision",
    "report", "funding", "service", "project", "campaign", "repairs", "budget",
    "strike", "investment", "shortage", "festival")
  private val tails = Vector("this year", "after a long winter", "in the city centre",
    "for families across the region", "despite strong objections",
    "following months of talks", "ahead of the election", "by the end of spring")

  private def sentence(r: SplittableRandom): String = {
    val s = s"${pick(r, subjects)} ${pick(r, verbs)} a ${pick(r, adjectives)} " +
      s"${pick(r, nouns)} ${pick(r, tails)}."
    s.capitalize
  }

  /** An English news-like article: 85% are long enough for the process
    * stage's `n_words > 50` filter, 15% clearly are not.
    */
  def articleText(seed: Long, id: Long): String = {
    val r = rng(seed, 1, id)
    val target = if (r.nextInt(100) < 15) 20 + r.nextInt(20) else 70 + r.nextInt(80)
    val b = new StringBuilder
    while (wordCount(b.toString) < target) {
      if (b.nonEmpty) b.append(' ')
      b.append(sentence(r))
    }
    b.toString
  }

  def article(seed: Long, id: Long): Doc =
    Doc(id, articleText(seed, id), "en", s"src${id % 20}")

  /** First id never offered before window `w`. Window 0 (500 fresh keys)
    * seeds the store; every later window offers 250 fresh keys and
    * re-delivers 250 keys drawn from all earlier windows.
    */
  def freshStart(w: Int): Long = if (w == 0) 0L else WindowSize + (w - 1) * (WindowSize / 2L)

  def windowIds(seed: Long, w: Int): (Seq[Long], Seq[Long]) = {
    val start = freshStart(w)
    if (w == 0) return ((0L until WindowSize).toSeq, Seq.empty)
    val fresh = (start until start + WindowSize / 2).toSeq
    val r = rng(seed, 2, w)
    val redelivered = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (redelivered.size < WindowSize / 2) redelivered += r.nextLong(start)
    (fresh, redelivered.toSeq)
  }

  def window(seed: Long, w: Int): Seq[Doc] = {
    val (fresh, again) = windowIds(seed, w)
    (fresh ++ again).map(article(seed, _))
  }

  /** Links `Pipeline.ingestRun` appends for these fresh keys: the
    * sitemap parse keeps the `/news/` links (doc_id % 3 != 0).
    */
  def expectedLinks(fresh: Seq[Long]): Long = fresh.count(_ % 3 != 0).toLong

  /** Articles the process stage keeps (more than 50 words). */
  def expectedArticles(seed: Long, fresh: Seq[Long]): Long =
    fresh.count(id => wordCount(articleText(seed, id)) > 50).toLong

  // ---------------------------------------------------------------- corpus

  private val vocab = Vector("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")
  private val langs = Vector("en" -> 41, "zh" -> 15, "es" -> 15, "fr" -> 15, "de" -> 14)

  private def baseText(seed: Long, id: Long): String = {
    val r = rng(seed, 3, id)
    val n = 10 + r.nextInt(91)
    Iterator.fill(n)(pick(r, vocab)).mkString(" ")
  }

  /** Curation corpus doc `id`, shaped like the synthetic `documents`
    * fixture: 10-100 words over a small vocabulary, five languages,
    * twenty sources. About 5% are near-duplicates (an earlier original
    * plus " dup") and 0.2% exact copies of an earlier original.
    */
  def corpusDoc(seed: Long, id: Long): Doc = {
    val r = rng(seed, 4, id)
    val roll = r.nextInt(1000)
    val text =
      if (id > 0 && roll < 50) baseText(seed, original(seed, r, id)) + " dup"
      else if (id > 0 && roll < 52) baseText(seed, original(seed, r, id))
      else baseText(seed, id)
    var l = r.nextInt(100)
    val lang = langs.find { case (_, w) => l -= w; l < 0 }.get._1
    Doc(id, text, lang, s"src${id % 20}")
  }

  /** The copy source of `id`: an earlier id that is itself an original. */
  private def original(seed: Long, r: SplittableRandom, id: Long): Long = {
    var src = r.nextLong(id)
    while (isCopy(seed, src)) src = r.nextLong(id)
    src
  }

  def isCopy(seed: Long, id: Long): Boolean =
    id > 0 && rng(seed, 4, id).nextInt(1000) < 52

  final case class Copy(id: Long, source: Long, exact: Boolean)

  /** Every planted copy in [from, until). */
  def copies(seed: Long, from: Long, until: Long): Seq[Copy] =
    (from until until).filter(isCopy(seed, _)).map { id =>
      val r = rng(seed, 4, id)
      val exact = r.nextInt(1000) >= 50
      Copy(id, original(seed, r, id), exact)
    }

  def corpus(seed: Long, from: Long, until: Long): Seq[Doc] =
    (from until until).map(corpusDoc(seed, _))

  // ---------------------------------------------------------------- topics

  private val topicWords: Vector[Vector[String]] = {
    val stems = Vector("market", "league", "hospital", "election", "climate",
      "school", "police", "music", "railway", "farming", "science", "housing")
    stems.map(s => (0 until 30).map(i =>
      s"$s${('a' + i / 26).toChar}${('a' + i % 26).toChar}").toVector)
  }

  /** A day's topic corpus: each doc mixes two of twelve topics'
    * vocabularies, 40-120 words.
    */
  def topicDoc(seed: Long, day: Int, id: Long): Doc = {
    val r = rng(seed, 5L + day * 7919L, id)
    val t1 = r.nextInt(12)
    val t2 = r.nextInt(12)
    val n = 40 + r.nextInt(81)
    val words = Iterator.fill(n) {
      val t = if (r.nextInt(100) < 70) t1 else t2
      pick(r, topicWords(t))
    }
    Doc(id, words.mkString(" "), "en", s"src${id % 20}")
  }

  def topicCorpus(seed: Long, day: Int, n: Int): Seq[Doc] =
    (0L until n).map(topicDoc(seed, day, _))
}
