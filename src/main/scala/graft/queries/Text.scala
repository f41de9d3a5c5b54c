package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Text-pipeline operators over `documents` (SURVEY.md §2.7 + §2.2).
  *
  * The reference's clean() chain (data_preparation.py:28-56) and the
  * derived-column string ops (bbc_news_dag.py:32, ArticlesSpider.py:24,28,
  * data_preparation.py:88-94) re-expressed as oracle-checked queries. All
  * pure built-in Column combinators — the whole chain compiles into one
  * whole-stage-codegen function per stage, so at 100 TB each partition
  * streams through a single generated loop with no per-row interpretation
  * and no shuffle (map-only; the only shuffles below are the final
  * low-cardinality groupBys, which map-side combine).
  */
object Text {

  type Q = (SparkSession, String) => DataFrame

  /** O-T2..T10: the regex normalization chain (data_preparation.py:34-42). */
  def t1CleanChain(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), cleanChain(col("text")).as("clean_text"))

  val t1Sql: String =
    "SELECT doc_id,\n  " + OracleSql.cleanChain + " AS clean_text\nFROM documents"

  /** O-P6: word count by single-space split (data_preparation.py:89) +
    * O-P5 numeric threshold (:90, n_words > 50 keeps an article).
    */
  def t2WordCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), wordCount(col("text")).as("n_words"))
      .filter(col("n_words") > 50)

  val t2Sql: String =
    """SELECT doc_id, len(string_split(text, ' ')) AS n_words
      |FROM documents WHERE len(string_split(text, ' ')) > 50""".stripMargin

  /** O-T11+T13+T14+T16: full clean → tokenize → stop-word + length filter →
    * re-join (data_preparation.py:54-56).
    */
  def t3CleanText(s: SparkSession, dir: String): DataFrame =
    // fanOut: the clean chain is the scan stage's compute — single-task
    // on one-row-group fixture files otherwise (no-op at real scale)
    Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), cleanText(col("text")).as("clean"))

  val t3Sql: String =
    "SELECT doc_id,\n  array_to_string(" + OracleSql.cleanTokens +
      ", ' ') AS clean\nFROM documents"

  /** O-P1: substring predicate (bbc_news_dag.py:32 keeps URLs containing
    * 'www.bbc.com/news/'). Pushed into the parquet scan as a Contains filter.
    */
  def t4ContainsFilter(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(col("text").contains("spark"))
      .select(col("doc_id"), col("source"))

  val t4Sql: String =
    "SELECT doc_id, source FROM documents WHERE contains(text, 'spark')"

  /** O-P4: drop-any-null rows (data_preparation.py:88 dropna). */
  def t5NaDrop(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .na.drop("any")
      .select(col("doc_id"), col("lang"), col("n_chars"))

  val t5Sql: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
      |  AND source IS NOT NULL AND n_chars IS NOT NULL""".stripMargin

  /** O-P7: URL→category derivation (ArticlesSpider.py:24 — strip prefix,
    * split on '-', drop last token, re-join). The fixture has no URL column,
    * so one is synthesized deterministically first; the derivation itself is
    * the operator under test.
    */
  def t6UrlCategory(s: SparkSession, dir: String): DataFrame = {
    val url = concat(lit("https://www.bbc.com/news/"), col("source"),
      lit("-"), col("lang"), lit("-"), col("doc_id"))
    val path = regexp_replace(url, "^https://www\\.bbc\\.com/news/", "")
    val parts = split(path, "-")
    val category = array_join(
      slice(parts, lit(1), greatest(size(parts) - 1, lit(0))), "-")
    Tables.documents(s, dir)
      .select(col("doc_id"), category.as("category"))
  }

  val t6Sql: String =
    """SELECT doc_id,
      |  array_to_string(
      |    list_slice(
      |      string_split(regexp_replace(
      |        'https://www.bbc.com/news/' || source || '-' || lang || '-' || doc_id,
      |        '^https://www\.bbc\.com/news/', ''), '-'),
      |      1, greatest(len(string_split(regexp_replace(
      |        'https://www.bbc.com/news/' || source || '-' || lang || '-' || doc_id,
      |        '^https://www\.bbc\.com/news/', ''), '-')) - 1, 0)),
      |    '-') AS category
      |FROM documents""".stripMargin

  /** O-P11: paragraph join — concat all tokens but the last
    * (ArticlesSpider.py:28, ' '.join(paragraphs[:-1])).
    */
  def t7ParagraphJoin(s: SparkSession, dir: String): DataFrame = {
    val parts = split(col("text"), " ")
    Tables.documents(s, dir)
      .select(col("doc_id"),
        array_join(slice(parts, lit(1), greatest(size(parts) - 1, lit(0))), " ")
          .as("body"))
  }

  val t7Sql: String =
    """SELECT doc_id,
      |  array_to_string(
      |    list_slice(string_split(text, ' '), 1,
      |               greatest(len(string_split(text, ' ')) - 1, 0)),
      |    ' ') AS body
      |FROM documents""".stripMargin

  /** Exact-dedup fingerprint: md5 over normalized text → group. The 100 TB
    * path: hash each doc (map-only), shuffle only the 32-byte digests +
    * doc ids, keep min-id survivor per group — never the documents
    * themselves.
    */
  def t8Fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper_id"))
      .orderBy(col("fp"))

  val t8Sql: String =
    """SELECT md5(text) AS fp, count(*) AS n_docs, min(doc_id) AS keeper_id
      |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin

  /** Token count via alphanumeric-run extraction (BPE-ish pre-segmentation;
    * training-data pipeline op).
    */
  def t9TokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"))

  val t9Sql: String =
    """SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_tokens
      |FROM documents""".stripMargin

  /** Quality score histogram (training-data filtering). Value-checked:
    * every component is either exact integer arithmetic (counts, an
    * integer token-length fold) or a SINGLE double division, so the
    * DuckDB oracle reproduces the float ops bit-for-bit as long as the
    * sum order matches (lengthOk + alphaRatio + stopOk + tokLenOk,
    * left-associated, all ::DOUBLE).
    */
  def t10QualityScore(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), qualityScore(col("text")).as("quality"))

  /** The t10 quality computation as a reusable CTE chain ending in
    * `q(doc_id, quality)` — shared by t10's projection and t20's
    * weighted-sample predicate so the two oracles can never drift.
    */
  private def qualitySqlCte: String = {
    val sw = OracleSql.stopWordsList
    s"""WITH toks AS (
       |  SELECT doc_id, text,
       |    string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS t
       |  FROM documents
       |), m AS (
       |  SELECT doc_id,
       |    len(t) AS n_tok,
       |    length(text) AS n_chars,
       |    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
       |    len(list_filter(t, x -> list_contains($sw, lower(x)))) AS n_stop,
       |    list_sum(list_transform(t, x -> length(x))) AS tok_len_sum
       |  FROM toks
       |), q AS (
       |  SELECT doc_id,
       |    round((
       |      (CASE WHEN n_tok >= 50 AND n_tok <= 10000 THEN 1.0
       |            WHEN (n_tok >= 10 AND n_tok < 50) OR (n_tok > 10000 AND n_tok <= 20000) THEN 0.5
       |            ELSE 0.0 END)::DOUBLE
       |      + (CASE WHEN n_chars > 0 THEN alpha_chars::DOUBLE / n_chars ELSE 0.0 END)::DOUBLE
       |      + (CASE WHEN n_tok > 0 AND n_stop::DOUBLE / n_tok >= 0.05
       |                   AND n_stop::DOUBLE / n_tok <= 0.6 THEN 1.0 ELSE 0.0 END)::DOUBLE
       |      + (CASE WHEN n_tok > 0 AND tok_len_sum::DOUBLE / n_tok >= 3
       |                   AND tok_len_sum::DOUBLE / n_tok <= 10 THEN 1.0 ELSE 0.0 END)::DOUBLE
       |    ) / 4.0, 6) AS quality
       |  FROM m
       |)""".stripMargin
  }

  val t10Sql: String =
    qualitySqlCte + "\nSELECT doc_id, quality FROM q"

  /** Language-ID distribution (training-data pipeline op). Value-checked:
    * the profile argmax with its struct tie-break (score DESC, then lang
    * DESC — sort_array on struct compares fields in order) maps to a
    * row_number window over unioned per-language scores.
    */
  def t11LangId(s: SparkSession, dir: String): DataFrame =
    // fanOut: per-doc language scoring is scan-stage compute (t3's note)
    Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      // tokenize once in its own projection; CollapseProject keeps the
      // non-cheap multi-referenced split() from being re-inlined 8×
      .select(tokenize(lower(col("text"))).as("toks"))
      .select(langIdFromTokens(col("toks")).as("lang_pred"))
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang_pred"))

  val t11Sql: String = {
    def profList(lang: String): String =
      graft.functions.TextFunctions.langProfiles(lang)
        .map(w => "'" + w.replace("'", "''") + "'").mkString("[", ", ", "]")
    val perLang = Seq("de", "en", "es", "fr").map { lang =>
      s"""  SELECT doc_id, '$lang' AS lang,
         |    len(list_filter(t, x -> list_contains(${profList(lang)}, x)))::DOUBLE
         |      / greatest(len(t), 1) AS score
         |  FROM toks""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$$', '', 'g'), '\\s+') AS t
       |  FROM documents
       |), scored AS (
       |$perLang
       |), ranked AS (
       |  SELECT doc_id, lang, score,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
       |  FROM scored
       |), best AS (
       |  SELECT CASE WHEN score >= 0.05 THEN lang ELSE 'und' END AS lang_pred
       |  FROM ranked WHERE rn = 1
       |)
       |SELECT lang_pred, count(*) AS n FROM best
       |GROUP BY lang_pred ORDER BY lang_pred""".stripMargin
  }

  /** O-T12 + O-T15 (+ the full O-T2..T16 chain): the reference's complete
    * clean()+lemmatize() pipeline (data_preparation.py:91-94) — regex
    * chain → tokenize → stop/length filter → POS content filter →
    * lemmatize → re-join, plus the n_words_clean derivation.
    * Value-checked: the rule-based tagger/lemmatizer is deterministic
    * string algebra, so PosLemma.oracleSql generates its DuckDB twin
    * from the same word sets; PosLemmaSpec additionally pins exact pairs.
    */
  def t12PosLemma(s: SparkSession, dir: String): DataFrame =
    // fanOut: the tag+lemmatize chain is by far the suite's heaviest
    // scan-stage compute (measured 3.0 s on ONE task at sf0.1; t3's note)
    Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"),
        graft.functions.PosLemma.posFilterLemmatize(
          contentTokens(tokenize(cleanChain(col("text"))))).as("toks"))
      .select(col("doc_id"), array_join(col("toks"), " ").as("article_clean"),
        size(col("toks")).as("n_words_clean"))
      .orderBy(col("doc_id"))

  /** PII redaction (training-data scrubbing): email → phone → IP regex
    * passes, chained in that order so the broader phone pattern can never
    * eat an address already collapsed to a placeholder. The fixture text
    * carries no PII (no digits at all), so a deterministic contact line
    * derived from doc_id is appended first; the redaction chain itself is
    * the operator under test. Map-only, one whole-stage-codegen pass —
    * at 100 TB this is a streaming scan with zero shuffle.
    */
  def t13PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val contact = concat(
      substring(col("text"), 1, 40),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or +1-555-0"), (col("doc_id") % 100).cast("string"),
      lit(" at 10.0."), (col("doc_id") % 256).cast("string"), lit(".1"))
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(contact,
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "\\+?[0-9][0-9()\\- ]{6,}[0-9]", "<PHONE>"),
        "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>")
    Tables.documents(s, dir)
      .select(col("doc_id"), redacted.as("redacted"))
  }

  val t13Sql: String =
    """SELECT doc_id,
      |  regexp_replace(
      |    regexp_replace(
      |      regexp_replace(
      |        substr(text,1,40) || ' contact user' || doc_id::VARCHAR
      |          || '@example.com or +1-555-0' || (doc_id % 100)::VARCHAR
      |          || ' at 10.0.' || (doc_id % 256)::VARCHAR || '.1',
      |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g'),
      |    '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS redacted
      |FROM documents""".stripMargin

  /** Repetition metrics (Gopher-style quality rules, Rae et al. 2021
    * §A1.1): most-frequent-token fraction and duplicate-word fraction per
    * document. Relational formulation — explode to (doc, token), count,
    * re-aggregate — so both groupBys map-side combine and the shuffle
    * carries (doc, token, count) triples, never the text. The HOF
    * alternative (sort + scan inside one row) would multi-reference the
    * token array and hit the expression-reuse recompute trap.
    */
  def t14Repetition(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokenize(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        round(max(col("c")).cast("double") / sum(col("c")), 6)
          .as("top_token_frac"),
        round(lit(1.0) - count(lit(1)).cast("double") / sum(col("c")), 6)
          .as("dup_word_frac"))
      .orderBy(col("doc_id"))

  val t14Sql: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |    unnest(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS w
      |  FROM documents
      |), wc AS (
      |  SELECT doc_id, w, count(*) AS c FROM tok WHERE w <> '' GROUP BY 1, 2
      |)
      |SELECT doc_id,
      |  round(max(c)::DOUBLE / sum(c), 6) AS top_token_frac,
      |  round(1.0::DOUBLE - count(*)::DOUBLE / sum(c), 6) AS dup_word_frac
      |FROM wc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Sequence packing (contiguous-fill): assign docs to fixed token-budget
    * bins for LLM batch assembly — bin = floor(preceding-cumsum / budget)
    * within each source, ordered by doc_id. Partitioning the window by
    * `source` is the scale story: each stream packs independently, so the
    * window never forces a single global partition and a 1000-executor
    * run packs all sources in parallel (the un-partitioned variant is
    * exactly the WindowExec "moving all data to a single partition" trap).
    */
  def t15SeqPack(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(filter(split(col("text"), " "), x => x =!= "")).as("ntok"))
      .withColumn("bin",
        floor((sum(col("ntok")).over(w) - col("ntok")) / lit(512.0)))
      .orderBy(col("doc_id"))
  }

  val t15Sql: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS ntok
      |  FROM documents
      |)
      |SELECT doc_id, source, ntok,
      |  CAST(floor((CAST(sum(ntok) OVER (PARTITION BY source ORDER BY doc_id
      |         ROWS UNBOUNDED PRECEDING) AS BIGINT) - ntok) / 512.0::DOUBLE)
      |       AS BIGINT) AS bin
      |FROM t ORDER BY doc_id""".stripMargin

  /** Document chunking (context-window packing prep): split each doc into
    * 128-token chunks on a 96-token stride (32-token overlap so no
    * boundary context is lost — the standard pretraining chunker shape).
    * explode(sequence(...)) generates chunk ids inside codegen and the
    * per-chunk slices are bounded (≤128 tokens), so memory per row is
    * constant; map-only, no shuffle — each doc chunks where it lives.
    */
  def t16Chunk(s: SparkSession, dir: String): DataFrame = {
    val chunkTokens = slice(col("t"), col("chunk_id") * 96 + 1, lit(128))
    Tables.documents(s, dir)
      .select(col("doc_id"), tokenize(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0),
          floor((size(col("t")) - 1) / 96.0).cast("int"))).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        array_join(chunkTokens, " ").as("chunk"),
        size(chunkTokens).as("n_tok"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val t16Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
      |  FROM documents
      |), ch AS (
      |  SELECT doc_id, unnest(range(0, (len(t) - 1) // 96 + 1)) AS chunk_id, t
      |  FROM toks WHERE len(t) > 0
      |)
      |SELECT doc_id, chunk_id,
      |  array_to_string(t[chunk_id*96 + 1 : chunk_id*96 + 128], ' ') AS chunk,
      |  len(t[chunk_id*96 + 1 : chunk_id*96 + 128]) AS n_tok
      |FROM ch ORDER BY doc_id, chunk_id""".stripMargin

  /** BPE-style pre-tokenizer count — the GPT-2/cl100k segmentation shape
    * (contraction suffixes, letter runs, digit runs capped at 3, punct
    * runs), simplified to the lookahead-free core so Java regex and
    * DuckDB's RE2 segment identically (both use leftmost-first
    * alternation). t9 counts whitespace-ish alnum runs; this is the
    * second counter a token-budgeted pipeline reports. Map-only, stays
    * in whole-stage codegen — a streaming scan with zero shuffle at
    * 100 TB.
    */
  val BpePattern = "'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]+"

  def t17BpeTokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
          .as("n_bpe_tokens"))
      .orderBy(col("doc_id"))

  val t17Sql: String =
    """SELECT doc_id,
      |  len(regexp_extract_all(text,
      |    '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]+'))::INT
      |    AS n_bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Per-language corpus token statistics — the dataset-card numbers a
    * curation run reports (doc counts, token totals, mean length) and
    * the input to q28's mixing decisions. One map-side-combined
    * aggregation; the shuffle carries |langs| partial rows. avg of exact
    * integer sums = one double division → bit-identical to DuckDB.
    */
  def t18TokenStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), tokenCount(col("text")).as("n"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_tokens"),
        round(avg(col("n")), 6).as("avg_tokens"))
      .orderBy(col("lang"))

  val t18Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  sum(len(regexp_extract_all(text, '[A-Za-z0-9]+')))::BIGINT AS total_tokens,
      |  round(avg(len(regexp_extract_all(text, '[A-Za-z0-9]+'))), 6) AS avg_tokens
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Paragraph-level exact dedup (boilerplate removal — the CCNet /
    * RefinedWeb step that strips corpus-wide repeated spans): split each
    * document into fixed 16-token paragraphs (the fixture text has no
    * newline structure, so fixed slicing stands in for the paragraph
    * splitter — same convention as t13's synthesized PII; the DEDUP is
    * the operator under test, and the fixture's near-dup docs DO share
    * exact 16-token runs: 78 duplicate paragraph occurrences at sf0.01),
    * fingerprint each, keep only the global FIRST occurrence (minimal
    * (doc_id, idx)) of every fingerprint, and reassemble documents from
    * surviving paragraphs in order. A document whose every paragraph is
    * boilerplate disappears entirely.
    *
    * Scale shape: ONE pass over the paragraph split and two exchanges.
    * The split (tokenize, explode, slice) is evaluated once; the keep
    * flag is a window min of (doc_id, idx) per md5 digest (exchange 1,
    * keyed by digest), and one doc_id aggregation (exchange 2) counts
    * the paragraphs, counts the kept ones and reassembles the kept text
    * in idx order. Paragraph text rides both exchanges; a digest-only
    * decision would need the split again for the text, which is the
    * four-branch shape this replaced (three shuffles in its final
    * adaptive plan at sf0.001, against two here).
    */
  def t19ParagraphDedup(s: SparkSession, dir: String): DataFrame =
    paragraphDedupFrame(Tables.documents(s, dir)).orderBy(col("doc_id"))

  /** t19's core over any (doc_id, text, ...) frame — reused by the
    * curation pipeline, which joins `body` back as the cleaned text.
    */
  def paragraphDedupFrame(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val P = 16
    val paraTokens = slice(col("t"), col("idx") * P + 1, lit(P))
    val first = struct(col("doc_id"), col("idx"))
    docs
      .select(col("doc_id"), tokenize(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0),
          floor((size(col("t")) - 1) / P.toDouble).cast("int"))).as("idx"))
      .select(col("doc_id"), col("idx"), array_join(paraTokens, " ").as("para"))
      .withColumn("keep",
        first === min(first).over(Window.partitionBy(md5(col("para")))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        count_if(col("keep")).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(
              when(col("keep"), struct(col("idx"), col("para"))))),
            x => x.getField("para")), " ").as("body"))
      .filter(col("n_kept") > 0)
      .select(col("doc_id"), col("n_paras"), col("n_kept"), col("body"))
  }

  val t19Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
      |  FROM documents
      |), ids AS (
      |  SELECT doc_id, unnest(range(0, (len(t) - 1) // 16 + 1)) AS idx, t
      |  FROM toks WHERE len(t) > 0
      |), paras AS (
      |  SELECT doc_id, idx, array_to_string(t[idx*16 + 1 : idx*16 + 16], ' ') AS para
      |  FROM ids
      |), ranked AS (
      |  SELECT doc_id, idx, para,
      |    row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, idx) AS rn
      |  FROM paras
      |), totals AS (
      |  SELECT doc_id, count(*) AS n_paras FROM paras GROUP BY doc_id
      |)
      |SELECT k.doc_id, t.n_paras, count(*) AS n_kept,
      |       string_agg(k.para, ' ' ORDER BY k.idx) AS body
      |FROM ranked k JOIN totals t USING (doc_id)
      |WHERE k.rn = 1
      |GROUP BY k.doc_id, t.n_paras
      |ORDER BY doc_id""".stripMargin

  /** Quality-weighted deterministic sampling — keep each document with
    * probability equal to its t10 quality score, decided by the same
    * md5-bucket coin as q26/q28 (pure row function: reproducible across
    * retries, stable under repartitioning, no RNG state). This is the
    * soft version of threshold filtering a curation pipeline uses to
    * keep SOME low-quality text (quality-proportional representation)
    * instead of a hard cliff. floor() on the scaled score keeps the
    * Spark and DuckDB thresholds identical (CAST rounds in DuckDB but
    * truncates in Spark — floor sidesteps both). Map-only, fused into
    * the scan; zero shuffle at any corpus size.
    */
  def t20QualitySample(s: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 1000000L
    Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), qualityScore(col("text")).as("quality"),
        bucket.as("b"))
      .filter(col("b") < floor(col("quality") * 1000000).cast("long"))
      .select(col("doc_id"), col("quality"))
      .orderBy(col("doc_id"))
  }

  val t20Sql: String =
    qualitySqlCte +
      """
        |SELECT doc_id, quality FROM q
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT % 1000000
        |      < CAST(floor(quality * 1000000) AS BIGINT)
        |ORDER BY doc_id""".stripMargin

  /** T21: DSIR importance weights (Xie et al., NeurIPS 2023 "Data
    * Selection via Importance Resampling") — score every raw-pool
    * document by how target-like its hashed-bigram distribution is:
    * log w(d) = Σ_grams [ln p̂(bucket) − ln q̂(bucket)], with p̂ fit on
    * the target slice (source = 'src0' stands in for the wanted
    * domain), q̂ on the raw pool, both add-one smoothed over the 4096
    * hashed buckets. A curation pipeline resamples by this weight to
    * shift a 100 TB raw crawl toward a target domain without a trained
    * classifier.
    *
    * 100 TB shape: bucketing is map-only (native fnv64, whole-stage
    * codegen; B = 2^12 so Spark's signed pmod and the oracle's unsigned
    * HUGEINT mod agree bit-for-bit). The two distribution fits shuffle
    * only (bucket, count) partials — ≤4096 rows each — and the scoring
    * join broadcasts the 4096-row log-ratio dim back over the cached
    * bucket stream; the only corpus-keyed shuffle is the per-doc sum.
    * Gram text itself never rides a shuffle.
    */
  val DsirBuckets = 4096

  def t21DsirWeights(s: SparkSession, dir: String): DataFrame = {
    def buckets(d: DataFrame): DataFrame = d
      .select(col("doc_id"), explode(shingles(tokenize(col("text")), 2)).as("g"))
      .select(col("doc_id"), pmod(expr("fnv64(g)"), lit(DsirBuckets.toLong)).as("b"))
    val docs = Tables.documents(s, dir)
    val target = buckets(docs.filter(col("source") === "src0"))
    val raw = buckets(docs.filter(col("source") =!= "src0")).cache()
    val p = target.groupBy(col("b")).agg(count(lit(1)).as("np"))
    val q = raw.groupBy(col("b")).agg(count(lit(1)).as("nq"))
    val dim = p.join(q, Seq("b"), "full_outer")
      .select(col("b"), coalesce(col("np"), lit(0L)).as("np"),
        coalesce(col("nq"), lit(0L)).as("nq"))
    val tot = dim.agg(sum(col("np")).as("tnp"), sum(col("nq")).as("tnq"))
    val lr = dim.crossJoin(tot).select(col("b"),
      (log((col("np") + lit(1.0)) / (col("tnp") + lit(DsirBuckets))) -
        log((col("nq") + lit(1.0)) / (col("tnq") + lit(DsirBuckets)))).as("lr"))
    // per-doc sum folds in BUCKET-SORTED order (buckets unique per doc
    // after the pre-count) — summation-order-independent, the q15/m11
    // boundary-drift hardening for log sums with no integer grid
    raw.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("cnt"))
      .join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_grams"),
        round(aggregate(
          transform(
            array_sort(collect_list(struct(col("b"), col("cnt"), col("lr")))),
            x => x.getField("cnt") * x.getField("lr")),
          lit(0.0), (a, x) => a + x), 6).as("dsir_logw"))
      .orderBy(col("doc_id"))
  }

  val t21Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
      |  FROM documents
      |), gr AS (
      |  SELECT doc_id, source,
      |    unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS g
      |  FROM toks WHERE len(t) >= 2
      |), hb AS (
      |  SELECT doc_id, source,
      |    (list_reduce(list_prepend(14695981039346656037::HUGEINT,
      |       list_transform(range(1, length(g)+1), i -> ord(substr(g, i, 1))::HUGEINT)),
      |     (h, c) -> ((h - h % 256 + xor((h % 256)::BIGINT, c::BIGINT)::HUGEINT)
      |                * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)
      |     % 4096)::BIGINT AS b
      |  FROM gr
      |), p AS (SELECT b, count(*) AS np FROM hb WHERE source = 'src0' GROUP BY 1),
      |q AS (SELECT b, count(*) AS nq FROM hb WHERE source <> 'src0' GROUP BY 1),
      |dim AS (
      |  SELECT coalesce(p.b, q.b) AS b, coalesce(np,0) AS np, coalesce(nq,0) AS nq
      |  FROM p FULL JOIN q ON p.b = q.b
      |), tot AS (SELECT sum(np) AS tnp, sum(nq) AS tnq FROM dim),
      |lr AS (
      |  SELECT b, ln((np + 1.0)/(tnp + 4096)) - ln((nq + 1.0)/(tnq + 4096)) AS lr
      |  FROM dim, tot
      |), per AS (
      |  SELECT doc_id, b, count(*) AS cnt FROM hb
      |  WHERE source <> 'src0' GROUP BY 1, 2
      |)
      |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
      |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list(cnt * lr ORDER BY b)), (a, x) -> a + x), 6) AS dsir_logw
      |FROM per JOIN lr USING (b)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** T22: the full Gopher quality-rule battery (Rae et al. '21 App. A)
    * — the production-filter complement of t10's four-component score.
    * All seven rules evaluate in ONE codegen'd pass (native gopher_flags
    * bitmask; see the expression scaladoc for the bit layout and the
    * integer cross-multiplied comparisons that keep the twin hash-exact
    * with no float grid). Map-only, fused into the scan: zero shuffle
    * at any corpus size — this is the filter that runs FIRST over a raw
    * 100 TB crawl, so its shape matters most of all.
    */
  def t22GopherFilter(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), expr("gopher_flags(text)").as("mask"))
      .select(col("doc_id"), col("mask"), (col("mask") === 127).as("keep"))
      .orderBy(col("doc_id"))

  val t22Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, text,
      |    string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
      |  FROM documents
      |), words AS (
      |  SELECT doc_id, text, len(t) AS n,
      |    list_sum(list_transform(t, w -> length(w)))::BIGINT AS sum_len,
      |    len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
      |    len(list_distinct(list_filter(list_transform(t, w -> lower(w)),
      |      w -> w IN ('the','be','to','of','and','that','have','with')))) AS n_stop
      |  FROM toks
      |), syms AS (
      |  SELECT doc_id,
      |    (length(text) - length(replace(text, '#', '')))
      |      + (length(text) - length(replace(text, '…', '')))
      |      + (length(text) - length(replace(text, '...', ''))) // 3 AS n_sym
      |  FROM toks
      |), lns AS (
      |  SELECT doc_id, len(ls) AS n_lines,
      |    len(list_filter(ls, l -> substr(l, 1, 1) IN ('•','‣','▪','-','*'))) AS n_bullet,
      |    len(list_filter(ls, l -> ends_with(l, '...') OR ends_with(l, '…'))) AS n_ell
      |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM toks)
      |), mk AS (
      |  SELECT w.doc_id,
      |    (CASE WHEN n BETWEEN 50 AND 100000 THEN 1 ELSE 0 END
      |     + CASE WHEN sum_len >= 3*n AND sum_len <= 10*n THEN 2 ELSE 0 END
      |     + CASE WHEN 10*n_sym <= n THEN 4 ELSE 0 END
      |     + CASE WHEN 10*n_bullet <= 9*n_lines THEN 8 ELSE 0 END
      |     + CASE WHEN 10*n_ell <= 3*n_lines THEN 16 ELSE 0 END
      |     + CASE WHEN 5*n_alpha >= 4*n THEN 32 ELSE 0 END
      |     + CASE WHEN n_stop >= 2 THEN 64 ELSE 0 END)::INT AS mask
      |  FROM words w JOIN syms USING (doc_id) JOIN lns USING (doc_id)
      |)
      |SELECT doc_id, mask, mask = 127 AS keep FROM mk
      |ORDER BY doc_id""".stripMargin

  /** T23: leakage-safe train/val/test split — the assignment rule a
    * training-data pipeline MUST use instead of a per-document coin:
    * near-duplicate documents landing in different splits leak train
    * content into eval. Every member of a d7 duplicate cluster hashes
    * by the CLUSTER label (its min doc_id), singletons by their own id,
    * so a whole near-dup family moves between splits as one unit. The
    * coin is the q26/q28 md5-bucket (pure row function — reproducible
    * across retries, stable under repartition): 80/10/10 on integer
    * thresholds, no float grid.
    *
    * 100 TB shape: the cluster-label table is tiny relative to the
    * corpus (only docs appearing in near-dup pairs) and broadcasts;
    * the assignment itself is map-only on top of that join. The d7
    * labels are the expensive input, and they are already computed for
    * dedup — a real pipeline reuses the artifact, it never re-derives
    * per split.
    */
  def t23LeakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    // the cluster labels ARE the reusable artifact (the scaladoc's
    // "a real pipeline never re-derives per split"), persisted under
    // the same fingerprint key as the topic models: warm runs read the
    // label table instead of re-running connected components
    val fp = Topics.fingerprint(s, dir)
    val path = Topics.artifactPath(dir, fp, "d7labels")
    val clusters =
      if (Topics.artifactExists(s, path)) s.read.parquet(path)
      else graft.Artifacts.publishParquet(Dedup.d7DupClusters(s, dir), path)
    val keyed = docs.join(broadcast(clusters), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("k"))
    val bucket = conv(substring(md5(col("k").cast("string")), 1, 8), 16, 10)
      .cast("long") % 1000L
    keyed.select(col("doc_id"),
      when(bucket < 800, "train").when(bucket < 900, "val")
        .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  lazy val t23Sql: String = {
    // d7Sql's CTE chain up to (and excluding) its final SELECT; the
    // trailing ")" closes the `reach` CTE, so we continue the WITH list
    val d7core = Dedup.d7Sql.substring(0,
      Dedup.d7Sql.lastIndexOf("SELECT node")).trim
    s"""$d7core,
       |cl AS (
       |  SELECT node AS doc_id, min(r) AS cluster FROM reach GROUP BY node
       |), k AS (
       |  SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS k
       |  FROM documents d LEFT JOIN cl USING (doc_id)
       |), b AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(k::VARCHAR), 1, 8))::UBIGINT % 1000 AS b
       |  FROM k
       |)
       |SELECT doc_id,
       |  CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM b ORDER BY doc_id""".stripMargin
  }

  /** T24: gram novelty — per document, how many of its distinct word
    * bigrams appear for the FIRST time in the corpus (by doc_id order),
    * and the novel fraction. The self-repetition / boilerplate signal a
    * curation pipeline ranks crawl sources by: a mirror or template farm
    * scores near zero, fresh reporting near one (the CCNet/RefinedWeb
    * "head of the distribution is duplicated text" observation turned
    * into a per-doc score).
    *
    * 100 TB shape: gram TEXT never shuffles — each gram maps to its
    * native fnv64 digest in the scan projection, and the single shuffle
    * is the (digest) window partitioning that computes first-occurrence
    * (min doc_id) and the per-doc counts ride the same partitioning
    * back through a doc_id-keyed map-side-combined agg. 64-bit digests
    * make cross-doc collisions (two grams sharing a bucket → slight
    * novelty undercount) negligible below ~10⁹ distinct grams and a
    * bounded scoring artifact beyond; the oracle groups by the gram
    * string itself, so a fixture-scale collision would fail the hash
    * check loudly instead of hiding.
    */
  def t24GramNovelty(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(array_distinct(shingles(tokenize(col("text")), 2))).as("g"))
      .select(col("doc_id"),
        org.apache.spark.sql.GraftNative.column(graft.expressions.Fnv64(
          org.apache.spark.sql.GraftNative.expression(col("g")))).as("h"))
    grams
      .withColumn("first_doc", min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_grams"), 6))
      .orderBy(col("doc_id"))
  }

  val t24Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
      |  FROM documents
      |), gr AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id,
      |      unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS g
      |    FROM toks WHERE len(t) >= 2
      |  )
      |), first AS (
      |  SELECT g, min(doc_id) AS fd FROM gr GROUP BY 1
      |)
      |SELECT gr.doc_id, count(*) AS n_grams,
      |  CAST(sum(CASE WHEN fd = gr.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  round(CAST(sum(CASE WHEN fd = gr.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
      |        / count(*), 6) AS novelty
      |FROM gr JOIN first USING (g)
      |GROUP BY gr.doc_id ORDER BY gr.doc_id""".stripMargin

  /** T25: the C4 heuristic filter battery (Raffel et al. '20 §2.2) —
    * the OTHER canonical crawl-cleaning rule set next to t22's Gopher
    * battery. Line level (native one-pass `c4_lines`, scaladoc there):
    * terminal-punctuation lines only, ≥ 3 words per line, no
    * "javascript" mention. Page level, judged on the line-cleaned
    * page + the original text: ≥ 5 sentences survive ("discarded any
    * page with fewer than 5 sentences"), no "lorem ipsum", no curly
    * brace, no bad word (word-boundary match over a bundled shortlist
    * standing in for C4's LDNOOBW list). C4's three-sentence-span
    * dedup is deliberately NOT here — that is the d-family's job
    * (t19/d1/d2 already cover span/doc dedup).
    *
    * 100 TB shape: map-only and fused into the scan like t22 — the
    * line pass is one codegen'd call per row into its OWN projection
    * (CollapseProject declines to merge it into the consumers because
    * the non-cheap alias is multiply referenced), so the page rules
    * reference the materialized kept-lines attribute, never a
    * re-inlined call. PlansSpec pins the projection split and the
    * codegen span. Zero shuffle at any corpus size.
    */
  val C4BadWords: Seq[String] =
    Seq("porn", "xxx", "viagra", "casino", "erotic", "nude")
  def t25C4Filter(s: SparkSession, dir: String): DataFrame =
    t25C4Frame(Tables.documents(s, dir))

  /** Frame form of t25 for planted-page specs (the d12OverlapFrame
    * device): `docs` needs (doc_id, text). NOTE the fixture corpus is
    * single-line punctuation-free word soup, so every fixture page
    * legitimately keeps 0 lines — the oracle row pins rule wiring and
    * the NULL contract at corpus width; C4LinesSpec / TextSpec planted
    * pages exercise each rule's true path.
    */
  def t25C4Frame(docs: DataFrame): DataFrame = {
    val badRe = "\\b(" + C4BadWords.mkString("|") + ")\\b"
    docs
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
        expr("c4_lines(text)").as("kept"))
      .select(
        col("doc_id"),
        when(col("kept") === "", lit(0))
          .otherwise(size(split(col("kept"), "\n", -1))).as("n_kept_lines"),
        regexp_count(col("kept"), lit("[.!?]")).cast("long").as("n_sentences"),
        (regexp_count(col("kept"), lit("[.!?]")) >= 5 &&
          !lower(col("text")).contains("lorem ipsum") &&
          !col("text").contains("{") &&
          !lower(col("text")).rlike(badRe)).as("keep"))
      .orderBy(col("doc_id"))
  }

  val t25Sql: String = {
    val badRe = "\\b(" + C4BadWords.mkString("|") + ")\\b"
    s"""WITH d AS (
      |  SELECT doc_id, coalesce(text, '') AS text FROM documents
      |), k AS (
      |  SELECT doc_id, text,
      |    coalesce(array_to_string(list_filter(string_split(text, chr(10)),
      |      l -> regexp_matches(regexp_replace(l, '^\\s+|\\s+$$', '', 'g'), '[.!?"]$$')
      |        AND len(string_split_regex(regexp_replace(l, '^\\s+|\\s+$$', '', 'g'), '\\s+')) >= 3
      |        AND NOT contains(lower(l), 'javascript')), chr(10)), '') AS kept
      |  FROM d
      |)
      |SELECT doc_id,
      |  CASE WHEN kept = '' THEN 0
      |       ELSE len(string_split(kept, chr(10))) END::INT AS n_kept_lines,
      |  len(regexp_extract_all(kept, '[.!?]'))::BIGINT AS n_sentences,
      |  (len(regexp_extract_all(kept, '[.!?]')) >= 5
      |   AND NOT contains(lower(text), 'lorem ipsum')
      |   AND NOT contains(text, '{')
      |   AND NOT regexp_matches(lower(text), '$badRe')) AS keep
      |FROM k ORDER BY doc_id""".stripMargin
  }

  /** T26: deterministic temperature-rebalanced mix sampling — realize
    * m17's source weights as an actual subsample. Source i keeps each
    * document at rate min(1, w_i · T / c_i), where T = [[MixSampleFrac]]
    * × total corpus tokens is the target budget, w_i the m17 weight and
    * c_i the source's token count — i.e. expected kept tokens per source
    * ∝ w_i, which IS the mT5/XLM-R temperature-sampling step run as a
    * batch op: the output is the training mix. Per-document keep/drop
    * uses the t20 md5-bucket device (content-stable, so the same doc is
    * kept or dropped identically on every run and on both engines), NOT
    * rand() — resumable curation needs replayable sampling.
    *
    * 100 TB shape: the rate table is |sources| rows and broadcasts; the
    * corpus pass is map-only (hash + compare fused into the scan), no
    * shuffle at all beyond m17's bounded aggregation. Double math is
    * twin-safe: w_i is already on the 1e-6 round grid, sqrt/÷/× are
    * IEEE-identical, and the floor(rate·1e6) integer compare is the
    * proven t20 boundary device.
    */
  val MixSampleFrac = 0.5
  def t26MixSample(s: SparkSession, dir: String): DataFrame = {
    val w = graft.queries.Topics.m17SourceMix(s, dir)
    val tot = w.agg(sum(col("tokens")).as("tt"))
    val rates = w.crossJoin(tot).select(col("source"),
      least(lit(1.0),
        col("weight") * lit(MixSampleFrac) * col("tt") / col("tokens"))
        .as("rate"))
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 1000000L
    Tables.documents(s, dir)
      .join(broadcast(rates), Seq("source"))
      .filter(bucket < floor(col("rate") * 1000000).cast("long"))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  val t26Sql: String = {
    val mix = graft.queries.Topics.m17Sql
    val core = mix.substring(0, mix.lastIndexOf("ORDER BY"))
    s"""WITH w AS (
       |$core
       |), tot AS (SELECT sum(tokens)::BIGINT AS tt FROM w),
       |r AS (
       |  SELECT source,
       |    least(1.0, weight * $MixSampleFrac * tt / tokens) AS rate
       |  FROM w, tot
       |)
       |SELECT d.doc_id, d.source
       |FROM documents d JOIN r USING (source)
       |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::UBIGINT % 1000000
       |      < CAST(floor(rate * 1000000) AS BIGINT)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** T27: Unicode normalization + mojibake-class repair — the ftfy-style
    * pass a raw crawl runs BEFORE any hash-based operator (t8
    * fingerprints, d1-d3 shingles, m20 features all split "café" from
    * its NFD spelling without it): NFC-normalize (native codegen
    * [[graft.expressions.NfcNormalize]], quick-check fast path), then
    * line-ending canonicalization (CRLF/CR → LF), zero-width removal
    * (ZWSP/ZWNJ/ZWJ/BOM), NBSP/tab → space, remaining C0/DEL control
    * strip, space-run collapse, trim.
    *
    * The fixtures are pure printable ASCII, so per the x1/x2/x4 doctrine
    * the query SYNTHESIZES a deterministic messy prefix (combining
    * acute, NBSP, ZWSP, BEL, CRLF, tab) onto each document first — that
    * projection is not the operator under test — and then runs the real
    * repair chain. JDK `Normalizer` and DuckDB `nfc_normalize` are both
    * UAX #15, so the twin is value-exact, including the char-count
    * deltas.
    *
    * Scale: per-row scalar chain, map-only, whole-stage codegen end to
    * end (the NFC expression generates a static call); zero shuffle at
    * any corpus size. `clean` is referenced twice in the output
    * projection (value + length) — shared by per-operator subexpression
    * elimination, the x2 xml_fields precedent.
    */
  def t27UnicodeClean(s: SparkSession, dir: String): DataFrame = {
    val messy = concat(
      // NFD e + combining acute, NBSP, ZWSP, BEL, CRLF, tab — every
      // repair class the chain below must fix, spelled as escapes so the
      // source stays ASCII and an editor can't silently re-compose the NFD
      lit("Cafe\u0301 \u00a0No\u200bBreak\u0007\r\nLine2\t"),
      substring(col("text"), 1, 40))
    val clean = {
      val n1 = expr("nfc_normalize(messy)")
      val n2 = regexp_replace(n1, "\\r\\n?", "\n")
      val n3 = regexp_replace(n2, "[\u200b\u200c\u200d\ufeff]", "")
      val n4 = regexp_replace(n3, "[\u00a0\t]", " ")
      val n5 = regexp_replace(n4, "[\u0000-\u0008\u000b\u000c\u000e-\u001f\u007f]", "")
      trim(regexp_replace(n5, " {2,}", " "))
    }
    Tables.documents(s, dir)
      .select(col("doc_id"), messy.as("messy"))
      .select(col("doc_id"), clean.as("clean"),
        (length(col("messy")) - length(clean)).as("chars_fixed"))
      .orderBy(col("doc_id"))
  }

  val t27Sql: String =
    """WITH messy AS (
      |  SELECT doc_id,
      |    'Cafe' || chr(769) || ' ' || chr(160) || 'No' || chr(8203) ||
      |    'Break' || chr(7) || chr(13) || chr(10) || 'Line2' || chr(9) ||
      |    substr(text, 1, 40) AS messy
      |  FROM documents
      |), cleaned AS (
      |  SELECT doc_id, messy,
      |    trim(regexp_replace(
      |      regexp_replace(
      |        regexp_replace(
      |          regexp_replace(
      |            regexp_replace(nfc_normalize(messy), '\r\n?', chr(10), 'g'),
      |            '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g'),
      |          '[\x{A0}\t]', ' ', 'g'),
      |        '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}]', '', 'g'),
      |      ' {2,}', ' ', 'g'), ' ') AS clean
      |  FROM messy
      |)
      |SELECT doc_id, clean, length(messy) - length(clean) AS chars_fixed
      |FROM cleaned ORDER BY doc_id""".stripMargin

  /** T28: compression-ratio quality signal — DEFLATE the text and score
    * z_bytes/n_bytes (native [[graft.expressions.DeflateLen]]): template
    * and boilerplate pages compress far below natural prose, giving the
    * cheap language-agnostic junk detector production curation stacks
    * run next to t22's Gopher and t25's C4 batteries. Map-only, zero
    * shuffle, whole-stage codegen; rows-only check (zlib output is a
    * heuristic feature, not a portable checksum — the spec pins the
    * ordering properties the filter actually relies on).
    */
  def t28CompressRatio(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        expr("deflate_len(text)").as("z_bytes"))
      .select(col("doc_id"), col("n_bytes"), col("z_bytes"),
        round(col("z_bytes") / col("n_bytes"), 6).as("ratio"))
      .orderBy(col("doc_id"))

  /** Minimum DISTINCT documents (same source) sharing a paragraph before
    * [[t29Boilerplate]] calls it boilerplate.
    */
  val T29MinDocs = 2

  /** T29: per-source boilerplate detection — the WET-extraction cleanup
    * CCNet/RefinedWeb run BEFORE global dedup: a paragraph repeated
    * across [[T29MinDocs]]+ distinct documents of the SAME source is a
    * site template (header/footer/cookie banner), not content. Differs
    * from t19 (which drops any globally repeated span, keeping the first
    * copy) by keying on (source, paragraph) and flagging EVERY copy —
    * the template is junk in all of them. Emits the per-document audit
    * view (n_paras, n_boiler, boiler_frac) a curation pipeline filters
    * or strips on. Paragraphs are t19's fixed 16-token windows (the
    * fixture has no newline structure — same convention).
    *
    * 100 TB shape: slicing and digests are map-only; the detection agg
    * shuffles (source, digest, doc_id) triples with map-side-combined
    * distinct-counts; the flag joins back digest-to-digest — text never
    * rides any exchange. Per-source keying also bounds skew: each
    * site's template space is independent, so a 1000-executor run
    * processes sources in parallel (and a single hot source salts like
    * q27 if ever needed).
    */
  def t29Boilerplate(s: SparkSession, dir: String): DataFrame = {
    val P = 16
    val paras = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), tokenize(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0),
          floor((size(col("t")) - 1) / P.toDouble).cast("int"))).as("idx"),
        col("t"))
      .select(col("doc_id"), col("source"), col("idx"),
        md5(array_join(slice(col("t"), col("idx") * P + 1, lit(P)), " ")).as("h"))
    val boiler = paras.groupBy(col("source"), col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= T29MinDocs)
      .select(col("source"), col("h"), lit(1).as("isb"))
    paras.join(boiler, Seq("source", "h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("isb").isNotNull, 1L).otherwise(0L)).as("n_boiler"))
      .select(col("doc_id"), col("n_paras"), col("n_boiler"),
        round(col("n_boiler") / col("n_paras"), 6).as("boiler_frac"))
      .orderBy(col("doc_id"))
  }

  val t29Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, source,
      |    string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS t
      |  FROM documents
      |), ids AS (
      |  SELECT doc_id, source, unnest(range(0, (len(t) - 1) // 16 + 1)) AS idx, t
      |  FROM toks WHERE len(t) > 0
      |), paras AS (
      |  SELECT doc_id, source, idx,
      |    md5(array_to_string(t[idx*16 + 1 : idx*16 + 16], ' ')) AS h
      |  FROM ids
      |), boiler AS (
      |  SELECT source, h FROM paras
      |  GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= $T29MinDocs
      |), flagged AS (
      |  SELECT p.doc_id, CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END AS isb
      |  FROM paras p LEFT JOIN boiler b ON b.source = p.source AND b.h = p.h
      |)
      |SELECT doc_id, count(*)::BIGINT AS n_paras, sum(isb)::BIGINT AS n_boiler,
      |  round(sum(isb) / count(*), 6) AS boiler_frac
      |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** T30: shard manifest — the WebDataset/MDS-style index a training
    * loader consumes: one row per (source, t15 pack bin) with doc/token
    * counts, the id range, and an ORDER-INDEPENDENT content checksum
    * (bit_xor of per-doc native fnv64 digests — xor commutes, so the
    * checksum is stable under any partitioning/retry order, and any
    * single-document corruption flips it). Reproducible-data-loading
    * doctrine: a loader re-reading a shard recomputes the xor and
    * rejects on mismatch without ordering guarantees.
    *
    * 100 TB shape: digests and token counts are map-only in the scan
    * projection (text never rides an exchange); the pack window is
    * per-source (t15's doctrine); the manifest agg map-side combines
    * counts and xors into |shards| rows — driver-sized output.
    */
  def t30ShardManifest(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(filter(split(col("text"), " "), x => x =!= "")).as("ntok"),
        expr("fnv64(text)").as("dg"))
      .withColumn("bin",
        floor((sum(col("ntok")).over(w) - col("ntok")) / lit(512.0)))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("n_tokens"),
        expr("bit_xor(dg)").as("checksum"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("bin"))
  }

  val t30Sql: String =
    """WITH t AS (
      |  SELECT doc_id, source, text,
      |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS ntok
      |  FROM documents
      |), w AS (
      |  SELECT doc_id, source, text, ntok,
      |    CAST(floor((CAST(sum(ntok) OVER (PARTITION BY source ORDER BY doc_id
      |           ROWS UNBOUNDED PRECEDING) AS BIGINT) - ntok) / 512.0::DOUBLE)
      |         AS BIGINT) AS bin
      |  FROM t
      |), h AS (
      |  SELECT doc_id, source, ntok, bin,
      |    list_reduce(list_prepend(14695981039346656037::HUGEINT,
      |       list_transform(range(1, length(text)+1), i -> ord(substr(text, i, 1))::HUGEINT)),
      |     (h, c) -> ((h - h % 256 + xor((h % 256)::BIGINT, c::BIGINT)::HUGEINT)
      |                * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS hu
      |  FROM w
      |)
      |SELECT source, bin, count(*)::BIGINT AS n_docs, sum(ntok)::BIGINT AS n_tokens,
      |  CASE WHEN bit_xor(hu) >= 9223372036854775808::HUGEINT
      |       THEN (bit_xor(hu) - 18446744073709551616::HUGEINT)::BIGINT
      |       ELSE bit_xor(hu)::BIGINT END AS checksum,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM h GROUP BY 1, 2 ORDER BY source, bin""".stripMargin

  /** T31: per-domain quota sampling — cap any single source's share of
    * the corpus at [[T31Cap]] docs, selected by the deterministic
    * md5-bucket coin (q26/t17's device: a pure row function, so the
    * same docs survive across retries and repartitioning). The
    * single-domain-dominance cap is a standard curation rule — a crawl
    * where one domain contributes half the corpus trains a model on
    * that domain's boilerplate (RefinedWeb/Dolma-class pipelines cap
    * exactly this way).
    *
    * 100 TB shape: the bounded [[graft.functions.TopKAggregator]]
    * keyed by source — each partition map-side-combines down to ≤cap
    * rows per source BEFORE the shuffle, so the exchange carries
    * |sources| × partitions × cap rows. The window-rank formulation the
    * oracle uses would shuffle every row of the dominant domain into
    * one partition — precisely the skew this operator exists to manage.
    */
  val T31Cap = 20
  def t31DomainCap(s: SparkSession, dir: String): DataFrame = {
    val coin = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), (-coin.cast("double")).as("score"))
      .groupBy(col("source"))
      .agg(graft.functions.TopK.topK(T31Cap)(col("score"), col("doc_id")).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("source"), (col("r") + 1).cast("long").as("rank"),
        col("t.id").as("doc_id"))
      .orderBy(col("source"), col("rank"))
  }

  val t31Sql: String =
    s"""WITH c AS (
       |  SELECT source, doc_id,
       |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT AS coin
       |  FROM documents
       |), r AS (
       |  SELECT source, doc_id,
       |    row_number() OVER (PARTITION BY source ORDER BY coin, doc_id) AS rank
       |  FROM c
       |)
       |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id FROM r
       |WHERE rank <= $T31Cap ORDER BY source, rank""".stripMargin

  // t32: sketch counters and the heavy threshold denominator — an item
  // is heavy when freq > n/T32Denom; the sketch's guarantee covers
  // everything above n/(T32K+1), a strictly wider net.
  val T32K = 200
  val T32Denom = 100L

  /** T32: exact heavy hitters via the two-pass Misra–Gries pattern —
    * "which tokens exceed 1% of the corpus" without shuffling the full
    * vocabulary. Pass 1: the mergeable
    * [[graft.functions.FreqSketchAggregator]] (≤ [[T32K]] counters per
    * partial, so the shuffle carries one k-entry map per partition)
    * plus the total count, in ONE ungrouped aggregate; every token with
    * true frequency > n/(k+1) is guaranteed present in the sketch under
    * any partitioning, and the threshold n/[[T32Denom]] sits strictly
    * above that, so the candidate set is provably complete. Pass 2:
    * exact counts for the ≤ k broadcast candidates only. Output is
    * therefore EXACT and deterministic — the oracle is the plain
    * HAVING-count query — while the vocabulary-sized groupBy an exact
    * one-pass answer needs never runs. (The same two-pass shape serves
    * frequent domains/URLs/n-grams at 100 TB.)
    */
  def t32HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    // fanOut: tokenize+explode is the scan-stage compute (t3's note).
    // The sketch's CANDIDATE set may vary with partitioning, but the
    // exact recount + threshold filter make the final rows provably
    // partition-independent (completeness above n/(k+1) holds under any
    // partitioning; sub-threshold extras are filtered exactly).
    val toks = Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select(explode(tokenize(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .cache() // two passes: sketch + total, then candidate recount
    val row = toks.agg(
      graft.functions.FreqSketch.freqSketch(T32K)(col("w")).as("sk"),
      count(lit(1)).as("n")).first()
    val n = row.getLong(1)
    val cands = row.getMap[String, Long](0).keys.toSeq
    toks.filter(col("w").isin(cands: _*))
      .groupBy(col("w")).agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") * T32Denom > n)
      .select(col("w").as("token"), col("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token"))
  }

  val t32Sql: String =
    s"""WITH toks AS (
       |  SELECT unnest(string_split_regex(
       |    regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+')) AS w
       |  FROM documents
       |), t AS (SELECT w FROM toks WHERE w <> ''),
       |nn AS (SELECT count(*)::BIGINT AS n FROM t)
       |SELECT w AS token, count(*)::BIGINT AS n_occurrences
       |FROM t GROUP BY w
       |HAVING count(*) * $T32Denom > (SELECT n FROM nn)
       |ORDER BY n_occurrences DESC, token""".stripMargin

  // t33 BM25 parameters (Robertson/Spärck Jones): the standard k1/b and
  // the Lucene-form idf ln(1 + (N−df+0.5)/(df+0.5)), which is positive
  // for every df. The query is a fixed term set — retrieval QUERIES are
  // tiny; the corpus is what scales.
  val T33K1 = 1.2
  val T33B = 0.75
  val T33Terms = Seq("filter", "hash", "vector")
  val T33TopK = 50

  /** T33: BM25 ranked retrieval — score every document against a fixed
    * query term set and return the top-[[T33TopK]]. The canonical
    * lexical-retrieval operator a curation pipeline runs for targeted
    * corpus slicing (pull the docs most about X) and for building
    * retrieval eval sets; s1's dense cosine top-k is its embedding twin.
    *
    * Scale shape: the explode is filtered to QUERY TERMS ONLY before any
    * shuffle (the isin predicate is a tiny broadcast-able literal set),
    * so the tf aggregate carries ≤ |terms| rows per doc, never the
    * vocabulary; df for the ≤ |terms| query terms comes from the same
    * frame and broadcasts back; the top-K is TakeOrderedAndProject. The
    * per-doc score folds the ≤ |terms| contributions in term-sorted
    * order (the m11 device), so the double sum is order-independent and
    * the DuckDB twin — same IEEE expression tree, constants carried via
    * round-trip literals — matches hash-exactly.
    */
  def t33Bm25(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"),
        filter(tokenize(col("text")), x => x =!= "").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        col("toks"))
    // corpus stats ride a broadcast 1-row cross-join, not a driver
    // .head() — a separate action would re-tokenize the whole corpus
    // (the m19/m26 shape doctrine); avgdl is the same IEEE division
    // (double sum / long count) the literal version computed
    val tot = base.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("w"))
      .filter(col("w").isin(T33Terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5))
    val contrib = idf * ((col("tf") * lit(T33K1 + 1)) /
      (col("tf") + lit(T33K1) *
        (lit(1 - T33B) + lit(T33B) * (col("dl") / col("avgdl")))))
    tf.join(broadcast(df), Seq("w"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("w"), contrib.as("c"))
      .groupBy(col("doc_id"))
      .agg(round(
        aggregate(
          transform(array_sort(collect_list(struct(col("w"), col("c")))),
            x => x.getField("c")),
          lit(0.0), (a, x) => a + x), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(T33TopK)
  }

  val t33Sql: String = {
    val terms = T33Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id,
       |    len(list_filter(string_split_regex(
       |      regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+'),
       |      x -> x <> ''))::BIGINT AS dl,
       |    list_filter(string_split_regex(
       |      regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+'),
       |      x -> x <> '') AS toks
       |  FROM documents
       |), nn AS (
       |  SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl
       |  FROM d
       |), fl AS (
       |  SELECT doc_id, dl, unnest(toks) AS w FROM d
       |), tf AS (
       |  SELECT doc_id, dl, w, count(*)::BIGINT AS tf FROM fl
       |  WHERE w IN ($terms) GROUP BY 1, 2, 3
       |), df AS (
       |  SELECT w, count(*)::BIGINT AS df FROM tf GROUP BY 1
       |), co AS (
       |  SELECT doc_id, w,
       |    ln(1.0 + ((SELECT n FROM nn) - df + 0.5) / (df + 0.5))
       |      * ((tf * CAST(${T33K1 + 1} AS DOUBLE)) / (tf + $T33K1 *
       |          (${1 - T33B} + $T33B * (dl / (SELECT avgdl FROM nn))))) AS c
       |  FROM tf JOIN df USING (w)
       |)
       |SELECT doc_id,
       |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list(c ORDER BY w)), (a, x) -> a + x), 6) AS bm25
       |FROM co GROUP BY doc_id
       |ORDER BY bm25 DESC, doc_id LIMIT $T33TopK""".stripMargin
  }

  // t34 zone-map parameters: shard width (docs per shard in arrival
  // layout / chars per shard in the range layout) and the probe range.
  val T34ShardDocs = 32L
  val T34CharsWidth = 50L
  val T34Lo = 150L
  val T34Hi = 250L

  /** T34: zone-map shard pruning audit — for two physical layouts of the
    * same corpus, compute each shard's min/max statistics on the probe
    * column and the pruning decision a reader would make for the range
    * predicate n_chars ∈ [[[T34Lo]], [[T34Hi]]]. Layout `arrival` shards
    * by ingestion order (doc_id ranges — what a naive append-only writer
    * produces); layout `by_nchars` shards by value range (n_chars DIV
    * width — what a sort-keyed / range-partitioned write produces). This
    * is the parquet row-group min/max + file-footer pruning mechanics
    * made first-class: at 100 TB the difference between the two layouts
    * is whether a selective range scan reads every file or 2% of them,
    * and this operator MEASURES it (kept-shard fraction per layout)
    * instead of asserting it. `n_match` is the true per-shard match
    * count, so false-keep shards (kept but zero matches) are visible —
    * the clustering-quality signal (Delta OPTIMIZE ZORDER's motivating
    * metric).
    *
    * Scale shape: shard assignment is a pure row function of the
    * arrival key / probe value (map-side, no sort, no window); the audit
    * is one map-side-combined aggregate to |shards| rows per layout.
    * All columns integer-exact.
    */
  def t34ZonePrune(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"))
    def audit(layout: String, shard: org.apache.spark.sql.Column): DataFrame =
      d.groupBy(shard.as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_nc"),
          max(col("n_chars")).as("max_nc"),
          sum(when(col("n_chars").between(T34Lo, T34Hi), 1L).otherwise(0L))
            .as("n_match"))
        .select(lit(layout).as("layout"), col("shard"), col("n_docs"),
          col("min_nc"), col("max_nc"),
          (col("max_nc") >= T34Lo && col("min_nc") <= T34Hi)
            .cast("int").as("kept"),
          col("n_match"))
    audit("arrival", expr(s"doc_id DIV $T34ShardDocs"))
      .unionByName(audit("by_nchars", expr(s"n_chars DIV $T34CharsWidth")))
      .orderBy(col("layout"), col("shard"))
  }

  val t34Sql: String = {
    def one(layout: String, shard: String) =
      s"""SELECT '$layout' AS layout, $shard AS shard,
         |  count(*)::BIGINT AS n_docs,
         |  min(n_chars)::BIGINT AS min_nc, max(n_chars)::BIGINT AS max_nc,
         |  CAST(max(n_chars) >= $T34Lo AND min(n_chars) <= $T34Hi AS INT) AS kept,
         |  count(*) FILTER (n_chars BETWEEN $T34Lo AND $T34Hi)::BIGINT AS n_match
         |FROM documents GROUP BY 2""".stripMargin
    one("arrival", s"doc_id // $T34ShardDocs") + "\nUNION ALL\n" +
      one("by_nchars", s"n_chars // $T34CharsWidth") +
      "\nORDER BY layout, shard"
  }

  // t35 per-paragraph gate thresholds — every rule sits on an integer
  // grid (uniq·2 ≥ cnt; 2·cnt ≤ sumlen ≤ 12·cnt) so the classification
  // is exact in any engine, the x5 doctrine applied within documents.
  val T35MinTok = 4

  /** T36: paragraph-level quality gate — classify each 16-token window
    * (t19's paragraph convention) with three integer-exact rules
    * (length ≥ [[T35MinTok]], unique-token ratio ≥ ½, mean token length
    * in [2, 12]) and reassemble the document from surviving paragraphs
    * only. The FineWeb-Edu/jusText refinement of DOC-level filtering:
    * t10/t22/t25 drop whole documents, but a mostly-good page with one
    * garbage block (a pasted log, a repeated-token run) should lose the
    * BLOCK — at 100 TB this recovers the long tail of documents a
    * doc-level gate throws away. x5 removes structural chrome at parse
    * time; t35 removes degenerate text blocks after it.
    *
    * Scale shape: the window explode and the three rules are per-row
    * scalar work fused into the scan; the only shuffle is t19's
    * reassembly groupBy (doc-keyed, map-side combined, paragraphs ride
    * as (idx, text) pairs). Everything integer until nothing — there
    * are no doubles in this operator at all, so the twin hash-matches
    * by construction.
    */
  def t35ParaQuality(s: SparkSession, dir: String): DataFrame = {
    val P = 16
    val paraTokens = slice(col("t"), col("idx") * P + 1, lit(P))
    val paras = Tables.documents(s, dir)
      .select(col("doc_id"), tokenize(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0),
          floor((size(col("t")) - 1) / P.toDouble).cast("int"))).as("idx"))
      .select(col("doc_id"), col("idx"), paraTokens.as("ptoks"))
    val cnt = size(col("ptoks"))
    val uniq = size(array_distinct(col("ptoks")))
    val sumlen = aggregate(transform(col("ptoks"), t => length(t)),
      lit(0), (a, x) => a + x)
    val pass = cnt >= T35MinTok && uniq * 2 >= cnt &&
      sumlen >= cnt * 2 && sumlen <= cnt * 12
    val flagged = paras.select(col("doc_id"), col("idx"),
      array_join(col("ptoks"), " ").as("para"), pass.as("ok"))
    flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            filter(array_sort(collect_list(
              struct(col("idx"), col("ok"), col("para")))),
              x => x.getField("ok")),
            x => x.getField("para")), " ").as("body"))
      .orderBy(col("doc_id"))
  }

  val t35Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS t
       |  FROM documents
       |), ids AS (
       |  SELECT doc_id, unnest(range(0, (len(t) - 1) // 16 + 1)) AS idx, t
       |  FROM toks WHERE len(t) > 0
       |), paras AS (
       |  SELECT doc_id, idx, t[idx*16 + 1 : idx*16 + 16] AS ptoks
       |  FROM ids
       |), cls AS (
       |  SELECT doc_id, idx, array_to_string(ptoks, ' ') AS para,
       |    len(ptoks) >= $T35MinTok
       |    AND len(list_distinct(ptoks)) * 2 >= len(ptoks)
       |    AND list_reduce(list_prepend(0::BIGINT,
       |          list_transform(ptoks, x -> length(x)::BIGINT)), (a, x) -> a + x)
       |        BETWEEN len(ptoks) * 2 AND len(ptoks) * 12 AS ok
       |  FROM paras
       |)
       |SELECT doc_id, count(*) AS n_paras,
       |  count(*) FILTER (ok)::BIGINT AS n_kept,
       |  coalesce(string_agg(para, ' ' ORDER BY idx) FILTER (ok), '') AS body
       |FROM cls GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val queries: ListMap[String, Q] = ListMap(
    "t1_clean_chain" -> (t1CleanChain _),
    "t2_word_count" -> (t2WordCount _),
    "t3_clean_text" -> (t3CleanText _),
    "t4_contains_filter" -> (t4ContainsFilter _),
    "t5_na_drop" -> (t5NaDrop _),
    "t6_url_category" -> (t6UrlCategory _),
    "t7_paragraph_join" -> (t7ParagraphJoin _),
    "t8_fingerprint" -> (t8Fingerprint _),
    "t9_token_count" -> (t9TokenCount _),
    "t10_quality_score" -> (t10QualityScore _),
    "t11_lang_id" -> (t11LangId _),
    "t12_pos_lemma" -> (t12PosLemma _),
    "t13_pii_redact" -> (t13PiiRedact _),
    "t14_repetition" -> (t14Repetition _),
    "t15_seq_pack" -> (t15SeqPack _),
    "t16_chunk" -> (t16Chunk _),
    "t17_bpe_token_count" -> (t17BpeTokenCount _),
    "t18_token_stats" -> (t18TokenStats _),
    "t19_paragraph_dedup" -> (t19ParagraphDedup _),
    "t20_quality_sample" -> (t20QualitySample _),
    "t21_dsir_weights" -> (t21DsirWeights _),
    "t22_gopher_filter" -> (t22GopherFilter _),
    "t23_leakage_safe_split" -> (t23LeakageSafeSplit _),
    "t24_gram_novelty" -> (t24GramNovelty _),
    "t25_c4_filter" -> (t25C4Filter _),
    "t26_mix_sample" -> (t26MixSample _),
    "t27_unicode_clean" -> (t27UnicodeClean _),
    "t28_compress_ratio" -> (t28CompressRatio _),
    "t29_boilerplate" -> (t29Boilerplate _),
    "t30_shard_manifest" -> (t30ShardManifest _),
    "t31_domain_cap" -> (t31DomainCap _),
    "t32_heavy_hitters" -> (t32HeavyHitters _),
    "t33_bm25" -> (t33Bm25 _),
    "t34_zone_prune" -> (t34ZonePrune _),
    "t35_para_quality" -> (t35ParaQuality _),
  )

  val oracle: ListMap[String, String] = ListMap(
    "t1_clean_chain" -> t1Sql,
    "t2_word_count" -> t2Sql,
    "t3_clean_text" -> t3Sql,
    "t4_contains_filter" -> t4Sql,
    "t5_na_drop" -> t5Sql,
    "t6_url_category" -> t6Sql,
    "t7_paragraph_join" -> t7Sql,
    "t8_fingerprint" -> t8Sql,
    "t9_token_count" -> t9Sql,
    "t10_quality_score" -> t10Sql,
    "t11_lang_id" -> t11Sql,
    "t12_pos_lemma" -> t12Sql,
    "t13_pii_redact" -> t13Sql,
    "t14_repetition" -> t14Sql,
    "t15_seq_pack" -> t15Sql,
    "t16_chunk" -> t16Sql,
    "t17_bpe_token_count" -> t17Sql,
    "t18_token_stats" -> t18Sql,
    "t19_paragraph_dedup" -> t19Sql,
    "t20_quality_sample" -> t20Sql,
    "t21_dsir_weights" -> t21Sql,
    "t22_gopher_filter" -> t22Sql,
    "t23_leakage_safe_split" -> t23Sql,
    "t24_gram_novelty" -> t24Sql,
    "t25_c4_filter" -> t25Sql,
    "t26_mix_sample" -> t26Sql,
    "t27_unicode_clean" -> t27Sql,
    "t29_boilerplate" -> t29Sql,
    "t30_shard_manifest" -> t30Sql,
    "t31_domain_cap" -> t31Sql,
    "t32_heavy_hitters" -> t32Sql,
    "t33_bm25" -> t33Sql,
    "t34_zone_prune" -> t34Sql,
    "t35_para_quality" -> t35Sql,
  )

  lazy val t12Sql: String =
    "WITH toks AS (\n  SELECT doc_id, " + OracleSql.cleanTokens +
      " AS ct\n  FROM documents\n), lem AS (\n  SELECT doc_id,\n  " +
      graft.functions.PosLemma.oracleSql("ct") + " AS ws\n  FROM toks\n)\n" +
      """SELECT doc_id, array_to_string(ws, ' ') AS article_clean,
        |  len(ws)::INT AS n_words_clean
        |FROM lem ORDER BY doc_id""".stripMargin
}
