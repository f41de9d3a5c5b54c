package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.ListMap

/** Multimodal-column operators for a training-data pipeline: media
  * payloads as opaque BINARY columns with a typed metadata struct,
  * partition-wise batch decode / feature extraction / frame sampling.
  *
  * The image decode is REAL: png/jpeg payloads go through
  * `javax.imageio` (in-JDK, works headless) inside the mapPartitions
  * batch pass, emitting (width, height, mean luma). Payloads that are
  * not actual media — the fixture synthesizes text bytes, and magic-
  * byte detection can never mistake ASCII for PNG/JPEG — fall back to
  * the deterministic byte-histogram features, which keeps mm1's oracle
  * SQL-twinnable; MultimodalSpec injects genuine encoded frames and
  * asserts decoded dimensions. Audio decode is REAL too: mm7 parses
  * RIFF/WAVE PCM through javax.sound.sampled (in-JDK, like imageio)
  * with the same sniff-or-fallback contract. Everything Spark-side is
  * real and tested: the binary column representation, the metadata
  * struct schema, the mapPartitions batch shape (the Scala analog of
  * mapInPandas: one iterator pass per partition, amortizing per-batch
  * decoder setup), and the downstream relational handling of the
  * extracted features.
  *
  * Scale: payloads never shuffle — features are extracted map-side and
  * only the small feature vectors/metadata flow into joins/aggregates.
  */
object Multimodal {

  type Q = (SparkSession, String) => DataFrame

  /** The media table: fixture text re-encoded as a binary payload with
    * deterministic metadata (the synthesis stands in for reading real
    * image/audio bytes; schema and plumbing are the operator).
    */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    mediaTableOf(Tables.documents(s, dir))

  /** [[mediaTable]]'s synthesis over an arbitrary documents frame — the
    * single definition of the payload/format mapping, so the media-gate
    * scale receipts built from replicated documents (SCALING.md rounds
    * 13–17) measured the exact workload the production gate sees.
    */
  def mediaTableOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        when(col("doc_id") % 3 === 0, lit("png"))
          .when(col("doc_id") % 3 === 1, lit("jpeg"))
          .otherwise(lit("wav")).as("format"),
        (col("n_chars") % 640).cast("int").as("width"),
        (col("n_chars") % 480).cast("int").as("height"),
        (length(col("text")) / 100).cast("int").as("n_frames")
      ).as(("meta")))

  private val featureSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("format", StringType),
    StructField("features", ArrayType(DoubleType))))

  /** Fallback features for payloads that are not decodable media (and
    * for wav, which the JDK has no codec for): deterministic 8-bucket
    * byte histogram, L1-normalized — the SQL-twinnable path mm1's
    * oracle replays via codepoints.
    */
  private def byteHistogramFeatures(payload: Array[Byte]): Array[Double] = {
    val hist = new Array[Double](8)
    var i = 0
    while (i < payload.length) {
      hist((payload(i) & 0xff) >> 5) += 1.0
      i += 1
    }
    val n = math.max(1.0, payload.length.toDouble)
    hist.map(v => v / n)
  }

  /** REAL image decode via javax.imageio: parses the payload's actual
    * encoded pixels and emits [width, height, mean luma in 0..1]
    * (ITU-R 601 weights). Returns None when no registered reader
    * recognizes the bytes — magic-byte sniffing, so non-media payloads
    * cost a header probe, never a parse. Memory-cache only (no temp
    * files on executors).
    */
  private[queries] def imageDecode(payload: Array[Byte]): Option[Array[Double]] = {
    javax.imageio.ImageIO.setUseCache(false)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    if (img == null) None
    else {
      val w = img.getWidth
      val h = img.getHeight
      var sum = 0.0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          sum += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
            0.114 * (rgb & 0xff)
          x += 1
        }
        y += 1
      }
      Some(Array(w.toDouble, h.toDouble, sum / (w.toLong * h * 255.0)))
    }
  }

  /** The mm1 batch pass over any (media_id, payload, meta.format) frame:
    * one iterator per partition, image payloads through [[imageDecode]],
    * everything else (and undecodable bytes) through the histogram
    * fallback. MultimodalSpec drives this with genuine PNG/JPEG frames.
    */
  private[queries] def featureFrame(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(featureSchema)
    media
      .select(col("media_id"), col("payload"), col("meta.format").as("format"))
      .mapPartitions { rows =>
        // per-partition decoder setup goes here (once, not per row);
        // ImageIO's reader registry is scanned lazily per JVM
        rows.map { r =>
          val id = r.getLong(0)
          // null payload (null source text) → empty media, zero features
          val payload = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
          val fmt = r.getString(2)
          val feats =
            if (fmt == "png" || fmt == "jpeg")
              imageDecode(payload).getOrElse(byteHistogramFeatures(payload))
            else byteHistogramFeatures(payload)
          Row(id, fmt, feats.toSeq)
        }
      }(enc)
  }

  /** MM1: partition-wise batch feature extraction over binary payloads —
    * mapPartitions so the decoder initializes once per partition (the
    * Scala analog of mapInPandas' batch shape), then features
    * aggregated per format. Value-checked: the fixture's synthesized
    * payloads are text bytes, which no image reader's magic-byte sniff
    * accepts, so every row takes the histogram fallback — reproducible
    * in SQL via codepoints because the fixture text is pure ASCII (max
    * codepoint 121, so UTF-8 bytes == codepoints — verified at
    * sf0.01/sf0.1; a non-ASCII corpus would need the oracle dropped,
    * not the operator changed). MultimodalSpec pins the histogram math,
    * the batch behavior, and the REAL decode path on injected frames.
    */
  def mm1MediaFeatures(s: SparkSession, dir: String): DataFrame = {
    featureFrame(mediaTable(s, dir))
      .select(col("media_id"), col("format"),
        round(aggregate(col("features"), lit(0.0), (a, x) => a + x * x), 6).as("energy"))
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_media"),
        round(avg(col("energy")), 6).as("avg_energy"))
      .orderBy(col("format"))
  }

  /** MM2: frame sampling — every k-th frame index from the metadata
    * frame count (a real video pipeline samples frames the same way; the
    * frame PAYLOAD slice is stubbed as a byte range). Demonstrates
    * metadata-driven explode without touching payload bytes until the
    * sampled frames are selected.
    */
  def mm2FrameSample(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir)
      .filter(col("meta.format") === "wav" && col("meta.n_frames") >= 4)
      .select(col("media_id"), col("meta.n_frames").as("n_frames"),
        explode(sequence(lit(0), col("meta.n_frames") - 1, lit(4))).as("frame_idx"))
      .select(col("media_id"), col("frame_idx"),
        // stubbed frame payload slice: 100 "samples" per frame
        (col("frame_idx") * 100).as("offset"))
      .orderBy(col("media_id"), col("frame_idx"))

  /** MM3: resize planning — aspect-preserving target dimensions fitting a
    * 224×224 budget, from metadata alone (integer arithmetic, so the
    * oracle is exact). A real resize kernel consumes (payload, tw, th)
    * inside the mm1 mapPartitions batch shape; planning dims relationally
    * first means the pixel pass touches each payload exactly once and
    * payloads still never shuffle. out_bytes = tw·th·3 is the stubbed
    * RGB decode size a batch scheduler would pack buffers by.
    */
  def mm3ResizePlan(s: SparkSession, dir: String): DataFrame = {
    val w = greatest(col("meta.width").cast("long"), lit(1L))
    val h = greatest(col("meta.height").cast("long"), lit(1L))
    val side = greatest(w, h)
    val tw = greatest(floor(w * 224 / side), lit(1L))
    val th = greatest(floor(h * 224 / side), lit(1L))
    mediaTable(s, dir)
      .filter(col("meta.format") =!= "wav")
      .select(col("media_id"), w.as("w"), h.as("h"),
        tw.as("target_w"), th.as("target_h"),
        (tw * th * 3).as("out_bytes"))
      .orderBy(col("media_id"))
  }

  val mm3Sql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    greatest(n_chars % 640, 1) AS w, greatest(n_chars % 480, 1) AS h
      |  FROM documents WHERE doc_id % 3 <> 2
      |)
      |SELECT media_id, w, h,
      |  greatest(w * 224 // greatest(w, h), 1) AS target_w,
      |  greatest(h * 224 // greatest(w, h), 1) AS target_h,
      |  greatest(w * 224 // greatest(w, h), 1)
      |    * greatest(h * 224 // greatest(w, h), 1) * 3 AS out_bytes
      |FROM m ORDER BY media_id""".stripMargin

  val mm1Sql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'png'
      |         WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'wav' END AS format,
      |    list_transform(range(1, length(text)+1), i -> ord(substr(text, i, 1)) // 32) AS bs,
      |    greatest(1.0::DOUBLE, length(text)::DOUBLE) AS n
      |  FROM documents
      |), feats AS (
      |  SELECT doc_id, format,
      |    list_transform(range(0, 8), b -> len(list_filter(bs, o -> o = b))::DOUBLE / n) AS fs
      |  FROM f
      |), energy AS (
      |  SELECT doc_id, format,
      |    round(list_reduce(list_transform(fs, x -> x * x), (a, x) -> a + x), 6) AS energy
      |  FROM feats
      |)
      |SELECT format, count(*) AS n_media, round(avg(energy), 6) AS avg_energy
      |FROM energy GROUP BY format ORDER BY format""".stripMargin

  val mm2Sql: String =
    """SELECT doc_id AS media_id, frame_idx, frame_idx * 100 AS offset
      |FROM (
      |  SELECT doc_id, unnest(range(0, len(text) // 100, 4)) AS frame_idx
      |  FROM documents
      |  WHERE doc_id % 3 = 2 AND len(text) // 100 >= 4
      |)
      |ORDER BY media_id, frame_idx""".stripMargin

  /** MM4: modality-mix accounting — the dataset-card numbers for a
    * multimodal corpus (items, payload bytes, mean size per modality)
    * and the input to capacity planning / storage budgeting. STRICTLY
    * metadata-only: the aggregation reads `length(payload)` and the
    * format tag, never decodes, and the shuffle carries |formats|
    * partial rows — payloads stay where they were written, same as
    * mm1-mm3's planning passes.
    */
  def mm4ModalityMix(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir)
      .select(col("meta.format").as("format"),
        length(col("payload")).cast("long").as("bytes"))
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("bytes")).as("total_bytes"),
        round(avg(col("bytes")), 6).as("avg_bytes"))
      .orderBy(col("format"))

  val mm4Sql: String =
    """SELECT
      |  CASE WHEN doc_id % 3 = 0 THEN 'png'
      |       WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'wav' END AS format,
      |  count(*) AS n_items,
      |  sum(octet_length(encode(text)))::BIGINT AS total_bytes,
      |  round(avg(octet_length(encode(text))), 6) AS avg_bytes
      |FROM documents GROUP BY 1 ORDER BY format""".stripMargin

  /** 128-bit unsigned comparison a·b > c·d for non-negative operands —
    * the cross-multiplication guard both aHash variants compare means
    * with. Math.multiplyHigh gives the exact high 64 bits, so the test
    * never overflows: a 1.5 GB payload's cs·L (~4L² ≈ 2⁶²·4) or a
    * 100-megapixel image's luma-1000 products, which silently wrap a
    * plain Long multiply and would flip hash bits, compare exactly
    * here. (The DuckDB twin's BIGINT `cs * L` is only exercised on
    * fixture-sized payloads, far inside the 64-bit range where the two
    * agree; DuckDB errors loudly on overflow rather than wrapping.)
    */
  private[queries] def mulCmpGt(a: Long, b: Long, c: Long, d: Long): Boolean = {
    val hi1 = Math.multiplyHigh(a, b); val lo1 = a * b
    val hi2 = Math.multiplyHigh(c, d); val lo2 = c * d
    if (hi1 != hi2) hi1 > hi2 else java.lang.Long.compareUnsigned(lo1, lo2) > 0
  }

  /** 64-bit blockwise average-hash over raw payload bytes — the aHash
    * device applied at the byte level: chunk the payload into 64 blocks
    * (byte i → block i·64/L, the surjective index map both engines
    * compute in integers), bit k = block k's mean byte > global mean
    * byte. The comparison is the integer cross-multiplication
    * cs·L > gsum·clen via [[mulCmpGt]] (exact at any payload size), so
    * no float ever enters the hash — bit-exact in any engine.
    * Near-identical payloads (small in-place edits) disagree in at most
    * the touched blocks; identical payloads collide exactly.
    */
  private[queries] def byteAHash(payload: Array[Byte]): String = {
    val L = payload.length
    val cs = new Array[Long](64)
    val clen = new Array[Long](64)
    var gsum = 0L
    var i = 0
    while (i < L) {
      val k = (i.toLong * 64 / L).toInt
      val b = (payload(i) & 0xff).toLong
      cs(k) += b; clen(k) += 1; gsum += b
      i += 1
    }
    val sb = new StringBuilder(64)
    var k = 0
    while (k < 64) {
      sb.append(if (mulCmpGt(cs(k), L, gsum, clen(k))) '1' else '0')
      k += 1
    }
    sb.toString
  }

  /** 64-bit perceptual average-hash for DECODED images: 8×8 grid over
    * the pixel plane (pixel (x,y) → cell (y·8/h, x·8/w)), per-cell
    * integer luma-1000 sums (299r+587g+114b), bit = cell mean > global
    * mean via the same integer cross-multiplication as [[byteAHash]].
    * Row-major bit order. This is the real aHash of Krawetz's
    * "kind of like that" family, minus the downsample interpolation
    * (block means ARE the downsample). Spec-covered (no SQL twin can
    * decode pixels); the fixture's text payloads never reach it.
    */
  private[queries] def imageAHash(img: java.awt.image.BufferedImage): String = {
    val w = img.getWidth; val h = img.getHeight
    val cs = new Array[Long](64)
    val clen = new Array[Long](64)
    var gsum = 0L
    var y = 0
    while (y < h) {
      val gy = (y.toLong * 8 / h).toInt
      var x = 0
      while (x < w) {
        val gx = (x.toLong * 8 / w).toInt
        val rgb = img.getRGB(x, y)
        val luma = 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
          114L * (rgb & 0xff)
        val k = gy * 8 + gx
        cs(k) += luma; clen(k) += 1; gsum += luma
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    val sb = new StringBuilder(64)
    var k = 0
    while (k < 64) {
      // 128-bit compare: near 100 MP, cs·n ≈ 4e19 wraps a Long multiply
      sb.append(if (mulCmpGt(cs(k), n, gsum, clen(k))) '1' else '0')
      k += 1
    }
    sb.toString
  }

  private val phashSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("phash", StringType)))

  /** MM5: perceptual-hash duplicate detection over media payloads — the
    * image-dedup stage of a multimodal curation pipeline (LAION-style
    * corpora dedup by exactly this family of 64-bit hashes). Payloads
    * ≥64 bytes are hashed partition-wise (mm1's mapPartitions batch
    * shape: real images through decode→[[imageAHash]], everything else
    * through [[byteAHash]] — the fixture's text payloads always take
    * the byte path, which keeps the oracle SQL-twinnable via codepoints
    * on the pure-ASCII fixture); duplicate groups are then a hash
    * groupBy. Output: every media item with its hash, its group size,
    * and the dup flag.
    *
    * 100 TB shape: hashing is map-only and payloads never shuffle — the
    * groupBy carries (64-char hash, media_id) pairs only; group counts
    * join back by hash (map-side combined count, then a keyed join on
    * the hash — the t8/t19 linear exact-dedup shape). Hamming-radius
    * matching at scale composes d3's pigeonhole band join over these
    * same hashes; exact-collision grouping is the LAION production
    * default and what's oracle-checked here.
    */
  /** The (media_id, phash) frame mm5/mm6 share: payloads ≥64 bytes
    * hashed partition-wise — real images through decode→[[imageAHash]],
    * everything else through [[byteAHash]].
    */
  private[queries] def phashFrame(s: SparkSession, dir: String): DataFrame =
    phashOf(mediaTable(s, dir)
      .select(col("media_id"), col("payload"), col("meta.format").as("format")))

  /** Hash any (media_id, payload, format) frame — the injectable core
    * phashFrame and mm6's planted variants share.
    */
  private[queries] def phashOf(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(phashSchema)
    media
      .filter(length(col("payload")) >= 64)
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val fmt = r.getString(2)
          val ph =
            if (fmt == "png" || fmt == "jpeg") {
              javax.imageio.ImageIO.setUseCache(false)
              val img = javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(payload))
              if (img == null) byteAHash(payload) else imageAHash(img)
            } else byteAHash(payload)
          Row(id, ph)
        }
      }(enc)
  }

  /** The id offset separating mm6's planted variant items from real
    * media ids (far above any fixture doc_id).
    */
  val Mm6PlantOffset = 1000000000L

  /** mm6's planted near-dup variants: for the first 8 docs, a copy of
    * the payload with the first byte replaced by '~' — a one-byte edit
    * whose [[byteAHash]] lands within hamming 0-2 of the original
    * (measured at sf0.01 AND sf0.1: at least one planted pair per sf
    * has hamming ≥ 1), so the oracle row checks a NON-EMPTY answer
    * through candidate generation AND the exact hamming verify. The
    * format tag 'txt' routes them down the byte-hash path explicitly.
    */
  private def mm6Plants(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(col("doc_id") < 8 && length(col("text")) >= 64)
      .select((col("doc_id") + Mm6PlantOffset).as("media_id"),
        encode(concat(lit("~"), expr("substr(text, 2)")), "UTF-8").as("payload"),
        lit("txt").as("format"))

  def mm5PhashDups(s: SparkSession, dir: String): DataFrame = {
    val hashed = phashFrame(s, dir)
    val groups = hashed.groupBy(col("phash")).agg(count(lit(1)).as("n_same"))
    hashed.join(groups, Seq("phash"))
      .select(col("media_id"), col("phash"), col("n_same"),
        (col("n_same") > 1).as("is_dup"))
      .orderBy(col("media_id"))
  }

  /** Hamming radius for [[mm6PhashPairs]] — pairs within this many
    * differing bits count as perceptual near-dups (d3's convention).
    */
  val Mm6MaxHamming = 6

  /** MM6: hamming-radius perceptual near-dup PAIRS over the mm5 hashes —
    * the probabilistic tier above mm5's exact-collision groups, via the
    * d3 pigeonhole device re-applied to media: 4 bands of 16 bits; a
    * pair within hamming ≤ 3 MUST collide on some band (pigeonhole),
    * 4-[[Mm6MaxHamming]] probabilistically; candidates verify exactly by
    * positionwise comparison. This is the LAION near-dup sweep (their
    * pHash union-find runs on exactly this candidate structure).
    *
    * 100 TB shape: bands are substrings of the 64-char hash — map-only;
    * the self-join keys on (band, 16-bit value) buckets, never all
    * pairs; the exact verify runs on candidates only, comparing 64-char
    * strings — payloads were left behind in mm5's map stage.
    *
    * The shipped fixture contains NO organic byte-level perceptual
    * near-dups (minimum candidate hamming is 12 at sf0.01 — text
    * near-dups shift every block mean), so the input is augmented with
    * [[mm6Plants]]: 8 one-byte-edited variant payloads whose pairs the
    * oracle replays identically in SQL — the gate row checks a
    * NON-EMPTY answer (including hamming ≥ 1 pairs) end-to-end every
    * round, and MultimodalSpec additionally plants its own edited
    * payloads plus image-decode variants.
    */
  def mm6PhashPairs(s: SparkSession, dir: String): DataFrame = {
    val ph = phashOf(
      mediaTable(s, dir)
        .select(col("media_id"), col("payload"), col("meta.format").as("format"))
        .unionByName(mm6Plants(s, dir)))
      .cache() // both sides of the banded self-join read this
    val bandCols = array((0 until PhashBands).map(b =>
      substring(col("phash"), b * PhashBandChars + 1, PhashBandChars)): _*)
    val bands = ph.select(col("media_id"), col("phash"),
      posexplode(bandCols).as(Seq("band", "bs")))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bs") === col("b.bs") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id1"), col("b.media_id").as("id2"),
        col("a.phash").as("p1"), col("b.phash").as("p2"))
      .distinct()
    val ham = aggregate(
      zip_with(split(col("p1"), ""), split(col("p2"), ""),
        (x, y) => when(x === y, 0).otherwise(1)),
      lit(0), (a, x) => a + x)
    cand.withColumn("hamming", ham.cast("long"))
      .filter(col("hamming") <= Mm6MaxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
      .orderBy(col("id1"), col("id2"))
  }

  lazy val mm6Sql: String =
    s"""WITH f AS (
      |  SELECT doc_id AS media_id, text, length(text)::BIGINT AS L
      |  FROM documents WHERE octet_length(encode(text)) >= 64
      |  UNION ALL
      |  SELECT doc_id + $Mm6PlantOffset, '~' || substr(text, 2), length(text)::BIGINT
      |  FROM documents WHERE doc_id < 8 AND octet_length(encode(text)) >= 64
      |), bytes AS (
      |  SELECT media_id, L,
      |    ((i - 1) * 64) // L AS k,
      |    ord(substr(text, CAST(i AS INT), 1))::BIGINT AS b
      |  FROM f, unnest(range(1, L + 1)) AS t(i)
      |), chunks AS (
      |  SELECT media_id, L, k, sum(b)::BIGINT AS cs, count(*)::BIGINT AS clen
      |  FROM bytes GROUP BY 1, 2, 3
      |), g AS (
      |  SELECT media_id, sum(cs)::BIGINT AS gsum FROM chunks GROUP BY 1
      |), p AS (
      |  SELECT c.media_id,
      |    string_agg(CASE WHEN c.cs * c.L > g.gsum * c.clen
      |               THEN '1' ELSE '0' END, '' ORDER BY c.k) AS phash
      |  FROM chunks c JOIN g USING (media_id) GROUP BY c.media_id
      |), bands AS (
      |  SELECT media_id, phash, b, substr(phash, CAST(b * 16 + 1 AS INT), 16) AS bs
      |  FROM p, unnest(range(0, 4)) AS t(b)
      |), cand AS (
      |  SELECT DISTINCT a.media_id AS id1, b.media_id AS id2,
      |         a.phash AS p1, b.phash AS p2
      |  FROM bands a JOIN bands b
      |    ON a.b = b.b AND a.bs = b.bs AND a.media_id < b.media_id
      |), ham AS (
      |  SELECT id1, id2,
      |    len(list_filter(range(1, 65),
      |      i -> substr(p1, CAST(i AS INT), 1) <> substr(p2, CAST(i AS INT), 1)))::BIGINT
      |    AS hamming
      |  FROM cand
      |)
      |SELECT id1, id2, hamming FROM ham WHERE hamming <= $Mm6MaxHamming
      |ORDER BY id1, id2""".stripMargin

  val mm5Sql: String =
    """WITH f AS (
      |  SELECT doc_id AS media_id, text, length(text)::BIGINT AS L
      |  FROM documents WHERE octet_length(encode(text)) >= 64
      |), bytes AS (
      |  SELECT media_id, L,
      |    ((i - 1) * 64) // L AS k,
      |    ord(substr(text, CAST(i AS INT), 1))::BIGINT AS b
      |  FROM f, unnest(range(1, L + 1)) AS t(i)
      |), chunks AS (
      |  SELECT media_id, L, k, sum(b)::BIGINT AS cs, count(*)::BIGINT AS clen
      |  FROM bytes GROUP BY 1, 2, 3
      |), g AS (
      |  SELECT media_id, sum(cs)::BIGINT AS gsum FROM chunks GROUP BY 1
      |), p AS (
      |  SELECT c.media_id,
      |    string_agg(CASE WHEN c.cs * c.L > g.gsum * c.clen
      |               THEN '1' ELSE '0' END, '' ORDER BY c.k) AS phash
      |  FROM chunks c JOIN g USING (media_id) GROUP BY c.media_id
      |), grp AS (
      |  SELECT phash, count(*) AS n_same FROM p GROUP BY 1
      |)
      |SELECT p.media_id, p.phash, grp.n_same, grp.n_same > 1 AS is_dup
      |FROM p JOIN grp USING (phash)
      |ORDER BY p.media_id""".stripMargin

  /** REAL audio decode via javax.sound.sampled (in-JDK, reads RIFF/WAVE
    * PCM): parses the payload's actual sample stream and emits
    * (sample_rate, channels, n_frames, rms) with RMS over the decoded
    * 16-bit samples normalized to [0,1]. Returns None when the header
    * sniff rejects the bytes — non-audio payloads cost a header probe,
    * never a parse (the imageDecode contract, applied to audio; this
    * retires the "no audio codec in the JDK" histogram-only stub).
    */
  private[queries] def wavDecode(payload: Array[Byte])
      : Option[(Double, Int, Long, Double)] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = in.getFormat
        if (fmt.getSampleSizeInBits != 16) None
        else {
          val bytes = in.readAllBytes()
          val bb = java.nio.ByteBuffer.wrap(bytes).order(
            if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
            else java.nio.ByteOrder.LITTLE_ENDIAN)
          var sumSq = 0.0
          var n = 0L
          while (bb.remaining() >= 2) {
            val v = bb.getShort.toDouble / 32768.0
            sumSq += v * v
            n += 1
          }
          Some((fmt.getSampleRate.toDouble, fmt.getChannels,
            in.getFrameLength, if (n == 0) 0.0 else math.sqrt(sumSq / n)))
        }
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** MM7: audio feature extraction over wav payloads — sample rate,
    * channel count, frame count, RMS loudness; the audio counterpart of
    * mm1's image decode (a speech-data pipeline gates on exactly these:
    * resample targets, mono-mix planning, silence filtering). Real
    * RIFF/WAVE payloads go through [[wavDecode]] inside the mm1
    * mapPartitions batch shape; payloads the sniff rejects (the
    * fixture's text bytes) fall back to a byte-level pseudo-RMS
    * sqrt(Σb²/L) over raw bytes — integer sum, one division, one sqrt,
    * so the oracle replays it exactly via codepoints (the mm1 ASCII
    * caveat). decoded=false marks fallback rows loudly. MultimodalSpec
    * injects genuine PCM WAVs (sine + silence) and checks rate,
    * frames, and analytic RMS.
    */
  private val wavSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("decoded", BooleanType),
    StructField("sample_rate", DoubleType),
    StructField("channels", IntegerType),
    StructField("n_frames", LongType),
    StructField("rms", DoubleType)))

  /** The injectable mm7 core over any (media_id, payload) frame —
    * MultimodalSpec drives this with genuine generated PCM WAVs.
    */
  private[queries] def wavFeatureFrame(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(wavSchema)
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        wavDecode(payload) match {
          case Some((rate, ch, frames, rms)) =>
            Row(id, true, rate, ch, frames, rms)
          case None =>
            var sumSq = 0L
            var i = 0
            while (i < payload.length) {
              val b = (payload(i) & 0xff).toLong
              sumSq += b * b
              i += 1
            }
            val rms = if (payload.isEmpty) 0.0
              else math.sqrt(sumSq.toDouble / payload.length)
            Row(id, false, 0.0, 0, payload.length.toLong, rms)
        }
      }
    }(enc)
  }

  def mm7WavFeatures(s: SparkSession, dir: String): DataFrame =
    wavFeatureFrame(
      mediaTable(s, dir)
        .filter(col("meta.format") === "wav" && length(col("payload")) > 0)
        .select(col("media_id"), col("payload")))
      .select(col("media_id"), col("decoded"), col("sample_rate"),
        col("channels"), col("n_frames"), round(col("rms"), 6).as("rms"))
      .orderBy(col("media_id"))

  val mm7Sql: String =
    """SELECT doc_id AS media_id, false AS decoded,
      |       0.0 AS sample_rate, 0 AS channels,
      |       octet_length(encode(text))::BIGINT AS n_frames,
      |       round(sqrt(list_sum(list_transform(range(1, length(text) + 1),
      |         i -> (ord(substr(text, CAST(i AS INT), 1))
      |               * ord(substr(text, CAST(i AS INT), 1)))::BIGINT))::DOUBLE
      |         / octet_length(encode(text))), 6) AS rms
      |FROM documents WHERE doc_id % 3 = 2 AND length(text) > 0
      |ORDER BY media_id""".stripMargin

  // mm8 windowing: samples (or fallback bytes) per window, the PCM
  // activity threshold (rms >= 0.01 ~ -40 dBFS), and the byte-path
  // integer threshold (mean square > 10000 i.e. byte-RMS > 100 — sits
  // inside the ASCII letter band so fixture windows split both ways).
  val Mm8Window = 256
  val Mm8PcmRms = 0.01
  val Mm8ByteMeanSq = 10000L

  private val mm8Schema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("decoded", BooleanType),
    StructField("n_windows", LongType),
    StructField("n_active", LongType),
    StructField("longest_quiet", LongType)))

  /** Per-window activity flags → (n, nActive, longest quiet run). */
  private def runStats(flags: Array[Boolean]): (Long, Long, Long) = {
    var cur = 0L; var best = 0L; var active = 0L
    flags.foreach { a =>
      if (a) { active += 1; cur = 0L }
      else { cur += 1; if (cur > best) best = cur }
    }
    (flags.length.toLong, active, best)
  }

  /** Windowed PCM activity flags for a decodable 16-bit WAV payload. */
  private[queries] def wavActivity(payload: Array[Byte]): Option[Array[Boolean]] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = in.getFormat
        if (fmt.getSampleSizeInBits != 16) None
        else {
          val bytes = in.readAllBytes()
          val bb = java.nio.ByteBuffer.wrap(bytes).order(
            if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
            else java.nio.ByteOrder.LITTLE_ENDIAN)
          val flags = scala.collection.mutable.ArrayBuffer.empty[Boolean]
          while (bb.remaining() >= 2) {
            var ss = 0.0; var n = 0
            while (n < Mm8Window && bb.remaining() >= 2) {
              val v = bb.getShort.toDouble / 32768.0
              ss += v * v; n += 1
            }
            flags += math.sqrt(ss / n) >= Mm8PcmRms
          }
          Some(flags.toArray)
        }
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The injectable mm8 core — MultimodalSpec drives it with generated
    * sine/silence PCM WAVs.
    */
  private[queries] def activityFrame(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mm8Schema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val payload = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
          wavActivity(payload) match {
            case Some(flags) =>
              val (n, a, q) = runStats(flags)
              Row(id, true, n, a, q)
            case None =>
              // byte fallback: integer mean-square per 256-byte window
              val flags = payload.grouped(Mm8Window).map { w =>
                var ss = 0L
                w.foreach { b => val v = (b & 0xff).toLong; ss += v * v }
                ss > w.length * Mm8ByteMeanSq
              }.toArray
              val (n, a, q) = runStats(flags)
              Row(id, false, n, a, q)
          }
        }
      }(enc)
  }

  /** MM8: voice-activity segmentation — split each audio payload into
    * [[Mm8Window]]-sample windows, flag each as active (window RMS ≥
    * [[Mm8PcmRms]]) or quiet, and report per clip the window count,
    * active count, active ratio, and the longest quiet run: the
    * silence-trim / segmentation planning pass a speech-data pipeline
    * runs before chunking audio for training (mm7 scores the WHOLE
    * clip; mm8 localizes). Real 16-bit PCM goes through the windowed
    * decoder in the mm1 mapPartitions batch shape; non-audio payloads
    * take the integer byte-window fallback (mean square > 10000),
    * which the oracle replays exactly via codepoints — the run-length
    * stat is gaps-and-islands (q34's device) on the oracle side and a
    * linear scan executor-side, exact integers either way. Payload
    * windows never leave the executor: the shuffle carries five
    * numbers per clip.
    */
  def mm8AudioActivity(s: SparkSession, dir: String): DataFrame =
    activityFrame(
      mediaTable(s, dir)
        .filter(col("meta.format") === "wav" && length(col("payload")) > 0)
        .select(col("media_id"), col("payload")))
      .select(col("media_id"), col("decoded"), col("n_windows"),
        col("n_active"), col("longest_quiet"),
        round(col("n_active") / col("n_windows").cast("double"), 6)
          .as("active_ratio"))
      .orderBy(col("media_id"))

  val mm8Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id % 3 = 2 AND length(text) > 0
       |), cp AS (
       |  SELECT doc_id, list_transform(range(1, length(text) + 1),
       |    i -> (ord(substr(text, CAST(i AS INT), 1)))::BIGINT) AS cs
       |  FROM d
       |), win AS (
       |  SELECT doc_id, unnest(range(0, (len(cs) - 1) // $Mm8Window + 1)) AS w, cs
       |  FROM cp
       |), st AS (
       |  SELECT doc_id, w,
       |    least($Mm8Window, len(cs) - w * $Mm8Window)::BIGINT AS n,
       |    list_sum(list_transform(cs[w*$Mm8Window + 1 : w*$Mm8Window + $Mm8Window],
       |      x -> x * x))::BIGINT AS ss
       |  FROM win
       |), fl AS (
       |  SELECT doc_id, w, (ss > n * $Mm8ByteMeanSq) AS act FROM st
       |), runs AS (
       |  SELECT doc_id, act,
       |    w - row_number() OVER (PARTITION BY doc_id, act ORDER BY w) AS grp
       |  FROM fl
       |), quiet AS (
       |  SELECT doc_id, max(run)::BIGINT AS lq FROM (
       |    SELECT doc_id, grp, count(*) AS run FROM runs WHERE NOT act
       |    GROUP BY doc_id, grp
       |  ) GROUP BY doc_id
       |)
       |SELECT f.doc_id AS media_id, false AS decoded,
       |  count(*) AS n_windows,
       |  count(*) FILTER (act)::BIGINT AS n_active,
       |  coalesce(any_value(q.lq), 0)::BIGINT AS longest_quiet,
       |  round(count(*) FILTER (act) / count(*)::DOUBLE, 6) AS active_ratio
       |FROM fl f LEFT JOIN quiet q USING (doc_id)
       |GROUP BY f.doc_id ORDER BY media_id""".stripMargin

  /** MM9: incremental perceptual-hash ingest gate — d19/d20's doctrine
    * on the MEDIA modality, completing the ingest-gate triad (text d19,
    * embeddings d20, media mm9). The corpus keeps a persisted
    * (media_id, phash, band, bs) band index; a new media batch decodes
    * and hashes map-side (payloads never shuffle, the mm1-mm8
    * contract), candidates come from the 4×16-bit pigeonhole equi-join
    * against the index, and the hamming verify reads the 64-char phash
    * CARRIED ON THE INDEX ROWS — no corpus payload fetch of any kind,
    * making this the cheapest of the three gates per batch.
    *
    * Fixture batch: the mm6 planted one-byte variants (ids ≥
    * [[Mm6PlantOffset]]) plus `media_id % 10 = 7` — so plants 0-6 pair
    * with their corpus originals (plant 7's original is itself in the
    * batch) and the gate answer is non-empty through banding AND
    * verify. Twin: mm6Sql's byte-path replay with the same asymmetric
    * predicates.
    */
  def mm9IncrementalPhash(s: SparkSession, dir: String): DataFrame = {
    val all = mediaTable(s, dir)
      .select(col("media_id"), col("payload"), col("meta.format").as("format"))
      .unionByName(mm6Plants(s, dir))
    val isBatch =
      col("media_id") >= Mm6PlantOffset || col("media_id") % 10 === 7
    mm9Frame(all.filter(!isBatch), all.filter(isBatch))
  }

  /** Band rows carrying the full phash — this table IS the persistable
    * index (4 rows × ~80 bytes per media item, no payloads).
    */
  private[queries] def phashBands(ph: DataFrame): DataFrame = {
    val bandCols = array((0 until PhashBands).map(b =>
      substring(col("phash"), b * PhashBandChars + 1, PhashBandChars)): _*)
    ph.select(col("media_id"), col("phash"),
      posexplode(bandCols).as(Seq("band", "bs")))
  }

  /** pHash banding shape (64-char hash, 4 bands × 16 chars) — a store-
    * shape parameter of the mm9 gate: band substrings taken at another
    * split never equi-match stored ones, so the media store's
    * `_geometry` marker pins it (silent-recall-loss prevention, same
    * contract as the embed store's SigSpec pin).
    */
  private[graft] val PhashBands = 4
  private[graft] val PhashBandChars = 16

  /** Build the corpus index inline, then probe; production persists
    * `phashBands(phashOf(corpus))` and hands the loaded frame to
    * [[mm9Probe]].
    */
  def mm9Frame(corpus: DataFrame, batch: DataFrame): DataFrame =
    mm9Probe(batch, phashBands(phashOf(corpus)))

  /** The per-batch probe: candidates from the band equi-join, exact
    * positionwise hamming on the phashes both sides already carry.
    *
    * `probeDepth` is the media gate's RECALL DIAL — the d20ProbeMasks
    * device on the pHash banding: each batch band value (16 '0'/'1'
    * chars, bijectively a 16-bit integer) is fanned to every ≤depth-bit
    * flip of itself BEFORE the equi-join, so a pair whose closest band
    * still differs in ≤depth bits becomes a candidate. Pigeonhole
    * arithmetic over 4 bands: a pair within hamming h has some band
    * with ≤ ⌊h/4⌋ differing bits, so depth d GUARANTEES candidates for
    * h ≤ 4d+3 — depth 0 certifies h ≤ 3 (h 4-6 probabilistic), depth 1
    * certifies the full [[Mm6MaxHamming]] = 6 verify radius (through
    * h ≤ 7), depth 2 certifies h ≤ 11, which only pays off when
    * `maxHamming` raises the verify radius with it. Candidate volume
    * scales by ≤ |masks| (17 / 137) on the batch side only; the store
    * layout, the index scan and the verify are untouched, and depth 0
    * keeps the original single-probe plan byte-identical (the oracle
    * pin). Exactness is free here — hamming is verified positionwise
    * on the full hashes — so the dial trades candidates for recall,
    * never precision.
    */
  def mm9Probe(batch: DataFrame, index: DataFrame, probeDepth: Int = 0,
      maxHamming: Int = Mm6MaxHamming): DataFrame =
    mm9ProbeUnsorted(batch, index, probeDepth, maxHamming)
      .orderBy(col("new_id"), col("dup_of"))

  private def mm9ProbeUnsorted(batch: DataFrame, index: DataFrame,
      probeDepth: Int, maxHamming: Int): DataFrame = {
    val masks = Dedup.d20ProbeMasks(PhashBandChars, probeDepth)
    val bp = phashBands(phashOf(batch).cache())
    val cand = (if (masks.size == 1)
        bp.as("p").join(index.as("i"),
          col("p.band") === col("i.band") && col("p.bs") === col("i.bs"))
      else {
        // integer-keyed fan: decode bs at probe time on BOTH sides so
        // the XOR masks apply; only the batch side fans |masks|-fold
        val pv = bp.withColumn("bv", explode(array(masks.map(m =>
          conv(col("bs"), 2, 10).cast("long").bitwiseXOR(lit(m))): _*)))
        val iv = index.withColumn("bv", conv(col("bs"), 2, 10).cast("long"))
        pv.as("p").join(iv.as("i"),
          col("p.band") === col("i.band") && col("p.bv") === col("i.bv"))
      })
      .select(col("p.media_id").as("new_id"), col("i.media_id").as("dup_of"),
        col("p.phash").as("p1"), col("i.phash").as("p2"))
      .distinct()
    val ham = aggregate(
      zip_with(split(col("p1"), ""), split(col("p2"), ""),
        (x, y) => when(x === y, 0).otherwise(1)),
      lit(0), (a, x) => a + x)
    cand.withColumn("hamming", ham.cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("new_id"), col("dup_of"), col("hamming"))
  }

  /** The persistable mm9 index rows of a (media_id, payload, format)
    * frame — map-only decode + hash + band explode; what a store append
    * writes per batch ([[graft.streaming.StreamMediaDedup]]).
    */
  def mm9IndexRows(media: DataFrame): DataFrame = phashBands(phashOf(media))

  /** Persist the mm9 store: the band index IS the whole store — band
    * rows carry the full phash (4 rows × ~80 bytes per media item, no
    * payloads), so the hamming verify needs no payload table and no
    * bucket pruning. One table also means the store append is a single
    * atomic-enough write: there is no index/payload ordering hazard at
    * all (d19's shingles-before-bands discipline has nothing to order
    * here — d20's single sig table reached the same shape).
    */
  def mm9WriteStore(corpus: DataFrame, path: String): Unit = {
    // flat-layout geometry pin (d19WriteStore's rationale) — the pHash
    // banding is fixed policy today, but the pin makes a future split
    // change fail loudly on existing stores instead of silently
    graft.streaming.GateStore.ensureGeometry(path,
      graft.streaming.StreamMediaDedup.Geometry)
    graft.Checkpoints.sweep(corpus.sparkSession) {
      phashBands(phashOf(corpus)).write.mode("overwrite")
        .parquet(s"$path/bands")
    }
  }

  /** The at-scale probe against a [[mm9WriteStore]] layout. Release
    * contract as for the d19/d20 stored probes: the probe caches the
    * batch's phash frame while building the plan, so bracket the call
    * in `Checkpoints.eagerBuild` and release after materializing.
    */
  def mm9ProbeStored(s: SparkSession, batch: DataFrame,
      storePath: String, probeDepth: Int = 0,
      maxHamming: Int = Mm6MaxHamming): DataFrame = {
    // READ-ONLY check (d19ProbeStored's rule: probes never plant pins)
    graft.streaming.GateStore.checkGeometry(storePath,
      graft.streaming.StreamMediaDedup.Geometry)
    mm9ProbeDirs(s, batch, Seq(s"$storePath/bands"), probeDepth, maxHamming)
  }

  /** [[mm9ProbeStored]] against explicit directory LISTS — the
    * streaming store ([[graft.streaming.StreamMediaDedup]]) keeps one
    * bands directory per merged batch. Duplicate index rows from a
    * crashed-and-retried compaction are byte-identical, so the
    * candidate distinct inside [[mm9Probe]] collapses them.
    * `probeDepth`/`maxHamming` are [[mm9Probe]]'s recall dial.
    */
  def mm9ProbeDirs(s: SparkSession, batch: DataFrame,
      bandDirs: Seq[String], probeDepth: Int = 0,
      maxHamming: Int = Mm6MaxHamming): DataFrame =
    mm9Probe(batch, s.read.parquet(bandDirs: _*), probeDepth, maxHamming)

  /** [[mm9ProbeDirs]] without the presentation sort
    * ([[Dedup.d19ProbePairs]]' rationale).
    */
  private[graft] def mm9ProbePairs(s: SparkSession, batch: DataFrame,
      bandDirs: Seq[String], probeDepth: Int): DataFrame =
    mm9ProbeUnsorted(batch, s.read.parquet(bandDirs: _*), probeDepth,
      Mm6MaxHamming)

  /** Oracle: mm6Sql's byte-path phash replay with the asymmetric
    * batch/corpus predicates.
    */
  lazy val mm9Sql: String =
    s"""WITH f AS (
      |  SELECT doc_id AS media_id, text, length(text)::BIGINT AS L
      |  FROM documents WHERE octet_length(encode(text)) >= 64
      |  UNION ALL
      |  SELECT doc_id + $Mm6PlantOffset, '~' || substr(text, 2), length(text)::BIGINT
      |  FROM documents WHERE doc_id < 8 AND octet_length(encode(text)) >= 64
      |), bytes AS (
      |  SELECT media_id, L,
      |    ((i - 1) * 64) // L AS k,
      |    ord(substr(text, CAST(i AS INT), 1))::BIGINT AS b
      |  FROM f, unnest(range(1, L + 1)) AS t(i)
      |), chunks AS (
      |  SELECT media_id, L, k, sum(b)::BIGINT AS cs, count(*)::BIGINT AS clen
      |  FROM bytes GROUP BY 1, 2, 3
      |), g AS (
      |  SELECT media_id, sum(cs)::BIGINT AS gsum FROM chunks GROUP BY 1
      |), p AS (
      |  SELECT c.media_id,
      |    string_agg(CASE WHEN c.cs * c.L > g.gsum * c.clen
      |               THEN '1' ELSE '0' END, '' ORDER BY c.k) AS phash
      |  FROM chunks c JOIN g USING (media_id) GROUP BY c.media_id
      |), bands AS (
      |  SELECT media_id, phash, b, substr(phash, CAST(b * 16 + 1 AS INT), 16) AS bs
      |  FROM p, unnest(range(0, 4)) AS t(b)
      |), cand AS (
      |  SELECT DISTINCT p.media_id AS new_id, i.media_id AS dup_of,
      |         p.phash AS p1, i.phash AS p2
      |  FROM bands p JOIN bands i ON p.b = i.b AND p.bs = i.bs
      |  WHERE (p.media_id >= $Mm6PlantOffset OR p.media_id % 10 = 7)
      |    AND NOT (i.media_id >= $Mm6PlantOffset OR i.media_id % 10 = 7)
      |), ham AS (
      |  SELECT new_id, dup_of,
      |    len(list_filter(range(1, 65),
      |      i -> substr(p1, CAST(i AS INT), 1) <> substr(p2, CAST(i AS INT), 1)))::BIGINT
      |    AS hamming
      |  FROM cand
      |)
      |SELECT new_id, dup_of, hamming FROM ham WHERE hamming <= $Mm6MaxHamming
      |ORDER BY new_id, dup_of""".stripMargin

  val queries: ListMap[String, Q] = ListMap(
    "mm1_media_features" -> (mm1MediaFeatures _),
    "mm2_frame_sample" -> (mm2FrameSample _),
    "mm3_resize_plan" -> (mm3ResizePlan _),
    "mm4_modality_mix" -> (mm4ModalityMix _),
    "mm5_phash_dups" -> (mm5PhashDups _),
    "mm6_phash_pairs" -> (mm6PhashPairs _),
    "mm7_wav_features" -> (mm7WavFeatures _),
    "mm8_audio_activity" -> (mm8AudioActivity _),
    "mm9_incremental_phash" -> (mm9IncrementalPhash _),
  )

  val oracle: ListMap[String, String] = ListMap(
    "mm1_media_features" -> mm1Sql,
    "mm2_frame_sample" -> mm2Sql,
    "mm3_resize_plan" -> mm3Sql,
    "mm4_modality_mix" -> mm4Sql,
    "mm5_phash_dups" -> mm5Sql,
    "mm6_phash_pairs" -> mm6Sql,
    "mm7_wav_features" -> mm7Sql,
    "mm8_audio_activity" -> mm8Sql,
    "mm9_incremental_phash" -> mm9Sql,
  )
}
