package graft.queries

import graft.{Fixpoint, Tables}
import graft.functions.SimFunctions._
import graft.functions.TopK
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Similarity search over the `embeddings` table (64-dim float vectors)
  * — the ANN operators of a training-data pipeline.
  *
  * All cosine arithmetic is double-precision sequential folds, which
  * match DuckDB's list_dot_product accumulation bit-for-bit (verified),
  * so s1 is fully oracle-checkable. Scores are rounded to 1e-6 and the
  * rounded value drives ordering in BOTH engines, making ranks
  * deterministic.
  */
object Similarity {

  type Q = (SparkSession, String) => DataFrame

  private val K = 5
  /** Query set: a fixed slice of the corpus (standard ANN-bench shape:
    * few queries probing a huge corpus).
    */
  private val NQ = 20

  private def vecs(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", l2Norm(col("v")))

  /** S1: brute-force cosine top-K — the exactness baseline. The query
    * side (NQ rows) broadcasts; the corpus side streams map-only through
    * score computation; the bounded TopKAggregator map-side-combines each
    * partition to K rows per query, so the single shuffle carries
    * O(NQ × partitions × K) rows — NOT the |corpus| × NQ scored pairs a
    * window-rank plan would move. Survives an arbitrarily large corpus.
    */
  def s1CosineTopK(s: SparkSession, dir: String): DataFrame = {
    val all = vecs(s, dir)
    val q = all.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("id1"), col("v").as("v1"), col("nrm").as("n1"))
    val c = all.select(col("vec_id").as("id2"), col("v").as("v2"), col("nrm").as("n2"))
    val scored = c.join(broadcast(q), col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"),
        round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6).as("cos"))
    scored
      .groupBy(col("id1"))
      .agg(TopK.topK(K)(col("cos"), col("id2")).as("top"))
      .select(col("id1"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("id1"), col("t.id").as("id2"), col("t.score").as("cos"),
        (col("r") + 1).as("rank"))
      .orderBy(col("id1"), col("rank"))
  }

  val s1Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |), n AS (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
       |), scored AS (
       |  SELECT q.vec_id AS id1, c.vec_id AS id2,
       |         round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos
       |  FROM n q JOIN n c ON q.vec_id < $NQ AND q.vec_id <> c.vec_id
       |), ranked AS (
       |  SELECT id1, id2, cos,
       |         row_number() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS rank
       |  FROM scored
       |)
       |SELECT id1, id2, cos, rank FROM ranked WHERE rank <= $K
       |ORDER BY id1, rank""".stripMargin

  /** S2: IVF-style approximate top-K. Coarse quantizer = the first 16
    * corpus vectors (deterministic); every corpus vector is assigned to
    * its nearest centroid cell (broadcast centroids, map-only); each
    * query probes its 4 nearest cells and scores ONLY vectors in those
    * cells — at scale this reads nprobe/ncells of the corpus instead of
    * all of it, which is the whole point of IVF. Approximate as a NN
    * answer but fully DETERMINISTIC as a computation (fixed centroids,
    * rounded scores, (score desc, id asc) tie-breaks), so the oracle is
    * a faithful SQL twin of the same algorithm; SimilaritySpec
    * additionally pins recall vs the exact s1 answer.
    */
  def s2IvfTopK(s: SparkSession, dir: String): DataFrame = {
    val NCELL = 16; val NPROBE = 4
    val all = vecs(s, dir)
    val cents = all.filter(col("vec_id") < NCELL)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))
    // cell assignment: argmax cosine over centroids (window over the
    // small corpus×16 product; the product is map-side via broadcast)
    val sims = all.join(broadcast(cents), lit(true))
      .select(col("vec_id"), col("v"), col("nrm"), col("cent_id"),
        round(dot(col("v"), col("cv")) / (col("nrm") * col("cn")), 6).as("cs"))
    val cells = sims
      .groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"), struct(col("cs"), -col("cent_id"))).as("cell"))
    val corpus = all.join(cells, Seq("vec_id"))
      .select(col("vec_id").as("id2"), col("v").as("v2"), col("nrm").as("n2"),
        col("cell"))
    // query probes: its NPROBE nearest cells
    val probes = sims.filter(col("vec_id") < NQ)
      .groupBy(col("vec_id"))
      .agg(TopK.topK(NPROBE)(col("cs"), col("cent_id")).as("pc"))
      .select(col("vec_id").as("id1"), explode(col("pc.id")).as("cell"))
    val qside = all.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("id1"), col("v").as("v1"), col("nrm").as("n1"))
    val cand = corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("id1") =!= col("id2"))
      .join(broadcast(qside), Seq("id1"))
    cand
      .select(col("id1"), col("id2"),
        round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6).as("cos"))
      .distinct()
      .groupBy(col("id1"))
      .agg(TopK.topK(K)(col("cos"), col("id2")).as("top"))
      .select(col("id1"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("id1"), col("t.id").as("id2"), col("t.score").as("cos"),
        (col("r") + 1).as("rank"))
      .orderBy(col("id1"), col("rank"))
  }

  val s2Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n WHERE vec_id < 16),
       |sims AS (
       |  SELECT a.vec_id, a.nrm, c.cent_id,
       |         round(list_dot_product(a.v, c.cv) / (a.nrm * c.cn), 6) AS cs
       |  FROM n a CROSS JOIN cents c
       |),
       |cells AS (
       |  SELECT vec_id, cent_id AS cell FROM (
       |    SELECT vec_id, cent_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
       |    FROM sims) WHERE rn = 1
       |),
       |corpus AS (SELECT s.vec_id AS id2, n.v AS v2, n.nrm AS n2, s.cell
       |           FROM cells s JOIN n ON n.vec_id = s.vec_id),
       |probes AS (
       |  SELECT vec_id AS id1, cent_id AS cell FROM (
       |    SELECT vec_id, cent_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
       |    FROM sims WHERE vec_id < $NQ) WHERE rn <= 4
       |),
       |cand AS (
       |  SELECT DISTINCT p.id1, c.id2,
       |    round(list_dot_product(q.v, c.v2) / (q.nrm * c.n2), 6) AS cos
       |  FROM probes p JOIN corpus c USING (cell)
       |  JOIN n q ON q.vec_id = p.id1
       |  WHERE p.id1 <> c.id2
       |),
       |ranked AS (
       |  SELECT id1, id2, cos,
       |         row_number() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS rank
       |  FROM cand
       |)
       |SELECT id1, id2, cos, rank FROM ranked WHERE rank <= $K
       |ORDER BY id1, rank""".stripMargin

  /** S3: IVF with TRAINED centroids — the production form of s2's
    * placeholder quantizer. MLlib KMeans(k=16, seed=42) learns the
    * coarse cells (the standard IVF training step, distributed
    * Lloyd's); corpus assignment uses the model's cluster column
    * (map-only, broadcast centroids inside the model); each query
    * probes its 4 nearest centroids and exactly reranks candidates.
    * Rows-only oracle (iterative trainer); SimilaritySpec pins
    * recall@5 vs the exact s1 answer — trained cells partition the
    * space better than s2's first-16 placeholder, so recall is
    * asserted at a higher floor.
    *
    * Scale: training samples/aggregates per-partition (MLlib KMeans is
    * the standard distributed path); everything after is the same
    * probe-and-rerank shape as s2 — nprobe/ncells of the corpus
    * scored per query instead of all of it.
    */
  def s3IvfKmeans(s: SparkSession, dir: String): DataFrame =
    ivfKmeans(s, dir, 4)

  /** The parameterized form: `nprobe` of the 16 cells are probed.
    * nprobe = ncells probes everything → identical to the exhaustive s1
    * answer (the spec pins exactly that, plus recall monotonicity in
    * nprobe — the fixture embeddings are near-random, so an absolute
    * recall floor would assert noise; monotone-to-exact is the
    * data-independent correctness property of IVF).
    */
  def ivfKmeans(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val NCELL = 16; val NPROBE = nprobe
    // spherical k-means: train/assign on UNIT vectors so euclidean cells
    // order identically to cosine — the correct IVF quantizer for a
    // cosine search metric
    val all = vecs(s, dir)
      .withColumn("fv", unitVector(col("v"), col("nrm"))).cache()
    // quantizer training on a bounded sample (the standard IVF practice:
    // faiss trains on ~256×ncells vectors) with random init — k-means||
    // init plus full-corpus Lloyd steps cost ~15 scheduled jobs for a
    // model whose only role is cell boundaries
    val trainSample = all.select(col("fv"))
      .sample(withReplacement = false, 0.999999, seed = 42)
      .limit(256 * NCELL)
    val km = new org.apache.spark.ml.clustering.KMeans()
      .setK(NCELL).setSeed(42).setMaxIter(5).setInitMode("random")
      .setFeaturesCol("fv").setPredictionCol("cell")
      .fit(trainSample)
    val assigned = km.transform(all)
    val corpus = assigned.select(col("vec_id").as("id2"), col("v").as("v2"),
      col("nrm").as("n2"), col("cell"))
    // query → its NPROBE nearest cells by centroid cosine
    val cents = km.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.toSeq)
    }.toSeq
    val centsDf = s.createDataFrame(cents).toDF("cell", "cv")
      .withColumn("cn", l2Norm(col("cv")))
    val qside = assigned.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("id1"), col("v").as("v1"), col("nrm").as("n1"))
    // on unit vectors, euclidean-nearest centroid == cosine-nearest, so
    // probing by cosine matches the assignment metric exactly
    val probes = qside.join(broadcast(centsDf), lit(true))
      .select(col("id1"),
        round(dot(col("v1"), col("cv")) / (col("n1") * col("cn")), 6).as("cs"),
        col("cell"))
      .groupBy(col("id1"))
      .agg(TopK.topK(NPROBE)(col("cs"), col("cell").cast("long")).as("pc"))
      .select(col("id1"), explode(col("pc.id")).as("cellL"))
      .select(col("id1"), col("cellL").cast("int").as("cell"))
    corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("id1") =!= col("id2"))
      .join(broadcast(qside), Seq("id1"))
      .select(col("id1"), col("id2"),
        round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6).as("cos"))
      .distinct()
      .groupBy(col("id1"))
      .agg(TopK.topK(K)(col("cos"), col("id2")).as("top"))
      .select(col("id1"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("id1"), col("t.id").as("id2"), col("t.score").as("cos"),
        (col("r") + 1).as("rank"))
      .orderBy(col("id1"), col("rank"))
  }

  /** S4: per-label embedding centroids, relationally — posexplode to
    * (label, dim, value), then one grouped avg. Both aggregation phases
    * map-side combine, so the shuffle carries (label × dim) partial
    * (sum, count) pairs — a few KB regardless of corpus size; the
    * vectors themselves never shuffle. This is the building block for
    * cluster-based data curation (per-cluster means / diversity
    * filtering) at 100 TB.
    */
  def s4LabelCentroid(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "e")))
      .groupBy(col("label"), (col("pos0") + 1).as("pos"))
      .agg(round(avg(col("e").cast("double")), 6).as("mean_val"))
      .orderBy(col("label"), col("pos"))

  val s4Sql: String =
    """SELECT label, pos, round(avg(e::DOUBLE), 6) AS mean_val
      |FROM (
      |  SELECT label, unnest(embedding) AS e,
      |         generate_subscripts(embedding, 1) AS pos
      |  FROM embeddings
      |)
      |GROUP BY label, pos ORDER BY label, pos""".stripMargin

  /** Multi-probe flip masks for [[s6LshTopK]]: the query's own bucket
    * plus every hamming-1 and hamming-2 neighbor (1 + 8 + 28 = 37 of
    * 256 buckets — still a 7× candidate cut vs exhaustive). Depth 2 is
    * the recall dial: with GENUINE hyperplanes (see [[lshHyperplane]]'s
    * round-14 note) a top-5 neighbor at cos ≈ 0.4 has per-bit match
    * probability ~0.63, so P(within hamming 2 of the query's sig) ≈
    * 0.38 vs ~0.12 at depth 1 — the measured depth-1 0.64 recall of
    * earlier rounds was an artifact of the degenerate banding (2
    * buckets ≈ exhaustive search).
    */
  private val s6ProbeMasks: Seq[Int] =
    Seq(0) ++ (0 until 8).map(1 << _) ++
      (for (a <- 0 until 8; b <- a + 1 until 8) yield (1 << a) | (1 << b))

  /** S6: sign-LSH ANN (random-hyperplane LSH, Charikar 2002) — the
    * bucket-join ANN family, complementing s2/s3's IVF cells. Each
    * vector gets an NBITS-bit signature (sign of its dot product with
    * NBITS fixed ±1 Rademacher hyperplanes, derived deterministically
    * from FNV-1a so the oracle replays them as literals); queries probe
    * their own bucket plus all hamming ≤ 2 neighbors ([[s6ProbeMasks]],
    * multi-probe LSH) via an EQUI-join on the probe signature — at
    * 100 TB this is a plain keyed shuffle on a 1-byte key, never a
    * similarity-predicate join — and candidates rerank exactly.
    * Deterministic as a computation (fixed hyperplanes, rounded scores,
    * (score desc, id asc) ties), so fully value-checked.
    */
  def s6LshTopK(s: SparkSession, dir: String): DataFrame = {
    val NBITS = 8
    val sigExpr = (0 until NBITS).map(i =>
      when(dot(col("v"), typedLit(lshHyperplane(i))) >= 0, lit(1 << i))
        .otherwise(lit(0))).reduce(_ + _)
    // cache materializes sig — 37 downstream references would otherwise
    // re-inline (and recompute) the 8 dot products per reference
    val all = vecs(s, dir).withColumn("sig", sigExpr).cache()
    val corpus = all.select(col("vec_id").as("id2"), col("v").as("v2"),
      col("nrm").as("n2"), col("sig").as("sig2"))
    val probeCols = s6ProbeMasks.map(m => col("sig").bitwiseXOR(lit(m)))
    val qside = all.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("id1"), col("v").as("v1"), col("nrm").as("n1"),
        explode(array(probeCols: _*)).as("probe"))
    corpus.join(broadcast(qside), col("sig2") === col("probe"))
      .filter(col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"),
        round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6).as("cos"))
      .distinct()
      .groupBy(col("id1"))
      .agg(TopK.topK(K)(col("cos"), col("id2")).as("top"))
      .select(col("id1"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("id1"), col("t.id").as("id2"), col("t.score").as("cos"),
        (col("r") + 1).as("rank"))
      .orderBy(col("id1"), col("rank"))
  }

  /** ±1 hyperplane i, deterministic from FNV-1a + a splitmix64
    * finalizer — shared by the Spark plan and (as inlined literals) the
    * SQL oracle, so any change here retwins both sides automatically.
    *
    * The finalizer is LOAD-BEARING (round-14 find): FNV-1a's low bit is
    * the XOR-parity of the input bytes' low bits — multiplying by an
    * odd prime preserves bit 0, so `hash & 1` telescopes to
    * `basis₀ ⊕ ⊕(byteₖ & 1)`, which for "$i:$j" separates into
    * f(i) ⊕ g(j). Every hyperplane was therefore ± one shared vector:
    * all sign bits perfectly correlated, exactly 2 distinct signatures
    * over ANY corpus, and the s6/d8/d20 bandings passed half of all
    * pairs as candidates (zero pruning; precision was still exact via
    * the cosine verify, and the DuckDB twins replayed the same
    * degenerate literals, so nothing failed — the receipts finally
    * caught it). splitmix64's avalanche makes bit 0 depend on every
    * input bit, giving genuinely independent hyperplanes.
    */
  private[queries] def lshHyperplane(i: Int): Seq[Double] =
    Seq.tabulate(64) { j =>
      val h = graft.expressions.SimHash64.fnv1a64(s"$i:$j".getBytes("UTF-8"))
      var z = h + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= (z >>> 31)
      if ((z & 1L) == 1L) 1.0 else -1.0
    }

  val s6Sql: String = {
    val sigSum = (0 until 8).map { i =>
      val h = lshHyperplane(i).map(v => if (v > 0) "1" else "-1")
        .mkString("[", ", ", "]::DOUBLE[]")
      s"(CASE WHEN list_dot_product(v, $h) >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n      + ")
    val probeList = s6ProbeMasks
      .map(m => if (m == 0) "sig" else s"xor(sig, $m)")
      .mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |sigs AS (
       |  SELECT vec_id, v, nrm,
       |    $sigSum AS sig
       |  FROM n
       |),
       |qprobes AS (
       |  SELECT vec_id AS id1, v AS v1, nrm AS n1, unnest($probeList) AS probe
       |  FROM sigs WHERE vec_id < $NQ
       |),
       |cand AS (
       |  SELECT DISTINCT q.id1, c.vec_id AS id2,
       |    round(list_dot_product(q.v1, c.v) / (q.n1 * c.nrm), 6) AS cos
       |  FROM qprobes q JOIN sigs c ON c.sig = q.probe
       |  WHERE q.id1 <> c.vec_id
       |),
       |ranked AS (
       |  SELECT id1, id2, cos,
       |         row_number() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS rank
       |  FROM cand
       |)
       |SELECT id1, id2, cos, rank FROM ranked WHERE rank <= $K
       |ORDER BY id1, rank""".stripMargin
  }

  /** S5: scalar quantization to uint8 — per-dimension min/max over the
    * corpus, then q = min(255, floor((v - mn) · 256 / (mx - mn))). The
    * stats side is one map-side-combined aggregation to 64 rows which
    * broadcasts back onto the flat stream, so quantization is two
    * map-only passes plus a KB-sized broadcast — the 4× index-shrink
    * (float32 → uint8) step of a disk-resident ANN build. floor (not
    * round) keeps the arithmetic away from half-ulp ties, so the DuckDB
    * oracle reproduces every cell exactly.
    */
  def s5Quantize(s: SparkSession, dir: String): DataFrame = {
    val flat = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "e")))
      .select(col("vec_id"), (col("pos0") + 1).as("pos"), col("e"))
    val stats = flat.groupBy(col("pos"))
      .agg(min(col("e")).cast("double").as("mn"),
        max(col("e")).cast("double").as("mx"))
    flat.join(broadcast(stats), Seq("pos"))
      .select(col("vec_id"), col("pos"),
        least(lit(255.0),
          floor((col("e").cast("double") - col("mn")) * lit(256.0)
            / (col("mx") - col("mn")))).cast("int").as("q"))
      .orderBy(col("vec_id"), col("pos"))
  }

  val s5Sql: String =
    """WITH flat AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
      |         unnest(embedding) AS e
      |  FROM embeddings
      |), stats AS (
      |  SELECT pos, min(e)::DOUBLE AS mn, max(e)::DOUBLE AS mx
      |  FROM flat GROUP BY pos
      |)
      |SELECT vec_id, pos,
      |  CAST(least(255.0::DOUBLE,
      |    floor((f.e::DOUBLE - s.mn) * 256.0::DOUBLE / (s.mx - s.mn))) AS INT) AS q
      |FROM flat f JOIN stats s USING (pos)
      |ORDER BY vec_id, pos""".stripMargin

  /** S7: quantized-candidate search with exact rerank — the SQ8 + rerank
    * ANN pattern (a disk-resident index scans 1-byte codes, then reranks
    * survivors with full-precision vectors). Codes are SYMMETRIC signed
    * int8 over the UNIT vector (floor(u_d · 127) ∈ [-128, 127] — the
    * cosine-aligned quantization; an unsigned min/max grid's offset
    * terms drown the angular signal in norm noise, measured recall@5
    * 0.2 vs ≥0.8 for this form). The candidate score is the INTEGER dot
    * product of codes — exact in both engines (≤ 64·127² per pair), so
    * the candidate set itself is deterministic and oracle-checked; the
    * top-[[S7Rerank]] candidates per query then rerank by exact cosine.
    *
    * Scale shape: code construction is map-only (no stats pass at all);
    * the candidate pass streams corpus codes against the broadcast query
    * codes with the bounded TopKAggregator (map-side K rows per
    * partition — the s1 shuffle shape), and only ~NQ × [[S7Rerank]] rows
    * ever touch full vectors again. A corpus scan of 1-byte codes
    * instead of floats is the 4× I/O cut that makes rerank worth it.
    */
  val S7Rerank = 50
  def s7QuantizedTopK(s: SparkSession, dir: String): DataFrame = {
    val codes = transform(col("v"),
      x => floor(x / col("nrm") * lit(127.0)).cast("long"))
    val all = vecs(s, dir)
      .withColumn("qc", codes)
      .cache()
    val corpus = all.select(col("vec_id").as("id2"), col("qc").as("qc2"))
    val qcodes = all.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("id1"), col("qc").as("qc1"))
    val qs = aggregate(
      zip_with(col("qc1"), col("qc2"), (a, b) => a * b),
      lit(0L), (acc, p) => acc + p)
    val cand = corpus.join(broadcast(qcodes), col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"), qs.cast("double").as("qs"))
      .groupBy(col("id1"))
      .agg(TopK.topK(S7Rerank)(col("qs"), col("id2")).as("top"))
      .select(col("id1"), explode(col("top.id")).as("id2"))
    val full = all.select(col("vec_id").as("id2"), col("v").as("v2"),
      col("nrm").as("n2"))
    val qfull = all.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("id1"), col("v").as("v1"), col("nrm").as("n1"))
    cand.join(full, Seq("id2")).join(broadcast(qfull), Seq("id1"))
      .select(col("id1"), col("id2"),
        round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6).as("cos"))
      .groupBy(col("id1"))
      .agg(TopK.topK(K)(col("cos"), col("id2")).as("top"))
      .select(col("id1"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("id1"), col("t.id").as("id2"), col("t.score").as("cos"),
        (col("r") + 1).as("rank"))
      .orderBy(col("id1"), col("rank"))
  }

  val s7Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |codes AS (
       |  SELECT vec_id, v, nrm,
       |    list_transform(v, x -> CAST(floor(x / nrm * 127.0) AS BIGINT)) AS qc
       |  FROM n
       |), cand AS (
       |  SELECT q.vec_id AS id1, c.vec_id AS id2,
       |    list_sum(list_transform(range(1, 65), i -> q.qc[i] * c.qc[i])) AS qs
       |  FROM codes q JOIN codes c ON q.vec_id < $NQ AND q.vec_id <> c.vec_id
       |), topc AS (
       |  SELECT id1, id2 FROM (
       |    SELECT id1, id2,
       |           row_number() OVER (PARTITION BY id1 ORDER BY qs DESC, id2) AS rn
       |    FROM cand) WHERE rn <= $S7Rerank
       |), rer AS (
       |  SELECT t.id1, t.id2,
       |    round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos
       |  FROM topc t JOIN codes q ON q.vec_id = t.id1
       |               JOIN codes c ON c.vec_id = t.id2
       |), ranked AS (
       |  SELECT id1, id2, cos,
       |         row_number() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS rank
       |  FROM rer
       |)
       |SELECT id1, id2, cos, rank FROM ranked WHERE rank <= $K
       |ORDER BY id1, rank""".stripMargin

  /** S8: greedy k-center diversity sampling — Gonzalez's farthest-point
    * traversal ('85 2-approximation), the coverage-maximizing
    * complement of SemDeDup: d9 removes redundancy, this SELECTS a
    * maximally-spread panel (coreset seeds, eval picks, curriculum
    * anchors). Deterministic: seeded at the minimum vec_id, argmax
    * ties broken by vec_id.
    *
    * Scale shape: k linear passes, O(k·n) dot products total. The
    * running min-cosine-distance column is re-materialized per round
    * as a [[graft.Fixpoint]] state (flat lineage; superseded blocks
    * released, on a throw too — the d7 loop discipline), so each round
    * costs ONE map pass (a single vec_dot against the just-chosen
    * center, inlined as a literal array) whose checkpoint job also
    * carries the argmax as an observed struct max — one job per round,
    * where a TakeOrdered(1) argmax was a second; n and the seed ride the
    * first checkpoint the same way. No shuffle ever carries vectors.
    * The naive rebuild — min distance to ALL centers each round — is
    * O(k²·n) with k-deep expression chains and is exactly what this
    * form avoids.
    *
    * Rows-only oracle (iterative); SimilaritySpec pins determinism,
    * the non-increasing coverage-radius invariant, and planted-cluster
    * coverage on an injected frame.
    */
  val KCenterK = 16

  def s8KCenterSample(s: SparkSession, dir: String): DataFrame =
    kCenterFrame(vecs(s, dir), KCenterK)

  private[queries] def kCenterFrame(allIn: DataFrame, k: Int,
      grid: Boolean = false): DataFrame = {
    val spark = allIn.sparkSession
    import spark.implicits._
    // signal: (n, centers so far), a center being (vec_id, v, nrm,
    // coverage radius when chosen — 0 for the seed). n and the seed (min
    // vec_id) ride the first checkpoint, each round's argmax (mind desc,
    // vec_id asc) rides its own as a struct max — exact, order-only picks
    val init = Fixpoint.Plan(allIn.select(col("vec_id"), col("v"),
        col("nrm"), lit(2.0).as("mind")), count(lit(1)).as("n"),
        min(struct(col("vec_id"), col("v"), col("nrm"))).as("seed")) { (_, m) =>
      require(m.getLong(0) > 0, "k-center needs at least one vector")
      val c = m.getStruct(1)
      (m.getLong(0), Vector((c.getLong(0), c.getSeq[Double](1), c.getDouble(2), 0.0)))
    }
    val centers = Fixpoint.run(_.iterate(k, init) { case (cur, (n, cs)) =>
      val (_, cv, cn, _) = cs.last
      val d0 = lit(1.0) -
        dot(col("v"), array(cv.map(lit): _*)) / (col("nrm") * lit(cn))
      // grid = s8b's hash-twin mode: every distance snaps to the 1e-6
      // grid BEFORE the running min / argmax, so each greedy pick is a
      // comparison of identical doubles in both engines (the s2Sql
      // precedent — round-6 cosines replay bit-for-bit in DuckDB)
      val d = if (grid) round(d0, 6) else d0
      Fixpoint.Plan(cur.withColumn("mind", least(col("mind"), d)),
          max(struct(col("mind"), -col("vec_id"), col("v"), col("nrm"))).as("far")) { (_, m) =>
        val c = m.getStruct(0)
        (n, cs :+ ((-c.getLong(1), c.getSeq[Double](2), c.getDouble(3), c.getDouble(0))))
      }
    } { case (n, cs) => cs.length >= math.min(k.toLong, n) }.signal._2)
    centers.zipWithIndex
      .map { case ((id, _, _, r), i) => (i, id, math.rint(r * 1e6) / 1e6) }
      .toDF("rank", "vec_id", "radius")
  }

  /** S9: product-quantization search with exact rerank (Jégou et al.
    * TPAMI '11) — the FAISS IVF-PQ code path's core: each UNIT vector
    * splits into [[PqM]] subspaces of [[PqSub]] dims; every subspace
    * gets a [[PqC]]-entry codebook; a vector's code is its per-subspace
    * nearest centroid; query-to-corpus distance is the ADC sum of
    * per-subspace lookup-table entries (‖q_m − cent[code_m]‖², the
    * asymmetric form — query stays full precision). Top-[[S7Rerank]]
    * ADC candidates then rerank by exact cosine, the s7 doctrine.
    *
    * Codebooks here are DATA-DERIVED but fixed without iteration — the
    * subvectors of vec_ids 0..15 — so both engines derive identical
    * codebooks relationally and the whole pipeline is hash-checked
    * end-to-end (k-means-trained codebooks would be a rows-only query;
    * s3 already covers the trained-clustering path and this query's
    * plan is codebook-source-agnostic). Argmin tie-breaks are pinned by
    * min(struct(dist, cid)) / ORDER BY dist, cid on both sides.
    *
    * Scale shape: codebooks are O(M·C·SUB) — a broadcast dim however
    * large the corpus. Encoding is one broadcast join + map-side-
    * combined min(struct) partial agg; the shuffle carries
    * (vec_id, m, dist, cid) tuples, never vectors. Corpus codes are
    * M small ints per vector — the 32× memory cut that lets a 100 TB
    * corpus's index live in RAM. The ADC join is code-keyed against a
    * broadcast NQ·M·C lookup table; the per-pair sum map-side-combines
    * into the bounded TopKAggregator, and only NQ × rerank rows ever
    * touch full vectors again.
    */
  val PqM = 8    // subspaces
  val PqSub = 8  // dims per subspace (PqM * PqSub = 64)
  val PqC = 16   // centroids per subspace codebook
  def s9PqTopK(s: SparkSession, dir: String): DataFrame = {
    val all = vecs(s, dir)
      .withColumn("u", transform(col("v"), x => x / col("nrm")))
      .cache()
    val ms = explode(sequence(lit(0), lit(PqM - 1))).as("m")
    // (m, cid, c_sub): codebook = subvectors of the first PqC vectors
    val cents = all.filter(col("vec_id") < PqC)
      .select(col("vec_id").as("cid"), col("u"))
      .select(col("cid"), ms, col("u"))
      .select(col("m"), col("cid"),
        slice(col("u"), col("m") * PqSub + 1, lit(PqSub)).as("c_sub"))
    val sub = all
      .select(col("vec_id"), ms, col("u"))
      .select(col("vec_id"), col("m"),
        slice(col("u"), col("m") * PqSub + 1, lit(PqSub)).as("sub"))
    val sqDist = aggregate(
      zip_with(col("sub"), col("c_sub"), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    // per-(vector, subspace) nearest centroid; min(struct) pins ties
    val enc = sub.join(broadcast(cents), Seq("m"))
      .select(col("vec_id"), col("m"), struct(sqDist.as("d"), col("cid")).as("dc"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(col("dc")).as("mc"))
      .select(col("vec_id").as("id2"), col("m"), col("mc.cid").as("cid"))
    // query ADC lookup table: every (query, subspace, centroid) distance
    val lut = sub.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("id1"), col("m"), col("sub"))
      .join(broadcast(cents), Seq("m"))
      .select(col("id1"), col("m"), col("cid"), sqDist.as("pd"))
    // ADC sum folds in ascending-m order (sort_array on (m, pd) structs)
    // so the double is summation-order-independent — the m11/t21
    // doctrine; a plain sum()'s partition-order fold could flip the
    // rank-50 boundary by an ulp against the oracle
    val cand = enc.join(broadcast(lut), Seq("m", "cid"))
      .filter(col("id1") =!= col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(sort_array(collect_list(struct(col("m"), col("pd")))).as("ps"))
      .select(col("id1"), col("id2"),
        aggregate(col("ps"), lit(0.0),
          (acc, x) => acc + x.getField("pd")).as("adist"))
      .groupBy(col("id1"))
      .agg(TopK.topK(S7Rerank)(-col("adist"), col("id2")).as("top"))
      .select(col("id1"), explode(col("top.id")).as("id2"))
    val full = all.select(col("vec_id").as("id2"), col("v").as("v2"),
      col("nrm").as("n2"))
    val qfull = all.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("id1"), col("v").as("v1"), col("nrm").as("n1"))
    cand.join(full, Seq("id2")).join(broadcast(qfull), Seq("id1"))
      .select(col("id1"), col("id2"),
        round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6).as("cos"))
      .groupBy(col("id1"))
      .agg(TopK.topK(K)(col("cos"), col("id2")).as("top"))
      .select(col("id1"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("id1"), col("t.id").as("id2"), col("t.score").as("cos"),
        (col("r") + 1).as("rank"))
      .orderBy(col("id1"), col("rank"))
  }

  val s9Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |un AS (SELECT vec_id, v, nrm, list_transform(v, x -> x / nrm) AS u FROM n),
       |sub AS (
       |  SELECT vec_id, m, u[m * $PqSub + 1 : m * $PqSub + $PqSub] AS sv
       |  FROM un, range(0, $PqM) r(m)
       |), cents AS (
       |  SELECT m, vec_id AS cid, sv AS c_sub FROM sub WHERE vec_id < $PqC
       |), dists AS (
       |  SELECT s.vec_id, s.m, c.cid,
       |    list_sum(list_transform(range(1, $PqSub + 1),
       |      i -> (s.sv[i] - c.c_sub[i]) * (s.sv[i] - c.c_sub[i]))) AS d
       |  FROM sub s JOIN cents c USING (m)
       |), enc AS (
       |  SELECT vec_id AS id2, m, cid FROM (
       |    SELECT vec_id, m, cid,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn
       |    FROM dists) WHERE rn = 1
       |), lut AS (
       |  SELECT vec_id AS id1, m, cid, d AS pd FROM dists WHERE vec_id < $NQ
       |), adc AS (
       |  SELECT l.id1, e2.id2,
       |    list_reduce(list_prepend(0.0::DOUBLE, list(l.pd ORDER BY l.m)),
       |      (a, b) -> a + b) AS adist
       |  FROM enc e2 JOIN lut l USING (m, cid)
       |  WHERE l.id1 <> e2.id2 GROUP BY 1, 2
       |), topc AS (
       |  SELECT id1, id2 FROM (
       |    SELECT id1, id2,
       |      row_number() OVER (PARTITION BY id1 ORDER BY adist, id2) AS rn
       |    FROM adc) WHERE rn <= $S7Rerank
       |), rer AS (
       |  SELECT t.id1, t.id2,
       |    round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos
       |  FROM topc t JOIN un q ON q.vec_id = t.id1
       |               JOIN un c ON c.vec_id = t.id2
       |), ranked AS (
       |  SELECT id1, id2, cos,
       |    row_number() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS rank
       |  FROM rer
       |)
       |SELECT id1, id2, cos, rank FROM ranked WHERE rank <= $K
       |ORDER BY id1, rank""".stripMargin

  /** S10: ANN recall evaluation — recall@K of the IVF index (s2)
    * against the exact answer (s1), per query. The quality gate every
    * production ANN deployment runs before trusting an index build:
    * recall dropping under a floor means nprobe/ncells need retuning.
    * Emitted per-query (not just the mean) because recall failures are
    * typically concentrated in a few queries near cell boundaries.
    *
    * 100 TB shape: both inputs are the ALREADY-BOUNDED top-K result
    * sets (NQ×K rows each — the heavy scans happen inside s1/s2 with
    * their own documented plans); the eval itself is a semi-join and an
    * aggregation over NQ×K rows, broadcast-sized at any corpus scale.
    * In production s1 runs on a fixed query/probe sample, never the
    * full corpus, which is exactly the NQ-slice shape here.
    */
  def s10RecallEval(s: SparkSession, dir: String): DataFrame = {
    val exact = s1CosineTopK(s, dir).select(col("id1"), col("id2"))
    val approx = s2IvfTopK(s, dir)
      .select(col("id1").as("a1"), col("id2").as("a2"))
    val hits = exact
      .join(broadcast(approx),
        col("id1") === col("a1") && col("id2") === col("a2"), "left_semi")
      .groupBy(col("id1")).agg(count(lit(1)).as("n_hits"))
    exact.select(col("id1")).distinct()
      .join(hits, Seq("id1"), "left")
      .select(col("id1"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / lit(K.toDouble), 6).as("recall"))
      .orderBy(col("id1"))
  }

  val s10Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |ex_scored AS (
       |  SELECT q.vec_id AS id1, c.vec_id AS id2,
       |         round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos
       |  FROM n q JOIN n c ON q.vec_id < $NQ AND q.vec_id <> c.vec_id
       |), exact AS (
       |  SELECT id1, id2 FROM (
       |    SELECT id1, id2,
       |           row_number() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS rank
       |    FROM ex_scored) WHERE rank <= $K
       |),
       |cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n WHERE vec_id < 16),
       |sims AS (
       |  SELECT a.vec_id, a.nrm, c.cent_id,
       |         round(list_dot_product(a.v, c.cv) / (a.nrm * c.cn), 6) AS cs
       |  FROM n a CROSS JOIN cents c
       |),
       |cells AS (
       |  SELECT vec_id, cent_id AS cell FROM (
       |    SELECT vec_id, cent_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
       |    FROM sims) WHERE rn = 1
       |),
       |corpus AS (SELECT s.vec_id AS id2, n.v AS v2, n.nrm AS n2, s.cell
       |           FROM cells s JOIN n ON n.vec_id = s.vec_id),
       |probes AS (
       |  SELECT vec_id AS id1, cent_id AS cell FROM (
       |    SELECT vec_id, cent_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
       |    FROM sims WHERE vec_id < $NQ) WHERE rn <= 4
       |),
       |cand AS (
       |  SELECT DISTINCT p.id1, c.id2,
       |    round(list_dot_product(q.v, c.v2) / (q.nrm * c.n2), 6) AS cos
       |  FROM probes p JOIN corpus c USING (cell)
       |  JOIN n q ON q.vec_id = p.id1
       |  WHERE p.id1 <> c.id2
       |), approx AS (
       |  SELECT id1, id2 FROM (
       |    SELECT id1, id2,
       |           row_number() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS rank
       |    FROM cand) WHERE rank <= $K
       |), hits AS (
       |  SELECT e.id1, count(*) AS n_hits
       |  FROM exact e JOIN approx a ON a.id1 = e.id1 AND a.id2 = e.id2
       |  GROUP BY 1
       |)
       |SELECT q.id1, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       round(coalesce(h.n_hits, 0) / ${K.toDouble}, 6) AS recall
       |FROM (SELECT DISTINCT id1 FROM exact) q LEFT JOIN hits h USING (id1)
       |ORDER BY id1""".stripMargin

  // s11 MMR parameters: candidate pool per query, selected set size,
  // relevance/diversity mix (Carbonell & Goldstein's λ).
  val MmrPool = 32
  val MmrK = 8
  val MmrLambda = 0.5

  /** S11: MMR diverse top-k — maximal marginal relevance re-ranking
    * (Carbonell & Goldstein, SIGIR '98): greedily select k results
    * maximizing λ·cos(q,d) − (1−λ)·max_{s∈selected} cos(d,s), the
    * standard retrieval-diversification stage (and the shape of
    * diversity-aware example selection for in-context/training data:
    * relevant-but-mutually-redundant neighbors waste the budget).
    *
    * 100 TB shape — the production rerank pattern: the CORPUS-scale work
    * is the pool cut (s1's broadcast-queries + bounded TopK partial-agg
    * plan, shuffle carries NQ·partitions·P rows); everything after runs
    * on broadcast-sized data (NQ·P pool rows, NQ·P²/2 pairwise sims,
    * then the greedy loop over collected rows — the same bounded-driver
    * discipline as s8's k-center rounds). Greedy selection is
    * inherently sequential in k; distributing it would shuffle per
    * round for data that fits in L2 cache.
    *
    * Hash-twinnable because every similarity is rounded to the 1e-6
    * grid first (s1's doctrine), the MMR combination is two exact
    * halvings (λ = 0.5) and one subtraction — bit-identical IEEE ops in
    * both engines — and argmax ties break by (score desc, cid asc)
    * everywhere. The oracle unrolls the k−1 greedy steps as CTEs (the
    * g1b device applied to a data-dependent recurrence).
    */
  def s11MmrTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = vecs(s, dir)
    val q = all.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("v").as("vq"), col("nrm").as("nq"))
    val c = all.select(col("vec_id").as("cid"), col("v").as("vc"), col("nrm").as("nc"))
    val pool = c.join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(dot(col("vq"), col("vc")) / (col("nq") * col("nc")), 6).as("cosq"))
      .groupBy(col("qid"))
      .agg(TopK.topK(MmrPool)(col("cosq"), col("cid")).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.id").as("cid"), col("t.score").as("cosq"))
      .cache() // three readers: both pairwise sides + the driver collect
    val pa = pool.select(col("qid"), col("cid"))
      .join(c.select(col("cid"), col("vc").as("va"), col("nc").as("na")), Seq("cid"))
    val pb = pool.select(col("qid"), col("cid").as("cb"))
      .join(c.select(col("cid").as("cb"), col("vc").as("vb"), col("nc").as("nb")), Seq("cb"))
    val ps = pa.join(pb, Seq("qid")).filter(col("cid") < col("cb"))
      .select(col("qid"), col("cid").as("ca"), col("cb"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cs"))
    val poolRows = pool.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val simMap = ps.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3)))
      .toMap
    def sim(qid: Long, a: Long, b: Long): Double =
      if (a < b) simMap((qid, a, b)) else simMap((qid, b, a))
    val out = poolRows.groupBy(_._1).toSeq.flatMap { case (qid, cands0) =>
      var selected = Vector.empty[(Long, Double)] // (cid, mmr)
      var remaining: Seq[(Long, Double)] = cands0.map(t => (t._2, t._3)).toSeq
      var k = 0
      while (k < MmrK && remaining.nonEmpty) {
        val best = remaining.map { case (cid, cosq) =>
          val msim = if (selected.isEmpty) 0.0
            else selected.map(sel => sim(qid, cid, sel._1)).max
          (cid, MmrLambda * cosq - (1 - MmrLambda) * msim)
        }.minBy { case (cid, sc) => (-sc, cid) }
        selected :+= best
        remaining = remaining.filterNot(_._1 == best._1)
        k += 1
      }
      selected.zipWithIndex.map { case ((cid, mmr), i) =>
        (qid, i + 1, cid, mmr) }
    }
    out.toDF("id1", "rank", "id2", "mmr")
      .select(col("id1"), col("rank"), col("id2"), round(col("mmr"), 6).as("mmr"))
      .orderBy(col("id1"), col("rank"))
  }

  /** The s11 twin: pool + pairwise sims relationally, then the greedy
    * recurrence unrolled as one CTE trio per step (candidates of
    * step k score against acc_{k−1}, argmax per query, accumulate).
    */
  val s11Sql: String = {
    val steps = (2 to MmrK).map { k =>
      s"""cand$k AS MATERIALIZED (
         |  SELECT p.qid, p.cid, p.cosq, max(y.cs) AS msim
         |  FROM pool p
         |  JOIN acc${k - 1} s ON s.qid = p.qid
         |  JOIN psym y ON y.qid = p.qid AND y.ca = p.cid AND y.cb = s.cid
         |  WHERE NOT EXISTS (SELECT 1 FROM acc${k - 1} a
         |                    WHERE a.qid = p.qid AND a.cid = p.cid)
         |  GROUP BY 1, 2, 3
         |), sel$k AS MATERIALIZED (
         |  SELECT qid, cid, $k AS rank, mmr FROM (
         |    SELECT qid, cid, 0.5 * cosq - 0.5 * msim AS mmr,
         |           row_number() OVER (PARTITION BY qid
         |             ORDER BY 0.5 * cosq - 0.5 * msim DESC, cid) AS rn
         |    FROM cand$k) WHERE rn = 1
         |), acc$k AS MATERIALIZED (
         |  SELECT * FROM acc${k - 1} UNION ALL SELECT * FROM sel$k
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |scored AS MATERIALIZED (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |         round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cosq
       |  FROM n q JOIN n c ON q.vec_id < $NQ AND q.vec_id <> c.vec_id
       |), pool AS MATERIALIZED (
       |  SELECT qid, cid, cosq FROM (
       |    SELECT qid, cid, cosq,
       |           row_number() OVER (PARTITION BY qid ORDER BY cosq DESC, cid) AS rn
       |    FROM scored) WHERE rn <= $MmrPool
       |), ps AS MATERIALIZED (
       |  SELECT a.qid, a.cid AS ca, b.cid AS cb,
       |         round(list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm), 6) AS cs
       |  FROM pool a JOIN pool b ON a.qid = b.qid AND a.cid < b.cid
       |  JOIN n na ON na.vec_id = a.cid
       |  JOIN n nb ON nb.vec_id = b.cid
       |), psym AS MATERIALIZED (
       |  SELECT qid, ca, cb, cs FROM ps UNION ALL SELECT qid, cb, ca, cs FROM ps
       |), acc1 AS MATERIALIZED (
       |  SELECT qid, cid, 1 AS rank, 0.5 * cosq AS mmr FROM (
       |    SELECT qid, cid, cosq,
       |           row_number() OVER (PARTITION BY qid ORDER BY cosq DESC, cid) AS rn
       |    FROM pool) WHERE rn = 1
       |),
       |$steps
       |SELECT qid AS id1, rank, cid AS id2, round(mmr, 6) AS mmr
       |FROM acc$MmrK ORDER BY id1, rank""".stripMargin
  }

  // s12 hard-negative band: similar enough to be confusable, below the
  // positive/near-dup threshold (d4/d8 call ≥0.4 a near-dup; 0.45 sits
  // safely above the fixture's positive ceiling).
  val S12Lo = 0.2
  val S12Hi = 0.45
  val S12K = 5

  /** S12: hard-negative mining — per query, the top-k most-similar
    * vectors INSIDE the confusable band [S12Lo, S12Hi): the standard
    * contrastive-training data op (DPR/SimCSE-style training wants
    * negatives the model nearly confuses with the positive; random
    * negatives are too easy, near-dups are false negatives). Pairs at
    * or above S12Hi are positive/near-dup candidates (d4's territory)
    * and excluded.
    *
    * 100 TB shape: s1's exact plan with the band predicate fused into
    * the scoring scan — queries broadcast, corpus streams map-only,
    * the bounded TopKAggregator ships ≤k rows per query per partition.
    * At corpus scale the same band-and-rank runs over an ANN shortlist
    * (s2/s3's candidates) instead of the full scan; the fixture-exact
    * form here IS the oracle-checkable baseline, same division of
    * labor as d4 vs d8.
    */
  def s12HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val all = vecs(s, dir)
    val q = all.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("id1"), col("v").as("v1"), col("nrm").as("n1"))
    val c = all.select(col("vec_id").as("id2"), col("v").as("v2"), col("nrm").as("n2"))
    c.join(broadcast(q), col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"),
        round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6).as("cos"))
      .filter(col("cos") >= S12Lo && col("cos") < S12Hi)
      .groupBy(col("id1"))
      .agg(TopK.topK(S12K)(col("cos"), col("id2")).as("top"))
      .select(col("id1"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("id1"), col("t.id").as("id2"), col("t.score").as("cos"),
        (col("r") + 1).as("rank"))
      .orderBy(col("id1"), col("rank"))
  }

  val s12Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |), n AS (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
       |), scored AS (
       |  SELECT q.vec_id AS id1, c.vec_id AS id2,
       |         round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos
       |  FROM n q JOIN n c ON q.vec_id < $NQ AND q.vec_id <> c.vec_id
       |), banded AS (
       |  SELECT id1, id2, cos FROM scored WHERE cos >= $S12Lo AND cos < $S12Hi
       |), ranked AS (
       |  SELECT id1, id2, cos,
       |         row_number() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS rank
       |  FROM banded
       |)
       |SELECT id1, id2, cos, rank FROM ranked WHERE rank <= $S12K
       |ORDER BY id1, rank""".stripMargin

  val queries: ListMap[String, Q] = ListMap(
    "s1_cosine_topk" -> (s1CosineTopK _),
    "s2_ivf_topk" -> (s2IvfTopK _),
    "s3_ivf_kmeans" -> (s3IvfKmeans _),
    "s3b_kmeans_fixed" -> (s3bKmeansFixed _),
    "s13_probe_sweep" -> (s13ProbeSweep _),
    "s4_label_centroid" -> (s4LabelCentroid _),
    "s5_quantize" -> (s5Quantize _),
    "s6_lsh_topk" -> (s6LshTopK _),
    "s7_quantized_topk" -> (s7QuantizedTopK _),
    "s8_kcenter_sample" -> (s8KCenterSample _),
    "s8b_kcenter_fixed" -> (s8bKCenterFixed _),
    "s9_pq_topk" -> (s9PqTopK _),
    "s10_recall_eval" -> (s10RecallEval _),
    "s11_mmr_topk" -> (s11MmrTopK _),
    "s12_hard_negatives" -> (s12HardNegatives _),
  )

  /** Probe counts swept by [[s13ProbeSweep]]. */
  val S13Probes = Seq(1, 2, 4, 8)

  /** S13: IVF probe-count sweep — the recall/cost trade-off table an
    * index OPERATOR (not just its user) needs: for each nprobe in
    * [[S13Probes]], the mean recall@K of the s2-family IVF against the
    * exact s1 answer AND the average candidate-set size the rerank had
    * to score — the two axes the "how many cells do we probe" dial
    * actually moves. s10 evaluates ONE configuration; s13 measures the
    * curve, which is how the dial gets set before a 100 TB index build
    * is committed. Cell assignment, probing, and rerank reuse s2's
    * exact machinery (broadcast centroid panel, bounded TopK
    * aggregator); recall folds as exact integer hit counts over the
    * NQ·K pair universe, divided once at the end — hash-twinned, with
    * the oracle replaying all four probe settings.
    *
    * Bench-variance receipt (round-10 isolation probe, sf0.1, fresh JVM,
    * 5 runs each): the round-9 in-suite spread [3.65, 8.42] REPRODUCES
    * standalone — [3.73, 9.53] uncached, [3.31, 9.32] with the scored
    * frame cached — so it is NOT suite-order cache eviction; the max is
    * the first run (per-JVM codegen/JIT) and the rest is this VM's
    * documented wall-clock noise. Caching `scored` did cut the median
    * 5.17 s → 3.93 s (two consumers were rescanning the join/dot tail).
    * Round 11 replaced the former 4-way union-of-filtered-branches with
    * one broadcast θ-join against the 4-row settings dim — same rows
    * (probe sets are nested, so prank ≤ nprobe IS membership) but a
    * quarter of the codegen per consumer; the union plan was the
    * suite's most JIT-hungry and the prime suspect for r10's one-off
    * 40 s driver-bench outlier (data here is 2000×64 floats — ALL cost
    * is plan/codegen/shuffle fixed overhead, never bytes).
    */
  def s13ProbeSweep(s: SparkSession, dir: String): DataFrame = {
    val NCELL = 16
    val maxProbe = S13Probes.max
    val all = vecs(s, dir)
    val exact = s1CosineTopK(s, dir).select(col("id1"), col("id2"))
    val cents = all.filter(col("vec_id") < NCELL)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))
    val sims = all.join(broadcast(cents), lit(true))
      .select(col("vec_id"), col("cent_id"),
        round(dot(col("v"), col("cv")) / (col("nrm") * col("cn")), 6).as("cs"))
    val cells = sims.groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"), struct(col("cs"), -col("cent_id"))).as("cell"))
    // cached: referenced by both the candidate join and the vector
    // lookup — without the pin each branch re-runs the cell-assignment
    // groupBy (Bench/Verify release it after the query)
    val corpus = all.join(cells, Seq("vec_id"))
      .select(col("vec_id").as("id2"), col("v").as("v2"), col("nrm").as("n2"),
        col("cell")).cache()
    val qside = all.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("id1"), col("v").as("v1"), col("nrm").as("n1"))
    // probe sets are NESTED (top-1 ⊆ top-2 ⊆ …), so the whole sweep is
    // ONE plan: probe once at the max setting, tag every candidate with
    // the smallest nprobe whose probe set reaches it (min covering-cell
    // rank), and membership in a sweep setting is prank ≤ nprobe — no
    // per-setting job loop, no driver round-trips
    val probes = sims.filter(col("vec_id") < NQ)
      .groupBy(col("vec_id"))
      .agg(TopK.topK(maxProbe)(col("cs"), col("cent_id")).as("pc"))
      .select(col("vec_id").as("id1"), posexplode(col("pc.id")).as(Seq("pr", "cell")))
      .select(col("id1"), (col("pr") + 1).as("prank"), col("cell"))
    val scored = corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("id1") =!= col("id2"))
      .groupBy(col("id1"), col("id2")).agg(min(col("prank")).as("prank"))
      .join(broadcast(qside), Seq("id1"))
      .join(corpus.select(col("id2"), col("v2"), col("n2")), Seq("id2"))
      .select(col("id1"), col("id2"), col("prank"),
        round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6).as("cos"))
    // ONE broadcast θ-join against the 4-row settings dim instead of a
    // 4-way union of filtered branches: same rows (probe sets are
    // nested, so prank ≤ nprobe IS membership), but a single plan
    // branch — the union variant compiled 4× the codegen per consumer
    // and was the suite's most JIT-hungry plan (r10's 40 s outlier)
    val settings = { import s.implicits._; S13Probes.toDF("nprobe") }
    val tagged = scored.join(broadcast(settings), col("prank") <= col("nprobe"))
    // ONE linear consumer chain (r18): the former two-branch shape
    // (candidate counts ⟕ recall hits over the cached `scored`) rescanned
    // the sweep and re-joined two 4-row aggregates. Folding the per-query
    // candidate count into the TopK aggregation and summing both per
    // nprobe keeps every value integer-identical (n_candidates = Σ nc,
    // n_hits = Σ indicator — the left_semi count re-expressed), drops the
    // scored cache (single consumer now), one full sweep rescan, two
    // exchanges and the final join. The hit-count groupBy reuses the
    // (nprobe, id1) partitioning of the TopK aggregate — no new exchange.
    // A setting whose candidates hit nothing still gets its row, with
    // n_hits = 0: the sum runs over every (nprobe, query), and the s13Sql
    // twin reports all four settings. The old inner join to the hit
    // counts dropped such a setting; that was a latent bug.
    val perQ = tagged.groupBy(col("nprobe"), col("id1"))
      .agg(TopK.topK(K)(col("cos"), col("id2")).as("top"),
        count(lit(1)).as("nc"))
    val hitsPerQ = perQ
      .select(col("nprobe"), col("id1"), col("nc"),
        explode(col("top.id")).as("id2"))
      .join(broadcast(exact.withColumn("hit", lit(1))), Seq("id1", "id2"), "left")
      .groupBy(col("nprobe"), col("id1"))
      .agg(first(col("nc")).as("nc"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("h"))
    hitsPerQ.groupBy(col("nprobe"))
      .agg(sum(col("nc")).as("n_candidates"), sum(col("h")).as("n_hits"))
      .select(col("nprobe"), lit(NQ).as("n_queries"), col("n_hits"),
        round(col("n_hits") / lit((NQ * K).toDouble), 6).as("mean_recall"),
        round(col("n_candidates") / lit(NQ.toDouble), 6).as("avg_candidates"))
      .orderBy(col("nprobe"))
  }

  val s13Sql: String = {
    val perProbe = S13Probes.map { np =>
      s"""p$np AS (
         |  SELECT vec_id AS id1, cent_id AS cell FROM (
         |    SELECT vec_id, cent_id,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
         |    FROM sims WHERE vec_id < $NQ) WHERE rn <= $np
         |),
         |cand$np AS (
         |  SELECT DISTINCT p.id1, c.id2 FROM p$np p JOIN corpus c USING (cell)
         |  WHERE p.id1 <> c.id2
         |),
         |a$np AS (
         |  SELECT id1, id2 FROM (
         |    SELECT cd.id1, cd.id2,
         |      row_number() OVER (PARTITION BY cd.id1
         |        ORDER BY round(list_dot_product(q.v, c.v2) / (q.nrm * c.n2), 6) DESC,
         |                 cd.id2) AS rank
         |    FROM cand$np cd
         |    JOIN n q ON q.vec_id = cd.id1
         |    JOIN (SELECT DISTINCT id2, v2, n2 FROM corpus) c ON c.id2 = cd.id2
         |  ) WHERE rank <= $K
         |),
         |r$np AS (
         |  SELECT $np AS nprobe, $NQ AS n_queries,
         |    (SELECT count(*)::BIGINT FROM exact e
         |       JOIN a$np a ON a.id1 = e.id1 AND a.id2 = e.id2) AS n_hits,
         |    (SELECT count(*)::BIGINT FROM cand$np) AS n_candidates
         |)""".stripMargin
    }.mkString(",\n")
    val union = S13Probes.map(np => s"SELECT * FROM r$np").mkString("\nUNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |ex_scored AS (
       |  SELECT q.vec_id AS id1, c.vec_id AS id2,
       |         round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos
       |  FROM n q JOIN n c ON q.vec_id < $NQ AND q.vec_id <> c.vec_id
       |), exact AS (
       |  SELECT id1, id2 FROM (
       |    SELECT id1, id2,
       |           row_number() OVER (PARTITION BY id1 ORDER BY cos DESC, id2) AS rank
       |    FROM ex_scored) WHERE rank <= $K
       |),
       |cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n WHERE vec_id < 16),
       |sims AS (
       |  SELECT a.vec_id, a.nrm, c.cent_id,
       |         round(list_dot_product(a.v, c.cv) / (a.nrm * c.cn), 6) AS cs
       |  FROM n a CROSS JOIN cents c
       |),
       |cells AS (
       |  SELECT vec_id, cent_id AS cell FROM (
       |    SELECT vec_id, cent_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
       |    FROM sims) WHERE rn = 1
       |),
       |corpus AS (SELECT s.vec_id AS id2, n.v AS v2, n.nrm AS n2, s.cell
       |           FROM cells s JOIN n ON n.vec_id = s.vec_id),
       |$perProbe
       |SELECT nprobe, n_queries, n_hits,
       |  round(n_hits / ${(NQ * K).toDouble}, 6) AS mean_recall,
       |  round(n_candidates / ${NQ.toDouble}, 6) AS avg_candidates
       |FROM ($union) ORDER BY nprobe""".stripMargin
  }

  // s3b fixed-round Lloyd parameters: unit-vector dims are shifted by
  // +1 (into [0, 2]) and floor-quantized onto a 1e-6 grid, so every
  // distance, member sum, and floor-div centroid is exact non-negative
  // BIGINT arithmetic — order-independent and engine-independent (the
  // g1b doctrine; the +1 shift keeps Spark's truncating DIV and
  // DuckDB's // on the same floor-division semantics). Magnitudes:
  // per-pair distance ≤ 64·(2e6)² ≈ 2.6e14, total inertia ≤ n·that —
  // far inside Long at any fixture sf.
  val S3bCells = 16
  val S3bRounds = 3
  val S3bGrid = 1000000L

  /** S3B: the hash-twinned TRAINED-quantizer variant — the g1b/d10/m24b
    * doctrine applied to the IVF training step that s3 leaves rows-only:
    * [[S3bRounds]] synchronous Lloyd iterations (assign to argmin
    * squared-L2 centroid, tie → smallest cell; recompute centroids as
    * per-dim floor-div means) over integer-grid unit vectors, seeded
    * from the first [[S3bCells]] vectors. Output is the per-cell audit a
    * quantizer build emits before committing a 100 TB index: member
    * count, exact integer inertia, and the smallest member id — every
    * value a BIGINT, so the DuckDB twin (unrolled assign/update CTE
    * rounds of the identical expressions) matches bit-for-bit. s3
    * (MLlib k-means‖, sampled init, early-stop) remains the declared
    * scale path; s3b is its exact gate.
    *
    * Scale shape per round: points explode ONCE to (vec_id, dim, val)
    * longs (cached — vectors never re-read); assignment is a broadcast
    * join against the ≤ cells·dims centroid dim + two map-side-combined
    * integer aggregates; the update is one grouped integer sum. The
    * shuffles carry (vec_id, cell, partial-sum) longs, never vectors.
    */
  def s3bKmeansFixed(s: SparkSession, dir: String): DataFrame =
    kmeansFixedFrame(s, dir, S3bRounds)

  /** Rounds-parameterized form — the spec compares rounds = 0 (seed
    * centroids, no training) against [[S3bRounds]] to pin that the
    * Lloyd iterations actually tighten the cells.
    */
  private[queries] def kmeansFixedFrame(s: SparkSession, dir: String,
      rounds: Int): DataFrame = {
    val pts = vecs(s, dir)
      .select(col("vec_id"), col("nrm"), posexplode(col("v")).as(Seq("d0", "x")))
      .select(col("vec_id"), (col("d0") + 1).as("d"),
        floor((col("x") / col("nrm") + lit(1.0)) * lit(S3bGrid.toDouble))
          .cast("long").as("val"))
      // reused twice per round + the final stats pass; n·dims longs —
      // Bench/Verify release the pin after the query
      .cache()
    def assign(cents: DataFrame): DataFrame =
      pts.join(broadcast(cents), Seq("d"))
        .groupBy(col("vec_id"), col("cell"))
        .agg(sum((col("val") - col("cval")) * (col("val") - col("cval")))
          .as("dist"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("dist"), col("cell"))).as("b"))
        .select(col("vec_id"), col("b.cell").as("cell"), col("b.dist").as("dist"))
    var cents = pts.filter(col("vec_id") < S3bCells)
      .select(col("vec_id").as("cell"), col("d"), col("val").as("cval"))
    for (_ <- 1 to rounds)
      cents = pts
        .join(assign(cents).select(col("vec_id"), col("cell")), Seq("vec_id"))
        .groupBy(col("cell"), col("d"))
        .agg(expr("sum(val) DIV count(1)").as("cval"))
    assign(cents)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"), sum(col("dist")).as("inertia"),
        min(col("vec_id")).as("min_member"))
      .orderBy(col("cell"))
  }

  /** The s3b twin: [[S3bRounds]] unrolled assign/update CTE pairs of
    * the identical integer expressions (DuckDB sums widen to HUGEINT —
    * values stay far below either bound; CASTs pin the output types).
    * The per-point argmin is a row_number window ordered by the grouped
    * integer distance then cell — fine at oracle scale where the Spark
    * side uses the distributed min(struct) partial aggregate.
    */
  val s3bSql: String = {
    def asg(name: String, cents: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT vec_id, cell, dist FROM (
         |    SELECT p.vec_id, c.cell,
         |      CAST(sum((p.val - c.cval) * (p.val - c.cval)) AS BIGINT) AS dist,
         |      row_number() OVER (PARTITION BY p.vec_id
         |        ORDER BY sum((p.val - c.cval) * (p.val - c.cval)), c.cell) AS rn
         |    FROM pts p JOIN $cents c USING (d)
         |    GROUP BY p.vec_id, c.cell
         |  ) WHERE rn = 1
         |)""".stripMargin
    val rounds = (1 to S3bRounds).map { i =>
      asg(s"a$i", s"c${i - 1}") + s""",
         |c$i AS MATERIALIZED (
         |  SELECT a.cell, p.d, CAST(sum(p.val) // count(*) AS BIGINT) AS cval
         |  FROM pts p JOIN a$i a USING (vec_id)
         |  GROUP BY a.cell, p.d
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |pts AS MATERIALIZED (
       |  SELECT vec_id, d,
       |    CAST(floor((v[d] / nrm + 1.0) * ${S3bGrid}.0) AS BIGINT) AS val
       |  FROM (SELECT vec_id, v, nrm, unnest(range(1, len(v) + 1)) AS d FROM n)
       |),
       |c0 AS MATERIALIZED (
       |  SELECT vec_id AS cell, d, val AS cval FROM pts WHERE vec_id < $S3bCells
       |),
       |$rounds,
       |${asg("af", s"c$S3bRounds")}
       |SELECT cell, count(*)::BIGINT AS n_members,
       |  CAST(sum(dist) AS BIGINT) AS inertia, min(vec_id) AS min_member
       |FROM af GROUP BY cell ORDER BY cell""".stripMargin
  }

  /** S8B: the hash-twinned k-center variant — [[kCenterFrame]]'s exact
    * greedy machinery (seed at min vec_id, farthest-first argmax, ties
    * → smallest id) run in grid mode: every cosine distance snaps to
    * the 1e-6 grid BEFORE the running min and the argmax, so each
    * greedy pick compares identical doubles in both engines and the
    * DuckDB twin (one unrolled min-update + argmax CTE pair per center)
    * matches hash-exactly. s8 (raw-double distances) stays the declared
    * path; s8b closes the family's rows-only gap. Same scale shape as
    * s8: k map passes, one job per round (the argmax rides the
    * checkpoint), vectors never shuffle.
    */
  def s8bKCenterFixed(s: SparkSession, dir: String): DataFrame =
    kCenterFrame(vecs(s, dir), KCenterK, grid = true)

  /** The s8b twin: m_i carries the running grid min-distance after
    * center i, p_{i+1} is its (mind desc, vec_id) argmax — the radius
    * column is the picked row's mind, matching the Spark loop's
    * post-update argmax. Every m/p CTE is referenced by the next round
    * AND the final union, hence MATERIALIZED (the g2b lesson).
    */
  val s8bSql: String = {
    val steps = (1 to KCenterK - 1).map { i =>
      val prev = if (i == 1) "m0" else s"m${i - 1}"
      s"""p$i AS MATERIALIZED (
         |  SELECT vec_id, v, nrm, mind FROM $prev
         |  ORDER BY mind DESC, vec_id LIMIT 1
         |),
         |m$i AS MATERIALIZED (
         |  SELECT a.vec_id, a.v, a.nrm,
         |    least(a.mind, round(1 - list_dot_product(a.v, p.v) / (a.nrm * p.nrm), 6)) AS mind
         |  FROM $prev a, p$i p
         |)""".stripMargin
    }.mkString(",\n")
    val union = (1 to KCenterK - 1)
      .map(i => s"SELECT $i AS rank, vec_id, mind AS radius FROM p$i")
      .mkString("\nUNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |seed AS MATERIALIZED (SELECT vec_id, v, nrm FROM n ORDER BY vec_id LIMIT 1),
       |m0 AS MATERIALIZED (
       |  SELECT a.vec_id, a.v, a.nrm,
       |    least(2.0, round(1 - list_dot_product(a.v, s.v) / (a.nrm * s.nrm), 6)) AS mind
       |  FROM n a, seed s
       |),
       |$steps
       |SELECT rank, vec_id, radius FROM (
       |  SELECT 0 AS rank, vec_id, 0.0 AS radius FROM seed
       |  UNION ALL $union
       |) ORDER BY rank""".stripMargin
  }

  val oracle: ListMap[String, String] = ListMap(
    "s1_cosine_topk" -> s1Sql,
    "s3b_kmeans_fixed" -> s3bSql,
    "s8b_kcenter_fixed" -> s8bSql,
    "s13_probe_sweep" -> s13Sql,
    "s2_ivf_topk" -> s2Sql,
    "s4_label_centroid" -> s4Sql,
    "s5_quantize" -> s5Sql,
    "s6_lsh_topk" -> s6Sql,
    "s7_quantized_topk" -> s7Sql,
    "s9_pq_topk" -> s9Sql,
    "s10_recall_eval" -> s10Sql,
    "s11_mmr_topk" -> s11Sql,
    "s12_hard_negatives" -> s12Sql,
  )
}
