package graft.streaming

import graft.functions.TextFunctions.{fingerprint, qualityScore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Incremental front half of TrainingPipeline.curate — the stages whose
  * semantics are per-row or keyed-by-digest run as Structured Streaming,
  * so a recurring crawl feeds curated text continuously instead of
  * re-running the batch pipeline over the full corpus:
  *
  *   file source (new crawl drops) → quality gate → exact dedup
  *
  * The quality gate is stateless and fuses into the file-source scan
  * (native quality_raw expression — one codegen pass). Exact dedup keys
  * the state store by the 16-byte content digest, NEVER the text: state
  * size is |distinct digests| × ~50 bytes regardless of document size,
  * and each micro-batch shuffles only its delta. The corpus-wide stages
  * that need a global view (near-dup clusters, decontamination) stay
  * batch — they consume this stream's sink on the reference's Airflow
  * cadence, reading only the new shard (the same split production
  * curation systems use: streaming hygiene, batch global dedup).
  *
  * Both dedup-state trade-offs from StreamDedup apply unchanged: the
  * default keeps a digest forever (exactly-once per content across all
  * history); the bounded variant evicts state behind the watermark.
  */
object StreamCuration {

  /** Quality-gated, digest-deduped document stream (unbounded digest
    * state — exactly-once per content over all history).
    */
  def curateStream(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      minQuality: Double,
      tsCol: String,
      watermark: String = "48 hours",
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
      .filter(qualityScore(col("text")) >= minQuality)
      .withColumn("digest", fingerprint(col("text")))
      .withWatermark(tsCol, watermark)
      .dropDuplicates("digest")

  /** ONE STREAM, THREE GATES: the foreachBatch that drives the full
    * incremental-curation batch body
    * ([[graft.TrainingPipeline.curateIncrementalBatch]]) — text MinHash
    * gate + embedding sign-LSH gate + media pHash gate, all fed from a
    * SINGLE readStream whose rows carry the aligned modalities:
    *
    * {{{
    *   doc_id BIGINT, text STRING, source STRING,
    *   embedding ARRAY<FLOAT>,   -- null = no vector for this doc
    *   payload BINARY, format STRING  -- null = no media for this doc
    * }}}
    *
    * Per micro-batch the sink splits the modality columns into the
    * batch-side frames curateIncrementalBatch expects (a null modality
    * cell means "this doc has no such row" — it is never probed by and
    * never dropped by that gate), runs the gated pipeline, and
    * publishes ONE verdict frame (TrainingPipeline.VerdictsDdl) plus
    * chunks and stage counts under `outDir`. Replay (at-least-once
    * foreachBatch) is a byte-identical no-op via the TEXT store's
    * batch sentinel; all three stores are claimed for `owner` up front
    * so a second query cannot interleave ([[GateStore.claimOwner]]).
    * The payload appends run concurrently and are all joined before the
    * text-bands sentinel (see curateIncrementalBatch).
    *
    * This is the streaming face of the reference's 30-minute DAG
    * running ingest+process as one unit (bbc_news_dag.py:144-152),
    * widened to the three-modality gate triad.
    */
  def triGateSink(spark: SparkSession, textStoreDir: String,
      embedStoreDir: String, mediaStoreDir: String, benchDir: String,
      outDir: String, owner: String, minQuality: Double = 0.25,
      sigSpec: graft.queries.Dedup.SigSpec = graft.queries.Dedup.SigNarrow,
      compactEvery: Option[Int] = None,
      probeDepth: Int = 0,
      mediaProbeDepth: Int = 0,
      mhSpec: graft.queries.Dedup.MinHashSpec =
        graft.queries.Dedup.MinHashDefault)
      : (DataFrame, Long) => Unit = {
    Seq(textStoreDir, embedStoreDir, mediaStoreDir)
      .foreach(GateStore.claimOwner(_, owner))
    // fail-fast probeDepth validation (the geometry/owner doctrine) —
    // both recall dials: embed (sigSpec bands) and media (pHash bands)
    graft.queries.Dedup.d20ProbeMasks(sigSpec.bandBits, probeDepth)
    graft.queries.Dedup.d20ProbeMasks(
      graft.queries.Multimodal.PhashBandChars, mediaProbeDepth)
    compactEvery.foreach(GateStore.requireCompactEvery)
    // construction-time geometry pins, next to the owner claims: a
    // mis-specced restart fails before the stream starts, not at its
    // first micro-batch (round-14 advice)
    GateStore.ensureGeometry(textStoreDir, mhSpec.geometryId)
    GateStore.ensureGeometry(embedStoreDir, sigSpec.geometryId, sigSpec.legacyGeometryIds)
    GateStore.ensureGeometry(mediaStoreDir, StreamMediaDedup.Geometry)
    (batch, batchId) => {
      val docs = batch.select(col("doc_id"), col("text"), col("source"))
      val embs = batch.filter(col("embedding").isNotNull)
        .select(col("doc_id").as("vec_id"), col("embedding"))
      val media = batch.filter(col("payload").isNotNull)
        .select(col("doc_id").as("media_id"), col("payload"), col("format"))
      graft.TrainingPipeline.curateIncrementalBatch(
        spark, docs, batchId, textStoreDir, benchDir, outDir,
        minQuality = minQuality,
        batchEmbeddings = Some(embs), embedStoreDir = Some(embedStoreDir),
        batchMedia = Some(media), mediaStoreDir = Some(mediaStoreDir),
        sigSpec = sigSpec, probeDepth = probeDepth,
        mediaProbeDepth = mediaProbeDepth, mhSpec = mhSpec)
      // inline leveled maintenance, per store (each keyed off its OWN
      // committed dirs — see GateStore.maybeCompactLeveled). Safe
      // relative to the cross-store replay sentinel: compaction's
      // marker-before-delete keeps every merged TEXT id vouched, and the
      // embed/media stores are only ever read for ids below a batch that
      // text's sentinel already gates.
      compactEvery.foreach { k =>
        StreamNearDedup.maybeCompactLeveled(spark, textStoreDir, k)
        StreamEmbedDedup.maybeCompactLeveled(spark, embedStoreDir, k)
        StreamMediaDedup.maybeCompactLeveled(spark, mediaStoreDir, k)
      }
    }
  }

  /** Bounded-state variant: a digest's state is evicted once its event
    * time falls behind the watermark (re-crawl after the horizon
    * re-emits — the 48-h feed model).
    */
  def curateStreamBounded(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      minQuality: Double,
      tsCol: String,
      watermark: String = "48 hours",
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
      .filter(qualityScore(col("text")) >= minQuality)
      .withColumn("digest", fingerprint(col("text")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("digest")
}
