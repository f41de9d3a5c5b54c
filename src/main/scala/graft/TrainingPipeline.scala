package graft

import graft.functions.TextFunctions._
import graft.queries.{Dedup, Multimodal, Relational, Text}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.concurrent.duration.FiniteDuration

/** The full training-data curation flow, composed from the individual
  * operators the library ships — the end-to-end path a 100 TB corpus
  * takes from raw documents to packed training chunks:
  *
  *   ingest → quality gate → stratified rebalancing → exact dedup →
  *   near-dup cluster drop → benchmark decontamination →
  *   paragraph-level dedup → chunking → range-sharded write
  *
  * Every stage is one of the oracle-checked queries' operators applied
  * in sequence, so correctness is inherited; this object adds the
  * composition and the per-stage row accounting a curation run reports.
  *
  * Scale shape of the composition: the first three stages are map-only
  * filters that FUSE into the scan — one pass, no shuffle, and one
  * checkpoint: ingest and the quality gate are unpinned steps whose
  * counts ride the stratified sample's checkpoint job; exact dedup
  * shuffles 32-byte digests; the near-dup and decontamination stages
  * semi/anti-join against id sets that are tiny relative to the corpus
  * (duplicate-cluster members, contaminated ids) and broadcast; the
  * paragraph dedup decides on digest-only shuffles and moves surviving
  * paragraph text once (t19's shape); chunking is map-only explode; the
  * final write is one range exchange. Document text otherwise never
  * rides a shuffle except the digest-keyed exact dedup.
  */
object TrainingPipeline {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Test-only fault injection for the concurrent payload appends
    * ([[graft.streaming.GateStore.leveledFault]]'s doctrine): called
    * with the leg index at the start of each payload-append leg, so
    * a spec can hold a leg open (an interruptible sleep) and cancel
    * the batch mid-append deterministically — pinning the cancellation
    * envelope (jobs cancelled, no sentinel, replay repairs) instead of
    * trusting it. No-op in production.
    */
  private[graft] var payloadFault: Int => Unit = _ => ()

  /** Test-only tap: sees each stage's name and frame once its count
    * is known, in stage order — a pinned stage's checkpointed frame
    * while it is still pinned, an unpinned step's own lineage. No-op in
    * production.
    */
  private[graft] var stageTap: (String, DataFrame) => Unit = (_, _) => ()

  /** The stage hook all curation flows share. Each stage boundary
    * CHECKPOINTS (localCheckpoint: materialize + truncate lineage), so a
    * later stage never recomputes an earlier one's joins and the plan
    * stays flat — nested stage lineages grow the per-action plan walk
    * super-linearly. The row count rides the checkpoint job
    * ([[Checkpoints.eagerObserved]]), so accounting costs no job. Every
    * stage consumes only its predecessor, whose blocks are released once
    * the new checkpoint has materialized: storage stays one stage deep
    * (TrainingPipelineSpec asserts the bound). The latest stage stays
    * pinned until [[releaseLast]].
    *
    * A map-only step that only ONE later frame consumes needs no pin:
    * [[unpinned]] attaches its count as an observation and returns the
    * frame unmaterialized. The count resolves when the next pinned
    * stage materializes (its job runs the step's lineage too), with the
    * same bounded wait and scan fallback as the pinned counts
    * ([[Checkpoints.awaitMetrics]]). Counts and [[stageTap]] calls stay
    * in stage order.
    */
  final class Stages private[graft] (metricWait: FiniteDuration) {
    def this() = this(Checkpoints.ObserveWait)

    private val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    private val pending =
      scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame, Observation)]
    private var last: Checkpoints.Checkpointed = null
    private def rowCount = count(lit(1)).as("rows")

    def apply(name: String, df: DataFrame): DataFrame = {
      val (cp, m) = Checkpoints.eagerObserved(df, rowCount)
      try resolvePending()
      catch { case t: Throwable => cp.release(); throw t }
      rows += name -> m.getLong(0)
      stageTap(name, cp.df)
      releaseLast()
      last = cp
      cp.df
    }

    /** An unpinned step: `df` with its row count observed. Feed the
      * result to exactly one frame that reaches the next pinned stage.
      */
    def unpinned(name: String, df: DataFrame): DataFrame = {
      val obs = Observation()
      pending += ((name, df, obs))
      df.observe(obs, rowCount)
    }

    private def resolvePending(): Unit = {
      pending.foreach { case (name, df, obs) =>
        rows += name ->
          Checkpoints.awaitMetrics(df, obs, Seq(rowCount), metricWait).getLong(0)
        stageTap(name, df)
      }
      pending.clear()
    }

    def counts: Seq[(String, Long)] = { resolvePending(); rows.toSeq }

    def releaseLast(): Unit = if (last != null) last.release()
  }

  /** Runs curation over `dir`'s documents; returns the final chunk
    * DataFrame and the per-stage row counts, and optionally writes the
    * chunks range-sharded by doc_id. Only the returned chunk frame stays
    * persisted for the caller.
    */
  def curate(s: SparkSession, dir: String,
      outPath: Option[String] = None,
      minQuality: Double = 0.25,
      gopherGate: Boolean = false,
      semanticDedup: Boolean = false,
      shards: Int = 8): (DataFrame, Seq[(String, Long)]) = {
    val stage = new Stages
    val docs = stage.unpinned("ingest", Tables.documents(s, dir))

    // map-only gates — all three run in one scan pass, pinned once at
    // the sample. With gopherGate on, the t22 rule battery (native
    // gopher_flags bitmask) ANDs into the same filter — still zero
    // shuffle.
    val qualityPred = {
      val base = qualityScore(col("text")) >= minQuality
      if (gopherGate) base && expr("gopher_flags(text)") === 127 else base
    }
    val gated = stage.unpinned("quality_gate", docs.filter(qualityPred))
    val sampled = stage("stratified_sample",
      gated.filter(Relational.stratifiedKeep(col("doc_id"), col("lang"))))

    val chunks = backHalf(s, dir, exactDedup(stage, sampled), stage, semanticDedup)

    outPath.foreach(p =>
      graft.sources.Sinks.writeRangeSharded(chunks, p, "doc_id", shards))
    (chunks, stage.counts)
  }

  /** The corpus-global BACK HALF of curation — near-dup cluster drop →
    * (optional) semantic dedup → benchmark decontamination → paragraph
    * dedup → chunking — over an
    * already quality-gated, exactly-deduped survivor frame. Shared
    * verbatim by the all-batch [[curate]] and the streaming-front
    * hybrid (StreamCuration's sink feeds straight into this;
    * StreamCurationSpec pins hybrid == batch end-to-end), so the
    * "streaming hygiene, batch global dedup" split runs the same code
    * path rather than a re-implementation. `stage` is the caller's
    * hook, so [[curate]]'s counts continue across the split; a stage
    * boundary must materialize (a pass-through would leave the
    * near-dup/decontamination anti-joins self-referencing one lineage —
    * conflicting attribute ids). Only the returned chunk frame stays
    * pinned.
    */
  def backHalf(s: SparkSession, dir: String, exact: DataFrame,
      stage: Stages = new Stages,
      semanticDedup: Boolean = false): DataFrame = {
    // near-dup clusters: keep exactly one member per cluster. The
    // canonical member is chosen AMONG THIS RUN'S SURVIVORS — the
    // corpus-wide min doc_id may already have fallen to the quality
    // gate or the stratified sample, and dropping the precomputed
    // non-canonical set would then silently erase the whole cluster
    // (no representative at all). Cluster members are a tiny fraction
    // of the corpus → broadcast both the label join and the drop list.
    val (clusterLabels, ccHandle) = Dedup.d7DupClustersHandle(s, dir)
    val members = exact.select(col("doc_id"))
      .join(broadcast(clusterLabels), Seq("doc_id"))
    val dupDrop = members
      .withColumn("keep_id",
        min(col("doc_id")).over(Window.partitionBy(col("cluster"))))
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"))
    val deduped = stage("near_dup_drop",
      exact.join(broadcast(dupDrop), Seq("doc_id"), "left_anti"))
    // the dedup stage is materialized by `stage` — release the d7 label
    // frame's pinned blocks right away
    ccHandle.release()

    // OPTIONAL semantic dedup (SemDeDup, the modern stack's extra pass):
    // an embedding-space clone shares no shingle with its source, so the
    // text-side near-dup stage above can't see it. The two-level d9
    // quantizer runs over the CURRENT SURVIVORS' vectors only (vec_id
    // aligns with doc_id in this corpus, TESTDATA.md), and the drop set
    // — non-survivors of this stage's own input — broadcasts like every
    // other drop list here. A document without an embedding row is
    // never dropped (the drop set is built from the embedding side).
    val semDeduped =
      if (!semanticDedup) deduped
      else {
        import graft.functions.SimFunctions.{toDoubleVec, l2Norm}
        val emb = Tables.embeddings(s, dir)
          .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
          .withColumn("nrm", l2Norm(col("v")))
          .join(deduped.select(col("doc_id").as("vec_id")), Seq("vec_id"))
        val keep = Dedup.semDedup(emb, Dedup.SemDedupThr)
          .select(col("vec_id").as("doc_id"))
        val dropSet = emb.select(col("vec_id").as("doc_id"))
          .join(keep, Seq("doc_id"), "left_anti")
        stage("semantic_dedup",
          deduped.join(broadcast(dropSet), Seq("doc_id"), "left_anti"))
      }

    // benchmark decontamination: drop flagged ids (same broadcast shape)
    val contaminated = Dedup.d6Decontaminate(s, dir)
    val clean = stage("decontaminate",
      semDeduped.join(broadcast(contaminated), Seq("doc_id"), "left_anti"))

    // corpus-wide paragraph dedup (t19's core): strip spans already seen
    // at a lower (doc_id, idx); a document reduced to nothing drops out
    // of the inner join entirely
    val paraDeduped = stage("paragraph_dedup",
      clean.drop("text").join(
        Text.paragraphDedupFrame(clean.select(col("doc_id"), col("text")))
          .select(col("doc_id"), col("body").as("text")),
        Seq("doc_id")))

    // chunk the survivors 128/96 (same grid as t16)
    stage("chunk", chunkFrame(paraDeduped))
  }

  /** Exact dedup stage: the min doc_id survives per content digest. */
  private def exactDedup(stage: Stages, docs: DataFrame): DataFrame = {
    val keepers = docs
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    stage("exact_dedup", docs.join(keepers, Seq("doc_id"), "left_semi"))
  }

  /** Decontamination stage of the incremental flows: drops docs sharing
    * a 4-gram with the benchmark set (d6's `% 97` eval slice of
    * `benchDir`). The bench dim broadcasts; `docs` is the only scanned
    * side.
    */
  private def decontaminate(s: SparkSession, stage: Stages, docs: DataFrame,
      benchDir: String): DataFrame = {
    def grams(d: DataFrame): DataFrame = d.select(col("doc_id"),
      explode(shingles(tokenize(col("text")), 4)).as("g"))
    val bench = grams(Tables.documents(s, benchDir)
        .filter(col("doc_id") % 97 === 0))
      .select(col("g")).distinct()
    val contaminated = grams(docs)
      .join(broadcast(bench), Seq("g"), "left_semi")
      .select(col("doc_id")).distinct()
    stage("decontaminate",
      docs.join(broadcast(contaminated), Seq("doc_id"), "left_anti"))
  }

  /** t16's 128/96 chunk grid over a (doc_id, source, text, ...) frame —
    * shared by [[backHalf]] and [[curateIncremental]]. Map-only explode.
    */
  private def chunkFrame(docs: DataFrame): DataFrame = {
    val chunkTokens = slice(col("t"), col("chunk_id") * 96 + 1, lit(128))
    docs.select(col("doc_id"), col("source"), tokenize(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), col("source"), col("t"),
        explode(sequence(lit(0),
          floor((size(col("t")) - 1) / 96.0).cast("int"))).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"), col("source"),
        array_join(chunkTokens, " ").as("chunk"),
        size(chunkTokens).as("n_tok"))
  }

  /** Incremental curation — the DAILY-SHARD path: one ingest batch is
    * gated against a PERSISTENT corpus store (the d19WriteStore layout)
    * instead of re-running [[curate]] over the whole corpus per ingest:
    *
    *   quality gate (map-only) → exact dedup within the batch →
    *   near-dup gate vs the persisted MinHash index (d19ProbeStored:
    *   corpus text never rescanned) → benchmark decontamination
    *   (broadcast gram probe) → ACCEPTED docs' bands + shingles appended
    *   to the store → chunking.
    *
    * The gate's contract is corpus-novelty: a batch doc near-dupping any
    * already-accepted corpus doc is dropped (the corpus copy survives).
    * Intra-batch NEAR-dups (distinct fingerprints) both pass — each is
    * novel vs the corpus — and fall to the next corpus-global d7/d15
    * pass, exactly like production ingest gates; intra-batch EXACT dups
    * are dropped here. Per batch the corpus-proportional work is one
    * bands-index scan (32 small rows per corpus doc, measured flat in
    * SCALING.md's d19 receipt); everything else is batch-sized.
    *
    * `benchDir` supplies the benchmark set (the same `% 97` eval slice
    * d6 gates on). Returns the batch's chunk frame + per-stage counts.
    *
    * MULTIMODAL GATES (optional, the d20/mm9 stores): when the batch
    * carries an embedding table (`batchEmbeddings`, vec_id == doc_id —
    * TESTDATA.md's alignment, the same one backHalf's semantic dedup
    * uses) and an `embedStoreDir` (the d20WriteStore layout), docs
    * whose VECTORS near-dup an already-accepted corpus vector are
    * dropped at an `embed_dup_gate` stage — an embedding-space clone
    * shares no shingle with its source, so the text gate cannot see it
    * (the SemDeDup rationale, incremental form). Likewise `batchMedia`
    * ((media_id, payload, format), media_id == doc_id) +
    * `mediaStoreDir` (mm9WriteStore layout) adds a `media_dup_gate` on
    * perceptual-hash near-dups. A doc WITHOUT an embedding/media row is
    * never dropped by these gates (the probes see survivors' rows
    * only). Accepted docs' sig/band rows are appended to each store
    * after decontamination, payloads-before-index, so the next batch's
    * gates see them. Every store handed to this API must be SEEDED
    * from a NON-EMPTY corpus (d19WriteStore / d20WriteStore /
    * mm9WriteStore): the probes read the store tables unconditionally,
    * and a bucket-partitioned write of ZERO rows produces no data files
    * for the read to infer a schema from. Bootstrapping a truly empty
    * corpus means running the first batch through [[curate]] (or a
    * direct store build from it) and gating from the second batch on.
    *
    * SINGLE-DELIVERY contract: this API has no replay sentinel — a
    * re-presented batch would append its bands twice and then near-dup
    * against its own first delivery. Drive at-least-once sources
    * through [[graft.streaming.StreamNearDedup]], whose batch-directory
    * sentinel makes replays no-ops, and call this from exactly-once
    * orchestration only.
    */
  def curateIncremental(s: SparkSession, batch: DataFrame, storeDir: String,
      benchDir: String, outPath: Option[String] = None,
      minQuality: Double = 0.25, shards: Int = 8,
      batchEmbeddings: Option[DataFrame] = None,
      embedStoreDir: Option[String] = None,
      batchMedia: Option[DataFrame] = None,
      mediaStoreDir: Option[String] = None)
      : (DataFrame, Seq[(String, Long)]) = {
    // a one-sided modality pair would SILENTLY skip both the gate and
    // the store append — the misconfiguration must be loud, not a
    // permanently ungated corpus discovered months later
    require(batchEmbeddings.isDefined == embedStoreDir.isDefined,
      "batchEmbeddings and embedStoreDir must be supplied together")
    require(batchMedia.isDefined == mediaStoreDir.isDefined,
      "batchMedia and mediaStoreDir must be supplied together")
    val stage = new Stages
    val ingested = stage("ingest", batch)
    val exact = exactDedup(stage, stage("quality_gate",
      ingested.filter(qualityScore(col("text")) >= minQuality)))

    // near-dup gate against the persistent index: only the dropped ids
    // are pinned (no verdicts are published here). The eagerBuild THUNK
    // brackets the probe's construction, capturing the internal caches
    // its bucket-list collect pins (Checkpoints doc); released as soon
    // as the stage materializes.
    val gate = Checkpoints.eagerBuild(s)(
      probedIds(Dedup.d19ProbeStored(s, exact, storeDir)))
    val novel =
      try gateStage(stage, "near_dup_gate", exact, Some(gate.df))
      finally gate.release() // the stage is eager, so releasing here is safe

    // embedding near-dup gate (the d20 store): probe the SURVIVORS'
    // vectors only — already-dropped docs cost no probe work, and a doc
    // without an embedding row is simply not probed
    val embedGated = (batchEmbeddings, embedStoreDir) match {
      case (Some(embs), Some(eStore)) =>
        val survivorVecs = embs.select(col("vec_id"), col("embedding"))
          .join(novel.select(col("doc_id").as("vec_id")), Seq("vec_id"))
        val eGate = Checkpoints.eagerBuild(s)(
          probedIds(Dedup.d20ProbeStored(s, survivorVecs, eStore)))
        try gateStage(stage, "embed_dup_gate", novel, Some(eGate.df))
        finally eGate.release()
      case _ => novel
    }

    // media near-dup gate (the mm9 store): same survivor-only shape;
    // payloads are decoded and hashed map-side and never shuffle
    val mediaGated = (batchMedia, mediaStoreDir) match {
      case (Some(media), Some(mStore)) =>
        val survivorMedia = media
          .select(col("media_id"), col("payload"), col("format"))
          .join(embedGated.select(col("doc_id").as("media_id")),
            Seq("media_id"))
        val mGate = Checkpoints.eagerBuild(s)(
          probedIds(Multimodal.mm9ProbeStored(s, survivorMedia, mStore)))
        try gateStage(stage, "media_dup_gate", embedGated, Some(mGate.df))
        finally mGate.release()
      case _ => embedGated
    }

    val clean = decontaminate(s, stage, mediaGated, benchDir)

    // append the ACCEPTED docs to the store so the NEXT batch's gate
    // sees them — shingles (verify payloads) FIRST, bands (probe index)
    // LAST: GateStore's append-order contract (see its scaladoc for the
    // full argument), doubly load-bearing here because under the
    // single-delivery contract a crash-orphaned index row has NO retry
    // path at all.
    Checkpoints.sweep(s) {
      val sh = Dedup.shingleSetsOf(clean).cache()
      Dedup.shingleStoreRows(sh).write.mode("append").partitionBy("bucket")
        .parquet(s"$storeDir/shingles")
      Dedup.minhashBands(sh).write.mode("append").parquet(s"$storeDir/bands")
    }

    // accepted docs' vector/media index rows join their stores too —
    // same payloads-first discipline per store
    (batchEmbeddings, embedStoreDir) match {
      case (Some(embs), Some(eStore)) => Checkpoints.sweep(s) {
        Dedup.sigStoreRows(embs
            .join(clean.select(col("doc_id").as("vec_id")), Seq("vec_id")))
          .write.mode("append").partitionBy("bucket").parquet(s"$eStore/sigs")
      }
      case _ => ()
    }
    (batchMedia, mediaStoreDir) match {
      case (Some(media), Some(mStore)) => Checkpoints.sweep(s) {
        Multimodal.mm9IndexRows(media
            .select(col("media_id"), col("payload"), col("format"))
            .join(clean.select(col("doc_id").as("media_id")), Seq("media_id")))
          .write.mode("append").parquet(s"$mStore/bands")
      }
      case _ => ()
    }

    val chunks = stage("chunk", chunkFrame(clean))
    outPath.foreach(p =>
      graft.sources.Sinks.writeRangeSharded(chunks, p, "doc_id", shards))
    (chunks, stage.counts)
  }

  /** The ids a gate drops: the distinct `new_id`s of its probe pairs,
    * as `doc_id`.
    */
  private def probedIds(probe: DataFrame): DataFrame =
    probe.select(col("new_id").as("doc_id")).distinct()

  /** One gate stage of the incremental curations: drop the [[probedIds]]
    * frame `dropped` from `survivors` and materialize the rest as stage
    * `name` (`None` — nothing probed — passes every survivor). The
    * dropped ids are batch-sized (a subset of the batch), so the
    * anti-join broadcasts. The caller owns the pin behind `dropped`.
    */
  private def gateStage(stage: Stages, name: String, survivors: DataFrame,
      dropped: Option[DataFrame]): DataFrame =
    stage(name, dropped.fold(survivors)(d =>
      survivors.join(broadcast(d), Seq("doc_id"), "left_anti")))

  /** The unified verdict-frame schema [[curateIncrementalBatch]]
    * publishes per batch: one row per (gate, probe pair), `score` is
    * the gate's native measure (jaccard / cosine / hamming) widened to
    * double.
    */
  val VerdictsDdl: String =
    "modality STRING, new_id BIGINT, dup_of BIGINT, score DOUBLE"

  /** Schema of the published chunk frame ([[chunkFrame]]'s shape). */
  val ChunksDdl: String =
    "doc_id BIGINT, chunk_id INT, source STRING, chunk STRING, n_tok INT"

  /** Published verdicts of one curated batch
    * (`outDir/verdicts/batch=<id>`), read back in the exact
    * [[VerdictsDdl]] shape. A missing or data-less dir reads as an
    * empty frame of that schema — reading it would otherwise throw.
    */
  def readVerdicts(s: SparkSession, outDir: String, batchId: Long): DataFrame =
    readPublished(s, outDir, batchId, "verdicts", VerdictsDdl)

  /** Published chunks of one curated batch
    * (`outDir/chunks/batch=<id>`) — [[readVerdicts]]' twin in the
    * [[ChunksDdl]] shape.
    */
  def readChunks(s: SparkSession, outDir: String, batchId: Long): DataFrame =
    readPublished(s, outDir, batchId, "chunks", ChunksDdl)

  private def readPublished(s: SparkSession, outDir: String, batchId: Long,
      kind: String, ddl: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    val dir = new java.io.File(s"$outDir/$kind/batch=$batchId")
    if (graft.streaming.GateStore.hasDataFiles(dir))
      s.read.parquet(dir.toString).select(schema.fields.toSeq.map(f => col(f.name)): _*)
    else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** [[curateIncremental]] made REPLAY-SAFE — the at-least-once edition
    * that can sit directly in a streaming foreachBatch
    * ([[graft.streaming.StreamCuration.triGateSink]] curries it): same
    * stages, same gate semantics, but every store is the
    * [[graft.streaming.GateStore]] batch-directory layout instead of a
    * flat append, and the whole batch commits under ONE replay
    * sentinel — the TEXT store's `bands/batch=<id>` commit marker,
    * written LAST across all three stores (GateStore's append-order
    * contract). A re-presented batch id finds the sentinel (or the
    * compaction marker vouching for it) and is a byte-identical no-op;
    * a crash at ANY earlier point leaves only overwrite-mode partial
    * output the re-delivery fully repairs, because every write this
    * method performs is deterministic in (batch content, prior stores)
    * and prior stores are read strictly below `batchId`.
    *
    * Differences from the single-delivery API, beyond the sentinel:
    *  - BOOTSTRAP: stores need no seeding. Batch 0 (no prior
    *    data-bearing dirs) probes nothing, passes every gate, and
    *    seeds all three stores — the empty-corpus bootstrap
    *    curateIncremental's flat layout cannot express.
    *  - VERDICTS are published, not just counted: one frame
    *    ([[VerdictsDdl]]) unioning the three gates' probe pairs lands
    *    at `outDir/verdicts/batch=<id>`; chunks at
    *    `outDir/chunks/batch=<id>`; per-stage row counts at
    *    `outDir/stage_counts/batch=<id>`.
    *  - Store maintenance is the gates' own: compact via
    *    StreamNearDedup/StreamEmbedDedup/StreamMediaDedup.compact on
    *    the respective store roots.
    *
    * `sigSpec` picks the embedding-signature geometry (SigWide for
    * production-scale stores) and `mhSpec` the text gate's MinHash
    * banding ([[Dedup.MinHashSharp]] for near-clone production gates);
    * one store, one geometry, for life. `probeDepth` turns on the embed
    * gate's multi-probe recall dial ([[Dedup.d20ProbeDirs]]) and
    * `mediaProbeDepth` the media gate's ([[Multimodal.mm9Probe]];
    * depth 1 certifies the full hamming-6 radius).
    *
    * The stores' PAYLOAD appends (shingles / sigs / media bands) always
    * run concurrently through [[Concurrent.map]]: the append-order
    * contract only sequences payloads BEFORE the text-bands sentinel, not
    * among themselves, so all payload legs are joined before the
    * sentinel write. Interrupting the caller cancels the legs' Spark
    * jobs; the batch then fails before its sentinel with the interrupt
    * flag restored, and its replay repairs it.
    */
  def curateIncrementalBatch(s: SparkSession, batch: DataFrame,
      batchId: Long, storeDir: String, benchDir: String, outDir: String,
      minQuality: Double = 0.25,
      batchEmbeddings: Option[DataFrame] = None,
      embedStoreDir: Option[String] = None,
      batchMedia: Option[DataFrame] = None,
      mediaStoreDir: Option[String] = None,
      sigSpec: Dedup.SigSpec = Dedup.SigNarrow,
      probeDepth: Int = 0,
      mediaProbeDepth: Int = 0,
      mhSpec: Dedup.MinHashSpec = Dedup.MinHashDefault): Unit = {
    import graft.streaming.GateStore
    require(batchEmbeddings.isDefined == embedStoreDir.isDefined,
      "batchEmbeddings and embedStoreDir must be supplied together")
    require(batchMedia.isDefined == mediaStoreDir.isDefined,
      "batchMedia and mediaStoreDir must be supplied together")
    // fail-fast probeDepth validation, even when no embed/media store
    // is wired this run — a bad dial must not lie dormant until the
    // first batch that happens to carry that modality
    Dedup.d20ProbeMasks(sigSpec.bandBits, probeDepth)
    Dedup.d20ProbeMasks(Multimodal.PhashBandChars, mediaProbeDepth)
    // loud geometry pins BEFORE the replay early-return: a mis-specced
    // caller should fail on its first touch of ANY store, not only on
    // the first unprocessed batch (GateStore.ensureGeometry's contract).
    // All three stores have shape parameters — text shingle/banding,
    // embed SigSpec, media pHash banding — and all three pin them.
    GateStore.ensureGeometry(storeDir, mhSpec.geometryId)
    embedStoreDir.foreach(GateStore.ensureGeometry(_, sigSpec.geometryId, sigSpec.legacyGeometryIds))
    mediaStoreDir.foreach(
      GateStore.ensureGeometry(_, graft.streaming.StreamMediaDedup.Geometry))
    if (GateStore.alreadyMerged(storeDir, "bands", batchId)) return

    // the whole batch holds every wired store's lock (text, then embed,
    // then media — one fixed order, and the only other takers either
    // skip or bounded-wait, so no deadlock): an out-of-band maintain
    // pass can never fold a store's dirs out from under this batch's
    // probes, and maintenance arriving mid-batch defers (GateStore.
    // withStoreLock's contract).
    def withLocks(dirs: Seq[String])(body: => Unit): Unit = dirs match {
      case Seq() => body
      case d +: rest =>
        GateStore.withStoreLock(d, s"batch=$batchId", blocking = true)(
          withLocks(rest)(body))
        ()
    }
    try withLocks(Seq(storeDir) ++ embedStoreDir ++ mediaStoreDir) {
    // exception safety: the per-stage and per-probe releases below run
    // on the SUCCESS path only; a mid-batch failure (and its
    // at-least-once retry) would otherwise leak every localCheckpoint
    // pinned so far, once per attempt. sweep() brackets the whole batch
    // as the backstop — the inner early releases still matter (they cap
    // PEAK storage inside the batch), the sweep guarantees zero leaks
    // on ANY exit. Double-release is a no-op (unpersist is idempotent).
    Checkpoints.sweep(s) {
      def prior(root: String, table: String): Seq[String] =
        GateStore.priorDirs(root, table, batchId)

      val stage = new Stages
      val ingested = stage("ingest", batch)
      val exact = exactDedup(stage, stage("quality_gate",
        ingested.filter(qualityScore(col("text")) >= minQuality)))

      // the three gates, each probing only its predecessor's SURVIVORS
      // (curateIncremental's shape). The probe checkpoints are held until
      // the verdict union is WRITTEN — a released localCheckpoint cannot
      // be re-read, so releasing at stage time would lose the pair rows
      // the verdict frame publishes. They pin the UNSORTED pair builders:
      // no verdict reader uses the public probes' (new_id, dup_of) order.
      val textPrior = prior(storeDir, "bands")
      val textV =
        if (textPrior.isEmpty) None
        else Some(Checkpoints.eagerBuild(s)(Dedup.d19ProbePairs(
          s, exact, textPrior, prior(storeDir, "shingles"), mhSpec)))
      val novel = gateStage(stage, "near_dup_gate", exact,
        textV.map(cp => probedIds(cp.df)))

      val embedV = (batchEmbeddings, embedStoreDir) match {
        case (Some(embs), Some(eStore)) if prior(eStore, "sigs").nonEmpty =>
          val survivorVecs = embs.select(col("vec_id"), col("embedding"))
            .join(novel.select(col("doc_id").as("vec_id")), Seq("vec_id"))
          Some(Checkpoints.eagerBuild(s)(Dedup.d20ProbePairs(
            s, survivorVecs, prior(eStore, "sigs"), sigSpec, probeDepth)))
        case _ => None
      }
      val embedGated =
        if (embedStoreDir.isEmpty) novel
        else gateStage(stage, "embed_dup_gate", novel,
          embedV.map(cp => probedIds(cp.df)))

      val mediaV = (batchMedia, mediaStoreDir) match {
        case (Some(media), Some(mStore)) if prior(mStore, "bands").nonEmpty =>
          val survivorMedia = media
            .select(col("media_id"), col("payload"), col("format"))
            .join(embedGated.select(col("doc_id").as("media_id")),
              Seq("media_id"))
          Some(Checkpoints.eagerBuild(s)(Multimodal.mm9ProbePairs(
            s, survivorMedia, prior(mStore, "bands"), mediaProbeDepth)))
        case _ => None
      }
      val mediaGated =
        if (mediaStoreDir.isEmpty) embedGated
        else gateStage(stage, "media_dup_gate", embedGated,
          mediaV.map(cp => probedIds(cp.df)))

      val clean = decontaminate(s, stage, mediaGated, benchDir)

      // ---- publish, then append, sentinel LAST (GateStore contract) ----
      // 1. the unified verdict frame
      val verdictParts =
        textV.map(_.df.select(lit("text").as("modality"), col("new_id"),
          col("dup_of"), col("jaccard").cast("double").as("score"))) ++
        embedV.map(_.df.select(lit("embed").as("modality"), col("new_id"),
          col("dup_of"), col("cos").cast("double").as("score"))) ++
        mediaV.map(_.df.select(lit("media").as("modality"), col("new_id"),
          col("dup_of"), col("hamming").cast("double").as("score")))
      val verdicts = verdictParts.reduceOption(_.unionByName(_)).getOrElse(
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(VerdictsDdl)))
      verdicts.write.mode("overwrite").parquet(s"$outDir/verdicts/batch=$batchId")
      Seq(textV, embedV, mediaV).flatten.foreach(_.release())

      // 2. chunks (written straight to disk — no checkpoint needed,
      //    the stage count reads the committed file back)
      chunkFrame(clean).write.mode("overwrite")
        .parquet(s"$outDir/chunks/batch=$batchId")

      // 3. per-stage accounting: the chunks were never checkpointed, so
      //    their count re-reads the committed file
      s.createDataFrame(
          stage.counts :+ ("chunk" -> readChunks(s, outDir, batchId).count()))
        .toDF("stage", "rows").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/stage_counts/batch=$batchId")

      // 4. store appends — shingles/sigs/media bands first, TEXT bands
      //    (the batch's one replay sentinel) dead last. The contract
      //    orders payloads BEFORE the sentinel, not among themselves:
      //    the payload jobs run concurrently and are ALL joined before
      //    the sentinel write starts.
      Checkpoints.sweep(s) {
        val sh = Dedup.shingleSetsOf(clean).cache()
        val payloadAppends: Seq[() => Unit] = Seq(
          Some(() => Dedup.shingleStoreRows(sh)
            .write.mode("overwrite").partitionBy("bucket")
            .parquet(s"$storeDir/shingles/batch=$batchId")),
          (batchEmbeddings, embedStoreDir) match {
            case (Some(embs), Some(eStore)) => Some(() =>
              Dedup.sigStoreRows(embs.select(col("vec_id"), col("embedding"))
                  .join(clean.select(col("doc_id").as("vec_id")), Seq("vec_id")),
                  sigSpec)
                .write.mode("overwrite").partitionBy("bucket")
                .parquet(s"$eStore/sigs/batch=$batchId"))
            case _ => None
          },
          (batchMedia, mediaStoreDir) match {
            case (Some(media), Some(mStore)) => Some(() =>
              Multimodal.mm9IndexRows(media
                  .select(col("media_id"), col("payload"), col("format"))
                  .join(clean.select(col("doc_id").as("media_id")), Seq("media_id")))
                .write.mode("overwrite")
                .parquet(s"$mStore/bands/batch=$batchId"))
            case _ => None
          }).flatten
        // a failed or cancelled payload leg fails the batch before the
        // sentinel lands, so the replay envelope is untouched
        Concurrent.map(s, s"graft-payload-append-$batchId",
            payloadAppends.indices) { i => payloadFault(i); payloadAppends(i)() }
        Dedup.minhashBandsSpec(sh, mhSpec).write.mode("overwrite")
          .parquet(s"$storeDir/bands/batch=$batchId")
      }
      stage.releaseLast()
    }
    } catch { case t: Throwable
        if (t +: t.getSuppressed.toSeq).exists(_.isInstanceOf[InterruptedException]) =>
      // the interrupt flag is restored HERE, after the sweep/lock
      // finallys: set any earlier, it would let their own blocking calls
      // (unpersist's askSync, marker I/O) throw a fresh
      // InterruptedException that REPLACES the batch's real failure, and
      // consume the flag on the way
      Thread.currentThread().interrupt()
      throw t
    }
  }

  /** One [[graft.streaming.GateStore.maintain]] pass over all three of
    * a tri-gate deployment's stores — the out-of-band cron companion to
    * [[graft.streaming.StreamCuration.triGateSink]] when the sink runs
    * WITHOUT inline compaction. `owner` is the same name the sink was
    * constructed with (all three stores carry it, so maintenance
    * presents it to each); thresholds come from one shared policy.
    * Returns per-store reports keyed `text` / `embed` / `media`; the
    * single-writer refusal of any store propagates — a partially
    * maintained trio is fine (each store's pass is independent), a
    * silently skipped refusal is not.
    */
  def maintainTriGate(s: SparkSession, textStoreDir: String,
      embedStoreDir: String, mediaStoreDir: String, owner: String,
      policy: graft.streaming.GateStore.MaintenancePolicy =
        graft.streaming.GateStore.MaintenancePolicy())
      : Map[String, graft.streaming.GateStore.MaintenanceReport] = {
    val p = policy.copy(onBehalfOf = Some(owner))
    Map(
      "text" -> graft.streaming.StreamNearDedup.maintain(s, textStoreDir, p),
      "embed" -> graft.streaming.StreamEmbedDedup.maintain(s, embedStoreDir, p),
      "media" -> graft.streaming.StreamMediaDedup.maintain(s, mediaStoreDir, p))
  }
}
