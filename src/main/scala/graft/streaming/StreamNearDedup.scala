package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Dedup

/** Streaming face of d19: a per-micro-batch NEAR-dup ingest gate over a
  * persistent MinHash store — the stateful sibling of [[StreamDedup]]'s
  * exact-key dedup. Each micro-batch of documents is probed against the
  * store built from every EARLIER batch (band equi-join + exact Jaccard
  * verify on candidates, `Dedup.d19ProbeDirs`), its near-dup verdicts
  * are published, and its own band + shingle rows are appended — so the
  * store grows linearly with the corpus and no batch ever touches
  * corpus TEXT at all.
  *
  * Store layout (the [[GateStore]] protocol; appends are PARTITIONED BY
  * BATCH and never rewritten):
  * {{{
  *   store/bands/batch=<id>/              (doc_id, band, bh)  the probe index
  *   store/shingles/batch=<id>/bucket=<k> (doc_id, sh)        verify payloads,
  *                                        bucketed by xxhash64(doc_id)%64 so
  *                                        the verify fetch prunes to candidate
  *                                        buckets (the d19ProbeStored shape)
  *   outDir/batch=<id>/                   (new_id, dup_of, jaccard) verdicts
  * }}}
  * foreachBatch is at-least-once: a re-delivered batch id finds its
  * `bands/batch=<id>` directory already present (or the compaction
  * marker vouching for it) and SKIPS all three writes — replays are
  * no-ops, and because the probe reads only batches `< id` (directory
  * names, not file listing order), a replay could not even see its own
  * half-written output. Batch 0 probes an empty store and only seeds it.
  *
  * Scale: identical to d19's stored-probe analysis — per batch the
  * corpus-proportional work is one scan of the bands dirs (32 small
  * rows per corpus doc, measured FLAT in SCALING.md's d19 receipt) and
  * a candidate-bucket-pruned shingle fetch. State lives in parquet, not
  * the state store, so it survives restarts and is queryable and
  * compactable like any table. Executor storage stays flat across
  * batches: the probe leg is bracketed in `Checkpoints.eagerBuild`
  * (captures the probe's construction-time caches) and the append leg
  * in `Checkpoints.sweep` (releases the banding's internal signature
  * cache) — the spec pins zero leaked persistent RDDs per batch.
  */
object StreamNearDedup {

  private val Tables = Seq("bands" -> Seq.empty[String],
    "shingles" -> Seq("bucket"))

  /** The text store's shape pin ([[GateStore.ensureGeometry]]): shingle
    * width, MinHash permutation/banding split and verify-bucket count.
    * A store probed at any other shape would band-match nothing and
    * wave near-dups through with zero errors — the same silent-recall
    * failure mode the embed store's SigSpec pin guards. FROZEN format
    * (SigSpec.geometryId's doctrine: never a derived toString); the
    * default [[graft.queries.Dedup.MinHashSpec]] derives this exact
    * string, so pre-spec stores re-claim unchanged.
    */
  private[graft] val Geometry: String =
    graft.queries.Dedup.MinHashDefault.geometryId

  /** The foreachBatch body, curried with the store/output roots:
    * `stream.writeStream.foreachBatch(sink(spark, store, out)).start()`.
    * `owner` (a STABLE logical name — the query's checkpoint location,
    * not a per-run UUID) claims exclusive store ownership at sink
    * construction via [[GateStore.claimOwner]]: a second query pointed
    * at the same store fails LOUDLY instead of interleaving batch dirs
    * undetected. DEFAULT-ON: when no name is given, the claim is
    * derived from the verdict output root (`out:<outDir>`) — exactly as
    * stable across restarts as the query's checkpoint, so an unguarded
    * call no longer exists (round-14 advice). The geometry pin runs
    * here too, so a mis-specced restart fails at construction, before
    * the stream starts. `compactEvery` opts into inline leveled
    * compact-every-K maintenance ([[GateStore.maybeCompactLeveled]],
    * fanout 4), checked here too.
    * `mhSpec` picks the MinHash banding geometry
    * ([[graft.queries.Dedup.MinHashSpec]]: default 32×4 oracle shape,
    * [[graft.queries.Dedup.MinHashSharp]] 16×8 for production
    * near-clone gates) — a STORE-shape parameter pinned by the
    * `_geometry` marker, one store, one geometry, for life.
    */
  def sink(spark: SparkSession, storeDir: String, outDir: String,
      owner: Option[String] = None,
      compactEvery: Option[Int] = None,
      mhSpec: Dedup.MinHashSpec = Dedup.MinHashDefault)
      : (DataFrame, Long) => Unit = {
    GateStore.claimOwner(storeDir, owner.getOrElse(GateStore.ownerFor(outDir)),
      if (owner.isEmpty) GateStore.legacyOwnerFor(outDir).toSeq else Nil)
    GateStore.ensureGeometry(storeDir, mhSpec.geometryId)
    compactEvery.foreach(GateStore.requireCompactEvery)
    (batch, batchId) =>
      processBatch(spark, batch, batchId, storeDir, outDir, compactEvery,
        mhSpec)
  }

  /** One gate step; package-visible so the spec can drive batches
    * directly and assert replay idempotence.
    */
  private[graft] def processBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, storeDir: String, outDir: String,
      compactEvery: Option[Int] = None,
      mhSpec: Dedup.MinHashSpec = Dedup.MinHashDefault): Unit = {
    GateStore.ensureGeometry(storeDir, mhSpec.geometryId)
    val docs = batch.select(col("doc_id"), col("text"))
    GateStore.runBatch(spark, batchId, storeDir, outDir, Tables,
      verdictsDdl = "new_id BIGINT, dup_of BIGINT, jaccard DOUBLE",
      probe = prior =>
        Dedup.d19ProbeDirs(spark, docs, prior("bands"), prior("shingles"),
          mhSpec),
      append = () => {
        // shingles first, bands (the sentinel table) LAST —
        // GateStore's append-order contract
        val sh = Dedup.shingleSetsOf(docs).cache()
        Dedup.shingleStoreRows(sh).write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$storeDir/shingles/batch=$batchId")
        Dedup.minhashBandsSpec(sh, mhSpec).write.mode("overwrite")
          .parquet(s"$storeDir/bands/batch=$batchId")
      })
    compactEvery.foreach(GateStore.maybeCompactLeveled(spark, storeDir, Tables, _))
  }

  /** Compact every store partition with batch id < `upTo` into the
    * `batch=<upTo>` directory (bands and shingles alike) — see
    * [[GateStore.compact]] for the crash envelope and the replay-
    * sentinel marker. `upTo` must be an already-merged batch.
    */
  def compact(spark: SparkSession, storeDir: String, upTo: Long): Unit =
    GateStore.compact(spark, storeDir, upTo, Tables)

  /** Leveled compact-every-K over this gate's store layout — what
    * `compactEvery` runs inline; bounded per-compaction cost, see
    * [[GateStore.maybeCompactLeveled]] for the rule and cost model.
    */
  def maybeCompactLeveled(spark: SparkSession, storeDir: String,
      every: Int, fanout: Int = 4): Seq[Long] =
    GateStore.maybeCompactLeveled(spark, storeDir, Tables, every, fanout)

  /** Operational snapshot of this gate's store — dir counts, bytes,
    * markers, levels; no Spark job ([[GateStore.describe]]).
    */
  def describe(storeDir: String): GateStore.StoreStats =
    GateStore.describe(storeDir, Tables)

  /** Out-of-band threshold-driven maintenance over this gate's store —
    * reads the [[describe]] snapshot and compacts (leveled) when the
    * policy says so; refuses owned stores without the owner's name
    * ([[GateStore.maintain]]).
    */
  def maintain(spark: SparkSession, storeDir: String,
      policy: GateStore.MaintenancePolicy = GateStore.MaintenancePolicy())
      : GateStore.MaintenanceReport =
    GateStore.maintain(spark, storeDir, Tables, policy)

}
