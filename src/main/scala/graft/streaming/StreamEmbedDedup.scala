package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Dedup

/** Streaming face of d20: the per-micro-batch EMBEDDING near-dup ingest
  * gate — [[StreamNearDedup]]'s doctrine on the vector modality, so the
  * gate triad (text d19, embeddings d20, media mm9) shares one replay /
  * crash / compaction story. Each micro-batch of (vec_id, embedding)
  * rows is probed against the sign-LSH store built from every EARLIER
  * batch (band equi-join + exact-cosine verify on candidate buckets,
  * `Dedup.d20ProbeDirs`), its verdicts are published, and its own
  * signature rows are appended — the corpus vector table is never
  * touched per batch.
  *
  * Store layout (the [[GateStore]] protocol) — ONE table, because the
  * probe derives its band index from the stored signatures at read
  * time (a column-pruned (vec_id, sig) scan beats rescanning a stored
  * 4-rows-per-vector band table, measured in SCALING.md's round-13
  * fixed-batch gate receipts):
  * {{{
  *   store/sigs/batch=<id>/bucket=<k>   (vec_id, embedding, nrm, sig),
  *                                      bucketed by xxhash64(vec_id)%64 so the
  *                                      exact-cosine verify reads candidate
  *                                      buckets only (the d20ProbeStored shape)
  *   outDir/batch=<id>/                 (new_id, dup_of, cos) verdicts
  * }}}
  * foreachBatch is at-least-once: a re-delivered batch id finds its
  * `sigs/batch=<id>` sentinel (or the compaction marker vouching for
  * it) and skips both writes. Batch 0 probes an empty store and only
  * seeds it. One table also means there is no index/payload ordering
  * hazard in the append at all.
  *
  * Scale: per batch the corpus-proportional work is one 12-byte-per-
  * vector column scan of the store (banding) plus a candidate-bucket
  * payload fetch (verify); executor storage stays flat per batch
  * (eagerBuild probe bracket + sweep on the append leg, spec-pinned).
  */
object StreamEmbedDedup {

  private val Tables = Seq("sigs" -> Seq("bucket"))

  /** The foreachBatch body, curried with the store/output roots. `spec`
    * picks the signature geometry (`Dedup.SigWide` for production-scale
    * corpora — see SigSpec's candidate-rate argument); a store is
    * written and probed at ONE geometry for its whole life — pinned at
    * construction (a mis-specced restart fails before the stream
    * starts) AND per batch (a spec drifting mid-run fails at its first
    * micro-batch). `owner` defaults to `out:<outDir>` — stable across
    * restarts, so an unguarded call no longer exists
    * ([[StreamNearDedup.sink]]'s doctrine). `probeDepth` turns on
    * multi-probe for wide geometries ([[Dedup.d20ProbeDirs]]);
    * `compactEvery` opts into inline leveled compact-every-K
    * maintenance ([[GateStore.maybeCompactLeveled]], fanout 4), checked
    * at construction like the depth.
    */
  def sink(spark: SparkSession, storeDir: String, outDir: String,
      spec: Dedup.SigSpec = Dedup.SigNarrow,
      owner: Option[String] = None,
      compactEvery: Option[Int] = None,
      probeDepth: Int = 0): (DataFrame, Long) => Unit = {
    GateStore.claimOwner(storeDir, owner.getOrElse(GateStore.ownerFor(outDir)),
      if (owner.isEmpty) GateStore.legacyOwnerFor(outDir).toSeq else Nil)
    GateStore.ensureGeometry(storeDir, spec.geometryId, spec.legacyGeometryIds)
    // fail-fast like the geometry/owner guards: an out-of-range depth
    // must refuse at construction, not at the first non-empty store
    Dedup.d20ProbeMasks(spec.bandBits, probeDepth)
    compactEvery.foreach(GateStore.requireCompactEvery)
    (batch, batchId) =>
      processBatch(spark, batch, batchId, storeDir, outDir, spec,
        compactEvery, probeDepth)
  }

  /** One gate step; package-visible so the spec can drive batches
    * directly and assert replay idempotence.
    */
  private[graft] def processBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, storeDir: String, outDir: String,
      spec: Dedup.SigSpec = Dedup.SigNarrow,
      compactEvery: Option[Int] = None,
      probeDepth: Int = 0): Unit = {
    // loud geometry pin: probing a store at another SigSpec would wave
    // near-dups through silently (GateStore.ensureGeometry's contract)
    GateStore.ensureGeometry(storeDir, spec.geometryId, spec.legacyGeometryIds)
    val vecs = batch.select(col("vec_id"), col("embedding"))
    GateStore.runBatch(spark, batchId, storeDir, outDir, Tables,
      verdictsDdl = "new_id BIGINT, dup_of BIGINT, cos DOUBLE",
      probe = prior =>
        Dedup.d20ProbeDirs(spark, vecs, prior("sigs"), spec, probeDepth),
      // single-table append: the sigs commit marker is both the store
      // row set's and the replay sentinel's commit point (GateStore's
      // append-order contract)
      append = () => Dedup.sigStoreRows(vecs, spec)
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$storeDir/sigs/batch=$batchId"))
    compactEvery.foreach(GateStore.maybeCompactLeveled(spark, storeDir, Tables, _))
  }

  /** Compact store partitions with batch id < `upTo` into `batch=<upTo>`
    * — see [[GateStore.compact]] for the crash envelope and the replay-
    * sentinel marker.
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
