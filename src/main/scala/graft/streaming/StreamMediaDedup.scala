package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Multimodal

/** Streaming face of mm9: the per-micro-batch MEDIA near-dup ingest
  * gate, completing the streaming triad (text [[StreamNearDedup]],
  * embeddings [[StreamEmbedDedup]], media here). Each micro-batch of
  * (media_id, payload, format) rows is decoded and perceptually hashed
  * MAP-SIDE (payloads never shuffle — the mm1-mm8 contract), probed
  * against the pHash band index built from every EARLIER batch
  * (pigeonhole band equi-join + positionwise hamming on the phashes the
  * index rows already carry, `Multimodal.mm9ProbeDirs`), its verdicts
  * published, and its own band rows appended.
  *
  * Store layout (the [[GateStore]] protocol) — ONE table, because the
  * band rows carry the full phash, so the verify needs no payload
  * fetch; this is the cheapest of the three gates per batch and its
  * append has no index/payload ordering hazard at all:
  * {{{
  *   store/bands/batch=<id>/  (media_id, phash, band, bs)  index + verify
  *   outDir/batch=<id>/       (new_id, dup_of, hamming)    verdicts
  * }}}
  * foreachBatch is at-least-once: the bands dir is the replay sentinel
  * (or the compaction marker vouches for a merged id) — a re-delivered
  * batch skips both writes. Batch 0 probes an empty store and only
  * seeds it.
  *
  * Scale: per batch the corpus-proportional work is one scan of the
  * bands dirs — 4 rows × ~80 bytes per corpus media item, no payload
  * bytes anywhere in the probe; executor storage stays flat per batch
  * (eagerBuild probe bracket + sweep on the append leg, spec-pinned).
  */
object StreamMediaDedup {

  private val Tables = Seq("bands" -> Seq.empty[String])

  /** The media store's shape pin ([[GateStore.ensureGeometry]]): the
    * pHash banding split. FROZEN format (SigSpec.geometryId's doctrine).
    */
  private[graft] val Geometry: String =
    s"phash:64hex,bands=${graft.queries.Multimodal.PhashBands}" +
      s"x${graft.queries.Multimodal.PhashBandChars}"

  /** The foreachBatch body, curried with the store/output roots.
    * `owner` claims exclusive store ownership at sink construction —
    * [[GateStore.claimOwner]]'s contract — and defaults to
    * `out:<outDir>` (stable across restarts), so an unguarded call no
    * longer exists. The geometry pin runs at construction too.
    * `compactEvery` opts into inline leveled compact-every-K
    * maintenance ([[GateStore.maybeCompactLeveled]], fanout 4), checked
    * at construction like the dials. `probeDepth` turns on the
    * gate's multi-probe recall dial ([[Multimodal.mm9Probe]]'s
    * pigeonhole arithmetic: depth 1 certifies candidates through the
    * full hamming-6 verify radius; depth 0 is the byte-identical
    * single-probe default). Probe-time policy, not store shape — the
    * geometry pin is unchanged, exactly like the embed gate's dial.
    */
  def sink(spark: SparkSession, storeDir: String, outDir: String,
      owner: Option[String] = None,
      compactEvery: Option[Int] = None,
      probeDepth: Int = 0): (DataFrame, Long) => Unit = {
    GateStore.claimOwner(storeDir, owner.getOrElse(GateStore.ownerFor(outDir)),
      if (owner.isEmpty) GateStore.legacyOwnerFor(outDir).toSeq else Nil)
    GateStore.ensureGeometry(storeDir, Geometry)
    // fail-fast dial validation at construction (the embed sink's rule)
    graft.queries.Dedup.d20ProbeMasks(
      graft.queries.Multimodal.PhashBandChars, probeDepth)
    compactEvery.foreach(GateStore.requireCompactEvery)
    (batch, batchId) =>
      processBatch(spark, batch, batchId, storeDir, outDir, compactEvery,
        probeDepth)
  }

  /** One gate step; package-visible so the spec can drive batches
    * directly and assert replay idempotence.
    */
  private[graft] def processBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, storeDir: String, outDir: String,
      compactEvery: Option[Int] = None,
      probeDepth: Int = 0): Unit = {
    GateStore.ensureGeometry(storeDir, Geometry)
    val media = batch.select(col("media_id"), col("payload"), col("format"))
    GateStore.runBatch(spark, batchId, storeDir, outDir, Tables,
      verdictsDdl = "new_id BIGINT, dup_of BIGINT, hamming BIGINT",
      probe = prior =>
        Multimodal.mm9ProbeDirs(spark, media, prior("bands"), probeDepth),
      // single-table append: the bands commit marker is both the store
      // row set's and the replay sentinel's commit point
      append = () => Multimodal.mm9IndexRows(media).write.mode("overwrite")
        .parquet(s"$storeDir/bands/batch=$batchId"))
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
