package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.SparkSession

/** Shared mechanics of the per-batch streaming ingest-gate stores —
  * the text ([[StreamNearDedup]]), embedding ([[StreamEmbedDedup]]) and
  * media ([[StreamMediaDedup]]) gates all keep the same store shape:
  *
  *   store/<table>/batch=<id>[/<part>=<k>]   append-once per micro-batch
  *
  * with the FIRST table's `batch=<id>` directory doubling as the
  * at-least-once replay sentinel, and a `_compacted_up_to` marker
  * vouching for sentinel dirs that a compaction merged away. This
  * object owns the directory protocol; the per-modality gates own what
  * the tables contain and how a batch is probed.
  *
  * APPEND-ORDER CONTRACT (the one doctrine all three gates follow —
  * stated here once, the gates' append lambdas only point back):
  * a batch's store writes land in "payloads first, sentinel table
  * LAST" order. The sentinel table's job-commit `_SUCCESS` is the
  * replay sentinel, so everything the batch publishes — verdicts,
  * verify payloads, sibling-store rows — must be on disk before it
  * appears: a crash BEFORE the sentinel leaves partial overwrite-mode
  * output the at-least-once re-delivery fully repairs, while the
  * reverse order would mark a half-written batch processed and its
  * missing rows would never be retried. For the text gate that means
  * shingles (verify payloads) before bands (probe index + sentinel):
  * index rows whose payloads are missing would silently vanish at the
  * verify join. Single-table stores (embed sigs, media bands) have no
  * internal ordering hazard — their one commit marker is both the row
  * set's and the sentinel's commit point — but when one logical batch
  * spans SEVERAL stores (TrainingPipeline.curateIncrementalBatch), the
  * designated sentinel store's table still goes last across all of
  * them.
  *
  * PORTABILITY (local FS → DFS/object store): the protocol uses four
  * filesystem primitives, each with a standard distributed equivalent —
  * (1) job-commit `_SUCCESS` markers are Spark's own FileOutputCommitter
  * contract and work unchanged on HDFS/S3A committers; (2) the
  * `_compacted_up_to` tmp+rename is an atomic metadata swap — HDFS
  * rename is atomic, object stores use a conditional put (S3
  * If-None-Match / GCS generation precondition) or a metastore CAS;
  * (3) the `_owner` hard-link CAS is exactly a conditional-create —
  * same conditional-put mapping; (4) compaction's per-file renames
  * into a live dir are HDFS-atomic, while on object stores the crash
  * envelope's duplicates-not-losses guarantee holds under plain
  * copy-then-delete because the probes collapse duplicate rows anyway.
  * This is the same reduction Delta/Iceberg make (their commit is one
  * conditional swap of a manifest pointer); the local-FS forms here
  * keep the test surface byte-honest without a metastore dependency.
  */
private[graft] object GateStore {

  private val CompactedMarker = "_compacted_up_to"
  private val OwnerMarker = "_owner"
  private val GeometryMarker = "_geometry"
  private val LevelsMarker = "_levels"
  private val LockMarker = "_compaction_lock"

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Claim exclusive WRITE ownership of a gate store, loudly.
    * [[runBatch]] assumes one writer per store (true under a single
    * streaming query); two queries pointed at the same store would
    * interleave batch dirs undetected — each would treat the other's
    * sentinel dirs as its own processed history and silently skip
    * batches. The claim is an `_owner` marker at the store root holding
    * a caller-chosen STABLE name (the query's checkpoint location or
    * logical job name — NOT a per-run UUID, or restarts would lock
    * themselves out): first claim plants it via the same hard-link CAS
    * as Sinks.tryCommit (atomic-exclusive, two racing first claims get
    * exactly one winner); a re-claim by the same name is a no-op (the
    * restart path); a claim by a DIFFERENT name throws. Ownership is
    * released by [[releaseOwner]] on decommission, never by crashes —
    * a crashed owner's restart re-claims its own name.
    */
  /** The DEFAULT owner name a gate sink claims when the caller gives
    * none: the verdict output root, absolutized and normalized so a
    * restart that respells the same path (trailing slash, relative vs
    * absolute, `file:` URI vs plain path) still re-claims its own store
    * instead of being refused as a second writer. (Symlinked roots
    * still differ — pass an explicit stable owner if the deployment
    * moves mounts around.)
    */
  private[graft] def ownerFor(outDir: String): String =
    "out:" + normalizeOutPath(outDir)

  /** Scheme-aware path normalization for [[ownerFor]]. Plain paths go
    * through Paths.get (absolutize + normalize); URI-form Spark paths
    * (`hdfs://…`, `s3a://…`, `file:/…`) must NOT — Paths.get would
    * resolve `hdfs://nn/x` against the CWD and a restart that switches
    * spellings of the same output would derive a different owner and be
    * refused as a second writer. Parsing goes through Hadoop's Path
    * (the parser the writers themselves use), NOT java.net.URI — Spark
    * deployments routinely pass unencoded characters (spaces, `%`)
    * that URI.create rejects but every Hadoop writer accepts; sink
    * construction must not fail on a path the write would take.
    * `file:` URIs with no remote authority collapse to the local-path
    * form, so `file:/out`, `file:///out` and `/out` all name one owner;
    * other schemes keep `scheme://authority/path` with the trailing
    * slash stripped.
    */
  private[graft] def normalizeOutPath(outDir: String): String = {
    def local(p: String): String =
      java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString
    val u =
      try new org.apache.hadoop.fs.Path(outDir).toUri
      catch { case _: IllegalArgumentException => return local(outDir) }
    val auth = Option(u.getAuthority).filter(_.nonEmpty)
    val path = Option(u.getPath).getOrElse("")
      .replaceAll("/+$", "") match { case "" => "/"; case p => p }
    Option(u.getScheme).map(_.toLowerCase) match {
      case None => local(outDir) // plain path — absolutize the spelling
      case Some("file") if auth.isEmpty => local(path)
      case Some(s) => s"$s://${auth.getOrElse("")}$path"
    }
  }

  /** The owner name the PRE-scheme-aware [[ownerFor]] derived for the
    * same outDir (URI forms were resolved against the CWD) — fed to
    * [[claimOwner]] as a legacy form so stores claimed under the old
    * normalization upgrade in place on their first post-fix restart
    * instead of refusing their own writer. Best effort by construction:
    * the old name baked in the claim-time CWD, so only a same-CWD
    * restart can be recognized — exactly the deployments that worked
    * before the fix.
    */
  private[graft] def legacyOwnerFor(outDir: String): Option[String] =
    try Some("out:" + java.nio.file.Paths.get(outDir).toAbsolutePath.normalize)
    catch { case _: java.nio.file.InvalidPathException => None }

  /** UUID-tmp + atomic-rename REPLACE of a marker file — the shared
    * migration/refresh write. Atomic but NOT exclusive (rename
    * replaces): safe strictly where the caller already holds the
    * single-writer role for the marker (the migration paths' contract,
    * the lock heartbeat's own-token check); first claims use the
    * exclusive hard-link CAS instead.
    */
  private def replaceMarker(root: File, name: String, content: String): Unit = {
    val tmp = new File(root, s".$name-${java.util.UUID.randomUUID()}").toPath
    try {
      Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, new File(root, name).toPath,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } catch { case t: Throwable =>
      // a failed write/move (disk error, an interrupt closing the
      // channel mid-write) must not leak its tmp file into the store
      Files.deleteIfExists(tmp)
      throw t
    }
  }

  /** UUID-tmp + hard-link EXCLUSIVE create of a marker file — the
    * shared first-claim write (claimOwner, ensureGeometry, the lock).
    * True = this caller planted the marker; false = one already
    * existed (read it to learn whose). The hard link is the only
    * primitive here that is atomic AND exclusive, which is also why
    * gate stores require a locally-mounted filesystem.
    */
  private def casMarker(root: File, name: String, content: String): Boolean = {
    val tmp = new File(root, s".$name-${java.util.UUID.randomUUID()}").toPath
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    try { Files.createLink(new File(root, name).toPath, tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** The gate-store directory protocol (batch dirs, hard-link CAS
    * markers, atomic renames) runs on the java.io/nio File API: it
    * REQUIRES a locally-mounted filesystem. A URI-schemed path
    * (`hdfs://`, `s3a://`, even `file://`) would not fail — File
    * treats it as a relative path and the protocol would run against
    * a junk directory under the CWD while the real store goes
    * unprotected — so it is refused loudly here instead.
    */
  /** Read-and-trim of a single-value marker file; None when absent.
    * The one read-side twin of [[casMarker]]/[[replaceMarker]].
    */
  private def readMarker(root: File, name: String): Option[String] = {
    val f = new File(root, name)
    if (!f.exists()) None
    else Some(new String(Files.readAllBytes(f.toPath),
      StandardCharsets.UTF_8).trim)
  }

  private def requireLocalStorePath(storeDir: String): Unit =
    require(!storeDir.matches("^[a-zA-Z][a-zA-Z0-9+.\\-]*://.*"),
      s"gate store path '$storeDir' is a URI: the store directory " +
        "protocol (hard-link CAS markers, atomic renames) requires a " +
        "locally-mounted filesystem path. Mount the store locally (or " +
        "run the gate against a local staging dir) and pass a plain path.")

  def claimOwner(storeDir: String, owner: String,
      legacyForms: Seq[String] = Nil): Unit = {
    require(owner.nonEmpty && !owner.contains('\n'),
      s"owner name must be a non-empty single line, got '$owner'")
    requireLocalStorePath(storeDir)
    val root = new File(storeDir)
    Files.createDirectories(root.toPath)
    val marker = new File(root, OwnerMarker)
    def existing(): String = readMarker(root, OwnerMarker).getOrElse("")
    if (marker.exists() && existing() == owner) return
    // migration path (ensureGeometry's doctrine): a marker holding a
    // superseded derivation of the SAME owner (the pre-scheme-aware
    // default) upgrades in place via UUID-tmp + rename — a normalization
    // fix must never lock a store against its own writer. NOTE: unlike
    // the first claim's hard-link CAS, the replace is only atomic, not
    // exclusive — safe strictly under the single-writer contract (one
    // process constructing sinks for a given store); a migrator racing
    // a concurrent releaseOwner/claim has no exclusive guard.
    if (marker.exists() && legacyForms.contains(existing())) {
      replaceMarker(root, OwnerMarker, owner)
      return
    }
    if (!casMarker(root, OwnerMarker, owner)) {
      val e = existing()
      if (e != owner) throw new IllegalStateException(
        s"gate store $storeDir is owned by '$e' — refusing claim by " +
          s"'$owner'. Two writers interleaving batch dirs would " +
          "silently skip each other's batches; decommission the owner " +
          "(releaseOwner) before repointing.")
    }
  }

  /** Pin the signature geometry (or any store-shape parameter) a store
    * was created with, LOUDLY. The stored sig bits mean nothing under
    * another spec's banding — probing a SigWide store as SigNarrow (a
    * forgotten `spec` argument after a restart) would band the 64-bit
    * signatures as 4×4 bits, match nothing, and wave near-dups through
    * with ZERO errors; silent recall loss is the worst failure mode a
    * dedup gate has. First call plants a `_geometry` marker at the
    * store root via the same hard-link CAS as [[claimOwner]]; every
    * later call (and a racing first call that lost) must match it
    * exactly or this throws. One store, one geometry, for life.
    */
  def ensureGeometry(storeDir: String, geometry: String,
      legacyForms: Seq[String] = Nil): Unit = {
    require(geometry.nonEmpty && !geometry.contains('\n'),
      s"geometry must be a non-empty single line, got '$geometry'")
    requireLocalStorePath(storeDir)
    val root = new File(storeDir)
    Files.createDirectories(root.toPath)
    val marker = new File(root, GeometryMarker)
    def existing(): String = readMarker(root, GeometryMarker).getOrElse("")
    if (marker.exists() && existing() == geometry) return
    // migration path: a marker written in a superseded serialized form
    // of the SAME geometry (e.g. the pre-frozen case-class toString) is
    // upgraded in place via UUID-tmp + rename — a mere respelling must
    // never orphan a live store (the exact failure the frozen form
    // prevents). Same single-writer caveat as claimOwner's migration.
    if (marker.exists() && legacyForms.contains(existing())) {
      replaceMarker(root, GeometryMarker, geometry)
      return
    }
    if (!casMarker(root, GeometryMarker, geometry)) {
      val e = existing()
      if (e != geometry && !legacyForms.contains(e))
        throw new IllegalStateException(geometryMismatch(storeDir, e, geometry))
    }
  }

  private def geometryMismatch(storeDir: String, pinned: String,
      asked: String): String =
    s"gate store $storeDir was written with signature geometry '$pinned' " +
      s"— refusing to probe/append at '$asked'. Stored sig bits " +
      "mean nothing under another spec's banding (near-dups would " +
      "pass the gate silently); one store, one geometry, for life."

  /** The READ-side geometry check: verify a probe's spec against the
    * store's `_geometry` pin without mutating anything. Planting the
    * pin belongs to the WRITE path ([[ensureGeometry]]) — a probe that
    * planted its own spec would poison a legacy pre-pin store (the
    * first mis-specced probe would pin its wrong spec and make every
    * later CORRECT probe fail), and a mistyped path would materialize
    * a junk marker-only directory instead of failing the read cleanly.
    * No marker (a pre-pin store, or the probe runs before the first
    * write) = no-op: the read itself decides whether the path exists.
    */
  def checkGeometry(storeDir: String, geometry: String,
      legacyForms: Seq[String] = Nil): Unit = {
    requireLocalStorePath(storeDir)
    readMarker(new File(storeDir), GeometryMarker).foreach { e =>
      if (e != geometry && !legacyForms.contains(e))
        throw new IllegalStateException(geometryMismatch(storeDir, e, geometry))
    }
  }

  /** Release an [[claimOwner]] claim (decommission path). Throws if the
    * store is owned by someone else; a missing marker is a no-op.
    */
  def releaseOwner(storeDir: String, owner: String): Unit = {
    requireLocalStorePath(storeDir)
    val root = new File(storeDir)
    readMarker(root, OwnerMarker) match {
      case None => ()
      case Some(e) if e != owner => throw new IllegalStateException(
        s"gate store $storeDir is owned by '$e', not '$owner'")
      case Some(_) =>
        Files.deleteIfExists(new File(root, OwnerMarker).toPath)
    }
  }

  /** How long a held store lock may go without a HEARTBEAT refresh
    * before a new acquirer presumes its holder crashed (a kill -9
    * cannot run the release) and breaks it with a warning. Live
    * holders refresh the timestamp from a daemon heartbeat at a third
    * of this interval ([[withStoreLock]]), so only a genuinely dead —
    * or pathologically paused — holder ever looks stale. Breaking is
    * SAFE: every operation the lock brackets is individually
    * crash-enveloped (duplicates-not-losses for compaction,
    * overwrite-mode replay repair for batches), so the lock is hazard
    * DETECTION, never a correctness dependency. Test-adjustable, like
    * [[leveledFault]].
    */
  private[graft] var LockStaleMs: Long = 15L * 60 * 1000

  /** How long a BLOCKING acquirer (a batch, or a direct [[compact]]
    * call) polls for a held lock before throwing. The streaming engine
    * retries a thrown batch, so a maintenance pass that overruns a
    * trigger gap costs bounded batch latency, never a wedged stream.
    */
  private[graft] var LockWaitMs: Long = 60L * 1000
  private[graft] var LockPollMs: Long = 100L

  private def lockBody(token: String): String =
    s"$token\n${System.currentTimeMillis()}\n"

  private def readLockLines(marker: File): Seq[String] =
    try new String(Files.readAllBytes(marker.toPath),
      StandardCharsets.UTF_8).linesIterator.toSeq
    catch { case _: java.io.IOException => Seq.empty[String] }

  /** Atomically take the lock marker OUT (rename to a unique tombstone
    * — one renamer wins, unlike delete-then-recreate) iff its current
    * holder line equals `expected` — and, when `expectedTs` is given
    * (the stale-break path), its timestamp line too, so a heartbeat
    * that refreshed the lock between the staleness read and the take
    * makes the take FAIL instead of yanking a provably-live holder.
    * True = this caller removed exactly the lock it read; false = the
    * marker was gone or had changed content first. If the rename
    * yanked a lock that changed mid-decision, it is put back via the
    * exclusive-create CAS; when even that loses (an acquirer claimed
    * the vacancy first) the mis-take is logged loudly — the residual
    * window is microseconds against [[LockStaleMs]]-scale decisions,
    * and the lock stays advisory (crash envelopes carry correctness).
    */
  private def takeLockIfHolder(root: File, expected: String,
      expectedTs: Option[String] = None): Boolean = {
    val marker = new File(root, LockMarker)
    val tomb = new File(root,
      s".$LockMarker-taken-${java.util.UUID.randomUUID()}").toPath
    try Files.move(marker.toPath, tomb, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.nio.file.NoSuchFileException => return false }
    val gotLines = (try new String(Files.readAllBytes(tomb),
      StandardCharsets.UTF_8)
      catch { case _: java.io.IOException => "" }).linesIterator.toSeq
    val got = gotLines.headOption.getOrElse("")
    if (got == expected &&
        expectedTs.forall(_ == gotLines.lift(1).getOrElse(""))) {
      Files.deleteIfExists(tomb); true
    } else {
      // we yanked a fresh lock that changed hands mid-decision — put it
      // back exclusively; if the vacancy was already re-claimed, the
      // restore loses and the displaced holder is named in the log
      try Files.createLink(marker.toPath, tomb)
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        log.warn(s"store lock in ${root} was displaced from '$got' during " +
          "a break/release race and the slot was re-claimed before restore " +
          "— advisory-lock residual; crash envelopes carry correctness")
      }
      Files.deleteIfExists(tomb)
      false
    }
  }

  /** One claim attempt on the store's `_compaction_lock`. None on
    * success; Some(holder) when held by a live lock. Fast path: a
    * held, fresh lock is answered from one read — no tmp-file churn
    * per poll. A lock whose heartbeat timestamp is older than
    * [[LockStaleMs]] (or unparseable) is presumed crashed and broken
    * via the single-winner tombstone rename before re-claiming.
    */
  private def tryLock(storeDir: String, token: String): Option[String] = {
    val root = new File(storeDir)
    Files.createDirectories(root.toPath)
    val marker = new File(root, LockMarker)
    def claim(): Option[String] =
      if (casMarker(root, LockMarker, lockBody(token))) None
      else Some(readLockLines(marker).headOption.getOrElse("<unreadable>"))
    val lines = readLockLines(marker)
    if (lines.isEmpty) return claim()
    val holder = lines.head
    val ts = lines.lift(1).flatMap(s => scala.util.Try(s.trim.toLong).toOption)
    if (ts.exists(t => System.currentTimeMillis() - t <= LockStaleMs))
      return Some(holder) // held and fresh — the cheap common case
    // break conditioned on the EXACT content read (holder + timestamp):
    // a heartbeat landing in the decision window defeats the take
    if (takeLockIfHolder(root, holder, Some(lines.lift(1).getOrElse("")))) {
      log.warn(s"broke stale compaction lock in $storeDir held by " +
        s"'$holder' (no heartbeat for > $LockStaleMs ms or unreadable) — " +
        "presumed crashed; every bracketed operation is crash-enveloped, " +
        "so this is safe")
      claim()
    } else Some(holder)
  }

  /** Release = the same content-conditioned atomic take as the stale
    * break: only OUR lock is ever deleted, never a breaker's fresh
    * re-claim (the read-check-delete race of a naive release).
    */
  private def releaseLock(storeDir: String, token: String): Unit = {
    if (!takeLockIfHolder(new File(storeDir), token))
      log.warn(s"compaction lock in $storeDir was no longer held by " +
        s"'$token' at release (staleness break?) — nothing released")
  }

  /** Run `body` holding the store's advisory writer/compaction lock —
    * the mutual exclusion that lets out-of-band [[maintain]] overlap a
    * live writer safely: batches ([[runBatch]], the tri-gate batch) and
    * compactions ([[compact]], [[maybeCompactLeveled]], and through
    * the latter [[maintain]]) all take it, so a maintenance fold can
    * never interleave with a probe or append mid-batch, and two
    * compactions can never race each other's `_compact_tmp` staging
    * and renames.
    *
    * Semantics by caller kind: MANDATORY work (a batch, a direct
    * compact call) blocks up to [[LockWaitMs]] then THROWS with the
    * holder's name — the streaming engine's retry absorbs it;
    * DEFERRABLE work (opportunistic compaction, a maintenance cron)
    * sees a held lock, logs, and returns None — it will run on a later
    * pass. A held lock carries a daemon HEARTBEAT refreshing its
    * timestamp at LockStaleMs/3, so a long batch or compaction never
    * loses exclusion merely by running long — only a dead (or paused
    * past LockStaleMs) process looks stale. The lock is ADVISORY
    * hazard detection, not a correctness dependency: every bracketed
    * operation already carries its own crash envelope, which is also
    * why a crashed holder's lock can be broken with no repair step.
    */
  private[graft] def withStoreLock[T](storeDir: String, what: String,
      blocking: Boolean)(body: => T): Option[T] = {
    requireLocalStorePath(storeDir)
    val token = s"$what@${java.util.UUID.randomUUID()}"
    val deadline = System.currentTimeMillis() + LockWaitMs
    var held = tryLock(storeDir, token)
    while (held.isDefined && blocking &&
        System.currentTimeMillis() < deadline) {
      Thread.sleep(LockPollMs)
      held = tryLock(storeDir, token)
    }
    held match {
      case Some(h) if blocking => throw new IllegalStateException(
        s"gate store $storeDir is locked by '$h' (a batch or compaction " +
          s"in progress) — '$what' timed out after $LockWaitMs ms. A " +
          "crashed holder's lock expires after " + LockStaleMs + " ms " +
          "without heartbeats; a live holder finishing releases it.")
      case Some(h) =>
        log.warn(s"gate store $storeDir is locked by '$h' — skipping " +
          s"deferrable '$what'; a later pass will retry")
        None
      case None =>
        val root = new File(storeDir)
        val marker = new File(root, LockMarker)
        // heartbeat: refresh the timestamp while held (atomic replace —
        // readers see old or new, never torn). Refuses to refresh a
        // marker that is no longer ours (a pathological-pause break):
        // it logs and stops instead of resurrecting our claim over the
        // breaker's. Residual: the own-token check and the replace are
        // two steps, so a breaker claiming INSIDE that window can still
        // be clobbered — reaching it requires this holder to have been
        // paused past LockStaleMs already, and takeLockIfHolder's
        // timestamp condition keeps the reverse direction (a break
        // racing a live refresh) impossible; the lock stays advisory,
        // crash envelopes carry correctness.
        val hb = new Thread(() => {
          try {
            var live = true
            while (live) {
              Thread.sleep(math.max(LockStaleMs / 3, 25))
              try {
                if (readLockLines(marker).headOption.contains(token)) {
                  replaceMarker(root, LockMarker, lockBody(token))
                } else {
                  log.warn(s"store lock in $storeDir is no longer held by " +
                    s"'$token' (stale-broken during a pause?) — heartbeat " +
                    "stopping; the crash envelope carries correctness")
                  live = false
                }
              } catch {
                // an interrupt mid-refresh surfaces as the channel
                // closing, NOT InterruptedException — exit cleanly (the
                // release is coming) instead of dying uncaught, which
                // would leave the main thread a dead-before-join hb
                case _: java.nio.channels.ClosedByInterruptException =>
                  live = false
                case e: java.io.IOException =>
                  log.warn(s"store lock heartbeat refresh failed in " +
                    s"$storeDir (${e.getMessage}) — retrying next beat")
              }
            }
          } catch { case _: InterruptedException => () }
        }, s"graft-store-lock-heartbeat-$what")
        hb.setDaemon(true)
        hb.start()
        try Some(body) finally {
          // join BEFORE releasing: a heartbeat mid-refresh (its
          // own-token check already passed) would otherwise re-create
          // the marker after the release deleted it, orphaning a
          // fresh-looking lock that blocks the store until it goes
          // stale. replaceMarker is not interrupt-responsive, so the
          // join is bounded by one in-flight refresh — short enough to
          // ride out a pending cancellation interrupt on THIS thread:
          // an interruptible join here would skip the release (a
          // 15-minute orphan) and mask the body's real exception, so
          // the join retries with the flag re-delivered afterwards.
          hb.interrupt()
          var joined = false
          var selfInterrupted = false
          while (!joined)
            try { hb.join(); joined = true }
            catch { case _: InterruptedException => selfInterrupted = true }
          // drain a flag that arrived WITHOUT a join throw (hb already
          // dead, or an async interrupt after the join): an
          // interruptible NIO read inside the release would otherwise
          // throw ClosedByInterrupt, be swallowed as an unreadable
          // marker, and RESTORE the lock instead of releasing it
          if (Thread.interrupted()) selfInterrupted = true
          try releaseLock(storeDir, token)
          finally if (selfInterrupted) Thread.currentThread().interrupt()
        }
    }
  }

  /** True iff the tree under `dir` holds at least one parquet data
    * file. A committed batch whose write got ZERO rows (an empty
    * micro-batch, or a text batch where every doc is shorter than the
    * shingle width) leaves `batch=<id>` with `_SUCCESS` but no data
    * files — partitionBy writes of zero rows emit none — and reading
    * such dirs fails schema inference ('Unable to infer schema'),
    * permanently wedging every later probe. Data-less committed dirs
    * are therefore SKIPPED as probe inputs (they contribute no rows by
    * definition) while still honored as replay sentinels.
    */
  private[graft] def hasDataFiles(dir: File): Boolean = {
    val children = Option(dir.listFiles()).getOrElse(Array.empty[File])
    children.exists(f => f.isFile && f.getName.endsWith(".parquet")) ||
      children.exists(f => f.isDirectory && hasDataFiles(f))
  }

  /** (batchId, absolutePath) of every `batch=<id>` child, ascending. */
  def listBatchDirs(root: File): Seq[(Long, String)] =
    Option(root.listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(f => (f.getName.stripPrefix("batch=").toLong, f.getAbsolutePath))
      .sortBy(_._1)

  /** A batch's readable prior inputs in `storeDir/table`: the
    * data-bearing `batch=<id>` dirs strictly below `batchId`, ascending.
    * Data-less committed dirs (zero-row batches) are sentinels, not
    * inputs — see [[hasDataFiles]]: reading one throws and wedges the
    * stream.
    */
  private[graft] def priorDirs(storeDir: String, table: String,
      batchId: Long): Seq[String] =
    listBatchDirs(new File(storeDir, table))
      .filter { case (id, p) => id < batchId && hasDataFiles(new File(p)) }
      .map(_._2)

  /** Batch ids strictly below this are compacted away — their sentinel
    * dirs were merged into a higher batch dir, and the marker vouches
    * for them instead.
    */
  def compactedUpTo(storeDir: String): Long =
    readMarker(new File(storeDir), CompactedMarker)
      .fold(Long.MinValue)(_.toLong)

  /** True iff `batchId` was already merged: its sentinel dir (the first
    * store table's batch dir) was COMMITTED, or the compaction marker
    * covers it. Committed means the job-commit `_SUCCESS` marker is
    * present, not merely that the directory exists — Spark creates the
    * output directory at job START (`_temporary` staging), so a crash
    * mid-write leaves a dir whose presence would otherwise make the
    * replay skip the batch and silently lose its index rows; checking
    * the commit marker turns that torn write into a clean reprocess
    * (every gate write is overwrite-mode, so the retry repairs it).
    */
  def alreadyMerged(storeDir: String, sentinelTable: String,
      batchId: Long): Boolean =
    new File(storeDir,
      s"$sentinelTable/batch=$batchId/_SUCCESS").exists() ||
      batchId < compactedUpTo(storeDir)

  /** Monotonic atomic update of the compaction marker (tmp + rename —
    * readers see the old or new value, never a torn file).
    */
  private def writeCompactedMarker(storeDir: String, upTo: Long): Unit = {
    val v = math.max(upTo, compactedUpTo(storeDir))
    replaceMarker(new File(storeDir), CompactedMarker, v.toString)
  }

  /** The shared per-micro-batch skeleton all three gates run —
    * sentinel check, prior-dir listing, probe-or-empty verdict write
    * with the eagerBuild release bracket, then the sweep-wrapped store
    * append. Centralized so a fix to the replay/leak/crash mechanics
    * lands once instead of three times.
    *
    * @param probe   builds the verdict frame from (table → prior batch
    *                dirs); only called when the sentinel table has
    *                prior batches
    * @param append  writes THIS batch's store rows; must write the
    *                sentinel table LAST (its commit marker is the
    *                replay sentinel)
    */
  def runBatch(spark: SparkSession, batchId: Long, storeDir: String,
      outDir: String, tables: Seq[(String, Seq[String])],
      verdictsDdl: String,
      probe: Map[String, Seq[String]] => org.apache.spark.sql.DataFrame,
      append: () => Unit): Unit = {
    val sentinel = tables.head._1
    // the replay no-op stays lock-free: a re-delivered compacted id
    // must not contend with a maintenance pass it has no work against
    if (alreadyMerged(storeDir, sentinel, batchId)) return
    // the batch holds the store lock from first dir listing to sentinel
    // commit, so an out-of-band maintain can never fold (and delete)
    // a superseded dir out from under the probe's running scan
    withStoreLock(storeDir, s"batch=$batchId", blocking = true) {
      val prior = tables.map { case (t, _) =>
        t -> priorDirs(storeDir, t, batchId) }.toMap
      if (prior(sentinel).isEmpty)
        spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType.fromDDL(verdictsDdl))
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      else {
        // materialize, write, release (Checkpoints doctrine). The THUNK
        // form is load-bearing: the stored probes pin internal caches
        // during their driver-side bucket collects — while the frame is
        // being BUILT — so only a before-snapshot taken before
        // construction captures them for release()
        val cp = graft.Checkpoints.eagerBuild(spark)(probe(prior))
        try cp.df.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        finally cp.release()
      }
      // the sweep releases everything the append leg pinned (e.g. the
      // banding's internal signature cache) once the tables are on disk
      graft.Checkpoints.sweep(spark)(append())
    }
    ()
  }

  /** One table's live-state summary inside a gate store. */
  final case class TableStats(table: String, liveDirs: Int,
      committedDirs: Int, dataLessDirs: Int, bytes: Long, files: Int)

  /** The writer/compaction lock as an observer sees it: who holds it
    * and how long since its heartbeat last refreshed (None when the
    * timestamp line is unreadable). `presumedStale` mirrors the
    * acquirers' break decision at the moment of the snapshot — an
    * operator's "is this holder dead?" answer, not a guarantee (the
    * heartbeat may land right after the read).
    */
  final case class LockInfo(holder: String, heartbeatAgeMs: Option[Long]) {
    def presumedStale: Boolean = heartbeatAgeMs.forall(_ > LockStaleMs)
  }

  /** Operational snapshot of a gate store — the numbers an operator
    * (or a maintenance cron deciding whether to compact) needs, read
    * straight off the directory protocol with no Spark job:
    * per-table live/committed/data-less dir counts, bytes and file
    * counts, the compaction high-water mark, the `_levels` ledger,
    * the owner/geometry markers, and the writer/compaction lock (who
    * holds the store right now, heartbeat age — the "why did my
    * maintenance pass defer?" answer). Pure metadata walk: safe to
    * call concurrently with the single writer (it may see a batch
    * mid-commit, which shows up as a live-but-uncommitted dir —
    * exactly what it is).
    */
  final case class StoreStats(storeDir: String, owner: Option[String],
      geometry: Option[String], compactedUpTo: Option[Long],
      levels: Seq[(Int, Long)], tables: Seq[TableStats],
      lock: Option[LockInfo] = None) {
    def totalBytes: Long = tables.map(_.bytes).sum
    def totalFiles: Int = tables.map(_.files).sum
  }

  def describe(storeDir: String,
      tables: Seq[(String, Seq[String])]): StoreStats = {
    // the guard here covers every out-of-band reader too ([[maintain]]
    // decides off this snapshot): a URI path would describe a junk
    // CWD-relative dir as a clean empty store — "maintenance ran"
    // while the real store accumulates dirs unbounded
    requireLocalStorePath(storeDir)
    def marker(name: String): Option[String] =
      readMarker(new File(storeDir), name)
    def countFiles(dir: File): Int = {
      val cs = Option(dir.listFiles()).getOrElse(Array.empty[File])
      cs.count(f => f.isFile && f.getName.endsWith(".parquet")) +
        cs.filter(_.isDirectory).map(countFiles).sum
    }
    val ts = tables.map { case (t, _) =>
      val dirs = listBatchDirs(new File(storeDir, t))
      val committed = dirs.count { case (_, p) =>
        new File(p, "_SUCCESS").exists() }
      val dataLess = dirs.count { case (_, p) =>
        !hasDataFiles(new File(p)) }
      TableStats(t, dirs.size, committed, dataLess,
        dirs.map(d => treeBytes(new File(d._2))).sum,
        dirs.map(d => countFiles(new File(d._2))).sum)
    }
    val upTo = compactedUpTo(storeDir)
    val lockLines = readLockLines(new File(storeDir, LockMarker))
    val lock = lockLines.headOption.map { holder =>
      LockInfo(holder, lockLines.lift(1)
        .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
        .map(t => System.currentTimeMillis() - t))
    }
    StoreStats(storeDir, marker(OwnerMarker), marker(GeometryMarker),
      if (upTo == Long.MinValue) None else Some(upTo),
      readLevels(storeDir), ts, lock)
  }

  /** When [[maintain]] compacts, everything it needs to decide with:
    * fold fresh dirs once `compactEvery` of them accumulate (the same
    * rule the inline `compactEvery` policy runs), or — the out-of-band
    * backstop — force a fold of whatever fresh dirs exist (≥ 2) once
    * the sentinel's LIVE dir count or the store's total bytes crosses
    * its ceiling, so a store whose writer never reaches `compactEvery`
    * fresh dirs between maintenance passes still gets its file count
    * bounded. EVERY fold is bounded to ≤ `compactEvery` input dirs
    * ([[maybeCompactLeveled]]'s chunking) — a neglected store pays
    * many bounded merges per pass, never one O(accumulated) rewrite.
    *
    * CEILING SEMANTICS: `maxLiveDirs` and `maxBytes` bound DIR/FILE
    * COUNTS via folding — they cannot shrink the store's byte size
    * (compaction reshapes which dirs hold the rows; the rows stay).
    * A breached `maxBytes` therefore never "clears": it makes every
    * later pass fold eagerly (whenever ≥ 2 fresh dirs exist), which is
    * the intended small-files watchdog for an oversized store, and
    * [[maintain]] warns when a breached ceiling has nothing foldable so
    * the operator signal is never silently dropped. Capacity itself is
    * a retention/sharding decision above this layer.
    *
    * `onBehalfOf` names the owner the maintainer acts for — see
    * [[maintain]]'s refusal contract.
    */
  final case class MaintenancePolicy(
      compactEvery: Int = 16,
      fanout: Int = 4,
      maxLiveDirs: Int = 64,
      maxBytes: Long = Long.MaxValue,
      onBehalfOf: Option[String] = None)

  /** What one [[maintain]] pass saw and did: the [[describe]] snapshot
    * it decided on, the compaction target ids it ran (empty = below
    * every threshold, no Spark job submitted), and the post-pass
    * snapshot (== `before` when nothing ran).
    */
  final case class MaintenanceReport(before: StoreStats,
      compactions: Seq[Long], after: StoreStats)

  /** Out-of-band store maintenance — the entry point a cron (or any
    * scheduler outside the streaming query) calls on a gate store that
    * is NOT running inline compaction: read the [[describe]] snapshot,
    * and when the policy's thresholds are crossed, run
    * [[maybeCompactLeveled]] under the same crash envelope the inline
    * path uses. Verdict semantics are untouched by construction —
    * compaction only reshapes which live dirs hold the rows, and probes
    * read the union.
    *
    * SINGLE-WRITER CONTRACT: compaction interleaved with a live writer
    * it doesn't coordinate with is exactly the two-writers hazard the
    * `_owner` marker exists to refuse. So: if the store carries an
    * owner marker, the policy's `onBehalfOf` must match it — the caller
    * asserting it IS (or acts with the authority of) that owner, e.g.
    * the maintenance cron of the deployment whose query owns the store.
    * A mismatch (or a missing `onBehalfOf` against an owned store)
    * throws before any Spark job. An unowned store (driven via bare
    * processBatch) needs no credential.
    *
    * OVERLAP WITH A LIVE BATCH: serialized by the store lock
    * ([[withStoreLock]]) — a maintenance pass that finds the lock held
    * (a batch mid-flight, or the owner's own inline compaction) SKIPS
    * its compactions for this pass (logged; `compactions` comes back
    * empty) and a batch arriving while maintenance folds waits up to
    * [[LockWaitMs]] then throws into the streaming engine's retry.
    * Scheduling the cron in the query's trigger gaps is therefore a
    * latency optimization, no longer a safety requirement; combining
    * maintain with a sink's inline `compactEvery` is likewise safe —
    * whichever compaction loses the lock race defers.
    */
  def maintain(spark: SparkSession, storeDir: String,
      tables: Seq[(String, Seq[String])],
      policy: MaintenancePolicy = MaintenancePolicy()): MaintenanceReport = {
    requireCompactEvery(policy.compactEvery)
    val before = describe(storeDir, tables)
    before.owner.foreach { o =>
      if (!policy.onBehalfOf.contains(o)) throw new IllegalStateException(
        s"gate store $storeDir is owned by '$o' — refusing out-of-band " +
          s"maintenance on behalf of '${policy.onBehalfOf.getOrElse("<none>")}'. " +
          "Compacting under a live writer you don't coordinate with is " +
          "the two-writers hazard; pass onBehalfOf = the owner name to " +
          "assert you act for it.")
    }
    val sentinel = before.tables.headOption
      .getOrElse(TableStats(tables.head._1, 0, 0, 0, 0L, 0))
    val levelIds = before.levels.map(_._2).toSet
    val freshCommitted = listBatchDirs(new File(storeDir, tables.head._1))
      .filter { case (_, p) => new File(p, "_SUCCESS").exists() }
      .map(_._1).count(id => !levelIds.contains(id))
    val ceilingHit = sentinel.liveDirs >= policy.maxLiveDirs ||
      before.totalBytes >= policy.maxBytes
    val compactions =
      if (freshCommitted >= policy.compactEvery)
        // the leveled policy chunks internally, so a neglected store's
        // whole fresh backlog drains here in ≤compactEvery-sized merges
        maybeCompactLeveled(spark, storeDir, tables,
          policy.compactEvery, policy.fanout)
      else if (ceilingHit && freshCommitted >= 2)
        // force-fold whatever fresh dirs exist: the ceiling says the
        // store can't wait for a full compactEvery run to accumulate.
        // freshCommitted < compactEvery here, so this stays bounded too
        maybeCompactLeveled(spark, storeDir, tables,
          freshCommitted, policy.fanout)
      else {
        if (ceilingHit)
          // the operator signal must not vanish: the ceiling is
          // breached and folding cannot help (ceilings bound dir/file
          // counts, not bytes — MaintenancePolicy's semantics note)
          log.warn(s"maintain($storeDir): ceiling breached " +
            s"(liveDirs=${sentinel.liveDirs}/${policy.maxLiveDirs}, " +
            s"bytes=${before.totalBytes}/${policy.maxBytes}) but fewer " +
            "than 2 fresh committed dirs exist — nothing foldable. " +
            "Folding bounds dir/file counts, never store bytes; an " +
            "over-maxBytes store needs retention or sharding upstream.")
        Seq.empty
      }
    MaintenanceReport(before, compactions,
      if (compactions.isEmpty) before else describe(storeDir, tables))
  }

  private[graft] def treeBytes(dir: File): Long = {
    val children = Option(dir.listFiles()).getOrElse(Array.empty[File])
    children.collect {
      case f if f.isFile => f.length()
      case d if d.isDirectory => treeBytes(d)
    }.sum
  }

  /** Live level-run targets recorded by [[maybeCompactLeveled]]:
    * (level, batchId) pairs, one line each in the `_levels` file.
    * ADVISORY metadata only — probes never read it, replay never
    * depends on it, and a stale file (crash between a compaction and
    * its `_levels` update) costs at worst one extra re-merge of the
    * unrecorded run (it looks fresh again), never correctness.
    */
  private[graft] def readLevels(storeDir: String): Seq[(Int, Long)] = {
    val f = new File(storeDir, LevelsMarker)
    if (!f.exists()) Seq.empty
    else try {
      new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
        .linesIterator.map(_.trim).filter(_.nonEmpty).flatMap { l =>
          try {
            val Array(lv, id) = l.split("\\s+", 2)
            Some((lv.toInt, id.toLong))
          } catch { case _: RuntimeException =>
            // advisory doctrine: a corrupt line degrades exactly like a
            // lost file — the run it named looks fresh again and costs
            // one extra re-merge. Throwing here instead would wedge
            // every later maybeCompactLeveled/describe call.
            log.warn(s"dropping unparseable _levels line '$l' in " +
              s"$storeDir (advisory ledger — worst case one extra re-merge)")
            None
          }
        }.toSeq
    } catch { case _: java.io.IOException =>
      log.warn(s"unreadable _levels file in $storeDir — treating the " +
        "advisory ledger as absent")
      Seq.empty
    }
  }

  private def writeLevels(storeDir: String, levels: Seq[(Int, Long)]): Unit = {
    val body = levels.sortBy(e => (e._1, e._2))
      .map { case (lv, id) => s"$lv $id" }.mkString("", "\n", "\n")
    replaceMarker(new File(storeDir), LevelsMarker, body)
  }

  /** The one bound on a compact-every-K cadence: a fold needs at least
    * two dirs. Gate sinks call it at construction, so a bad
    * `compactEvery` refuses before the stream starts instead of after
    * its first batch has committed (each replay would then no-op and
    * throw again, wedging the stream).
    */
  private[graft] def requireCompactEvery(every: Int): Unit =
    require(every >= 2, s"compactEvery must be >= 2, got $every")

  /** TEST-ONLY fault injection for the mid-cascade crash specs: called
    * at each tear point inside [[maybeCompactLeveled]] with a point
    * name — `level0-merged` (level-0 fold committed, `_levels` not yet
    * updated), `level0-recorded` (fold + ledger done, any due cascade
    * not yet run), `cascade-merged-<L>` (a level-L cascade committed,
    * its ledger update pending). A spec throwing from here simulates a
    * crash at exactly that point; production never sets this.
    */
  private[graft] var leveledFault: String => Unit = _ => ()

  /** The compact-every-K policy — what `compactEvery` runs inline
    * from every gate sink's foreachBatch, and what [[maintain]] runs
    * out of band. The schedule is the one the compaction-scheduling
    * receipt recommends (SCALING.md, "Round-14: WHEN to compact"),
    * keyed off the sentinel table's OWN committed dirs (not the
    * incoming batch id), so it composes with multi-store batches where
    * a store may not receive a dir for every logical batch, and with
    * replays — a re-delivered merged id adds no fresh dir and no-ops.
    * Shape (the LSM/tiered design every lakehouse table service
    * converges on, sized here in batch dirs instead of bytes):
    *
    *  - once `every` FRESH batch dirs accumulate (dirs that are not a
    *    recorded level run), merge just those into the newest of them —
    *    a LEVEL-0 run. Previous runs are NOT inputs, so a level-0
    *    compaction always rewrites exactly `every` batches' rows no
    *    matter how large the store has grown — per-compaction cost is
    *    O(every), never O(store).
    *  - once `fanout` runs exist at level L, merge them into the newest
    *    of them — a level-(L+1) run. Amortized write cost per batch is
    *    O(log_fanout N) rewrites over the stream's life (each row is
    *    re-merged once per level it climbs), where re-merging the whole
    *    store every K batches would cost O(N/every) (SCALING.md,
    *    "Round-15: leveled compaction").
    *  - probes are untouched: they read the union of live dirs, and the
    *    live-dir count stays ≤ (every − 1) + fanout·levels — bounded
    *    logarithmically in stream length.
    *
    * Correctness rests on two properties the protocol already grants:
    * probes read ANY union of live dirs (so which dirs rows live in is
    * free), and the `_compacted_up_to` marker may over-cover ids whose
    * dirs survive ([[compactFiltered]]'s note). The `_levels` file is
    * advisory ([[readLevels]]); every merge itself runs under
    * [[compact]]'s crash envelope, and its loud preconditions (torn
    * superseded dirs) propagate: under the single-writer contract a
    * torn dir is repaired by its own replay BEFORE any later batch
    * runs, so hitting one here means the store was corrupted outside
    * the protocol and wedging is the right call. Runs cascade within
    * one call (a level-0 merge can trigger a level-1 merge
    * immediately); returns the target ids of every compaction
    * performed.
    */
  def maybeCompactLeveled(spark: SparkSession, storeDir: String,
      tables: Seq[(String, Seq[String])], every: Int,
      fanout: Int = 4): Seq[Long] = {
    requireCompactEvery(every)
    require(fanout >= 2, s"fanout must be >= 2, got $fanout")
    withStoreLock(storeDir, "maybeCompactLeveled", blocking = false) {
      val sentinel = tables.head._1
      val committed = listBatchDirs(new File(storeDir, sentinel))
        .filter { case (_, p) => new File(p, "_SUCCESS").exists() }
        .map(_._1)
      val live = committed.toSet
      // stale-entry tolerance: a run whose dir a later full compact()
      // merged away (mixed-API use) simply drops out of the ledger
      var levels = readLevels(storeDir).filter { case (_, id) => live(id) }
      val levelIds = levels.map(_._2).toSet
      val ran = Seq.newBuilder[Long]
      // cascade: fanout runs at level L fold into a level-(L+1) run.
      // CHUNKED at fanout (oldest-first), not all-runs-at-once: a
      // neglected store can hold far more than `fanout` runs at a level
      // (many level-0 chunks from one catch-up pass, or crash-orphaned
      // runs), and a single merge of all of them is exactly the
      // O(accumulated) rewrite the leveling exists to bound. Newer runs
      // above the chunk's target stay untouched — the protocol admits
      // any live-dir partition of the rows.
      def cascade(): Unit = {
        var l = 0
        var cascading = true
        while (cascading) {
          val runs = levels.filter(_._1 == l).map(_._2).sorted
          if (runs.size >= fanout) {
            val chunk = runs.take(fanout)
            val t = chunk.max
            val inputs = chunk.filter(_ != t).toSet
            compactFiltered(spark, storeDir, t, tables, inputs)
            leveledFault(s"cascade-merged-$l")
            levels = levels.filterNot { case (lv, id) =>
              lv == l && chunk.contains(id) } :+ ((l + 1, t))
            ran += t
            writeLevels(storeDir, levels)
            // stay while this level still has a full chunk; else climb
            if (levels.count(_._1 == l) < fanout) l += 1
          } else cascading = false
        }
      }
      // level-0: fold fresh dirs in CHUNKS OF `every` (oldest-first),
      // cascading after each chunk — per-merge work is O(every) no
      // matter how many fresh dirs accumulated between passes (the
      // bounded-catch-up property maintain's ceiling branch relies on;
      // a neglected store pays many bounded merges, never one
      // O(accumulated) rewrite). The steady-state inline cadence is
      // unchanged: fresh reaches `every` and folds as one chunk.
      var fresh = committed.filterNot(levelIds).sorted
      while (fresh.size >= every) {
        val chunk = fresh.take(every)
        val target0 = chunk.max
        val chunkSet = chunk.toSet
        compactFiltered(spark, storeDir, target0, tables, chunkSet)
        leveledFault("level0-merged")
        levels :+= ((0, target0)); ran += target0
        writeLevels(storeDir, levels)
        leveledFault("level0-recorded")
        cascade()
        fresh = fresh.drop(every)
      }
      ran.result()
    }.getOrElse(Seq.empty)
  }

  /** Compact every store partition with batch id < `upTo` into the
    * `batch=<upTo>` directory of each listed table — the small-files
    * maintenance a long-running gate needs: after thousands of batches
    * the per-probe file listing and tiny-file scans dominate, and the
    * fix is exactly a lakehouse compaction. Probe semantics are
    * untouched: any batch id > upTo still reads the identical union of
    * earlier rows.
    *
    * `tables` maps each store subdirectory to its partition columns
    * (empty = flat). The FIRST table is the sentinel table; `upTo` must
    * already be merged there (compacting into a fresh dir would plant a
    * replay sentinel for a batch that was never processed, silently
    * swallowing its future delivery).
    *
    * Crash safety without a manifest: merged data is staged to a temp
    * directory the probes ignore, its part files move into the kept
    * directory via per-file atomic renames (partition subdirectories
    * preserved), the compaction marker is written (the superseded dirs
    * double as replay sentinels, so the marker must vouch for them
    * BEFORE any deletion), and only then are the superseded directories
    * deleted — so any crash point leaves the visible union with
    * DUPLICATE rows, never missing ones, and every gate's probe
    * collapses duplicates (candidate distinct + payload dedup by id).
    */
  def compact(spark: SparkSession, storeDir: String, upTo: Long,
      tables: Seq[(String, Seq[String])]): Unit = {
    // a direct operator call is mandatory work: wait for any in-flight
    // batch/compaction, then throw loudly rather than silently skip
    withStoreLock(storeDir, s"compact=$upTo", blocking = true)(
      compactFiltered(spark, storeDir, upTo, tables, _ => true))
    ()
  }

  /** [[compact]] restricted to an input SUBSET: only batch dirs whose id
    * satisfies `include` (and is < `upTo`) are merged into `batch=<upTo>`
    * and deleted; excluded dirs below `upTo` stay live and keep serving
    * probes unchanged. This is the primitive [[maybeCompactLeveled]]
    * builds its LSM shape from — the protocol admits it because probes
    * read ANY union of live dirs, and the `_compacted_up_to` marker only
    * needs to vouch for ids whose sentinel dir is GONE (it may safely
    * over-cover ids whose dir is still live: [[alreadyMerged]] is
    * dir-OR-marker, and under the single-writer contract every id below
    * the newest committed sentinel was processed, so a marker-covered
    * replay skipping it is correct whether or not its dir survives).
    * Crash envelope identical to [[compact]]: stage → per-file rename →
    * marker → delete, duplicates-not-losses at every point.
    */
  private def compactFiltered(spark: SparkSession, storeDir: String,
      upTo: Long, tables: Seq[(String, Seq[String])],
      include: Long => Boolean): Unit = {
    val sentinel = tables.head._1
    // the target must be a LIVE committed sentinel dir, not merely
    // marker-covered: if a prior compaction already merged `upTo` away
    // (its dir deleted, the marker vouching), merging strays into a
    // fresh batch=<upTo> would create a dir with no _SUCCESS that every
    // future compact trips over as torn — and no replay can repair it,
    // because the marker makes replays skip that id. Refuse up front.
    require(new File(storeDir, s"$sentinel/batch=$upTo/_SUCCESS").exists(),
      s"compact target $storeDir/$sentinel/batch=$upTo is not a live " +
        "committed batch dir (a marker-covered id whose dir was already " +
        "merged away cannot be a compaction target — pick a live batch id)")
    val superseded = Seq.newBuilder[File]
    for ((sub, partCols) <- tables) {
      val root = new File(storeDir, sub)
      // the commit check runs over EVERY dir below upTo, merged or not:
      // the marker will vouch for the whole id range, and vouching a
      // torn write (whose at-least-once re-delivery the marker would
      // then skip) converts a repairable crash into permanent silent
      // loss — refuse loudly instead (the torn batch needs its replay
      // first). Only dirs passing `include` are merged and deleted.
      val below = listBatchDirs(root).filter(_._1 < upTo)
      below.find { case (_, p) => !new File(p, "_SUCCESS").exists() }
        .foreach { case (id, _) => throw new IllegalStateException(
          s"$root/batch=$id is uncommitted (no _SUCCESS) — replay it before compacting") }
      val olds = below.filter { case (id, _) => include(id) }
      // committed-but-data-less dirs (zero-row batches) contribute no
      // rows: they are superseded (deleted, marker-covered) but must
      // not be READ — a merge input set of only such dirs would fail
      // schema inference
      val (withData, _) = olds.partition { case (_, p) =>
        hasDataFiles(new File(p)) }
      if (withData.nonEmpty) {
        // 1. materialize the union of the SUPERSEDED dirs (batch=<upTo>
        //    itself is not an input, so no step ever rewrites a live dir)
        val tmp = new File(root, s"_compact_tmp_$upTo") // name probes ignore
        // one read per dir, then union: a multi-root read of partitioned
        // dirs tries to infer batch= as a partition level too and throws
        // CONFLICTING_DIRECTORY_STRUCTURES (d19ProbeDirs' note)
        val merged = withData.map { case (_, p) => spark.read.parquet(p) }
          .reduce(_.unionByName(_))
        // converge files per partition value (the writers' small-files
        // guard) — compaction exists to SHRINK file counts, and an
        // unconverged partitionBy would re-fan tasks × partitions
        val shaped =
          if (partCols.isEmpty) merged
          else merged.repartition(partCols.map(org.apache.spark.sql.functions.col): _*)
        val writer = shaped.write.mode("overwrite")
        (if (partCols.isEmpty) writer else writer.partitionBy(partCols: _*))
          .parquet(tmp.toString)
        // 2. per-file atomic renames INTO batch=<upTo> (partition
        //    subdirs preserved): after any crash point the union of
        //    visible dirs only ever gains duplicate rows, never loses one
        moveParquetTree(tmp, new File(root, s"batch=$upTo"), s"compact-$upTo")
        org.apache.commons.io.FileUtils.deleteQuietly(tmp)
      }
      // data-less dirs join the superseded set too: the marker vouches
      // for their ids, and leaving them behind would accumulate forever
      superseded ++= olds.map { case (_, p) => new File(p) }
    }
    // 3. record "ids < upTo are merged" BEFORE deleting the superseded
    //    sentinel dirs — otherwise a re-delivered compacted batch id
    //    would see an apparently-unprocessed store, overwrite its
    //    verdicts with wrong/empty ones and re-append its rows. Marker
    //    first means a crash mid-delete leaves both sentinels live.
    writeCompactedMarker(storeDir, upTo)
    // 4. drop the superseded dirs; a crash midway leaves duplicates the
    //    probes collapse
    superseded.result().foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  /** Move every part file under `src` (flat, or one partition level
    * deep, e.g. bucket=K) into the same relative location under `dst`
    * with a unique prefix, via per-file atomic renames.
    */
  private def moveParquetTree(src: File, dst: File, prefix: String): Unit = {
    var i = 0
    def moveInto(from: File, to: File): Unit = {
      Files.createDirectories(to.toPath)
      from.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        Files.move(f.toPath, to.toPath.resolve(s"$prefix-$i-${f.getName}"),
          StandardCopyOption.ATOMIC_MOVE)
        i += 1
      }
    }
    moveInto(src, dst)
    src.listFiles().filter(f => f.isDirectory && f.getName.contains("="))
      .foreach(part => moveInto(part, new File(dst, part.getName)))
  }
}
