package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Write-path operators (SURVEY §2.1): the reference's Mongo/CSV sinks
  * re-expressed as Spark writers.
  *
  *  - S5/S6 (insert_one / insert_many): both collapse to an append-mode
  *    parquet write — Spark writes are always batched per partition, so
  *    the row/bulk distinction disappears by construction.
  *  - S7 (unique-index sink with DuplicateKeyError-skip): Spark has no
  *    write-path constraint; the equivalent plan is dedup-within-batch +
  *    left-anti join against the existing sink keys, then append
  *    (middlewares.py:12-16 + bbc_news_dag.py:36-38). At scale the
  *    anti-join reads ONLY the key column of the sink (column pruning)
  *    and shuffles on the key — or broadcasts when the new batch is
  *    small, which AQE decides.
  *  - S8 (CsvItemExporter with explicit fields_to_export): column-ordered
  *    header CSV write (pipelines.py:76-102).
  */
object Sinks {

  /** S5/S6: append rows to a parquet table. */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /** Existing-sink key read for the anti-join, pruned to the partitions
    * the incoming batch can collide with. The `IN (batch's partition
    * values)` predicate is a partition filter, so the scan touches only
    * those directories — at a 100 TB sink with years of ingest dates, a
    * daily run reads one or two partitions' key columns instead of the
    * whole history.
    */
  private[graft] def existingKeys(spark: SparkSession, path: String,
      key: String, partitionCol: Option[String],
      partitionValues: Seq[Any]): DataFrame = {
    val existing = spark.read.parquet(path)
    partitionCol match {
      case Some(pc) =>
        existing.filter(col(pc).isin(partitionValues: _*)).select(col(key))
      case None => existing.select(col(key))
    }
  }

  /** S7: append only rows whose key is absent from the existing sink;
    * duplicates within the incoming batch keep the first by a
    * deterministic tie-break (min of all other columns is not defined —
    * use dropDuplicates, matching the reference's first-write-wins).
    * Returns the number of rows actually written.
    *
    * SINGLE-WRITER CONTRACT: uniqueness is enforced by the read-then-
    * anti-join, not by the store — the reference enforces it at the store
    * (pipelines.py:64's unique Mongo index), where two racing writers
    * would both be caught. Here two appendUnique calls that OVERLAP in
    * time can each read the sink before the other's append lands and both
    * write the same key. One writer at a time (the reference DAG's
    * 30-minute sequential schedule — and any Airflow/cron-style batch
    * cadence) gets exactly-once keys, re-feeding included; racing
    * writers need the store-level guarantee — [[appendUniqueConcurrent]],
    * whose commit log serializes committers. SinksSpec pins both. The
    * contract is per store: appends to different paths may overlap.
    *
    * `partitionCol`: optional ingest-date-style layout column. The sink
    * is written partitionBy(partitionCol) and the anti-join's
    * existing-keys read prunes to the incoming batch's partition values.
    * CONTRACT: the partition column must be functionally dependent on
    * the key (a re-fed row carries the same date — true of sitemap
    * lastmod, crawl date, event time), otherwise a duplicate living in a
    * non-scanned partition would be re-appended. The raw batch's distinct
    * partition values are collected to the driver — bounded by the feed's
    * date range (a daily run has 1-2), never row-scale.
    *
    * `step`: a per-row transform (the NLP process stage of an ingest)
    * run after the anti-join and before the in-batch dedup, so it only
    * sees rows the store lacks. CONTRACT: the step must be row-wise
    * (filters and per-row maps, no aggregation or join) and must keep
    * the key and partition columns unchanged. The anti-join on the key
    * then commutes with it, so the appended rows equal those of
    * appending `step(df)` — only the rows the anti-join drops are never
    * processed.
    *
    * The fresh frame is not cached: its row count is a separate job,
    * and Catalyst prunes every column the count does not need, so the
    * count keeps only the key read, the anti-join and the step's
    * filters. The step's other projections (the Scala UDFs of
    * Pipeline.processArticles) run once, inside the write. The count
    * stays exact, and an all-duplicate batch writes no file.
    */
  def appendUnique(spark: SparkSession, df: DataFrame, path: String,
      key: String, partitionCol: Option[String] = None,
      step: DataFrame => DataFrame = identity): Long =
    countThenWrite(freshRows(spark, df, path, key, partitionCol, step)) { w =>
      partitionCol.fold(w)(pc => w.partitionBy(pc)).mode(SaveMode.Append).parquet(path)
    }

  /** The rows [[appendUnique]] writes: `df` anti-joined against the
    * sink's keys, then `step`, then deduplicated on `key`.
    */
  private[graft] def freshRows(spark: SparkSession, df: DataFrame,
      path: String, key: String, partitionCol: Option[String],
      step: DataFrame => DataFrame): DataFrame = {
    // existence via the Hadoop FS API — java.io.File is wrong for any
    // URI-qualified path (file:/, hdfs://, s3a://) and would silently
    // skip the uniqueness check
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val unseen =
      if (fs.exists(hPath)) {
        val pVals = partitionCol.toSeq.flatMap { pc =>
          df.select(col(pc)).distinct().collect().map(_.get(0))
        }
        df.join(existingKeys(spark, path, key, partitionCol, pVals),
          Seq(key), "left_anti")
      } else df
    step(unseen).dropDuplicates(key)
  }

  /** Counts `df` uncached (one pruned job), then runs `write` on it
    * only when it has rows, and returns the count. The write recomputes
    * `df`, so `df` must yield the same rows both times (its scans list
    * their files when the frame is built). A count riding the write
    * through `Dataset.observe` would come too late: a non-partitioned
    * write of an empty frame commits a schema-only part file.
    */
  private def countThenWrite(df: DataFrame)(
      write: DataFrameWriter[Row] => Unit): Long = {
    val n = df.count()
    if (n > 0) write(df.write)
    n
  }

  /** S7, concurrent-writer edition: a key-unique append sink that stays
    * exactly-once-per-key under RACING writers — the store-level
    * guarantee the reference gets from its unique Mongo index
    * (pipelines.py:64), rebuilt from immutable data files plus an
    * append-only commit LOG with an atomic-exclusive commit primitive:
    * the Delta/Iceberg optimistic-concurrency protocol reduced to its
    * core, and the multi-writer edition of [[graft.streaming.Scd2Store]]'s
    * single-writer manifest swap.
    *
    * Layout:
    * {{{
    *   path/data/<uuid>/   immutable parquet, one dir per committed attempt
    *   path/_log/<N>       commit N: one line naming the data dir it publishes
    *                       (or the literal `tombstone` — gcUnique's fence)
    * }}}
    * Write protocol (optimistic, retry on lost race):
    *  1. SNAPSHOT: read the log — committed entries 0..N-1 (contiguous
    *     by construction).
    *  2. fresh = batch anti-joined against the committed dirs' keys
    *     (key column only — column-pruned scan).
    *  3. write fresh to a new data/<uuid>/ — invisible until committed.
    *  4. CAS-COMMIT at N: hard-link a temp entry file to `_log/N`.
    *     POSIX link() is atomic and FAILS if the name exists, so exactly
    *     one racer wins each N; the loser deletes its orphan dir and
    *     retries from step 1, now seeing the winner's keys.
    *
    * Readers ([[readUnique]]) union only log-referenced dirs, so a crash
    * between 3 and 4 leaves unreferenced garbage ([[gcUnique]] sweeps
    * it), never phantom rows. Serializability: all racers for slot N
    * hold snapshots of 0..N-1, one wins, every loser re-reads — commits
    * apply in log order, each against the full prior key set, which is
    * exactly a serial history.
    *
    * The commit log itself lives on a LOCAL filesystem shared by all
    * writers (the java.nio hard-link CAS is the atomic-exclusive
    * primitive) — the method REFUSES scheme-qualified store paths
    * rather than silently running the log against each driver's own
    * disk, which would let every racer win "slot 0". A distributed
    * deployment moves exactly this one primitive: HDFS
    * `create(overwrite=false)`, an object store's conditional PUT, or a
    * catalog — the Delta/Iceberg pointer, same slot semantics.
    *
    * Scale: the per-commit cost is the anti-join (key columns of
    * committed data + the batch — the same shape as [[appendUnique]])
    * plus one tiny log write; data files are never rewritten. Returns
    * the number of rows actually written.
    */
  def appendUniqueConcurrent(spark: SparkSession, df: DataFrame,
      path: String, key: String): Long = {
    require(!path.contains("://") && !path.startsWith("file:"),
      s"appendUniqueConcurrent's commit log is local-filesystem only " +
        s"(hard-link CAS); got scheme-qualified path $path — see scaladoc")
    val deduped = df.dropDuplicates(key)
    var result = -1L
    while (result < 0) {
      val snap = logEntries(path)
      val (dataDir, n) = writeFresh(spark, deduped, path, key, snap)
      if (n == 0) result = 0 // nothing fresh — no commit slot consumed
      else if (tryCommit(path, snap.size, dataDir)) result = n
      else {
        // lost the race: the winner's batch may contain our keys —
        // drop the orphan attempt and retry against the longer log
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$dataDir"), true)
      }
    }
    result
  }

  /** The committed contents of an [[appendUniqueConcurrent]] sink.
    * [[gcUnique]]'s tombstone entries hold a slot but reference no
    * data, so only `data/` entries are read.
    */
  def readUnique(spark: SparkSession, path: String): DataFrame = {
    val entries = logEntries(path).filter(_._2.startsWith("data/"))
    require(entries.nonEmpty, s"no committed data under $path")
    spark.read.parquet(entries.map { case (_, d) => s"$path/$d" }: _*)
  }

  /** Sweep data dirs no log entry references (crashed or race-losing
    * attempts). `graceMs` protects in-flight writers that have written
    * but not yet committed: only dirs untouched for that long are
    * candidates.
    *
    * The grace alone is NOT a guarantee — a writer stalled longer than
    * it between writeFresh and tryCommit could still win its commit
    * slot after the sweep, publishing a log entry whose data dir is
    * gone (readUnique then fails for every reader, permanently). So
    * before deleting anything the gc CLAIMS the next commit slot with
    * a `tombstone` entry: the stalled writer's CAS at that slot now
    * deterministically loses (slots are contiguous, its snapshot
    * predates the tombstone), and its retry stages a FRESH data dir —
    * recent mtime, protected by the grace. The referenced set is
    * recomputed AFTER the claim so a real commit that won a slot just
    * before the tombstone keeps its dir. Tombstones consume a slot but
    * no data ([[readUnique]]/[[writeFresh]] skip them).
    */
  def gcUnique(path: String, graceMs: Long = 3600000L): Unit = {
    def candidates(): Seq[java.io.File] = {
      val referenced = logEntries(path)
        .collect { case (_, d) if d.startsWith("data/") =>
          d.stripPrefix("data/") }.toSet
      Option(new java.io.File(path, "data").listFiles())
        .getOrElse(Array.empty).toSeq
        .filter(d => d.isDirectory && !referenced.contains(d.getName) &&
          System.currentTimeMillis() - d.lastModified() > graceMs)
    }
    if (candidates().isEmpty) return
    // claim the fence slot (retry if a racing commit takes it first)
    var slot = logEntries(path).size
    while (!tryCommit(path, slot, "tombstone")) slot = logEntries(path).size
    // recompute post-fence: anything still unreferenced can never
    // become referenced (all later commits stage fresh dirs)
    candidates().foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  /** Committed (n, relative data dir) pairs, in commit order. */
  private[graft] def logEntries(path: String): Seq[(Int, String)] = {
    val logDir = new java.io.File(path, "_log")
    Option(logDir.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isFile && f.getName.forall(_.isDigit))
      .map(f => (f.getName.toInt,
        new String(java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8).trim))
      .sortBy(_._1)
  }

  /** Step 2+3: anti-join the batch against the snapshot's keys and
    * write the survivors to a fresh uncommitted data dir. Returns
    * (relative dir, rows written); rows == 0 writes nothing.
    */
  private[graft] def writeFresh(spark: SparkSession, deduped: DataFrame,
      path: String, key: String, snap: Seq[(Int, String)]): (String, Long) = {
    // tombstone entries (gcUnique's fence) hold a slot but no data
    val dataDirs = snap.collect { case (_, d) if d.startsWith("data/") => d }
    val fresh =
      if (dataDirs.isEmpty) deduped
      else deduped.join(
        spark.read.parquet(dataDirs.map(d => s"$path/$d"): _*)
          .select(col(key)),
        Seq(key), "left_anti")
    val dataDir = s"data/${java.util.UUID.randomUUID()}"
    (dataDir, countThenWrite(fresh)(_.parquet(s"$path/$dataDir")))
  }

  /** Step 4: atomically claim commit slot `n` for `dataDir`. Exactly
    * one concurrent caller per slot returns true (POSIX link() is
    * atomic-exclusive); losers must discard their data dir and retry.
    */
  private[graft] def tryCommit(path: String, n: Int, dataDir: String): Boolean = {
    val logDir = new java.io.File(path, "_log")
    java.nio.file.Files.createDirectories(logDir.toPath)
    val tmp = new java.io.File(logDir,
      s".tmp-${java.util.UUID.randomUUID()}").toPath
    java.nio.file.Files.write(tmp,
      dataDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    try {
      java.nio.file.Files.createLink(
        new java.io.File(logDir, n.toString).toPath, tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  /** Range-sharded write: the standard layout for a 100 TB corpus that
    * downstream consumers read by key range (doc-id shards for training
    * runs, time shards for backfills). `repartitionByRange` samples the
    * key to build balanced range boundaries (one Exchange), and
    * `sortWithinPartitions` orders rows inside each shard WITHOUT a
    * global sort — every output file covers a disjoint, internally
    * sorted key range, so a reader can binary-search files from
    * min/max footer stats and parquet row-group pruning works within
    * each file. A plain `orderBy().write` would funnel the final merge;
    * this shape never does.
    */
  def writeRangeSharded(df: DataFrame, path: String, key: String,
      shards: Int): Unit =
    df.repartitionByRange(shards, col(key))
      .sortWithinPartitions(col(key))
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** S8: header CSV with explicit field ordering. */
  def writeCsv(df: DataFrame, path: String, fieldsToExport: Seq[String]): Unit =
    df.select(fieldsToExport.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .csv(path)

  /** Training-corpus publish: compressed JSONL shards laid out one
    * directory per `partitionCol` value (the domain/language axis LLM
    * loaders sample by) with every file capped at `maxRecordsPerFile` —
    * bounded shards parallelize loader workers evenly and keep any
    * single file re-downloadable. The `repartition(partitionCol)` before
    * the write is the small-files guard: without it every upstream task
    * writes a sliver into every partition directory (tasks × domains
    * files); with it each domain's rows converge to one task that then
    * splits on the record cap, so file count ≈ rows/cap, independent of
    * upstream parallelism. Skewed domains stay bounded BY the cap;
    * loaders that need sorted shards compose with
    * [[writeRangeSharded]]'s range layout instead.
    */
  def writeJsonlShards(df: DataFrame, path: String, partitionCol: String,
      maxRecordsPerFile: Int, codec: String = "gzip"): Unit =
    df.repartition(col(partitionCol))
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .option("compression", codec)
      .partitionBy(partitionCol)
      .json(path)

  /** Schema-on-read JSONL ingest with corrupt-line tolerance — the read
    * side of [[writeJsonlShards]]'s wire format, and the shape any
    * external corpus drop (Common-Crawl-style JSONL) arrives in.
    * Returns (good, corrupt): `good` carries exactly the caller's
    * schema; `corrupt` carries the raw offending lines for a quarantine
    * sink, so one bad line never fails a 100 TB ingest job.
    *
    * The schema is REQUIRED, deliberately: without one, Spark's JSON
    * source runs a full inference pass over every byte before the real
    * scan — a doubled read that is invisible at test scale and ruinous
    * at corpus scale. PERMISSIVE mode routes malformed lines into the
    * `_corrupt_record` column instead of throwing.
    *
    * The two frames are independent single-scan plans: `good` reads the
    * native JSON scan under DROPMALFORMED (bad lines vanish inside the
    * scan — no corrupt column ever enters the plan, so any downstream
    * pruning, including a bare count(), stays legal), while `corrupt`
    * re-derives corruptness from a TEXT scan with a PERMISSIVE
    * `from_json` in the filter — Spark disallows querying only the
    * corrupt column off a raw JSON scan, and the text formulation also
    * hands back the offending line byte-for-byte.
    */
  def readJsonl(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): (DataFrame, DataFrame) = {
    val corruptCol = "_corrupt_record"
    val good = spark.read
      .schema(schema)
      .option("mode", "DROPMALFORMED")
      .json(path)
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val corrupt = spark.read.text(path)
      .filter(from_json(col("value"),
          schema.add(corruptCol, org.apache.spark.sql.types.StringType),
          Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corruptCol))
        .getField(corruptCol).isNotNull)
      .select(col("value").as("raw_line"))
    (good, corrupt)
  }
}
