package graft.streaming

import graft.{Tables, TestSpark, TrainingPipeline}
import graft.queries.{Dedup, Multimodal}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** One stream, three gates: the at-least-once incremental-curation
  * sink (curateIncrementalBatch under StreamCuration.triGateSink) —
  * bootstrap from EMPTY stores, per-modality gating with aligned ids,
  * one unified verdict frame, byte-identical replay no-ops, agreement
  * with the single-delivery curateIncremental on identical store
  * content, and the store owner guard.
  */
class TriGateCurationSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir
  import spark.implicits._

  private def txt(unit: String) = (unit + " ").repeat(30).trim

  /** Self-diagnosing modality fixtures (the TrainingPipelineSpec triad
    * pattern): v0/v1 provably far in cosine, m0/mD provably outside
    * the pHash gate.
    */
  private lazy val fixture = {
    val eRows = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(50).collect()
    def vec(r: Row) = r.getSeq[Float](1).map(_.toDouble)
    def cosine(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    val v0 = eRows.head
    val v1 = eRows.tail.find(r => math.abs(cosine(vec(v0), vec(r))) < 0.35)
      .getOrElse(fail("fixture has no far vector"))
    val mediaAll = Multimodal.mediaTable(spark, dir)
      .select(col("media_id"), col("payload"), col("meta.format").as("format"))
      .filter(length(col("payload")) >= 64)
      .orderBy(col("media_id")).limit(20).collect()
    def mediaDf(id: Long, r: Row) =
      Seq((id, r.getAs[Array[Byte]](1), r.getString(2)))
        .toDF("media_id", "payload", "format")
    val m0 = mediaAll.head
    val mD = mediaAll.tail.find(r =>
        Multimodal.mm9Frame(mediaDf(1L, m0), mediaDf(2L, r)).count() == 0)
      .getOrElse(fail("fixture has no far media item"))
    (v0.getSeq[Float](1), v1.getSeq[Float](1),
      m0.getAs[Array[Byte]](1), m0.getString(2),
      mD.getAs[Array[Byte]](1), mD.getString(2))
  }

  /** Aligned-modality rows: (doc_id, text, source, embedding?, payload?,
    * format?). Batch 0 seeds empty stores; batch 1 plants one clone per
    * modality plus a kept control.
    */
  private def alignedBatches(): Seq[DataFrame] = {
    val (v0, v1, m0p, m0f, mDp, mDf) = fixture
    val b0 = Seq[(Long, String, String, Option[Seq[Float]],
        Option[Array[Byte]], Option[String])](
      (9500001L, txt("alpha seed corpus entry one"), "webz",
        Some(v0), Some(m0p), Some(m0f)),
      (9500002L, txt("beta seed second body here"), "webz",
        None, None, None))
    val b1 = Seq[(Long, String, String, Option[Seq[Float]],
        Option[Array[Byte]], Option[String])](
      // clones alpha's TEXT verbatim → text gate drop
      (9600001L, txt("alpha seed corpus entry one"), "webz",
        None, None, None),
      // novel text, clones alpha's VECTOR → embed gate drop
      (9600002L, txt("gamma wholly different wording body"), "webz",
        Some(v0), None, None),
      // novel text, clones alpha's MEDIA payload → media gate drop
      (9600003L, txt("delta another unrelated passage text"), "webz",
        None, Some(m0p), Some(m0f)),
      // novel everything (far vector, far media) → kept
      (9600004L, txt("epsilon final novel control doc"), "webz",
        Some(v1), Some(mDp), Some(mDf)))
    Seq(b0.toDF("doc_id", "text", "source", "embedding", "payload", "format"),
      b1.toDF("doc_id", "text", "source", "embedding", "payload", "format"))
  }

  private def readStageCounts(outDir: String, id: Long): Map[String, Long] =
    spark.read.parquet(s"$outDir/stage_counts/batch=$id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def verdictSet(outDir: String, id: Long): Set[(String, Long, Long, Double)] =
    spark.read.parquet(s"$outDir/verdicts/batch=$id")
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  test("tri-gate stream: bootstrap, per-modality gating, one verdict frame, replay no-op") {
    val root = java.nio.file.Files.createTempDirectory("trigate-").toString
    val (srcDir, tStore, eStore, mStore, outDir) = (s"$root/src",
      s"$root/text", s"$root/embed", s"$root/media", s"$root/out")
    val bs = alignedBatches()
    bs.zipWithIndex.foreach { case (b, i) =>
      val tmp = s"$root/tmp$i"
      b.coalesce(1).write.parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(srcDir, f"part_$i%02d.parquet")
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.copy(f.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val q = spark.readStream
      .schema(bs.head.schema)
      .option("maxFilesPerTrigger", 1)
      .option("latestFirst", "false")
      .parquet(srcDir)
      .writeStream
      .foreachBatch(StreamCuration.triGateSink(spark, tStore, eStore,
        mStore, dir, outDir, owner = "trigate-spec"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)

    // batch 0: empty stores probe nothing — everything passes, stores
    // seeded, verdict frame empty (the bootstrap curateIncremental's
    // flat layout cannot express)
    val c0 = readStageCounts(outDir, 0)
    assert(c0("ingest") == 2 && c0("near_dup_gate") == 2 &&
      c0("embed_dup_gate") == 2 && c0("media_dup_gate") == 2, c0.toString)
    assert(verdictSet(outDir, 0).isEmpty)
    // ...and reads back through readVerdicts as an empty frame of exactly
    // the published schema
    val v0 = TrainingPipeline.readVerdicts(spark, outDir, 0)
    assert(v0.isEmpty)
    assert(v0.schema ==
      org.apache.spark.sql.types.StructType.fromDDL(TrainingPipeline.VerdictsDdl))
    assert(new java.io.File(s"$tStore/bands/batch=0/_SUCCESS").exists())

    // batch 1: one drop per modality, the control survives
    val c1 = readStageCounts(outDir, 1)
    assert(c1("ingest") == 4 && c1("near_dup_gate") == 3 &&
      c1("embed_dup_gate") == 2 && c1("media_dup_gate") == 1, c1.toString)
    val kept = spark.read.parquet(s"$outDir/chunks/batch=1")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(kept == Set(9600004L))
    // ONE verdict frame names every drop with its modality and score
    val v1s = verdictSet(outDir, 1)
    assert(v1s.exists { case (m, n, d, s) =>
      m == "text" && n == 9600001L && d == 9500001L && s == 1.0 }, v1s.toString)
    assert(v1s.exists { case (m, n, d, s) =>
      m == "embed" && n == 9600002L && d == 9500001L && s == 1.0 }, v1s.toString)
    assert(v1s.exists { case (m, n, d, s) =>
      m == "media" && n == 9600003L && d == 9500001L && s == 0.0 }, v1s.toString)

    // at-least-once replay of batch 1: byte-identical no-op across
    // verdicts, chunks, counts and ALL THREE stores; zero leaked RDDs
    import scala.jdk.CollectionConverters._
    def fp(p: String) = org.apache.commons.io.FileUtils
      .listFiles(new java.io.File(p), null, true).asScala
      .map(f => (f.getAbsolutePath, f.length(), f.lastModified())).toSet
    val watched = Seq(s"$outDir/verdicts/batch=1", s"$outDir/chunks/batch=1",
      s"$outDir/stage_counts/batch=1", tStore, eStore, mStore)
    val before = watched.map(fp)
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    TrainingPipeline.curateIncrementalBatch(spark,
      bs(1).select(col("doc_id"), col("text"), col("source")), 1L,
      tStore, dir, outDir,
      batchEmbeddings = Some(bs(1).filter(col("embedding").isNotNull)
        .select(col("doc_id").as("vec_id"), col("embedding"))),
      embedStoreDir = Some(eStore),
      batchMedia = Some(bs(1).filter(col("payload").isNotNull)
        .select(col("doc_id").as("media_id"), col("payload"), col("format"))),
      mediaStoreDir = Some(mStore))
    assert(watched.map(fp) == before, "replayed batch rewrote files")
    // one publish layout: verdicts/ + chunks/, never a curated/ dir
    assert(!new java.io.File(s"$outDir/curated").exists())
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore
    assert(leaked.isEmpty, s"replay leaked persistent RDDs: $leaked")

    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("curateIncrementalBatch == curateIncremental on identical store content") {
    // the batch-dir layout vs the flat single-delivery layout, same
    // store CONTENT: gate decisions, stage counts and chunks must agree
    // — the stream is the same pipeline, not a reimplementation
    val root = java.nio.file.Files.createTempDirectory("trigate-eq-").toString
    val bs = alignedBatches()
    val seed = bs(0)
    val docs0 = seed.select(col("doc_id"), col("text"), col("source"))
    try {
      // batch-layout stores, seeded by processing batch 0
      val (tB, eB, mB, outB) = (s"$root/bt", s"$root/be", s"$root/bm", s"$root/bo")
      def embsOf(b: DataFrame) = b.filter(col("embedding").isNotNull)
        .select(col("doc_id").as("vec_id"), col("embedding"))
      def mediaOf(b: DataFrame) = b.filter(col("payload").isNotNull)
        .select(col("doc_id").as("media_id"), col("payload"), col("format"))
      TrainingPipeline.curateIncrementalBatch(spark, docs0, 0L, tB, dir, outB,
        batchEmbeddings = Some(embsOf(seed)), embedStoreDir = Some(eB),
        batchMedia = Some(mediaOf(seed)), mediaStoreDir = Some(mB))
      // a PROCESSING batch (not a replay) must also leave executor
      // storage flat — probes bracketed, appends swept
      val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
      TrainingPipeline.curateIncrementalBatch(spark,
        bs(1).select(col("doc_id"), col("text"), col("source")), 1L,
        tB, dir, outB,
        batchEmbeddings = Some(embsOf(bs(1))), embedStoreDir = Some(eB),
        batchMedia = Some(mediaOf(bs(1))), mediaStoreDir = Some(mB))
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore
      assert(leaked.isEmpty, s"batch processing leaked persistent RDDs: $leaked")

      // flat stores seeded with batch 0's ACCEPTED docs (batch 0 passes
      // every gate, so that is batch 0's full quality-gated clean set —
      // read it back from the chunk output's id set)
      val kept0 = spark.read.parquet(s"$outB/chunks/batch=0")
        .select(col("doc_id")).distinct()
      val clean0 = docs0.join(kept0, Seq("doc_id"))
      val (tF, eF, mF) = (s"$root/ft", s"$root/fe", s"$root/fm")
      Dedup.d19WriteStore(clean0, tF)
      Dedup.d20WriteStore(embsOf(seed)
        .join(kept0.select(col("doc_id").as("vec_id")), Seq("vec_id")), eF)
      Multimodal.mm9WriteStore(mediaOf(seed)
        .join(kept0.select(col("doc_id").as("media_id")), Seq("media_id")), mF)
      val (chunksF, countsF) = TrainingPipeline.curateIncremental(spark,
        bs(1).select(col("doc_id"), col("text"), col("source")), tF, dir,
        batchEmbeddings = Some(embsOf(bs(1))), embedStoreDir = Some(eF),
        batchMedia = Some(mediaOf(bs(1))), mediaStoreDir = Some(mF))

      assert(readStageCounts(outB, 1).toSeq.sorted == countsF.sorted,
        s"stage counts diverged: ${readStageCounts(outB, 1)} vs $countsF")
      val chunksB = spark.read.parquet(s"$outB/chunks/batch=1")
      val cols = chunksF.columns.sorted.toSeq
      assert(chunksB.select(cols.map(col): _*).collect().toSet ==
        chunksF.select(cols.map(col): _*).collect().toSet,
        "chunk outputs diverged between batch-dir and flat layouts")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("tri-gate compactEvery: all three stores compact inline, verdicts and chunks unchanged, compacted replay no-op") {
    val root = java.nio.file.Files.createTempDirectory("trigate-p-").toString
    val bs = alignedBatches()
    try {
      // control run (no policy) and policy run (compact at >= 2 dirs)
      val (tC, eC, mC, oC) = (s"$root/ct", s"$root/ce", s"$root/cm", s"$root/co")
      val (tP, eP, mP, oP) = (s"$root/pt", s"$root/pe", s"$root/pm", s"$root/po")
      val control = StreamCuration.triGateSink(spark, tC, eC, mC, dir, oC,
        owner = "trigate-ctl")
      val policy = StreamCuration.triGateSink(spark, tP, eP, mP, dir, oP,
        owner = "trigate-pol", compactEvery = Some(2))
      bs.zipWithIndex.foreach { case (b, i) =>
        control(b, i.toLong); policy(b, i.toLong)
      }
      (0 until 2).foreach { i =>
        assert(verdictSet(oP, i) == verdictSet(oC, i),
          s"policy verdicts diverged at batch $i")
        assert(readStageCounts(oP, i) == readStageCounts(oC, i))
        assert(spark.read.parquet(s"$oP/chunks/batch=$i")
            .select("doc_id").collect().map(_.getLong(0)).toSet ==
          spark.read.parquet(s"$oC/chunks/batch=$i")
            .select("doc_id").collect().map(_.getLong(0)).toSet)
      }
      // every store folded its two batches into one run at its newest
      // batch dir, markers vouch
      def dirs(store: String, table: String) =
        GateStore.listBatchDirs(new java.io.File(s"$store/$table")).map(_._1)
      assert(dirs(tP, "bands") == Seq(1L) && dirs(tP, "shingles") == Seq(1L))
      assert(dirs(eP, "sigs") == Seq(1L))
      assert(dirs(mP, "bands") == Seq(1L))
      Seq(tP, eP, mP).foreach(s => assert(GateStore.compactedUpTo(s) == 1L))
      // replay of the merged-away batch 0: still a no-op everywhere
      import scala.jdk.CollectionConverters._
      def fp(p: String) = org.apache.commons.io.FileUtils
        .listFiles(new java.io.File(p), null, true).asScala
        .map(f => (f.getAbsolutePath, f.length(), f.lastModified())).toSet
      val watched = Seq(tP, eP, mP, s"$oP/verdicts/batch=0")
      val before = watched.map(fp)
      policy(bs(0), 0L)
      assert(watched.map(fp) == before,
        "replay of a compacted tri-gate batch rewrote files")
      // batch 2 (a fresh doc) probes the compacted stores correctly:
      // its alpha-clone text row must still be caught by batch 0's
      // (merged) bands
      val b2 = Seq[(Long, String, String, Option[Seq[Float]],
          Option[Array[Byte]], Option[String])](
        (9700001L, txt("alpha seed corpus entry one"), "webz",
          None, None, None))
        .toDF("doc_id", "text", "source", "embedding", "payload", "format")
      policy(b2, 2L)
      val v2 = verdictSet(oP, 2)
      assert(v2.exists { case (m, n, d, s) =>
        m == "text" && n == 9700001L && d == 9500001L && s == 1.0 },
        s"compacted store lost batch 0's rows: $v2")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("tri-gate LEVELED compaction: verdicts unchanged, all three stores fold to level runs, merged replay no-op, post-merge probe intact") {
    // the leveled ledger behind the compactEvery test above —
    // GateStore.maybeCompactLeveled composing across all three
    // modality stores inside one logical batch
    val root = java.nio.file.Files.createTempDirectory("trigate-l-").toString
    val bs = alignedBatches()
    try {
      val (tC, eC, mC, oC) = (s"$root/ct", s"$root/ce", s"$root/cm", s"$root/co")
      val (tL, eL, mL, oL) = (s"$root/lt", s"$root/le", s"$root/lm", s"$root/lo")
      val control = StreamCuration.triGateSink(spark, tC, eC, mC, dir, oC,
        owner = "trigate-ctl-l")
      val leveled = StreamCuration.triGateSink(spark, tL, eL, mL, dir, oL,
        owner = "trigate-lev", compactEvery = Some(2))
      bs.zipWithIndex.foreach { case (b, i) =>
        control(b, i.toLong); leveled(b, i.toLong)
      }
      (0 until 2).foreach { i =>
        assert(verdictSet(oL, i) == verdictSet(oC, i),
          s"leveled verdicts diverged at batch $i")
      }
      // each store folded its two batches into one level-0 run,
      // recorded in its own _levels ledger, marker vouching batch 0
      def dirs(store: String, table: String) =
        GateStore.listBatchDirs(new java.io.File(s"$store/$table")).map(_._1)
      assert(dirs(tL, "bands") == Seq(1L) && dirs(tL, "shingles") == Seq(1L))
      assert(dirs(eL, "sigs") == Seq(1L))
      assert(dirs(mL, "bands") == Seq(1L))
      Seq(tL, eL, mL).foreach { s =>
        assert(GateStore.compactedUpTo(s) == 1L)
        assert(GateStore.readLevels(s).toSet == Set((0, 1L)),
          s"missing level-0 run ledger in $s")
      }
      // replay of the merged-away batch 0: no-op across all stores
      import scala.jdk.CollectionConverters._
      def fp(p: String) = org.apache.commons.io.FileUtils
        .listFiles(new java.io.File(p), null, true).asScala
        .map(f => (f.getAbsolutePath, f.length(), f.lastModified())).toSet
      val watched = Seq(tL, eL, mL, s"$oL/verdicts/batch=0")
      val before = watched.map(fp)
      leveled(bs(0), 0L)
      assert(watched.map(fp) == before,
        "replay of a leveled-compacted tri-gate batch rewrote files")
      // fresh batch still catches batch 0's (merged) text rows
      val b2 = Seq[(Long, String, String, Option[Seq[Float]],
          Option[Array[Byte]], Option[String])](
        (9700002L, txt("alpha seed corpus entry one"), "webz",
          None, None, None))
        .toDF("doc_id", "text", "source", "embedding", "payload", "format")
      leveled(b2, 2L)
      assert(verdictSet(oL, 2).exists { case (m, n, d, s) =>
        m == "text" && n == 9700002L && d == 9500001L && s == 1.0 },
        "leveled store lost batch 0's rows")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("compactEvery < 2 refuses at sink construction, before any batch dir is written") {
    // checked after the first batch's sentinel commit, the bound would
    // throw on every replay of an already-committed batch and wedge the
    // stream — so every sink must refuse it up front
    val root = java.nio.file.Files.createTempDirectory("trigate-ce-").toString
    try {
      val sinks: Seq[(String, () => Any)] = Seq(
        "text" -> (() => StreamNearDedup.sink(spark, s"$root/nt", s"$root/no",
          compactEvery = Some(1))),
        "embed" -> (() => StreamEmbedDedup.sink(spark, s"$root/et", s"$root/eo",
          compactEvery = Some(1))),
        "media" -> (() => StreamMediaDedup.sink(spark, s"$root/mt", s"$root/mo",
          compactEvery = Some(1))),
        "tri-gate" -> (() => StreamCuration.triGateSink(spark, s"$root/tt",
          s"$root/te", s"$root/tm", dir, s"$root/to", owner = "trigate-ce",
          compactEvery = Some(1))))
      sinks.foreach { case (name, build) =>
        val e = intercept[IllegalArgumentException](build())
        assert(e.getMessage.contains("compactEvery"), s"$name: ${e.getMessage}")
      }
      import scala.jdk.CollectionConverters._
      val batchDirs = scala.util.Using.resource(
          java.nio.file.Files.walk(java.nio.file.Paths.get(root)))(
        _.iterator().asScala.filter(_.getFileName.toString.startsWith("batch="))
          .toList)
      assert(batchDirs.isEmpty, s"refused sinks wrote batch dirs: $batchDirs")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("cancellation mid-append: batch fails before its sentinel, locks release, replay equals an uninterrupted control") {
    val root = java.nio.file.Files.createTempDirectory("trigate-cx-").toString
    try {
      val bs = alignedBatches()
      def mk(tag: String) = StreamCuration.triGateSink(spark,
        s"$root/text-$tag", s"$root/embed-$tag", s"$root/media-$tag",
        dir, s"$root/out-$tag", owner = s"trigate-cx-$tag")
      // control trio: the same batches, uninterrupted
      val control = mk("c")
      bs.zipWithIndex.foreach { case (b, i) => control(b, i.toLong) }
      // victim trio: bootstrap batch 0, then cancel batch 1 while its
      // concurrent payload appends are in flight — the payloadFault
      // holds leg 0 open so the interrupt lands mid-append by
      // construction, not by luck
      val victim = mk("v")
      victim(bs(0), 0L)
      val legStarted = new java.util.concurrent.CountDownLatch(1)
      TrainingPipeline.payloadFault = i =>
        if (i == 0) { legStarted.countDown(); Thread.sleep(20000) }
      val thrown = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val flagRestored = new java.util.concurrent.atomic.AtomicBoolean(false)
      val runner = new Thread(() =>
        try victim(bs(1), 1L)
        catch { case t: Throwable =>
          thrown.set(t)
          // the interrupt status must survive the sweep/lock finallys
          // and reach the canceller alongside the real failure
          flagRestored.set(Thread.currentThread().isInterrupted)
        },
        "trigate-cancel-runner")
      runner.start()
      assert(legStarted.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "payload legs never started")
      runner.interrupt()
      runner.join(90000) // 30 s grace + wind-down slack
      assert(!runner.isAlive, "cancelled batch did not wind down")
      TrainingPipeline.payloadFault = _ => ()
      assert(thrown.get() != null, "cancelled batch reported success")
      assert(flagRestored.get(),
        "interrupt status was not restored to the canceller")
      // the batch failed BEFORE its replay sentinel: the text-bands
      // append (dead last by contract) never landed
      assert(!new java.io.File(s"$root/text-v/bands/batch=1").exists(),
        "text-bands sentinel landed despite cancellation")
      // the interrupted release left no lock and leaked no marker tmp
      // in any of the three store roots
      for (store <- Seq("text-v", "embed-v", "media-v")) {
        val left = Option(new java.io.File(s"$root/$store").listFiles())
          .getOrElse(Array.empty)
          .filter(_.getName.contains("_compaction_lock")).map(_.getName)
        assert(left.isEmpty, s"$store store kept lock artifacts: " +
          left.mkString(", "))
      }
      // the store locks released through the interrupt (the
      // interrupt-proof heartbeat-join release): the replay acquires
      // them immediately instead of blocking LockWaitMs and throwing,
      // and repairs the batch to the control's exact verdicts/chunks
      victim(bs(1), 1L)
      // compare the published output through readVerdicts/readChunks
      def vSet(out: String, id: Long): Set[String] =
        TrainingPipeline.readVerdicts(spark, out, id)
          .collect().map(_.mkString("|")).toSet
      def cSet(out: String, id: Long): Set[String] =
        TrainingPipeline.readChunks(spark, out, id)
          .collect().map(_.mkString("|")).toSet
      assert(vSet(s"$root/out-v", 1L) == vSet(s"$root/out-c", 1L),
        "replayed cancelled batch diverged from the control")
      assert(cSet(s"$root/out-v", 1L) == cSet(s"$root/out-c", 1L))
      // and the repaired stores gate a later batch identically
      victim(bs(1), 2L); control(bs(1), 2L)
      assert(vSet(s"$root/out-v", 2L) == vSet(s"$root/out-c", 2L),
        "post-repair gating diverged from the control")
    } finally {
      TrainingPipeline.payloadFault = _ => ()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("maintainTriGate: one out-of-band pass maintains all three stores under the sink's owner, verdicts unchanged") {
    val root = java.nio.file.Files.createTempDirectory("trigate-mt-").toString
    try {
      val bs = alignedBatches()
      def mkSink(tag: String) = StreamCuration.triGateSink(spark,
        s"$root/text-$tag", s"$root/embed-$tag", s"$root/media-$tag",
        dir, s"$root/out-$tag", owner = "trigate-mt")
      val (sinkM, sinkC) = (mkSink("m"), mkSink("c"))
      bs.zipWithIndex.foreach { case (b, i) =>
        sinkM(b, i.toLong); sinkC(b, i.toLong) }
      val policy = GateStore.MaintenancePolicy(compactEvery = 2)
      // the wrong owner is refused per store — no silent skip
      intercept[IllegalStateException] {
        graft.TrainingPipeline.maintainTriGate(spark, s"$root/text-m",
          s"$root/embed-m", s"$root/media-m", "someone-else", policy)
      }
      // the sink's owner maintains all three in one call
      val reports = graft.TrainingPipeline.maintainTriGate(spark,
        s"$root/text-m", s"$root/embed-m", s"$root/media-m",
        "trigate-mt", policy)
      assert(reports.keySet == Set("text", "embed", "media"))
      reports.foreach { case (k, r) =>
        assert(r.compactions.nonEmpty, s"$k store did not compact")
        assert(r.after.tables.head.liveDirs == 1, s"$k store not folded")
      }
      // a post-maintenance batch probes the folded stores identically
      // to the unmaintained control trio
      sinkM(bs(1), 2L); sinkC(bs(1), 2L)
      assert(verdictSet(s"$root/out-m", 2L) == verdictSet(s"$root/out-c", 2L),
        "tri-gate maintenance changed verdicts")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("gate stores refuse a second writer; same owner re-claims; release hands over") {
    val root = java.nio.file.Files.createTempDirectory("owner-").toString
    val store = s"$root/store"
    GateStore.claimOwner(store, "ingest-q1")
    GateStore.claimOwner(store, "ingest-q1") // restart path: no-op
    // a second query pointed at the same store fails LOUDLY at sink
    // construction — before any batch dir could interleave
    val e = intercept[IllegalStateException] {
      StreamNearDedup.sink(spark, store, s"$root/out2",
        owner = Some("ingest-q2"))
    }
    assert(e.getMessage.contains("ingest-q1"))
    intercept[IllegalStateException] {
      StreamEmbedDedup.sink(spark, store, s"$root/out3",
        owner = Some("rogue"))
    }
    intercept[IllegalStateException] {
      GateStore.releaseOwner(store, "not-the-owner")
    }
    // decommission hands the store over cleanly
    GateStore.releaseOwner(store, "ingest-q1")
    StreamMediaDedup.sink(spark, store, s"$root/out4",
      owner = Some("ingest-q2")) // new owner claims fine
    GateStore.releaseOwner(store, "ingest-q2")
    GateStore.releaseOwner(store, "anyone") // missing marker: no-op
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}
