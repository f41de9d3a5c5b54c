package graft

import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end curation accounting: every stage only ever drops rows,
  * the drops are exactly the sets the stage operators define, and the
  * final chunk table reconstructs the surviving documents. One shared
  * curate() run backs all assertions (a curation run is one pipeline
  * execution, not one per check).
  */
class TrainingPipelineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir
  private lazy val outDir =
    java.nio.file.Files.createTempDirectory("curate").toString + "/chunks"
  private lazy val (result, pinnedDuringCurate) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (chunks, counts) = TrainingPipeline.curate(spark, dir, Some(outDir), shards = 4)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    ((chunks.cache(), counts), leaked.size)
  }

  test("curate stages drop monotonically and account for every row") {
    val (chunks, counts) = result
    val byStage = counts.toMap
    assert(counts.map(_._1) == Seq("ingest", "quality_gate",
      "stratified_sample", "exact_dedup", "near_dup_drop",
      "decontaminate", "paragraph_dedup", "chunk"))
    // filters are monotone non-increasing until chunking explodes
    val docStages = counts.dropRight(1).map(_._2)
    assert(docStages.zip(docStages.tail).forall { case (a, b) => b <= a },
      counts.toString)
    assert(byStage("ingest") > 0 && byStage("paragraph_dedup") > 0)
    // chunking never loses a surviving non-empty document
    val nChunkedDocs = chunks.select("doc_id").distinct().count()
    assert(nChunkedDocs == byStage("paragraph_dedup"))
    assert(byStage("chunk") >= nChunkedDocs)
  }

  test("curate keeps exactly one representative per near-dup cluster") {
    val (chunks, _) = result
    val surviving = chunks.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val contaminated = queries.Dedup.d6Decontaminate(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(surviving.intersect(contaminated).isEmpty)
    // Re-derive the pre-near-dup survivor set with the same public
    // operators the pipeline composes, then check the RE-CANONICALIZED
    // semantics: the representative is min(doc_id) among the cluster
    // members that reached this stage — NOT the corpus-wide min, which
    // an earlier gate may have dropped (in which case the old
    // precomputed-drop-list formulation erased the entire cluster).
    val docs = Tables.documents(spark, dir)
    val gated = docs.filter(qualityScore(col("text")) >= 0.25)
    val sampled = gated.filter(
      queries.Relational.stratifiedKeep(col("doc_id"), col("lang")))
    val keepers = sampled
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val exactIds = sampled.join(keepers, Seq("doc_id"), "left_semi")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val clusterOf = queries.Dedup.d7DupClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // re-derive the paragraph-dedup stage's survivor set over exactly the
    // docs that reach it (post near-dup drop, post decontamination) — a
    // representative may legitimately vanish there if every one of its
    // paragraphs was already seen at a lower (doc_id, idx)
    val nonRepDrops = clusterOf.groupBy(_._2).flatMap { case (_, members) =>
      val present = members.keySet.intersect(exactIds)
      if (present.nonEmpty) present - present.min else Set.empty[Long]
    }.toSet
    val cleanIds = exactIds -- nonRepDrops -- contaminated
    val paraIds = queries.Text.paragraphDedupFrame(
      docs.filter(col("doc_id").isin(cleanIds.toSeq: _*)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    clusterOf.groupBy(_._2).foreach { case (cluster, members) =>
      val present = members.keySet.intersect(exactIds)
      if (present.nonEmpty) {
        val rep = present.min
        val survivors = members.keySet.intersect(surviving)
        assert(survivors.subsetOf(Set(rep)),
          s"cluster $cluster kept non-representative members: $survivors")
        // the representative itself survives iff the later stages
        // (decontamination, paragraph dedup) did not legitimately drop it
        if (!contaminated(rep)) {
          assert(surviving.contains(rep) == paraIds(rep),
            s"cluster $cluster representative $rep: survived=" +
              s"${surviving.contains(rep)} but paragraph-dedup kept=${paraIds(rep)}")
        }
      }
    }
    // chunks carry real content within the 128-token budget
    val sample = chunks.filter(col("chunk_id") === 0).limit(20).collect()
    sample.foreach { r =>
      assert(r.getAs[String]("chunk").nonEmpty)
      assert(r.getAs[Int]("n_tok") > 0 && r.getAs[Int]("n_tok") <= 128)
    }
  }

  test("curate stages release superseded checkpoints (storage stays bounded)") {
    val (_, counts) = result // force the shared run
    assert(counts.nonEmpty)
    // a 7-stage run may leave only the final chunk frame's checkpoint
    // pinned — stages and the d7 label frame all release on the way
    assert(pinnedDuringCurate <= 2,
      s"$pinnedDuringCurate persistent RDDs pinned by curate — stage leak?")
  }

  test("curate's stage counts ride the checkpoints: no hook job outside a checkpoint, counts exact") {
    val sc = spark.sparkContext
    // final-stage call sites of the jobs the stage hook submitted,
    // minus the tap's own recount jobs (their job group)
    val hookJobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val scanJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val tapped = Option(j.properties)
          .exists(_.getProperty("spark.jobGroup.id") == "stage-tap")
        val site = j.stageInfos.sortBy(-_.stageId).headOption.map(_.details)
        site.filter(d => !tapped && d.contains("TrainingPipeline$Stages.apply"))
          .foreach(hookJobs.add)
        // a metric that missed its checkpoint falls back to a scan
        if (site.exists(_.contains("Checkpoints$.awaitMetrics")))
          scanJobs.incrementAndGet()
      }
    }
    val recounted = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val checkpointed = scala.collection.mutable.ArrayBuffer.empty[String]
    TrainingPipeline.stageTap = (name, df) => {
      if (df.queryExecution.analyzed
          .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
        checkpointed += name
      sc.setJobGroup("stage-tap", s"recount $name")
      try recounted += name -> df.count() finally sc.clearJobGroup()
    }
    // full call stacks, so every job names the frames it came from
    val depth = Option(System.getProperty("spark.callstack.depth"))
    System.setProperty("spark.callstack.depth", "400")
    sc.addSparkListener(listener)
    val (chunks, counts) =
      try TrainingPipeline.curate(spark, dir)
      finally {
        TrainingPipeline.stageTap = (_, _) => ()
        Thread.sleep(1000) // let the async listener bus drain
        sc.removeSparkListener(listener)
        depth.fold(System.clearProperty("spark.callstack.depth"))(
          System.setProperty("spark.callstack.depth", _))
      }
    // the tap sees all eight stages in order; the two map-only front
    // steps ride the stratified sample's checkpoint, so six pin
    assert(recounted.toSeq == counts)
    assert(counts.size == 8)
    assert(checkpointed.toSeq == counts.map(_._1)
      .filterNot(Set("ingest", "quality_gate")), checkpointed.toString)
    assert(scanJobs.get() == 0, s"${scanJobs.get()} fallback metric scans")
    assert(chunks.count() == counts.last._2)
    import scala.jdk.CollectionConverters._
    val jobs = hookJobs.asScala.toSeq
    assert(jobs.size >= checkpointed.size,
      s"${jobs.size} hook jobs for ${checkpointed.size} pinned stages")
    jobs.foreach(d => assert(d.contains("Checkpoints$.eagerBuild"),
      s"stage-hook job outside a checkpoint materialization:\n$d"))
  }

  test("an unpinned step whose count never rides a checkpoint resolves by a bounded scan") {
    import scala.concurrent.duration._
    val stage = new TrainingPipeline.Stages(300.millis)
    // the step feeds nothing: the next pinned stage materializes another
    // frame, so its observation never fires
    stage.unpinned("orphan", spark.range(0, 1000, 1, 4).toDF("id"))
    val t0 = System.nanoTime()
    stage("pinned", spark.range(0, 10, 1, 2).toDF("id"))
    val ms = (System.nanoTime() - t0) / 1000000L
    try {
      assert(stage.counts == Seq("orphan" -> 1000L, "pinned" -> 10L))
      assert(ms >= 300 && ms < 10000, s"resolution took $ms ms")
    } finally stage.releaseLast()
  }

  test("gopher gate tightens the quality stage and only that stage") {
    val (_, plain) = TrainingPipeline.curate(spark, dir)
    val (_, gated) = TrainingPipeline.curate(spark, dir, gopherGate = true)
    val p = plain.toMap; val g = gated.toMap
    assert(g("ingest") == p("ingest"))
    assert(g("quality_gate") <= p("quality_gate"),
      "ANDing the rule battery cannot keep more documents")
    // downstream stages stay monotone under the tighter head
    val order = gated.map(_._1)
    assert(order == plain.map(_._1), "stage list changed")
  }

  test("semantic dedup stage drops exactly semDedup's non-survivors, opt-in only") {
    val (_, plain) = TrainingPipeline.curate(spark, dir)
    val (_, sem) = TrainingPipeline.curate(spark, dir, semanticDedup = true)
    // opt-in: the default stage list is untouched
    assert(!plain.map(_._1).contains("semantic_dedup"))
    val order = sem.map(_._1)
    assert(order == Seq("ingest", "quality_gate", "stratified_sample",
      "exact_dedup", "near_dup_drop", "semantic_dedup", "decontaminate",
      "paragraph_dedup", "chunk"), order.toString)
    val s = sem.toMap; val p = plain.toMap
    // the head of the pipeline is identical; the new stage only drops
    assert(s("near_dup_drop") == p("near_dup_drop"))
    assert(s("semantic_dedup") <= s("near_dup_drop"))
    assert(s("decontaminate") <= s("semantic_dedup"))
    // deterministic: the trained quantizer uses fixed seeds and
    // lowest-id training samples, so a re-run reproduces every count
    val (_, sem2) = TrainingPipeline.curate(spark, dir, semanticDedup = true)
    assert(sem2 == sem, "semantic-dedup run not deterministic")
  }

  test("curate writes readable range-sharded output") {
    val (chunks, _) = result
    val back = spark.read.parquet(outDir)
    assert(back.count() == chunks.count())
    assert(back.columns.toSet ==
      Set("doc_id", "chunk_id", "source", "chunk", "n_tok"))
  }

  test("curateIncremental gates a daily shard against the persistent store") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("inc-store-").toString
    try {
      // seed the store from the corpus (the once-cost)
      val corpus = Tables.documents(spark, dir)
      graft.queries.Dedup.d19WriteStore(corpus, store)
      val srcRows = corpus.select(col("doc_id"), col("text"), col("source"))
        .orderBy(col("doc_id")).limit(2).collect()

      // batch 1: a verbatim clone of a corpus doc (must be gated), an
      // exact intra-batch dup pair (one survives), and a novel doc
      val novelText = ("graft synthetic shard " * 40).trim
      val b1 = Seq(
        (9100001L, srcRows(0).getString(1), "webz"),   // corpus clone → drop
        (9100002L, novelText, "webz"),                 // novel → keep
        (9100003L, novelText, "webz")                  // exact dup of above → drop
      ).toDF("doc_id", "text", "source")
      val (chunks1, counts1) = TrainingPipeline.curateIncremental(
        spark, b1, store, dir)
      val m1 = counts1.toMap
      assert(m1("ingest") == 3 && m1("exact_dedup") == 2)
      assert(m1("near_dup_gate") == 1, s"gate counts: $counts1")
      val kept1 = chunks1.select("doc_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(kept1 == Set(9100002L))

      // batch 2: a clone of batch 1's ACCEPTED doc must now be gated by
      // the store the first run appended to, and a clone of batch 1's
      // REJECTED doc must pass (nothing of it entered the corpus)
      val b2 = Seq(
        (9200001L, novelText, "webz"),                 // clone of accepted → drop
        (9200002L, ("another genuinely novel shard text " * 30).trim, "webz"))
        .toDF("doc_id", "text", "source")
      val (chunks2, counts2) = TrainingPipeline.curateIncremental(
        spark, b2, store, dir)
      val m2 = counts2.toMap
      assert(m2("near_dup_gate") == 1, s"second-batch gate: $counts2")
      val kept2 = chunks2.select("doc_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(kept2 == Set(9200002L))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    }
  }

  test("one-sided modality options are refused; a throwing sweep still releases") {
    import spark.implicits._
    // a silent fall-through would leave the corpus permanently ungated
    val b = Seq((1L, "x", "s")).toDF("doc_id", "text", "source")
    intercept[IllegalArgumentException] {
      TrainingPipeline.curateIncremental(spark, b, "/tmp/nope", dir,
        batchEmbeddings = Some(b.select(col("doc_id").as("vec_id"))))
    }
    intercept[IllegalArgumentException] {
      TrainingPipeline.curateIncremental(spark, b, "/tmp/nope", dir,
        mediaStoreDir = Some("/tmp/nope2"))
    }
    // Checkpoints.sweep: a throwing write leg must still release what
    // it pinned (a retried micro-batch would otherwise leak per attempt)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[RuntimeException] {
      Checkpoints.sweep(spark) {
        val cached = Tables.documents(spark, dir).limit(5).cache()
        cached.count()
        throw new RuntimeException("simulated write failure")
      }
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"sweep leaked on failure: $leaked")
  }

  test("curateIncremental triad: vector clones and pHash near-dups gated incrementally") {
    import spark.implicits._
    import graft.queries.{Dedup, Multimodal}
    import org.apache.spark.sql.Row
    val root = java.nio.file.Files.createTempDirectory("inc-triad-").toString
    val (tStore, eStore, mStore) =
      (s"$root/text", s"$root/embed", s"$root/media")
    try {
      val corpus = Tables.documents(spark, dir)
      Dedup.d19WriteStore(corpus, tStore)

      // single-vector embed store {v0}; pick v1 from the fixture with
      // |cos(v0, v1)| < 0.35 so it PROVABLY passes the 0.4 gate — the
      // test fixture is self-diagnosing, not luck-based
      val eRows = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id")).limit(50).collect()
      def vec(r: Row) = r.getSeq[Float](1).map(_.toDouble)
      def cosine(a: Seq[Double], b: Seq[Double]) =
        a.zip(b).map { case (x, y) => x * y }.sum /
          (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      val v0 = eRows.head
      val v1 = eRows.tail.find(r => math.abs(cosine(vec(v0), vec(r))) < 0.35)
        .getOrElse(fail("fixture has no far vector for the control doc"))
      Dedup.d20WriteStore(
        Seq((1000000L, v0.getSeq[Float](1))).toDF("vec_id", "embedding"),
        eStore)

      // single-item media store {m0}; pick mD whose pHash is provably
      // outside the hamming gate (empty one-shot probe)
      val mediaAll = Multimodal.mediaTable(spark, dir)
        .select(col("media_id"), col("payload"), col("meta.format").as("format"))
        .filter(length(col("payload")) >= 64)
        .orderBy(col("media_id")).limit(20).collect()
      def mediaDf(id: Long, r: Row) =
        Seq((id, r.getAs[Array[Byte]](1), r.getString(2)))
          .toDF("media_id", "payload", "format")
      val m0 = mediaAll.head
      val mD = mediaAll.tail.find(r =>
          Multimodal.mm9Frame(mediaDf(1000000L, m0), mediaDf(5L, r)).count() == 0)
        .getOrElse(fail("fixture has no far media item for the control doc"))
      Multimodal.mm9WriteStore(mediaDf(1000000L, m0), mStore)

      def txt(unit: String) = (unit + " ").repeat(30).trim
      // four docs, all with NOVEL text (the text gate passes everything):
      //  alpha carries a vector cloning the stored v0  → embed gate drop
      //  beta  carries a payload cloning the stored m0 → media gate drop
      //  gamma carries no modality rows                → kept (never probed)
      //  delta carries FAR vector v1 + FAR media mD    → kept, appended
      val b1 = Seq(
        (9300001L, txt("alpha synthetic corpus entry one"), "webz"),
        (9300002L, txt("beta totally different wording here"), "webz"),
        (9300003L, txt("gamma unrelated third sentence body"), "webz"),
        (9300004L, txt("delta fourth novel passage text"), "webz")
      ).toDF("doc_id", "text", "source")
      val b1Embs = Seq(
        (9300001L, v0.getSeq[Float](1)),
        (9300004L, v1.getSeq[Float](1))
      ).toDF("vec_id", "embedding")
      val b1Media = mediaDf(9300002L, m0).unionByName(mediaDf(9300004L, mD))

      val (chunks1, counts1) = TrainingPipeline.curateIncremental(
        spark, b1, tStore, dir,
        batchEmbeddings = Some(b1Embs), embedStoreDir = Some(eStore),
        batchMedia = Some(b1Media), mediaStoreDir = Some(mStore))
      val c1 = counts1.toMap
      assert(counts1.map(_._1) == Seq("ingest", "quality_gate",
        "exact_dedup", "near_dup_gate", "embed_dup_gate",
        "media_dup_gate", "decontaminate", "chunk"),
        counts1.map(_._1).toString)
      assert(c1("near_dup_gate") == 4, s"text gate: $counts1")
      assert(c1("embed_dup_gate") == 3, s"embed gate: $counts1")
      assert(c1("media_dup_gate") == 2, s"media gate: $counts1")
      val kept1 = chunks1.select("doc_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(kept1 == Set(9300003L, 9300004L))

      // batch 2: clones of batch 1's ACCEPTED modality rows must now be
      // gated by the stores the first run appended to
      val b2 = Seq(
        (9400001L, txt("epsilon fifth piece of writing"), "webz"),
        (9400002L, txt("zeta sixth completely new body"), "webz")
      ).toDF("doc_id", "text", "source")
      val b2Embs = Seq((9400001L, v1.getSeq[Float](1)))
        .toDF("vec_id", "embedding") // clones delta's accepted vector
      val b2Media = mediaDf(9400002L, mD) // clones delta's accepted media
      val (chunks2, counts2) = TrainingPipeline.curateIncremental(
        spark, b2, tStore, dir,
        batchEmbeddings = Some(b2Embs), embedStoreDir = Some(eStore),
        batchMedia = Some(b2Media), mediaStoreDir = Some(mStore))
      val c2 = counts2.toMap
      assert(c2("near_dup_gate") == 2, s"second batch text gate: $counts2")
      assert(c2("embed_dup_gate") == 1, s"second batch embed gate: $counts2")
      assert(c2("media_dup_gate") == 0, s"second batch media gate: $counts2")
      assert(chunks2.count() == 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }
}
