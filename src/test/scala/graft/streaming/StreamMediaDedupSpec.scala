package graft.streaming

import graft.TestSpark
import graft.queries.Multimodal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The streaming media near-dup ingest gate: per-batch verdicts must
  * equal the one-shot mm9 probe of that batch against all earlier
  * batches, replays (including of compacted ids) must be no-ops, a
  * planted payload clone must surface at hamming 0, and executor
  * storage must stay flat across batches.
  */
class StreamMediaDedupSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir
  import spark.implicits._

  /** Three batches of the media fixture (media_id mod 3) with a payload
    * clone planted in each later batch: b1 clones a b0 item, b2 a b1
    * item.
    */
  private def batches(): Seq[DataFrame] = {
    val media = Multimodal.mediaTable(spark, dir)
      .select(col("media_id"), col("payload"),
        col("meta.format").as("format"))
    def part(m: Int) = media.filter(col("media_id") % 3 === m)
    def cloneOf(src: DataFrame, newId: Long) = {
      val r = src.filter(length(col("payload")) >= 64)
        .orderBy(col("media_id")).limit(1).collect().head
      Seq((newId, r.getAs[Array[Byte]](1), r.getString(2)))
        .toDF("media_id", "payload", "format")
    }
    val b0 = part(0)
    val b1 = part(1).unionByName(cloneOf(b0, 8000001L))
    val b2 = part(2).unionByName(cloneOf(b1, 8000002L))
    Seq(b0, b1, b2)
  }

  private def canon(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("streamed gate verdicts equal the one-shot mm9 probe per batch; clones surface") {
    val root = java.nio.file.Files.createTempDirectory("mediadedup-").toString
    val (srcDir, storeDir, outDir) = (s"$root/src", s"$root/store", s"$root/out")
    val bs = batches()
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
      .foreachBatch(StreamMediaDedup.sink(spark, storeDir, outDir))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)

    assert(spark.read.parquet(s"$outDir/batch=0").count() == 0)
    val exp1 = canon(Multimodal.mm9Frame(bs(0), bs(1)))
    val exp2 = canon(Multimodal.mm9Frame(bs(0).unionByName(bs(1)), bs(2)))
    assert(canon(spark.read.parquet(s"$outDir/batch=1")) == exp1)
    assert(canon(spark.read.parquet(s"$outDir/batch=2")) == exp2)
    // the planted payload clones surface with hamming exactly 0
    assert(exp1.exists { case (n, _, h) => n == 8000001L && h == 0L })
    assert(exp2.exists { case (n, _, h) => n == 8000002L && h == 0L })

    // at-least-once replay: re-presenting batch 1 is a no-op
    import scala.jdk.CollectionConverters._
    def fp(p: String) = org.apache.commons.io.FileUtils
      .listFiles(new java.io.File(p), null, true).asScala
      .map(f => (f.getAbsolutePath, f.length(), f.lastModified())).toSet
    val before = Seq(s"$outDir/batch=1", s"$storeDir/bands/batch=1").map(fp)
    StreamMediaDedup.processBatch(spark, bs(1), 1L, storeDir, outDir)
    val after = Seq(s"$outDir/batch=1", s"$storeDir/bands/batch=1").map(fp)
    assert(before == after, "replayed batch rewrote store or output files")

    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("a torn sentinel write is reprocessed, not skipped") {
    val root = java.nio.file.Files.createTempDirectory("mediadedup-t-").toString
    val (storeDir, outDir) = (s"$root/store", s"$root/out")
    val bs = batches()
    StreamMediaDedup.processBatch(spark, bs(0), 0L, storeDir, outDir)
    StreamMediaDedup.processBatch(spark, bs(1), 1L, storeDir, outDir)
    val bands1 = new java.io.File(s"$storeDir/bands/batch=1")
    bands1.listFiles().foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    StreamMediaDedup.processBatch(spark, bs(1), 1L, storeDir, outDir)
    assert(new java.io.File(bands1, "_SUCCESS").exists(),
      "torn sentinel write was not repaired")
    StreamMediaDedup.processBatch(spark, bs(2), 2L, storeDir, outDir)
    assert(canon(spark.read.parquet(s"$outDir/batch=2")) ==
      canon(Multimodal.mm9Frame(bs(0).unionByName(bs(1)), bs(2))))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("compaction preserves verdicts, sentinels and a half-crash; storage stays flat") {
    val root = java.nio.file.Files.createTempDirectory("mediadedup-c-").toString
    val (storeDir, outDir) = (s"$root/store", s"$root/out")
    val bs = batches()
    StreamMediaDedup.processBatch(spark, bs(0), 0L, storeDir, outDir)
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    StreamMediaDedup.processBatch(spark, bs(1), 1L, storeDir, outDir)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore
    assert(leaked.isEmpty, s"gate batch leaked persistent RDDs: $leaked")
    val exp2 = canon(Multimodal.mm9Frame(bs(0).unionByName(bs(1)), bs(2)))

    StreamMediaDedup.compact(spark, storeDir, 1L)
    assert(!new java.io.File(s"$storeDir/bands/batch=0").exists())
    // replay of a COMPACTED id must stay a no-op (marker vouches for it)
    StreamMediaDedup.processBatch(spark, bs(0), 0L, storeDir, outDir)
    assert(!new java.io.File(s"$storeDir/bands/batch=0").exists(),
      "replay of a compacted batch id was reprocessed")
    StreamMediaDedup.processBatch(spark, bs(2), 2L, storeDir, outDir)
    assert(canon(spark.read.parquet(s"$outDir/batch=2")) == exp2)

    // simulated half-crash: superseded rows resurface as duplicates —
    // verdicts must be unchanged (candidate distinct collapses them)
    val keep = new java.io.File(s"$storeDir/bands/batch=1")
    val ghost = new java.io.File(s"$storeDir/bands/batch=0")
    org.apache.commons.io.FileUtils.copyDirectory(keep, ghost)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$outDir/batch=2"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$storeDir/bands/batch=2"))
    StreamMediaDedup.processBatch(spark, bs(2), 2L, storeDir, outDir)
    assert(canon(spark.read.parquet(s"$outDir/batch=2")) == exp2,
      "duplicate store rows changed the verdicts")

    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("compactEvery policy: verdicts identical to the uncompacted gate, store stays small, compacted replays stay no-ops") {
    val root = java.nio.file.Files.createTempDirectory("mediadedup-p-").toString
    val bs = batches()
    // control: no policy. policy store: leveled, every = 2 — batches
    // 0 and 1 fold into a level-0 run at 1, batch 2 stays fresh
    val (cs, co) = (s"$root/cstore", s"$root/cout")
    val (ps, po) = (s"$root/pstore", s"$root/pout")
    bs.zipWithIndex.foreach { case (b, i) =>
      StreamMediaDedup.processBatch(spark, b, i.toLong, cs, co)
      StreamMediaDedup.processBatch(spark, b, i.toLong, ps, po,
        compactEvery = Some(2))
    }
    (0 until 3).foreach { i =>
      assert(canon(spark.read.parquet(s"$po/batch=$i")) ==
        canon(spark.read.parquet(s"$co/batch=$i")),
        s"policy store verdicts diverged at batch $i")
    }
    def dirs(store: String) =
      GateStore.listBatchDirs(new java.io.File(s"$store/bands")).map(_._1)
    assert(dirs(cs) == Seq(0L, 1L, 2L))
    assert(dirs(ps) == Seq(1L, 2L),
      s"policy store not compacted: ${dirs(ps)}")
    assert(GateStore.compactedUpTo(ps) == 1L)
    assert(GateStore.readLevels(ps).toSet == Set((0, 1L)))
    // replays of the merged-away ids are still no-ops (marker vouches)
    StreamMediaDedup.processBatch(spark, bs(0), 0L, ps, po,
      compactEvery = Some(2))
    StreamMediaDedup.processBatch(spark, bs(1), 1L, ps, po,
      compactEvery = Some(2))
    assert(dirs(ps) == Seq(1L, 2L), "compacted-id replay re-seeded the store")
    // below-threshold store: the policy is a no-op, nothing compacts
    val (ss, so) = (s"$root/sstore", s"$root/sout")
    StreamMediaDedup.processBatch(spark, bs(0), 0L, ss, so,
      compactEvery = Some(5))
    StreamMediaDedup.processBatch(spark, bs(1), 1L, ss, so,
      compactEvery = Some(5))
    assert(dirs(ss) == Seq(0L, 1L))
    assert(GateStore.compactedUpTo(ss) == Long.MinValue)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("media store geometry is pinned: a mismatched probe throws before any batch runs") {
    // pHash band substrings taken at another split never equi-match the
    // stored ones — same silent-recall failure mode as the embed
    // store's SigSpec, same _geometry pin.
    val root = java.nio.file.Files.createTempDirectory("mediadedup-g-").toString
    try {
      val store = s"$root/store"
      assert(StreamMediaDedup.Geometry == "phash:64hex,bands=4x16")
      GateStore.ensureGeometry(store, "phash:64hex,bands=8x8")
      val e = intercept[IllegalStateException] {
        StreamMediaDedup.processBatch(spark, batches().head, 0L,
          store, s"$root/out")
      }
      assert(e.getMessage.contains("geometry"), e.getMessage)
      assert(!new java.io.File(s"$store/bands").exists(),
        "mismatched-geometry batch still wrote store rows")
      val e2 = intercept[IllegalStateException] {
        StreamMediaDedup.sink(spark, store, s"$root/out")
      }
      assert(e2.getMessage.contains("geometry"), e2.getMessage)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("sink probeDepth dial: depth 1 gates a mid-radius variant depth 0 misses; depth 0 stays byte-identical; bad dial fails at construction") {
    val root = java.nio.file.Files.createTempDirectory("media-dial-").toString
    try {
      // MultimodalSpec's chunk-controlled payloads: hamming is exactly
      // the flip count, per-band diffs controlled by flip positions
      def payload(flips: Seq[Int]): Array[Byte] = {
        val bytes = new Array[Byte](256)
        for (k <- 0 until 64; j <- 0 until 4)
          bytes(4 * k + j) =
            if (k % 2 == 0 || flips.contains(k)) 'z'.toByte else '!'.toByte
        bytes
      }
      val b0 = Seq((1L, payload(Nil), "bin"))
        .toDF("media_id", "payload", "format")
      val b1 = Seq(
          (102L, payload(Seq(1, 17)), "bin"), // h=2: (1,1,0,0) — any depth
          (105L, payload(Seq(1, 3, 17, 33, 49)), "bin")) // h=5: (2,1,1,1)
        .toDF("media_id", "payload", "format")
      def drive(tag: String, depth: Int): Map[Long, Long] = {
        val sink = StreamMediaDedup.sink(spark, s"$root/store-$tag",
          s"$root/out-$tag", probeDepth = depth)
        sink(b0, 0L); sink(b1, 1L)
        spark.read.parquet(s"$root/out-$tag/batch=1").collect()
          .map(r => r.getLong(0) -> r.getLong(2)).toMap
      }
      assert(drive("d0", 0) == Map(102L -> 2L),
        "depth 0 should certify only hamming <= 3")
      assert(drive("d1", 1) == Map(102L -> 2L, 105L -> 5L),
        "depth 1 should certify the full hamming-6 radius")
      // the store rows are identical either way — the dial is probe-time
      // policy, not store shape (same geometry marker, same band rows)
      def rows(tag: String) = spark.read
        .parquet(s"$root/store-$tag/bands/batch=1")
        .collect().map(_.mkString("|")).toSet
      assert(rows("d0") == rows("d1"))
      assert(java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(s"$root/store-d1/_geometry")).get(0) ==
        StreamMediaDedup.Geometry)
      // an out-of-range dial fails at sink CONSTRUCTION, before batches
      intercept[IllegalArgumentException] {
        StreamMediaDedup.sink(spark, s"$root/store-bad", s"$root/out-bad",
          probeDepth = 7)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }
}
