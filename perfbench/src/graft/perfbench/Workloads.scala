package graft.perfbench

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pipeline, TrainingPipeline}
import graft.queries.{Analytics, Dedup, Topics}

/** A workload: set-up, warm-up, and an op per closed-loop iteration.
  * `input(i)` stages op i's inputs outside the timed region; `op` is the
  * timed call into the library; `check` verifies its output.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: String,
    val tracer: Option[Tracer]) {
  def name: String
  def docsPerOp: Long
  def minOps: Int = 2
  /** Untimed ops after set-up, so JIT and codegen warm-up stays out of
    * the measured region.
    */
  def warmOps: Int = 1
  /** Directory the current set-up lives in. */
  var root = ""
  /** Generate inputs and seed stores under `root`. */
  def prepare(): Unit
  def input(i: Int): Any = ()
  def op(i: Int, in: Any): Any
  def check(i: Int, in: Any, out: Any): Option[String]
  def finalCheck(): Option[String] = None
  /** Extra layer probes for traced ops, outside the op's timing. */
  def traceExtra(i: Int, in: Any, out: Option[Any]): Unit = ()
  /** Workload-specific per-layer metrics over the traced ops. */
  def layers(ops: Seq[OpRec], jobsOf: OpRec => Seq[JobRec], t: Tracer): Map[String, Double] =
    Map.empty

  def writeDocs(docs: Seq[Gen.Doc], dir: String): Unit = {
    import spark.implicits._
    docs.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** The untimed warm-up ops; a failed check fails the run. */
  def warmup(): Unit = (0 until warmOps).foreach { _ =>
    val in = input(-1)
    check(-1, in, op(-1, in)).foreach(e => throw new IllegalStateException(s"warm-up op: $e"))
  }

  def span[T](n: String)(body: => T): T = tracer.fold(body)(_.span(n)(body))

  def rm(path: String): Unit = {
    def del(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(del)); f.delete()
    }
    del(new File(path))
  }
}

object Workloads {
  val Names = Seq("ingest", "curate", "topics")
  val CorpusDocs = 5000
  val TopicDocs = 1500

  def apply(name: String, s: SparkSession, seed: Long, work: String,
      tracer: Option[Tracer]): Workload = name match {
    case "ingest" => new Ingest(s, seed, work, tracer)
    case "curate" => new Curate(s, seed, work, tracer)
    case "topics" => new TopicsW(s, seed, work, tracer)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${Names.mkString(", ")})")
  }

  /** SHA-256 over the inputs a run of `name` would see first (set-up
    * data and the first ten ops' inputs).
    */
  def digest(name: String, seed: Long): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def add(ds: Seq[Gen.Doc]): Unit = ds.foreach(d =>
      md.update(s"${d.docId}\t${d.lang}\t${d.source}\t${d.text}\n".getBytes("UTF-8")))
    name match {
      case "ingest" => (0 to 10).foreach(w => add(Gen.window(seed, w)))
      case "curate" => add(Gen.corpus(seed, 0, CorpusDocs))
      case "topics" => (0 to 10).foreach(d => add(Gen.topicCorpus(seed, d, TopicDocs)))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def has(j: JobRec, frag: String): Boolean = j.frames.exists(_.contains(frag))

  def sumS(ms: Long): Double = ms / 1000.0
}

import Workloads._

/** `Pipeline.ingestRun` over a feed of 500-link windows; about half of
  * each window re-delivers keys already stored.
  */
class Ingest(s: SparkSession, seed: Long, work: String, t: Option[Tracer])
    extends Workload(s, seed, work, t) {
  val name = "ingest"
  val docsPerOp: Long = Gen.WindowSize
  override val minOps = 4
  override val warmOps = 2
  private def links = s"$root/links"
  private def articles = s"$root/articles"
  private var storedLinks = 0L
  private var storedArticles = 0L
  private var window = 0
  private val processed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  private def feed(w: Int): String = {
    val dir = s"$root/feed/$w"
    writeDocs(Gen.window(seed, w), dir); dir
  }

  private def ingestWindow(w: Int): (Long, Long) = Pipeline.ingestRun(spark, feed(w), links, articles)

  def prepare(): Unit = {
    val (fresh, _) = Gen.windowIds(seed, 0)
    val (l, a) = ingestWindow(0)
    require(l == Gen.expectedLinks(fresh) && a == Gen.expectedArticles(seed, fresh),
      s"seed window appended ($l, $a)")
    storedLinks = l; storedArticles = a; window = 1
  }

  override def input(i: Int): Any = {
    val w = window; window += 1
    (w, feed(w))
  }

  def op(i: Int, in: Any): Any = {
    val (_, dir) = in.asInstanceOf[(Int, String)]
    Pipeline.ingestRun(spark, dir, links, articles)
  }

  def check(i: Int, in: Any, out: Any): Option[String] = {
    val (w, _) = in.asInstanceOf[(Int, String)]
    val (l, a) = out.asInstanceOf[(Long, Long)]
    val (fresh, _) = Gen.windowIds(seed, w)
    val (el, ea) = (Gen.expectedLinks(fresh), Gen.expectedArticles(seed, fresh))
    storedLinks += l; storedArticles += a
    if (i >= 0) processed += ((a, Gen.WindowSize.toLong))
    if (l != el || a != ea) Some(s"window $w appended ($l, $a), expected ($el, $ea)")
    else None
  }

  /** Both stores hold exactly the appended rows, each key once. */
  override def finalCheck(): Option[String] = {
    def rowsAndKeys(p: String, k: String) = {
      val r = spark.read.parquet(p).agg(count(lit(1)), countDistinct(col(k))).head()
      (r.getLong(0), r.getLong(1))
    }
    val (nl, kl) = rowsAndKeys(links, "loc")
    val (na, ka) = rowsAndKeys(articles, "doc_id")
    if (nl != kl || na != ka) Some(s"store not key-unique: links $nl rows/$kl keys, articles $na/$ka")
    else if (nl != storedLinks || na != storedArticles)
      Some(s"store rows ($nl, $na) != appended totals ($storedLinks, $storedArticles)")
    else None
  }

  private def dataFiles(path: String): Int = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(path)).count(f => f.getName.startsWith("part-"))
  }

  override def traceExtra(i: Int, in: Any, out: Option[Any]): Unit = {
    val (_, dir) = in.asInstanceOf[(Int, String)]
    span("functions.process") {
      Pipeline.processArticles(spark.read.parquet(s"$dir/documents.parquet"))
        .write.format("noop").mode("overwrite").save()
    }
  }

  override def layers(ops: Seq[OpRec], jobsOf: OpRec => Seq[JobRec],
      t: Tracer): Map[String, Double] = {
    val n = ops.size.max(1)
    val sinkJobs = ops.map(o => jobsOf(o).filter(has(_, "Sinks$.appendUnique")))
    val sinkIds = sinkJobs.flatten.map(_.id).toSet
    val proc = t.spans.filter(sp => sp.name == "functions.process" && ops.exists(_.i == sp.op))
    Map(
      "sinks.append_s" -> sinkJobs.map(js => sumS(Intervals.union(js.map(j => (j.start, j.end))))).sum / n,
      "sinks.bytes_written_mb" -> t.tasks.filter(x => sinkIds(x.job)).map(_.written).sum / 1e6 / n,
      "sinks.store_files" -> (dataFiles(links) + dataFiles(articles)).toDouble,
      "functions.process_s" -> proc.map(sp => sumS(sp.end - sp.start)).sum / proc.size.max(1),
      "functions.useful_ratio" ->
        processed.map(_._1).sum.toDouble / processed.map(_._2).sum.max(1L))
  }
}

/** `TrainingPipeline.curate` over the whole generated corpus. */
class Curate(s: SparkSession, seed: Long, work: String, t: Option[Tracer])
    extends Workload(s, seed, work, t) {
  val name = "curate"
  val docsPerOp: Long = CorpusDocs
  private def dir = s"$root/corpus"
  private var ccRounds = 0.0

  val Stages = Seq("ingest", "quality_gate", "stratified_sample", "exact_dedup",
    "near_dup_drop", "decontaminate", "paragraph_dedup", "chunk")

  /** Stage counts at seed 1, the default seed. */
  val Golden: Seq[Long] = Seq(5000, 5000, 3362, 3354, 3240, 2773, 2773, 2857)

  def prepare(): Unit = writeDocs(Gen.corpus(seed, 0, CorpusDocs), dir)

  def op(i: Int, in: Any): Any = TrainingPipeline.curate(spark, dir)

  def check(i: Int, in: Any, out: Any): Option[String] = {
    val (chunks, counts) = out.asInstanceOf[(DataFrame, Seq[(String, Long)])]
    if (counts.map(_._1) != Stages) return Some(s"stage names ${counts.map(_._1)}")
    if (counts.head._2 != CorpusDocs) return Some(s"ingest count ${counts.head._2}")
    if (seed == 1L && counts.map(_._2) != Golden)
      return Some(s"stage counts ${counts.map(_._2)} != golden $Golden")
    monotone(counts).orElse {
      checkChunks(chunks, counts.last._2)
    }.orElse {
      val kept = chunks.select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
      Gen.copies(seed, 0, CorpusDocs).find(c => kept(c.id) && kept(c.source))
        .map(c => s"planted copy ${c.id} of ${c.source} (exact=${c.exact}) survived with its source")
    }
  }

  override def traceExtra(i: Int, in: Any, out: Option[Any]): Unit =
    if (ccRounds == 0.0) span("dedup.cc_rounds") {
      val (cp, rounds) = Dedup.connectedComponentsWithRounds(
        Dedup.d2MinHashPairs(spark, dir).select(col("id1"), col("id2")))
      cp.release()
      ccRounds = rounds
    }

  override def layers(ops: Seq[OpRec], jobsOf: OpRec => Seq[JobRec],
      t: Tracer): Map[String, Double] = {
    val n = ops.size.max(1)
    val segs = ops.map(o => stageSegments(o, jobsOf(o)))
    def seg(name: String) = segs.map(m => sumS(m.getOrElse(name, 0L))).sum / n
    def unionOf(p: JobRec => Boolean) = ops.map(o =>
      sumS(Intervals.union(jobsOf(o).filter(p).map(j => (j.start, j.end))))).sum / n
    Map(
      "dedup.cc_s" -> unionOf(has(_, "Dedup$.connectedComponentsWithRounds")),
      "dedup.cc_rounds" -> ccRounds,
      "dedup.decontam_s" -> seg("decontaminate"),
      "text.paragraph_dedup_s" -> seg("paragraph_dedup"),
      "checkpoints.eager_s" -> unionOf(has(_, "Checkpoints$.eagerBuild")),
      "checkpoints.jobs" ->
        ops.map(o => jobsOf(o).count(has(_, "Checkpoints$.eagerBuild"))).sum.toDouble / n,
      "checkpoints.leaked_blocks" -> ops.map(_.leaked).sum.toDouble / n)
  }

  /** Wall time of each named curation stage inside one op: the stage
    * hook's row count closes a stage, so stage k runs from the end of
    * the (k-1)-th count (or the op start) to the end of the k-th. A
    * count is one SQL execution of one or more jobs.
    */
  def stageSegments(op: OpRec, jobs: Seq[JobRec]): Map[String, Long] = {
    val ends = jobs.filter(j => has(j, "TrainingPipeline$.stage$") && !has(j, "Checkpoints$"))
      .groupBy(j => if (j.exec >= 0) j.exec else -1L - j.id).values
      .map(_.map(_.end).max).toSeq.sorted
    if (ends.size != Stages.size) Map.empty
    else Stages.zip(ends).zip(op.start +: ends).map { case ((n, e), s) => n -> (e - s) }.toMap
  }

  /** Chunk frame consistency: per doc, chunk ids 0..k-1, 1..128 tokens. */
  def checkChunks(chunks: DataFrame, expected: Long): Option[String] = {
    val rows = chunks.select(col("doc_id"), col("chunk_id"), col("n_tok")).collect()
    if (rows.length != expected) return Some(s"chunk rows ${rows.length} != stage count $expected")
    if (rows.exists(r => r.getInt(2) < 1 || r.getInt(2) > 128)) return Some("chunk n_tok outside 1..128")
    val bad = rows.groupBy(_.getLong(0)).find { case (_, rs) =>
      rs.map(_.getInt(1)).sorted.toSeq != (0 until rs.length) }
    bad.map { case (d, _) => s"doc $d chunk ids not contiguous from 0" }
  }

  /** The filter stages (all but `chunk`) never add rows. */
  def monotone(counts: Seq[(String, Long)]): Option[String] = {
    val c = counts.init.map(_._2)
    if (c.zip(c.drop(1)).exists { case (a, b) => b > a }) Some(s"stage counts grew: $counts")
    else None
  }
}

/** The topic notebooks, cold: each op is a new day's corpus, so the
  * fingerprint-keyed model registry refits (k=12 LDA + dominant topics,
  * the k in {2,4,6} c_v sweep, and the sentiment trend).
  */
class TopicsW(s: SparkSession, seed: Long, work: String, t: Option[Tracer])
    extends Workload(s, seed, work, t) {
  val name = "topics"
  val docsPerOp: Long = TopicDocs
  private var day = 0
  // run.py points GRAFT_MODEL_DIR (the model registry's artifact root) here
  private def models = sys.env.getOrElse("GRAFT_MODEL_DIR", s"$work/models")

  /** Generates the first day's corpus; later days are generated per op. */
  def prepare(): Unit = {
    day = 0
    writeDocs(Gen.topicCorpus(seed, 0, TopicDocs), s"$root/days/0")
  }

  override def input(i: Int): Any = {
    val dir = s"$root/days/$day"
    if (day > 0) writeDocs(Gen.topicCorpus(seed, day, TopicDocs), dir)
    day += 1
    dir
  }

  /** Drops the day's corpus and its model artifacts. */
  private def done(in: Any): Unit = {
    rm(in.asInstanceOf[String]); rm(models); Topics.clearModelCache()
  }

  def op(i: Int, in: Any): Any = {
    val dir = in.asInstanceOf[String]
    val dominant = span("topics.m2")(Topics.m2DominantTopics(spark, dir).collect())
    val sweep = span("topics.sweep")(Topics.m4LdaSweep(spark, dir).collect())
    val trend = span("analytics.trend")(Analytics.a2SentimentTrend(spark, dir).collect())
    (dominant, sweep, trend)
  }

  def check(i: Int, in: Any, out: Any): Option[String] = {
    val (dom, sweep, trend) =
      out.asInstanceOf[(Array[org.apache.spark.sql.Row], Array[org.apache.spark.sql.Row],
        Array[org.apache.spark.sql.Row])]
    val topics = Topics.m3TopicKeywords(spark, in.asInstanceOf[String]).count()
    val nDocs = dom.map(_.getLong(1)).sum
    val res =
      if (topics != 12) Some(s"$topics topics, expected 12")
      else if (nDocs != TopicDocs)
        Some(s"dominant-topic counts sum to $nDocs, expected $TopicDocs")
      else if (dom.exists(r => r.getInt(0) < 0 || r.getInt(0) >= 12)) Some("topic id outside 0..11")
      else if (sweep.length != 3 || sweep.exists(r => !java.lang.Double.isFinite(r.getDouble(1))))
        Some(s"c_v sweep ${sweep.mkString(",")}")
      else if (trend.length != 60) Some(s"trend has ${trend.length} days, expected 60")
      else None
    done(in)
    res
  }

  override def layers(ops: Seq[OpRec], jobsOf: OpRec => Seq[JobRec],
      t: Tracer): Map[String, Double] = {
    val n = ops.size.max(1)
    def spanS(name: String, o: OpRec) =
      t.spans.filter(sp => sp.name == name && sp.op == o.i).map(sp => sp.end - sp.start).sum
    def inM2(o: OpRec, frag: String) = {
      val m2 = t.spans.filter(sp => sp.name == "topics.m2" && sp.op == o.i)
      jobsOf(o).filter(j => has(j, frag) &&
        m2.exists(sp => sp.start <= j.start && j.start <= sp.end)).map(j => (j.start, j.end))
    }
    val vec = ops.map(o => Intervals.extent(inM2(o, "Topics$.fitVectorizer")))
    val fit = ops.map(o => Intervals.extent(inM2(o, "Topics$.fitLda")))
    val m2 = ops.map(o => spanS("topics.m2", o))
    Map(
      "topics.vectorize_s" -> sumS(vec.sum) / n,
      "topics.lda_fit_s" -> sumS(fit.sum) / n,
      "topics.infer_s" -> sumS(m2.indices.map(k => (m2(k) - vec(k) - fit(k)) max 0L).sum) / n,
      "topics.sweep_s" -> sumS(ops.map(spanS("topics.sweep", _)).sum) / n,
      "analytics.trend_s" -> sumS(ops.map(spanS("analytics.trend", _)).sum) / n)
  }
}

/** Cross-workload per-layer metrics over the traced ops. */
object Layers {
  def compute(t: Tracer, all: Seq[OpRec], cores: Int, w: Workload): Map[String, Double] = {
    val ops = all.filter(o => o.traced && o.error.isEmpty)
    val n = ops.size.max(1)
    def jobsOf(o: OpRec): Seq[JobRec] =
      t.jobs.filter(j => j.start >= o.start && j.start <= o.end && j.end >= 0).toSeq
    val tasksByJob = t.tasks.groupBy(_.job)
    def tasksOf(o: OpRec) = jobsOf(o).flatMap(j => tasksByJob.getOrElse(j.id, Nil))
    def perOp(f: TaskRec => Double) = ops.map(o => tasksOf(o).map(f).sum).sum / n
    val wallMs = ops.map(o => (o.end - o.start).toDouble)
    val unions = ops.map(o => Intervals.union(jobsOf(o).map(j => (j.start, math.min(j.end, o.end)))))
    val attributed = ops.map { o =>
      val opSpans = t.spans.filter(_.op == o.i).map(_.id).toSet
      Intervals.union(jobsOf(o).filter(j => opSpans(j.span)).map(j => (j.start, math.min(j.end, o.end))))
    }
    val gaps = ops.indices.map(k => wallMs(k) - unions(k))
    val plans = ops.map(o => t.plans.filter(p => p.start >= o.start && p.start <= o.end))
    // the first op still pays some warm-up: compare later ops only
    val lat = all.filter(o => o.error.isEmpty && o.i > 0)
    val overhead = Main.median(lat.filter(_.traced).map(_.seconds)) -
      Main.median(lat.filterNot(_.traced).map(_.seconds))
    Map(
      "spark.core_util" -> perOp(_.runMs.toDouble) / (wallMs.sum / n * cores).max(1.0),
      "spark.tasks_per_op" -> ops.map(tasksOf(_).size).sum.toDouble / n,
      "spark.jobs_per_op" -> ops.map(jobsOf(_).size).sum.toDouble / n,
      "driver.gap_s" -> gaps.sum / 1000.0 / n,
      "catalyst.plan_s" -> plans.map(_.map(_.planMs).sum).sum / 1000.0 / n,
      "catalyst.plans_per_op" -> plans.map(_.size).sum.toDouble / n,
      "spark.shuffle_write_mb" -> perOp(_.shuffleWrite.toDouble) / 1e6,
      "spark.shuffle_read_mb" -> perOp(_.shuffleRead.toDouble) / 1e6,
      "spark.spill_mb" -> perOp(_.spill.toDouble) / 1e6,
      "spark.gc_s" -> perOp(_.gcMs.toDouble) / 1000.0,
      "spark.exec_cpu_s" -> perOp(_.cpuNs.toDouble) / 1e9,
      "trace.overhead_s" -> overhead,
      "trace.reconcile_err" -> ops.indices.map(k =>
        math.abs(attributed(k) + gaps(k) - wallMs(k)) / wallMs(k).max(1.0)).maxOption.getOrElse(0.0)
    ) ++ w.layers(ops, jobsOf, t)
  }
}
