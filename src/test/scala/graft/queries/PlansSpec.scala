package graft.queries

import graft.{Tables, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests: the scale properties the queries are
  * designed around (scan pushdown, broadcast dims, partial top-k
  * aggregation, bucketed shuffle elimination) asserted against the
  * actual executed plans, so a refactor that silently degrades a plan
  * fails CI rather than a future 100× run.
  */
class PlansSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def executedPlan(df: DataFrame): String = {
    df.collect() // force AQE to finalize
    df.queryExecution.executedPlan.toString
  }

  test("q3 pushes filters and prunes columns into the parquet scan") {
    val plan = executedPlan(Relational.q3FilterProject(spark, dir))
    assert(plan.contains("PushedFilters: ["), plan.take(500))
    assert(plan.contains("GreaterThan(l_quantity,45.0)"), "filter not pushed")
    // pruned read schema: only the 5 referenced columns, not all 16
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double,l_discount:dou"),
      "column pruning lost")
  }

  test("q16 join chain broadcasts all three dims and shuffles only the agg") {
    val plan = executedPlan(Relational.q16JoinChain(spark, dir))
    // AQE's executed-plan string renders initial+final plans, so count ≥3
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, "expected 3 broadcast joins")
    assert(!plan.contains("SortMergeJoin"), "dim join degraded to sort-merge")
  }

  test("q2 top-K plans as TakeOrderedAndProject, not a global sort") {
    val plan = executedPlan(Relational.q2TopKByDate(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(300))
  }

  test("s1 aggregates top-k partially (map-side) before the shuffle") {
    val plan = executedPlan(Similarity.s1CosineTopK(spark, dir))
    assert(plan.contains("partial_topkaggregator"), "no partial top-k aggregation")
  }

  test("q9 latest-per-key uses partial max_by aggregation, not a window") {
    val plan = executedPlan(Relational.q9LatestPerKey(spark, dir))
    assert(plan.contains("partial_max_by"), "no map-side combine for keyed dedup")
    assert(!plan.contains("Window"), "keyed dedup degraded to a window")
  }

  test("d1's hot-shingle cap applies via a broadcast join, not a shuffle") {
    // exercised on a synthetic corpus whose shared shingle exceeds the
    // ABSOLUTE cap (df = 80 > D1MaxDf = 64) — the fixture corpora are
    // too small to produce a hot shingle under an absolute cap, and the
    // nHot == 0 fast path intentionally has no tag join to pin. The hot
    // set joins as a broadcast LEFT join with an is_hot marker (small
    // docs retain hot shingles); the cap must never cost a corpus-scale
    // shuffle
    import spark.implicits._
    val docs = (0 until 80).map(i =>
      (i.toLong, "hot hot hot " + (0 until 30).map(k => s"u${i}_$k").mkString(" ")))
    val tmp = java.nio.file.Files.createTempDirectory("d1plan").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$tmp/documents.parquet")
    val plan = executedPlan(Dedup.d1JaccardPairs(spark, tmp))
    assert("BroadcastHashJoin.*LeftOuter".r.findFirstIn(plan).isDefined,
      "hot-shingle marker join is not a broadcast left join")
    assert(!"SortMergeJoin.*LeftOuter".r.findFirstIn(plan).isDefined,
      "hot-shingle cap degraded to a shuffle join")
    // the nHot == 0 fast path on the real fixture must stay join-lean:
    // no outer tag join at all (the cap costs nothing when nothing is hot)
    val fast = executedPlan(Dedup.d1JaccardPairs(spark, dir))
    assert(!"LeftOuter".r.findFirstIn(fast).isDefined,
      "nHot==0 path still pays the hot-tag join")
  }

  test("x2 extraction runs on xml_fields, never per-field xpath") {
    val plan = executedPlan(Extraction.x2HtmlExtract(spark, dir))
    assert(plan.contains("xml_fields"), "single-scan extraction expression missing")
    assert(!plan.contains("xpath"), "per-field xpath re-parse crept back in")
  }

  test("d6 probes the benchmark grams via broadcast semi-join") {
    val plan = executedPlan(Dedup.d6Decontaminate(spark, dir))
    assert(plan.contains("LeftSemi"), "decontamination lost its semi-join")
    assert(!plan.contains("SortMergeJoin"),
      "benchmark probe degraded to a corpus shuffle")
    assert(plan.contains("BroadcastHashJoin"), "benchmark side not broadcast")
  }

  test("s5 broadcasts the 64-row stats back onto the flat stream") {
    val plan = executedPlan(Similarity.s5Quantize(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), "stats join not broadcast")
    assert(!plan.contains("SortMergeJoin"), "stats join shuffles the corpus")
  }

  test("t26 joins the rate table broadcast; the corpus never shuffles for it") {
    val plan = executedPlan(Text.t26MixSample(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), "rate table not broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "mix-sample rate join degraded to a corpus shuffle")
  }

  test("d15 representative argmax combines map-side (partial max_by)") {
    val plan = executedPlan(Dedup.d15ClusterReps(spark, dir))
    assert(plan.contains("partial_max_by"),
      "cluster-representative argmax lost its map-side combine")
  }

  test("x4 robots rules join broadcast at small scale (AQE); argmax combines map-side") {
    // the rule join carries no hint — AQE must still pick broadcast when
    // the rule side is small (at web scale it degrades gracefully to a
    // domain-keyed shuffle join instead)
    val plan = executedPlan(Extraction.x4RobotsFilter(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), "rule table not broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "robots rule join degraded to a frontier shuffle")
    assert(plan.contains("partial_max_by"),
      "longest-match argmax lost its map-side combine")
  }

  test("m8 top-100 pairs is a partial-agg + TakeOrderedAndProject plan") {
    val plan = executedPlan(Topics.m8BpePairs(spark, dir))
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      "pair counting lost its map-side combine")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-100 degraded to a global sort")
  }

  test("t15 packing windows are partitioned by source, never a single partition") {
    val plan = executedPlan(Text.t15SeqPack(spark, dir))
    assert("Window .*source".r.findFirstIn(plan).isDefined
      || plan.contains("partitionBy"), plan.take(800))
    assert(plan.contains("hashpartitioning(source"),
      "pack window lost its per-source partitioning")
  }

  test("m9 probes the vocabulary via broadcast, never a corpus shuffle join") {
    val plan = executedPlan(Topics.m9OovRate(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), "vocab join not broadcast")
    assert(!plan.contains("SortMergeJoin"), "vocab join shuffles the token stream")
  }

  test("s6 lsh candidates come from a broadcast equi-join, never a cartesian") {
    val plan = executedPlan(Similarity.s6LshTopK(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), "probe join not broadcast")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "LSH probe degraded to an all-pairs join")
  }

  test("m10 tf-idf windows per doc and broadcasts the df dim") {
    val plan = executedPlan(Topics.m10Tfidf(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), "df/vocab dims not broadcast")
    assert(plan.contains("hashpartitioning(doc_id"),
      "per-doc ranking lost its doc_id partitioning")
    assert(!"Window \\[[^\\]]*\\], \\[\\]".r.findFirstIn(plan).isDefined,
      "un-partitioned window crept in")
  }

  test("w8 session_window aggregates with one keyed exchange, partial first") {
    val plan = executedPlan(Windows.w8SessionWindow(spark, dir))
    assert(plan.contains("MergingSessions"), "native session merge missing")
    assert(plan.contains("partial_count"), "session agg lost map-side combine")
    assert(plan.contains("hashpartitioning(user_id"),
      "session agg not keyed on user_id")
  }

  test("q28 mixing thresholds broadcast; the resample is scan-fused") {
    val plan = executedPlan(Relational.q28DomainMix(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), "threshold dim not broadcast")
    assert(!plan.contains("SortMergeJoin"), "mix join shuffles the corpus")
  }

  test("q19 ordinals come from zipWithIndex, never a global window") {
    // an un-partitioned row_number window funnels each side through ONE
    // task; the zipWithIndex form has no WindowExec at all
    val plan = executedPlan(Relational.q19PositionalJoin(spark, dir))
    assert(!plan.contains("Window"),
      "positional ordinal degraded to a single-partition window")
  }

  test("d11 bloom prune filters the gram stream before the broadcast semi-join") {
    val plan = executedPlan(Dedup.d11BloomDecontaminate(spark, dir))
    assert(plan.contains("LeftSemi") && plan.contains("BroadcastExchange"),
      s"expected a broadcast semi-join:\n$plan")
    // printed top-down: the probe-side sketch filter must appear BELOW
    // (after) the join — i.e. upstream of it, fused into the scan stage
    val join = plan.indexOf("LeftSemi")
    val prune = plan.indexOf("Filter UDF")
    assert(prune > join, "bloom prune is not upstream of the semi-join")
  }

  test("t19 dedup flags first paragraphs by a digest window, reassembly map-side") {
    val plan = executedPlan(Text.t19ParagraphDedup(spark, dir))
    // first occurrence: a window min of (doc_id, idx) over the md5
    // partitioning, with no winners aggregate joined back to the split;
    // reassembly: partial collect_list below the doc_id exchange
    assert(plan.contains("Window [min(") && plan.contains("md5("),
      s"digest window missing:\n$plan")
    assert(!plan.contains("min_by"), s"winners vote still joined back:\n$plan")
    assert(plan.contains("partial_collect_list"),
      "reassembly is not map-side combined")
  }

  test("w2 global rolling window sits above the daily aggregation") {
    // w2/a2 use an UN-partitioned window (executors warn `WindowExec: No
    // Partition Defined` — deliberate): the window input is the
    // aggregated daily series (#days rows), never the raw event stream.
    // Pin that shape: the Window must appear ABOVE the aggregate in the
    // executed plan, so the single partition only ever holds days.
    val plan = executedPlan(Windows.w2RollingMean(spark, dir))
    val win = plan.indexOf("Window")
    val agg = plan.indexOf("HashAggregate")
    assert(win >= 0 && agg >= 0, s"expected Window over HashAggregate:\n$plan")
    assert(win < agg,
      "rolling window consumes a pre-aggregation stream — unbounded single partition")
  }

  test("q26 sampling and t16 chunking stay map-only (no hash exchange)") {
    val p26 = executedPlan(Relational.q26StratifiedSample(spark, dir))
    assert(!p26.contains("Exchange hashpartitioning"),
      "hash-sample filter gained a shuffle")
    val p16 = executedPlan(Text.t16Chunk(spark, dir))
    assert(!p16.contains("Exchange hashpartitioning"),
      "chunking gained a shuffle")
  }

  test("d12 overlap ratio: broadcast gram probe, map-side-combined count shuffle") {
    val plan = executedPlan(Dedup.d12OverlapDecontaminate(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), "benchmark grams not broadcast")
    assert(!plan.contains("SortMergeJoin"), "gram probe shuffles the corpus")
    assert(plan.contains("partial_count"), "ratio counts lost map-side combine")
  }

  test("t21 dsir: log-ratio dim broadcasts; only counts ride the shuffles") {
    // NOTE: the 4096-row p/q FULL OUTER dim build may legitimately
    // sort-merge (Spark cannot broadcast full outer) — only the
    // corpus-side scoring join must be broadcast
    val plan = executedPlan(Text.t21DsirWeights(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), "log-ratio dim not broadcast")
    assert(plan.contains("partial_count"), "per-doc sum lost map-side combine")
    assert(plan.contains("fnv64"), "bucketing left the native expression")
  }

  test("t22 gopher battery is map-only: no exchange below the sort") {
    val plan = executedPlan(Text.t22GopherFilter(spark, dir))
    assert(!plan.contains("Exchange hashpartitioning"),
      "rule battery gained a hash shuffle")
    assert(plan.contains("gopher_flags"), "native bitmask expression lost")
  }

  test("t25 c4 battery is map-only: no exchange below the sort") {
    val plan = executedPlan(Text.t25C4Filter(spark, dir))
    assert(!plan.contains("Exchange hashpartitioning"),
      "c4 battery gained a hash shuffle")
    assert(plan.contains("c4_lines"), "native line-filter expression lost")
    // the kept-lines column materializes ONCE in its own codegen'd
    // projection ("*(1) Project [... c4_lines(...) AS kept...") — the
    // derived columns reference the attribute, not a re-inlined call
    assert(plan.contains(") Project [doc_id"), "projection structure lost")
    assert("""c4_lines\(text#\d+\) AS kept""".r.findFirstIn(plan).isDefined,
      "kept alias no longer materialized in its own projection")
    assert(plan.contains("*("), "battery fell out of whole-stage codegen")
  }

  test("d14 substring spans shuffle digests and window per doc, never text") {
    val plan = executedPlan(Dedup.d14SubstrSpans(spark, dir))
    assert(plan.contains("fnv64"), "gram digesting left the native expression")
    // every shuffle keys on a digest or doc_id — the gram text dies in
    // the scan-stage projection, before any exchange
    val exKeys = "Exchange hashpartitioning\\(([a-z_]+)#".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(exKeys.nonEmpty && exKeys.subsetOf(Set("h", "doc_id")),
      s"unexpected shuffle keys $exKeys")
    // span assembly windows are doc-keyed, never a global partition
    assert("windowspecdefinition\\(doc_id#".r.findFirstIn(plan).isDefined,
      "span window lost doc keying")
    assert(!plan.contains("windowspecdefinition(pos#"),
      "window without doc partition key")
  }

  test("q29 snapshot diff joins digests, never text") {
    val plan = executedPlan(Relational.q29SnapshotDiff(spark, dir))
    // the join's output/input attributes must be digest+key only — the
    // text column dies inside the scan-stage projection
    val joinIdx = plan.indexOf("SortMergeJoin")
    val anyJoin = if (joinIdx >= 0) joinIdx else plan.indexOf("HashJoin")
    assert(anyJoin >= 0, s"expected a keyed join:\n$plan")
    assert(!plan.substring(0, anyJoin).contains("text#"),
      "document text survives above the diff join")
  }

  test("t23 split broadcasts the cluster labels over the corpus") {
    val plan = executedPlan(Text.t23LeakageSafeSplit(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), "label join not broadcast")
  }

  test("t24 novelty shuffles fnv64 digests, never gram text") {
    val plan = executedPlan(Text.t24GramNovelty(spark, dir))
    assert(plan.contains("fnv64"), "gram digest left the native expression")
    // the window/agg exchanges must carry (doc_id, h)-shaped rows — the
    // gram string g dies in the scan-stage projection BELOW the
    // bottom-most (digest window) exchange, so nothing above it may
    // reference the g attribute (scope to the final plan: AQE appends
    // an "Initial Plan" copy after it)
    val initIdx = plan.indexOf("== Initial Plan ==")
    val finalPlan = if (initIdx >= 0) plan.substring(0, initIdx) else plan
    val ex = finalPlan.lastIndexOf("Exchange hashpartitioning")
    assert(ex >= 0, "expected the digest window shuffle")
    assert(!finalPlan.substring(0, ex).contains("g#"),
      "gram text survives above the digest exchange")
    assert(plan.contains("partial_count"), "per-doc counts lost map-side combine")
  }

  test("d10 assignment broadcasts √k panels; the pair scan joins on both cells") {
    // The round-8 two-level quantizer's contract: centroid panels are
    // tiny (kc+kf ≈ 2√k) and must reach the corpus as BROADCAST
    // nested-loop joins (the argmax input is n·2√k rows — a refactor
    // that shuffles the corpus against the panels, or reverts to one
    // flat n·k panel, changes this plan), and the cell-local self-join
    // must key on BOTH cell columns so cells stay product-sized.
    val plan = executedPlan(Dedup.d10SemDedupFixed(spark, dir))
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size >= 2,
      "both panel assignments must broadcast the centroid panel")
    assert(plan.contains("cell_c") && plan.contains("cell_f"),
      "pair scan lost the two-level product cell key")
    // the dropped-id anti-join stays broadcast too: drops ≪ corpus
    assert("BroadcastHashJoin.*LeftAnti".r.findFirstIn(plan).isDefined,
      "survivor anti-join not broadcast")
  }

  test("q34 SCD2 merge shuffles digests keyed by doc_id, never text") {
    val plan = executedPlan(Relational.q34Scd2History(spark, dir))
    // snapshots reduce to (doc_id, digest) inside the scan stage; the
    // gaps-and-islands window must key on doc_id (per-doc partitions of
    // ≤ #snapshots rows), never a global partition
    assert("windowspecdefinition\\(doc_id#".r.findFirstIn(plan).isDefined,
      "SCD2 window lost doc keying")
    val initIdx = plan.indexOf("== Initial Plan ==")
    val finalPlan = if (initIdx >= 0) plan.substring(0, initIdx) else plan
    val ex = finalPlan.indexOf("Exchange hashpartitioning")
    assert(ex >= 0, "expected the doc-keyed window shuffle")
    assert(!finalPlan.substring(0, ex).contains("text#"),
      "document text survives above the merge exchange")
  }

  test("t29 boilerplate detection shuffles (source, digest), never text") {
    val plan = executedPlan(Text.t29Boilerplate(spark, dir))
    val exKeys = "Exchange hashpartitioning\\(([a-z_]+)#".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(exKeys.nonEmpty && exKeys.subsetOf(Set("source", "h", "doc_id")),
      s"unexpected shuffle keys $exKeys")
    assert(plan.contains("partial_count"), "distinct-doc count lost map-side combine")
  }

  test("mm5 hashes payloads map-side; only (phash, media_id) rides shuffles") {
    val plan = executedPlan(Multimodal.mm5PhashDups(spark, dir))
    val exKeys = "Exchange hashpartitioning\\(([a-z_]+)#".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(exKeys.nonEmpty && exKeys.subsetOf(Set("phash", "media_id")),
      s"payload-bearing shuffle keys $exKeys")
  }

  test("s10 recall eval joins the bounded result sets broadcast") {
    val plan = executedPlan(Similarity.s10RecallEval(spark, dir))
    // upstream s1 keeps its partial top-k shape; the eval-side semi-join
    // must broadcast the NQ×K approx set, never shuffle the exact side
    assert(plan.contains("partial_topkaggregator"), "s1 partial top-k lost")
    assert("BroadcastHashJoin.*LeftSemi".r.findFirstIn(plan).isDefined,
      "hit-count semi-join not broadcast")
  }

  test("m21 bucket assignment broadcasts the 2-scalar threshold row") {
    val plan = executedPlan(Topics.m21PplBuckets(spark, dir))
    // the corpus-side assignment must consume the thresholds as a
    // broadcast nested-loop (1-row dim), not a shuffle; the cumulative
    // window runs over the bounded bin histogram only
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "threshold join not broadcast")
  }

  test("t30 manifest digests map-side; text never rides the pack window") {
    val plan = executedPlan(Text.t30ShardManifest(spark, dir))
    assert(plan.contains("fnv64"), "checksum digest left the native expression")
    // the pack window keys on source (t15 doctrine), and the text column
    // dies in the scan projection below the first exchange
    assert("windowspecdefinition\\(source#".r.findFirstIn(plan).isDefined,
      "pack window lost source keying")
    val initIdx = plan.indexOf("== Initial Plan ==")
    val finalPlan = if (initIdx >= 0) plan.substring(0, initIdx) else plan
    val ex = finalPlan.indexOf("Exchange hashpartitioning")
    assert(ex >= 0, "expected the source-keyed window shuffle")
    assert(!finalPlan.substring(0, ex).contains("text#"),
      "document text survives above the pack exchange")
  }

  test("mm6 candidates come from the band-bucket equi-join, never a cartesian") {
    val plan = executedPlan(Multimodal.mm6PhashPairs(spark, dir))
    assert(!plan.contains("CartesianProduct"), "banding degraded to all-pairs")
    val exKeys = "Exchange hashpartitioning\\(([a-z_0-9]+)#".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(exKeys.nonEmpty &&
      exKeys.subsetOf(Set("band", "bs", "id1", "id2", "media_id", "phash", "p1", "p2")),
      s"unexpected shuffle keys $exKeys")
  }

  test("d16 containment candidates come from the shingle inverted index, never a cartesian") {
    val plan = executedPlan(Dedup.d16ContainmentPairs(spark, dir))
    assert(!plan.contains("CartesianProduct"), "containment degraded to all-pairs")
    val exKeys = "Exchange hashpartitioning\\(([a-z_0-9]+)#".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(exKeys.nonEmpty &&
      exKeys.subsetOf(Set("shingle", "doc_id", "id1", "id2", "inner_id", "outer_id")),
      s"unexpected shuffle keys $exKeys")
  }

  test("t32 sketch pass aggregates partially: one k-entry partial per partition") {
    import org.apache.spark.sql.functions.{col, explode}
    val toks = Tables.documents(spark, dir)
      .select(explode(graft.functions.TextFunctions.tokenize(col("text"))).as("w"))
      .filter(col("w") =!= "")
    val agg = toks.agg(
      graft.functions.FreqSketch.freqSketch(graft.queries.Text.T32K)(col("w")))
    val plan = executedPlan(agg)
    // partial_freqsketchaggregator below the exchange = the map-side
    // combine that keeps the shuffle at one sketch per partition
    assert(plan.toLowerCase.contains("partial_freqsketchaggregator"),
      plan.take(400))
  }

  test("g1b fixed-point rounds: no cartesian, top-100 via TakeOrderedAndProject") {
    val plan = executedPlan(Graph.g1bPageRankFixed(spark, dir))
    // the 10 rounds live behind the final checkpoint; the visible plan
    // must be the bounded top-k over the pinned rank blocks
    assert(plan.contains("TakeOrderedAndProject"), plan.take(300))
    assert(!plan.contains("CartesianProduct"))
  }

  test("s3b Lloyd rounds broadcast the centroid dim and combine distances map-side") {
    val plan = executedPlan(Similarity.s3bKmeansFixed(spark, dir))
    // assignment = pts ⋈ broadcast(cents) on d, then two integer
    // aggregates that must partial-combine before their exchanges — the
    // vectors themselves never ride a shuffle
    assert(plan.contains("BroadcastHashJoin"), "centroid dim not broadcast")
    assert(plan.contains("partial_min"), "argmin struct not map-side combined")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("SortMergeJoin"), "centroid join degraded to sort-merge")
  }

  test("s13 sweep is one broadcast theta-join against the settings dim, no union") {
    val plan = executedPlan(Similarity.s13ProbeSweep(spark, dir))
    // membership in a sweep setting is prank <= nprobe against the
    // 4-row dim — a single BroadcastNestedLoopJoin branch, NOT the old
    // 4-way union of filtered branches (4x the codegen per consumer)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "settings dim not a broadcast theta-join")
    assert(!plan.contains("Union"), "sweep regressed to unioned branches")
    assert(!plan.contains("CartesianProduct"))
  }

  test("t33 BM25: query-term filter below the tf exchange, bounded top-k") {
    val plan = executedPlan(Text.t33Bm25(spark, dir))
    // the isin predicate sits in the scan stage, so the tf shuffle
    // carries <= |terms| rows per doc, never the vocabulary
    assert(plan.contains("TakeOrderedAndProject"), plan.take(300))
    assert(plan.contains(Text.T33Terms.head), "query-term filter missing from the plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("x5 content extraction is map-only: no exchange below the sort") {
    // block split, per-block stats, filter, fold are all higher-order
    // scalar functions — the only allowed exchange is the final orderBy's
    // range partitioning (AQE renders it once per initial/final plan)
    val plan = executedPlan(Extraction.x5MainContent(spark, dir))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"x5 should carry no hash exchange:\n${plan.take(600)}")
    assert(!plan.contains("Window"))
  }

  test("t34 zone audit: map-side-combined aggregates, no sort, no window") {
    val plan = executedPlan(Text.t34ZonePrune(spark, dir))
    assert(plan.contains("partial_count"), "zone stats must combine map-side")
    assert(!plan.contains("Window"), "zone assignment must not sort/window")
  }

  test("g3 rounds argmax via struct max partials, never a per-node window") {
    val plan = executedPlan(Graph.g3LabelProp(spark, dir))
    assert(!plan.contains("Window"), "label argmax degraded to a window")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(300))
  }

  test("w13 anomaly window is keyed by event_type above the daily aggregation") {
    val plan = executedPlan(Windows.w13AnomalyFlags(spark, dir))
    // the window consumes the post-agg daily frame (bounded series),
    // partitioned by event_type — not a global single-partition window
    assert(plan.contains("Window"), plan.take(300))
    assert(plan.contains("partitionBy=[event_type") ||
      plan.contains("hashpartitioning(event_type"),
      s"w13 window must be keyed by event_type:\n${plan.take(600)}")
    assert(plan.contains("HashAggregate"), "daily aggregation missing")
  }

  test("bucketed co-located join eliminates the shuffle") {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    assume(wh != null)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    Tables.orders(spark, dir).select("o_orderkey", "o_totalprice")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    val joined = spark.table("b_orders")
      .join(spark.table("b_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(sum(col("l_quantity")).as("qty"))
    val plan = executedPlan(joined)
    // both sides read pre-bucketed: the join needs no Exchange at all
    assert(!plan.contains("Exchange hashpartitioning(o_orderkey"),
      "bucketed join still shuffles the probe side")
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey"),
      "bucketed join still shuffles the build side")
    assert(joined.count() > 0)
  }

  test("LM/TF-IDF/funnel queries construct without a driver-side scalar job") {
    // Regression pin for the round-11 shape fix: corpus totals (token
    // count, vocab size, bigram type count, avgdl, funnel stage counts)
    // ride broadcast 1-row cross-joins INSIDE the query's one job. The
    // old shape fetched them with driver .head()/.count() actions at
    // DataFrame-construction time — each a separate job re-running the
    // whole tokenize/cascade subtree once nothing is cached (the 100 TB
    // case). Opening a parquet table itself costs one tiny
    // schema-inference job, so the budget is per table OPEN: each
    // construction may launch at most as many jobs as tables it opens,
    // and nothing more — a revived .head() adds at least one job on top.
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    def jobs(f: => Any): Int = {
      Thread.sleep(800) // drain async listener events from prior work
      val before = counter.get()
      f
      Thread.sleep(800)
      counter.get() - before
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val docOpen = jobs(Tables.documents(spark, dir))
      val evOpen = jobs(Tables.events(spark, dir))
      val cases: Seq[(String, Int, () => Any)] = Seq(
        ("m11", docOpen, () => Topics.m11UnigramLogprob(spark, dir)),
        ("m19", docOpen, () => Topics.m19BigramNll(spark, dir)),
        ("m21", docOpen, () => Topics.m21PplBuckets(spark, dir)),
        ("m25", docOpen, () => Topics.m25KneserNeyNll(spark, dir)),
        ("m26", docOpen, () => Topics.m26DomainKl(spark, dir)),
        ("t33", docOpen, () => Text.t33Bm25(spark, dir)),
        // q41 opens events twice (stage stream + distinct-user total)
        ("q41", 2 * evOpen, () => Relational.q41Funnel(spark, dir)))
      val over = cases.flatMap { case (name, budget, f) =>
        val n = jobs(f())
        if (n > budget) Some(s"$name: $n jobs (table-open budget $budget)")
        else None
      }
      assert(over.isEmpty,
        "driver-side scalar fetches crept back in — construction ran " +
          s"more jobs than table opens: ${over.mkString("; ")}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("d19 stored probe prunes the shingle store to candidate buckets") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    // batch = a verbatim clone of a corpus doc, so the probe is
    // guaranteed a candidate (an empty candidate set folds the whole
    // plan to a LocalTableScan and there is no scan to assert on)
    val src = corpus.select(col("text")).orderBy(col("doc_id")).limit(1)
      .collect().head.getString(0)
    val batch = Seq((9000001L, src)).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("d19-plan-")
    try {
      Dedup.d19WriteStore(corpus, tmp.toString)
      val plan = executedPlan(Dedup.d19ProbeStored(spark, batch, tmp.toString))
      // the shingle-store scan must carry a partition filter on bucket —
      // the fetch reads candidate buckets, never the whole store
      val scanLine = plan.linesIterator
        .find(l => l.contains("shingles") && l.contains("PartitionFilters"))
      assert(scanLine.isDefined, "no shingle-store scan with PartitionFilters:\n" + plan.take(2000))
      assert(scanLine.get.contains("bucket") && scanLine.get.contains(" IN ("),
        "bucket pruning predicate missing: " + scanLine.get.take(400))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    }
  }

  test("d20 stored probe prunes the sig store to candidate buckets") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val corpus = emb.filter(col("vec_id") % 10 =!= 7)
    // guaranteed candidate: a verbatim clone of a corpus vector
    val srcVec = corpus.orderBy(col("vec_id")).limit(1).collect().head
    val batch = Seq((9000001L,
        srcVec.getSeq[Float](srcVec.fieldIndex("embedding"))))
      .toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("d20-plan-")
    try {
      Dedup.d20WriteStore(corpus, tmp.toString)
      val plan = executedPlan(Dedup.d20ProbeStored(spark, batch, tmp.toString))
      val sigScans = plan.linesIterator
        .filter(l => l.contains("sigs") && l.contains("PartitionFilters"))
        .toSeq
      // the verify fetch prunes to candidate buckets (IN for short
      // lists, INSET once the optimizer converts a long one)...
      assert(sigScans.exists(l => l.contains("bucket") &&
          (l.contains(" IN (") || l.contains(" INSET "))),
        "bucket pruning predicate missing:\n" + sigScans.mkString("\n").take(1200))
      // ...and the banding read is COLUMN-pruned to (vec_id, sig) — the
      // derived band index never decodes the vector payloads
      // (sig is BIGINT since the SigSpec geometries — 12 bytes/vector
      // narrow-encoded on disk either way, parquet ints are delta-packed)
      assert(sigScans.exists(
          _.contains("ReadSchema: struct<vec_id:bigint,sig:bigint>")),
        "banding scan not pruned to (vec_id, sig):\n" +
          sigScans.mkString("\n").take(1200))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    }
  }

  test("AQE splits a planted skewed join partition (the runtime fallback q27's salting designs for)") {
    // The 100 TB skew story has two layers: q27/Salted is the DESIGNED
    // path for known-hot keys; AQE's skew-join split is the RUNTIME net
    // for skew nobody predicted. This receipt proves the net is armed in
    // this engine's configuration by planting a join where one key holds
    // half the left side and asserting the finalized adaptive plan
    // actually split that partition (thresholds scaled to test data —
    // at production scale the defaults 5x/256MB play the same role).
    val conf = spark.conf
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      // payload must be REFERENCED downstream or count(1) prunes it out
      // of the shuffle and the partitions compress to nothing; md5 text
      // keeps the bytes incompressible so mapStats sees the skew
      val left = spark.range(200000).select(
        when(col("id") % 2 === 0, 0L).otherwise(col("id")).as("k"),
        repeat(md5(col("id").cast("string")), 4).as("payload"))
      val right = spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("v"))
      val joined = left.join(right, Seq("k"))
        .agg(sum(length(col("payload"))).as("n"))
      val plan = executedPlan(joined)
      assert(plan.contains("skew=true"),
        "AQE skew-join split did not engage:\n" + plan.take(3000))
    } finally {
      Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes").foreach(conf.unset)
    }
  }
}
