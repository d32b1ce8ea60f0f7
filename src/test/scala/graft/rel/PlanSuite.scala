package graft.rel

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.funsuite.AnyFunSuite

import graft.{PlanTree => Tree, TestSpark}

/** Physical-plan audit: the scale properties this engine claims must be
  * visible in the plans Catalyst actually produces, not just intended.
  * Asserting on plan text pins them against regressions (a dropped
  * `broadcast()` hint, a filter that stops reaching the scan, a top-k that
  * degenerates into a global sort would all fail here long before they
  * show up as a 100 TB incident).
  */
class PlanSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  /** For operator COUNTS use the executed plan (each operator appears
    * once); FormattedMode lists every operator twice (tree + detail
    * block), which would make a ">= 2 phases" assertion vacuous.
    */
  private def execPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02: predicate pushdown and column pruning reach the parquet scan") {
    val p = plan(Queries.q02FilterProject(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    assert(p.contains("GreaterThan(l_shipdate"), p)
    // pruned read schema: exactly the 4 projected + 2 filter-only columns
    val read = p.linesIterator.find(_.startsWith("ReadSchema")).get
    assert(read.count(_ == ':') - 1 == 6, read) // 6 columns, not all 16
    assert(!read.contains("l_comment") && !read.contains("l_partkey"), read)
  }

  test("q03: dims broadcast; aggregation has a map-side partial phase") {
    val p = plan(Queries.q03JoinRevenue(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
    // nation + region reach executors via broadcast exchange, never shuffle
    assert("BroadcastExchange".r.findAllIn(p).size >= 2, p)
  }

  test("q09: top-k runs as TakeOrderedAndProject, not a global sort") {
    val p = plan(Queries.q09TopK(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_sum"), p)
    assert(!p.replaceFirst("TakeOrderedAndProject", "").contains("Sort ("), p)
  }

  test("q01: hash aggregation with partial (map-side) combine") {
    val p = plan(Queries.q01PricingSummary(spark, dir))
    assert(p.contains("partial_sum"), p)
    // one hash shuffle for the groupBy (plus the final ORDER BY range
    // exchange) — formatted mode lists each operator once as "(n) Exchange"
    assert("Arguments: hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  private def mrSpec(r: Int) = graft.core.MapReduceSpec(
    nWorkers = 2, workerAddrs = Seq("a", "b"),
    inputFiles = Seq(graft.core.MrFixture.inputs.head),
    outputDir = "/tmp/plansuite-unused", nOutputFiles = r,
    mapKilobytes = 100, userId = "wc")

  test("MR engine: whole job runs in exactly one shuffle") {
    val nodes = Tree.nodes(graft.core.Engine.transform(spark, mrSpec(4), graft.jobs.WordCount))
    // the repartition(R, key) shuffle is the ONLY exchange: groupBy reuses
    // its hash distribution and the output sort is within partitions
    val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.map(_.shuffleOrigin) == Seq(REPARTITION_BY_NUM), nodes.head.treeString)
  }

  test("MR engine, algebraic path: codegen'd hash aggregation, one exchange when R == shuffle partitions") {
    // TestSpark runs 8 shuffle partitions: at R == 8 the aggregate's hash
    // distribution makes the repartition(R, key) redundant; at R != 8 the
    // reduced rows move once more
    Seq(8 -> 1, 4 -> 2).foreach { case (r, exchanges) =>
      val nodes = Tree.nodes(
        graft.core.Engine.transformAlgebraic(spark, mrSpec(r), graft.jobs.WordCountAlgebraic))
      val tree = nodes.head.treeString
      val hashAggs = nodes.collect { case a: HashAggregateExec => a }
      assert(hashAggs.size == 2, tree)
      assert(hashAggs.count(_.aggregateExpressions.exists(_.mode == Partial)) == 1, tree)
      assert(!nodes.exists(n => n.isInstanceOf[ObjectHashAggregateExec] ||
        n.isInstanceOf[SortAggregateExec]), tree)
      assert(nodes.count(_.isInstanceOf[ShuffleExchangeExec]) == exchanges, s"R=$r\n$tree")
    }
  }

  test("q54: the benchmark n-gram set reaches executors via broadcast") {
    val p = plan(graft.pipeline.Dedup.decontaminate(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p) // corpus side must not shuffle for the join
  }

  test("q55: tf-idf aggregations run with map-side partials; top-k is the bounded aggregator") {
    val p = plan(graft.pipeline.TextAnalysis.tfIdf(spark, dir))
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
    // per-doc top-k = k-bounded TopKAgg (two ObjectHashAggregate phases —
    // partial + final — around its exchange), NOT a window sorting whole
    // per-doc term groups
    val ep = execPlan(graft.pipeline.TextAnalysis.tfIdf(spark, dir))
    assert("ObjectHashAggregate".r.findAllIn(ep).size >= 2, ep)
    assert(!p.contains("Window"), p)
  }

  test("q62: scoring is one doc-grouped kernel pass; top-k bounded; no explode") {
    val p = plan(graft.pipeline.TextAnalysis.bm25(spark, dir))
    // the broadcast query map means NO join and NO q_id explode anywhere
    // in the scoring plan (the old join + explode shape shuffled
    // |postings| × |queries| rows); the one Generate left is the token
    // explode inside the cached termFreq build, so the pin is on joins
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    val ep = execPlan(graft.pipeline.TextAnalysis.bm25(spark, dir))
    // one doc-grouped kernel pass emits final scores...
    assert(ep.contains("MapGroups"), ep)
    // ...into the k-bounded TopKAgg (partial + final phases), NOT a
    // window sorting every (q_id, doc) score group
    assert("ObjectHashAggregate".r.findAllIn(ep).size >= 2, ep)
  }

  test("q61: per-source top-k is the bounded aggregator, not a window") {
    val ep = execPlan(graft.pipeline.TextAnalysis.curatedTopK(spark, dir))
    assert("ObjectHashAggregate".r.findAllIn(ep).size >= 2, ep)
    assert(!plan(graft.pipeline.TextAnalysis.curatedTopK(spark, dir)).contains("Window"))
  }

  test("q76: per-source quota sample is the bounded aggregator, not a window") {
    val ep = execPlan(graft.pipeline.TextAnalysis.quotaSample(spark, dir))
    assert("ObjectHashAggregate".r.findAllIn(ep).size >= 2, ep)
    assert(!plan(graft.pipeline.TextAnalysis.quotaSample(spark, dir)).contains("Window"))
  }

  test("q91: canonical selection is a partial-agg argmax, not a corpus window sort") {
    val df = graft.pipeline.Dedup.canonicalDocs(spark, dir)
    val ep = execPlan(df)
    // max_by argmax must keep its map-side partial phase (partial_max_by
    // before the group-key exchange), and nothing may plan a Window —
    // a row_number-per-group rewrite would sort the whole corpus
    assert(ep.contains("partial_max_by") || ep.contains("partial_maxby"), ep)
    assert(!plan(df).contains("Window"), "corpus-wide window sort crept into q91")
  }

  test("q83: verify pass semi-joins a broadcast candidate relation before the count shuffle") {
    val p = plan(graft.pipeline.TextAnalysis.hhVerify(spark, dir, Seq("the", "a", "of")))
    // candidates reach executors via broadcast; the semi-join drops
    // non-candidate tokens BEFORE any aggregation exchange
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(p.contains("BroadcastExchange"), p)
    // counting aggregates map-side first; final top-k is bounded, not a
    // global sort
    assert(p.contains("partial_count"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.replaceFirst("TakeOrderedAndProject", "").contains("Sort ("), p)
  }

  test("q83: sketch pass shuffles only bounded summary rows") {
    // the ONLY exchange downstream of the Misra-Gries kernel is over its
    // summary rows (<= capacity x partitions) — the token-occurrence
    // stream itself never shuffles
    val summed = graft.pipeline.TextAnalysis
      .hhPartials(spark, dir)
      .filter(col("c") > 0L)
      .groupBy(col("token"))
      .agg(sum(col("c")).as("lb"))
    val ep = execPlan(summed)
    // exactly one HASH exchange (the summary-row groupBy); the only other
    // exchange is the upstream round-robin spread of the single-file scan,
    // which carries doc rows, not token occurrences
    assert("Exchange hashpartitioning".r.findAllIn(ep).size == 1, ep)
    assert("Exchange".r.findAllIn(ep).size == 2, ep)
    assert(ep.contains("partial_sum"), ep)
    assert(ep.contains("MapPartitions"), ep)
  }

  test("q95: skip-gram pairs are one kernel pass; counts partial-agg; top-k bounded") {
    val df = graft.pipeline.TextAnalysis.skipgramPairs(spark, dir)
    val p = plan(df)
    val ep = execPlan(df)
    // pairs come from the typed kernel, not a posexplode + positional
    // self-join (no Generate, no Join anywhere)
    assert(ep.contains("MapPartitions"), ep)
    assert(!p.contains("Generate") && !p.contains("Join"), p)
    // pair counts combine map-side; the final top-k is the k-bounded
    // TakeOrderedAndProject, never a global sort
    assert(p.contains("partial_count"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.replaceFirst("TakeOrderedAndProject", "").contains("Sort ("), p)
  }

  test("q92/q93: outer joins are key-partitioned sort-merge, agg side pre-reduced") {
    val p92 = plan(Queries.q92FullOuterJoin(spark, dir))
    assert(p92.contains("SortMergeJoin") && p92.contains("FullOuter"), p92)
    // the orders aggregate reduces to one row per customer BEFORE the
    // join (partial + final agg upstream of the join exchange)
    assert(p92.contains("partial_count"), p92)
    val p93 = plan(Queries.q93MergeUpsert(spark, dir))
    assert(p93.contains("SortMergeJoin") && p93.contains("FullOuter"), p93)
    assert(!p93.contains("CartesianProduct"), p93)
  }

  test("q98: one posting-probe join, count-based — no verify pass, no window") {
    val p = plan(graft.pipeline.Dedup.deltaDedup(spark, dir))
    // the probe-hit counts ARE the common counts: a second look at the
    // shingle arrays (array_intersect) would mean the verify pass crept
    // back; more than one Join would mean corpus postings self-join
    assert(!p.contains("array_intersect"), p)
    // executed plan: each operator appears once, so one join node == one
    // "Join" operator line (FormattedMode would double-count)
    val ep = execPlan(graft.pipeline.Dedup.deltaDedup(spark, dir))
    assert("(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)".r.findAllIn(ep).size == 1, ep)
    assert(!p.contains("Window"), p)
  }

  test("q99: novelty is two aggregations, no join, no window") {
    val p = plan(graft.pipeline.Dedup.ngramNovelty(spark, dir))
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
  }

  test("q40/q102: IVF cell assignment is a broadcast-codebook kernel, not a corpus×C join") {
    // no Exchange between the vector scan and the cell-tagged output: the
    // former assignment ranked a |corpus|×C broadcast product with a
    // row_number window, shuffling the expanded rows on vec_id. The only
    // hash exchange left in q40 is the final per-probe top-k window.
    val ep = execPlan(graft.pipeline.Similarity.annIvf(spark, dir))
    assert(!ep.contains("hashpartitioning(vec_id"), ep)
    assert("Exchange hashpartitioning".r.findAllIn(ep).size == 1, ep)
    assert(ep.contains("MapPartitions"), ep)
    // q102: assignment + PQ coding fuse into one kernel pass; no window
    // anywhere (top-k is the bounded aggregator), so no vec_id shuffle
    val ep2 = execPlan(graft.pipeline.Similarity.ivfPqAnn(spark, dir))
    assert(!ep2.contains("hashpartitioning(vec_id"), ep2)
    assert(!ep2.contains("Window"), ep2)
    assert(ep2.contains("MapPartitions"), ep2)
  }

  test("q106/q109: cell assignment is the broadcast-codebook kernel; no corpus window") {
    // semantic dedup: the corpus reaches its cell tag through MapPartitions
    // (no Exchange before it — the q40/q102 shape); the only shuffles are
    // the cent_id self-join and the (cent_id, vec_id) max-agg, and nothing
    // windows or sorts whole cells
    // (the cell-tag table is session-memoized, so a warm cache shows the
    // kernel through InMemoryTableScan instead of a fresh MapPartitions)
    val ep = execPlan(graft.pipeline.Similarity.semanticDedup(spark, dir))
    assert(ep.contains("MapPartitions") || ep.contains("InMemoryTableScan"), ep)
    assert(!ep.contains("hashpartitioning(vec_id"), ep)
    assert(!ep.contains("Window"), ep)
    // cluster sample: selection is the k-bounded aggregator, never a
    // per-cell window sort
    val ep2 = execPlan(graft.pipeline.Similarity.clusterSample(spark, dir))
    assert(ep2.contains("MapPartitions") || ep2.contains("InMemoryTableScan"), ep2)
    assert(!ep2.contains("Window"), ep2)
  }

  test("q107: dense side is a broadcast nested loop over bounded queries; fusion windows rank lists only") {
    val ep = execPlan(graft.pipeline.Retrieval.hybridRrf(spark, dir))
    // the corpus embedding side is scored via broadcast nested loop (the
    // probe pattern) — it never shuffles for the scoring itself
    assert(ep.contains("BroadcastNestedLoopJoin"), ep)
    // exactly one Window node, and it runs over the fused k-bounded rank
    // lists (|queries| × ≤2k rows), not corpus data ("Window [" excludes
    // the same window's WindowGroupLimit pre-pass entries)
    assert("Window \\[".r.findAllIn(ep).size == 1, ep)
  }

  test("q108: ratio table broadcasts; scoring aggregates with partials; draw is k-bounded") {
    val df = graft.pipeline.TextAnalysis.dsirSample(spark, dir)
    val ep = execPlan(df)
    assert(ep.contains("BroadcastExchange"), ep) // λ table + totals
    assert(ep.contains("partial_sum"), ep) // map-side combine on the doc scores
    // the draw is TakeOrderedAndProject (k rows per partition, never a
    // global sort), and the one Window only numbers its k survivors
    val nodes = Tree.nodes(df)
    assert(nodes.exists(_.isInstanceOf[TakeOrderedAndProjectExec]), ep)
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.size == 1, ep)
    assert(windows.forall(w => Tree.nodesUnder(w).exists(_.isInstanceOf[TakeOrderedAndProjectExec])), ep)
  }

  test("q111: PCA projection is one narrow kernel pass — no hash shuffle at all") {
    val ep = execPlan(graft.pipeline.Similarity.pcaProject(spark, dir))
    assert(ep.contains("MapPartitions"), ep)
    // covariance + eigenvectors are driver-side model state; the corpus
    // path is scan → kernel → output sort (a range exchange only)
    assert(!ep.contains("Exchange hashpartitioning"), ep)
  }

  test("q119/q120/q127: round-11 dedup/mix additions plan no corpus window") {
    // q119 first-occurrence is a min(struct) hash agg; q120 ranks via the
    // k-bounded aggregator; q127 pair-expands via the sorted kernel — a
    // Window in any of them means a corpus-wide sort crept back
    for (df <- Seq(
        graft.pipeline.Dedup.paragraphDedup(spark, dir),
        graft.pipeline.TextAnalysis.temperatureSample(spark, dir),
        graft.pipeline.Dedup.sourceOverlap(spark, dir))) {
      val p = plan(df)
      assert(!p.contains("Window"), p)
    }
  }

  test("q123/q124/q125/q130: narrow-pass additions keep their shuffle shape") {
    // q123's global top-k must be the per-partition-heap operator, never
    // a full sort
    val p123 = execPlan(graft.pipeline.TextAnalysis.pmiCollocations(spark, dir))
    assert(p123.contains("TakeOrderedAndProject"), p123)
    // q124/q125 are single narrow passes: the ONLY exchange is the final
    // presentation sort's range partitioning
    for (df <- Seq(
        graft.pipeline.Dedup.cdcChunks(spark, dir),
        graft.pipeline.TextAnalysis.spanCorruptionMasks(spark, dir))) {
      val ep = execPlan(df)
      assert(!ep.contains("Exchange hashpartitioning"), ep)
    }
    // q130's vocabulary joins broadcast — the corpus side never shuffles
    // on the token key
    val p130 = execPlan(graft.pipeline.TextAnalysis.oovAudit(spark, dir))
    assert(p130.contains("BroadcastHashJoin"), p130)
    assert(!p130.contains("Window"), p130)
  }

  test("q136/q138/q139/q180/q181: media decode queries are single narrow kernel passes") {
    // synthesize → decode → feature-extract never shuffles: the only
    // exchange in any of these decode queries is the output sort's range
    // partitioning (q180/q181 add the motion-video codec + B-frame GOP —
    // same per-doc kernel shape)
    for (df <- Seq(
        graft.pipeline.Multimodal.wavFeatures(spark, dir),
        graft.pipeline.Multimodal.bmpFeatures(spark, dir),
        graft.pipeline.Multimodal.wavFrameFeatures(spark, dir),
        graft.pipeline.Video.gvcFeatures(spark, dir),
        graft.pipeline.Video.gvcBFeatures(spark, dir))) {
      val ep = execPlan(df)
      assert(!ep.contains("Exchange hashpartitioning"), ep)
      assert(!ep.contains("Window"), ep)
    }
  }

  test("q146-q150: decision-support subquery shapes run as the intended joins") {
    // correlated min decorrelates to a partial-agg + equi-join, dims broadcast
    val p146 = plan(Queries.q146CheapestSupplier(spark, dir))
    assert(p146.contains("partial_min"), p146)
    assert(p146.contains("BroadcastHashJoin"), p146)
    // NOT EXISTS runs as a left-anti join, the scalar avg stays in-plan
    val p148 = plan(Queries.q148RichInactive(spark, dir))
    assert(p148.contains("LeftAnti"), p148)
    assert(p148.contains("BroadcastNestedLoopJoin") || p148.contains("BroadcastHashJoin"), p148)
    // the EXISTS / NOT EXISTS pair is one pass: per-(order, supplier)
    // then per-order counts over a single lineitem scan — no semi-join.
    // At most two hash exchanges carry lineitem-scale rows into those
    // aggregations (keyed on l_orderkey); the only other one feeds the
    // per-supplier count over the filtered order set
    val q149 = Queries.q149LoneLateSupplier(spark, dir)
    val p149 = execPlan(q149)
    val n149 = Tree.nodes(q149)
    assert(!n149.exists {
      case j: BaseJoinExec => j.joinType == LeftSemi
      case _ => false
    }, p149)
    assert(n149.count {
      case s: FileSourceScanExec => s.relation.location.rootPaths.exists(_.getName.startsWith("lineitem"))
      case _ => false
    } == 1, p149)
    val aggKeys = n149.collect { case a: BaseAggregateExec => a.child }.collect {
      case ShuffleExchangeExec(h: HashPartitioning, _, _, _) => h.references.map(_.name).toSet
    }
    assert(aggKeys.count(_.contains("l_orderkey")) <= 2 && aggKeys.size <= 3, p149)
    // NOT IN = anti join; the distinct count keeps a partial phase
    val p150 = plan(Queries.q150SupplierDiversity(spark, dir))
    assert(p150.contains("LeftAnti"), p150)
    assert(p150.contains("partial_count(distinct") || p150.contains("count(distinct"), p150)
  }

  test("q140/q141/q142: maintenance + quality additions keep their narrow shapes") {
    // delta assignment and compression ratio are pure kernel passes — no
    // hash exchange anywhere (only the presentation sort's range exchange)
    for (df <- Seq(
        graft.pipeline.Similarity.annDeltaAssign(spark, dir),
        graft.pipeline.TextAnalysis.compressionRatio(spark, dir))) {
      val ep = execPlan(df)
      assert(!ep.contains("Exchange hashpartitioning"), ep)
      assert(!ep.contains("Window"), ep)
    }
    // the drift rollup's ONLY hash exchange is the K-bounded cent_id
    // aggregation (map-side partials first)
    val ep = execPlan(graft.pipeline.Similarity.cellDrift(spark, dir))
    assert("Exchange hashpartitioning".r.findAllIn(ep).size == 1, ep)
    assert(ep.contains("partial_count") || ep.contains("partial"), ep)
  }

  test("q161: four analytic functions share one Window operator and one shuffle") {
    val ep = execPlan(Queries.q161WindowAnalytics(spark, dir))
    // lag/lead/ntile/percent_rank share the window SPEC, so Catalyst
    // must collapse them into a single Window operator over a single
    // user_id exchange — four separate Windows would mean three
    // redundant sorts of the event stream
    assert("Window".r.findAllIn(ep).size == 1, ep)
    assert("Exchange hashpartitioning".r.findAllIn(ep).size == 1, ep)
  }

  test("q164/q166: exact stats pay Expand; approx stats scan once without it") {
    // the trade both scaladocs describe, pinned: exact multi-column NDV
    // duplicates the stream per distinct column; the HLL form must not
    val exact = execPlan(Queries.q164TableStats(spark, dir))
    assert(exact.contains("Expand"), exact)
    val approx = execPlan(Queries.q166TableStatsApprox(spark, dir))
    assert(!approx.contains("Expand"), approx)
    assert(approx.contains("partial"), approx) // map-side partial aggregation
  }

  test("q158: the native as-of exec plans with per-side Exchange + Sort, no window") {
    val df = Queries.q158AsOfNative(spark, dir)
    val ep = execPlan(df)
    assert(ep.contains("GraftAsOfJoin"), ep)
    // EnsureRequirements must serve the declared distribution + ordering:
    // one hash Exchange per side and a per-partition Sort above each
    assert("Exchange hashpartitioning".r.findAllIn(ep).size >= 2, ep)
    assert(ep.contains("Sort "), ep)
    // the whole point vs the composed form: no union, no running Window
    assert(!ep.contains("Window"), ep)
    assert(!ep.contains("Union"), ep)
  }

  test("q169: the broadcast as-of exec leaves the probe side Exchange-free") {
    // strip the final presentation orderBy: the pin is about the JOIN
    // subtree (a global sort legitimately adds a range exchange above)
    val ev = Queries.events(spark, dir)
    val clicks = ev.filter(org.apache.spark.sql.functions.col("event_type") === "click")
      .select("event_id", "user_id", "ts", "value")
    val errors = ev.filter(org.apache.spark.sql.functions.col("event_type") === "error")
      .groupBy("user_id", "ts")
      .agg(org.apache.spark.sql.functions.max("value").as("err_value"))
    val ep = execPlan(
      graft.plans.AsOfJoinNative.asOfBroadcast(clicks, errors, "user_id", "ts"))
    assert(ep.contains("GraftAsOfJoinBroadcast"), ep)
    // right side arrives via ONE BroadcastExchange; the only hash
    // Exchange in the plan belongs to the right side's pre-aggregation —
    // the probe (click) side reads straight from the scan: no Exchange,
    // no Sort on the left at all
    assert("BroadcastExchange".r.findAllIn(ep).size == 1, ep)
    assert("Exchange hashpartitioning".r.findAllIn(ep).size == 1, ep)
    assert(!ep.contains("Sort "), ep)
    assert(!ep.contains("Window"), ep)
  }

  test("broadcast as-of safety rail: an over-threshold right side falls back to the merge tier") {
    val ev = Queries.events(spark, dir)
    val clicks = ev.filter(org.apache.spark.sql.functions.col("event_type") === "click")
      .select("event_id", "user_id", "ts", "value")
    val errors = ev.filter(org.apache.spark.sql.functions.col("event_type") === "error")
      .groupBy("user_id", "ts")
      .agg(org.apache.spark.sql.functions.max("value").as("err_value"))
    spark.conf.set("spark.graft.asof.broadcastMaxBytes", "1")
    try {
      // the rail demotes the EXPLICIT broadcast request: the plan is the
      // shuffle-merge exec, no broadcast of a side the caller mis-sized
      val df = graft.plans.AsOfJoinNative.asOfBroadcast(clicks, errors, "user_id", "ts")
      val ep = execPlan(df)
      assert(ep.contains("GraftAsOfJoin") && !ep.contains("GraftAsOfJoinBroadcast"), ep)
      assert(!ep.contains("BroadcastExchange"), ep)
      // and the answer is tier-independent (same rows as the merge tier)
      val merge = graft.plans.AsOfJoinNative.asOf(clicks, errors, "user_id", "ts")
      assert(df.orderBy("event_id").collect().toSeq ==
        merge.orderBy("event_id").collect().toSeq)
    } finally spark.conf.unset("spark.graft.asof.broadcastMaxBytes")
    // a right side with NO real statistics (localCheckpoint → RDD-backed,
    // sizeInBytes defaults to Long.MaxValue) must NOT be demoted: the
    // rail catches known-huge inputs, it doesn't punish unknown ones
    val unknown = errors.localCheckpoint()
    val ep2 = execPlan(
      graft.plans.AsOfJoinNative.asOfBroadcast(clicks, unknown, "user_id", "ts"))
    assert(ep2.contains("GraftAsOfJoinBroadcast"), ep2)
  }

  test("equi-height histogram stats price a skewed range filter right where min/max can't") {
    import spark.implicits._
    val ss = spark.newSession()
    ss.conf.set("spark.sql.cbo.enabled", "true")
    ss.conf.set("spark.sql.adaptive.enabled", "false")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", (64 * 1024).toString)
    val tbl = "graft_stats_hist_skew"
    ss.sql(s"DROP TABLE IF EXISTS $tbl")
    // heavily skewed value column: 9 900 rows in [0, 100), 100 outliers
    // spread over [100, 1 000 000]
    val rows = (0 until 9900).map(i => (i.toLong, (i % 100).toDouble)) ++
      (0 until 100).map(i => (9900L + i, 100.0 + i * 9999.0))
    rows.toDF("k", "skew_val").write.saveAsTable(tbl)
    try {
      // CBO's post-filter row estimate for the tail predicate — only 49
      // rows actually qualify. `.stats` reads the THREAD-ACTIVE session's
      // conf (it's evaluated lazily, outside the query's withActive
      // scope), so pin the CBO session active for the visit.
      def estimate(): BigInt = {
        org.apache.spark.sql.SparkSession.setActiveSession(ss)
        try ss.table(tbl).filter(col("skew_val") > 500000.0)
          .queryExecution.optimizedPlan.stats.rowCount.get
        finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
      }
      val stats = Seq(
        ("k", 10000L, 0L, 10000L, 0.0, 9999.0),
        ("skew_val", 10000L, 0L, 199L, 0.0, 100.0 + 99 * 9999.0))
        .toDF("col_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")
      // basic stats only: min/max imply a UNIFORM spread, so `> 500000`
      // prices at ~half the table — two orders of magnitude off
      graft.rel.Stats.feedTableStats(ss, tbl, stats)
      val uniform = estimate()
      assert(uniform > BigInt(3000), s"uniform estimate was $uniform")
      // the engine's own equi-height histogram concentrates 99% of the
      // mass below 100: the same predicate now prices inside the tail
      // bins. Only the histogram can see this; NDV/min/max are identical
      // in both feeds.
      val hist = graft.rel.Stats.equiHeightHistogram(ss.table(tbl), "skew_val", 10)
      assert(hist.bins.length == 10 && hist.height == 1000.0)
      assert(hist.bins.take(8).forall(_.hi < 100.0), hist.bins.toSeq)
      graft.rel.Stats.feedTableStats(ss, tbl, stats,
        histograms = Map("skew_val" -> hist))
      val priced = estimate()
      assert(priced < BigInt(1000) && priced > BigInt(0),
        s"histogram estimate was $priced (uniform said $uniform, truth is 49)")
    } finally {
      ss.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("q164 stats fed into the catalog flip a filtered join from SMJ to broadcast") {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.cbo.enabled", "true")
    ss.conf.set("spark.sql.adaptive.enabled", "false")
    // threshold far below the orders table's FILE size but far above the
    // post-filter estimate CBO derives from the injected NDV
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "2048")
    val tbl = "graft_stats_cbo_orders"
    ss.sql(s"DROP TABLE IF EXISTS $tbl")
    Queries.table(ss, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .write.saveAsTable(tbl)
    try {
      val big = Queries.table(ss, dir, "lineitem").select("l_orderkey", "l_quantity")
      def joined = big.join(
        ss.table(tbl).filter(col("o_custkey") === 7),
        col("l_orderkey") === col("o_orderkey"))
      // WITHOUT stats the filter's output is estimated at the child's
      // full (file-size) footprint -> above threshold -> sort-merge join
      val before = execPlan(joined)
      assert(before.contains("SortMergeJoin"), before)
      assert(!before.contains("BroadcastHashJoin"), before)
      // feed OUR q164 ANALYZE output (same data as the saved table) into
      // the catalog; CBO now estimates ~n_rows/ndv post-filter rows ->
      // tiny build side -> the SAME query plans a broadcast join
      Stats.feedTableStats(ss, tbl, Queries.q164TableStats(ss, dir))
      val after = execPlan(joined)
      assert(after.contains("BroadcastHashJoin"), after)
      assert(!after.contains("SortMergeJoin"), after)
    } finally {
      ss.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("feedTableStats: date min/max render external form, all-null columns stay None") {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.cbo.enabled", "true")
    import ss.implicits._
    val tbl = "graft_stats_types"
    ss.sql(s"DROP TABLE IF EXISTS $tbl")
    Seq((1L, java.sql.Date.valueOf("2024-03-01")), (2L, java.sql.Date.valueOf("2024-05-02")))
      .toDF("id", "d")
      .withColumn("allnull", org.apache.spark.sql.functions.lit(null).cast("long"))
      .write.saveAsTable(tbl)
    try {
      val stats = Seq(
        ("id", 2L, 0L, 2L, Some(1.0), Some(2.0)),
        // date min/max arrive as doubles (days since epoch) per the q164
        // normalization; the feeder must re-render yyyy-MM-dd
        ("d", 2L, 0L, 2L,
          Some(java.time.LocalDate.parse("2024-03-01").toEpochDay.toDouble),
          Some(java.time.LocalDate.parse("2024-05-02").toEpochDay.toDouble)),
        // an all-null column has NULL min/max — must NOT unbox to 0.0
        ("allnull", 2L, 2L, 0L, None: Option[Double], None: Option[Double]))
        .toDF("col_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")
      Stats.feedTableStats(ss, tbl, stats)
      val cs = ss.sessionState.catalog
        .getTableMetadata(ss.sessionState.sqlParser.parseTableIdentifier(tbl))
        .stats.get.colStats
      assert(cs("d").min.contains("2024-03-01") && cs("d").max.contains("2024-05-02"), cs)
      assert(cs("allnull").min.isEmpty && cs("allnull").max.isEmpty, cs)
      // CBO planning must CONSUME the injected stats without throwing
      // (fromExternalString parses the date form during estimation)
      val n = ss.table(tbl)
        .filter(col("d") > org.apache.spark.sql.functions.lit(
          java.sql.Date.valueOf("2024-04-01")))
        .join(ss.table(tbl).select(col("id")), "id")
        .count()
      assert(n == 1L)
    } finally ss.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("q173: chained as-ofs reuse the grid clustering — no second left Exchange/Sort") {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.adaptive.enabled", "false") // static tree for the walk
    val plan = Queries.q173ResampleInterp(ss, dir).queryExecution.executedPlan
    val asofs = plan.collect { case a: graft.plans.AsOfJoinExec => a }
    assert(asofs.length == 2, plan.toString)
    // collect is pre-order: head is the OUTER (forward) as-of. Its left
    // subtree down to the inner as-of must carry no Exchange and no
    // Sort — the inner join's declared outputPartitioning/outputOrdering
    // satisfy the outer's requirements through the Project.
    val between = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.execution.SparkPlan]
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = p match {
      case _: graft.plans.AsOfJoinExec => ()
      case other => between += other; other.children.foreach(walk)
    }
    walk(asofs.head.left)
    assert(!between.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
      plan.toString)
    assert(!between.exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
      plan.toString)
    // and the grid side feeds the INNER as-of straight from the
    // generated sequence: one Sort, but NO Exchange between Generate and
    // the join (the groupBy's clustering is reused)
    val innerLeft = asofs(1).left
    val gridNodes = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.execution.SparkPlan]
    def walkToAgg(p: org.apache.spark.sql.execution.SparkPlan): Unit = p match {
      case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => ()
      case other => gridNodes += other; other.children.foreach(walkToAgg)
    }
    walkToAgg(innerLeft)
    assert(!gridNodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
      plan.toString)
  }

  test("q155: nested-schema pruning narrows the struct read to referenced leaves") {
    val df = graft.sources.Formats.nestedRoundtrip(spark, dir)
    val p = plan(df)
    val read = p.linesIterator.find(_.trim.startsWith("ReadSchema")).getOrElse(fail(p))
    // the three referenced leaves are read...
    assert(read.contains("cust_key") && read.contains("status") && read.contains("price"), read)
    // ...and the untouched leaf is NOT: the scan must prune INSIDE the
    // struct, not fetch whole struct payloads for a one-leaf projection
    assert(!read.contains("odate"), read)
    // the nested predicate reaches the scan as a pushed filter
    assert(p.contains("PushedFilters") && p.contains("meta.status"), p)
  }

  /** (shuffle exchanges, aggregates, object-hash aggregates) on the
    * executed operator tree. The near-dup family shares one postings
    * helper; these counts pin that each query keeps its own plan shape.
    */
  private def shape(df: DataFrame): (Int, Int, Int) = {
    val nodes = Tree.nodes(df)
    (nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
      nodes.count(_.isInstanceOf[BaseAggregateExec]),
      nodes.count(_.isInstanceOf[ObjectHashAggregateExec]))
  }

  test("q16/q17/q66/q103: near-dup queries keep their exchange and aggregate counts") {
    import graft.pipeline.Dedup
    // postings + pair-count (or candidate distinct) + final sort; the
    // uncapped postings are collect_list and the capped ones the bounded
    // collect, both object-hash aggregates with a partial phase
    assert(shape(Dedup.ngramJaccard(spark, dir)) == ((3, 4, 2)), "q16")
    assert(shape(Dedup.minhashLsh(spark, dir)) == ((3, 4, 2)), "q17")
    assert(shape(Dedup.ngramJaccardCapped(spark, dir)) == ((3, 4, 2)), "q66")
    // corpus index and delta postings are two capped aggregations
    assert(shape(Dedup.deltaDedupCapped(spark, dir)) == ((4, 6, 4)), "q103")
  }

  test("q16/q17/q66/q103: no object-hash aggregate falls back to sort-based aggregation") {
    import graft.pipeline.Dedup
    // postings group per shingle or band bucket: far more than Spark's
    // default 128 keys per task, each fallback a sort of the task's rows
    Seq(
      "q16" -> Dedup.ngramJaccard(spark, dir),
      "q17" -> Dedup.minhashLsh(spark, dir),
      "q66" -> Dedup.ngramJaccardCapped(spark, dir),
      "q103" -> Dedup.deltaDedupCapped(spark, dir)).foreach { case (q, df) =>
      df.collect()
      val aggs = Tree.nodes(df).collect { case a: ObjectHashAggregateExec => a }
      assert(aggs.nonEmpty, q)
      aggs.foreach { a =>
        assert(a.metrics("numTasksFallBacked").value == 0, s"$q: ${a.simpleString(200)}")
      }
    }
  }

  test("no declared query plans a cartesian product") {
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      val p = plan(fn(spark, dir))
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
    }
  }
}
