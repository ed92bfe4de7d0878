package graft

import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions for the queries whose 100 TB story
  * depends on a specific operator choice — the properties that stay
  * invisible to the value-level oracle gate (a single-partition global
  * sort or a corpus-sized broadcast returns the same rows; it just
  * falls over at scale).
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** Every node in the plan, descending through cached subplans
    * (persist() hides its subtree inside an InMemoryRelation) and
    * unfinalized AQE wrappers — plain `collect` stops at both.
    */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val extra = p match {
      case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
      case _ => Nil
    }
    p +: (p.children ++ extra).flatMap(allNodes)
  }

  test("q56 vocabulary top-K plans as TakeOrderedAndProject, not a global window") {
    val plan = SparkEntry.queries("q56_vocabulary")(spark, sf)
      .queryExecution.sparkPlan
    val topK = plan.collect { case t: TakeOrderedAndProjectExec => t }
    assert(topK.nonEmpty, s"no TakeOrderedAndProject in plan:\n$plan")
    // the top-K must sit ABOVE the token-count aggregate: each partition
    // keeps its own K best vocabulary rows and the driver merges
    // K·partitions candidates — the full vocabulary never funnels
    // through one task's sort
    assert(topK.exists(_.collect { case a: HashAggregateExec => a }.nonEmpty),
      s"TakeOrderedAndProject does not cover the vocabulary aggregate:\n$plan")
    // any ranking window may only number the K survivors (its input
    // subtree already contains the limit), never the whole vocabulary
    val unlimited = plan.collect { case w: WindowExec => w }
      .filterNot(_.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty)
    assert(unlimited.isEmpty,
      s"ranking window not bounded by a top-K limit:\n$plan")
  }

  test("q58 incremental near-dup broadcasts the batch side, never the corpus") {
    val plan = SparkEntry.queries("q58_incremental_neardup")(spark, sf)
      .queryExecution.sparkPlan
    // the banding join is the only 2-key equi-join (i, mh)
    val banding = allNodes(plan).collect {
      case j: BroadcastHashJoinExec if j.leftKeys.size == 2 => j
    }
    assert(banding.nonEmpty, s"no broadcast banding join in plan:\n$plan")
    banding.foreach { j =>
      // build side = the fixed-width ingest batch (doc_id >= cut);
      // probe side = the unbounded corpus (doc_id < cut). A broadcast
      // of the corpus filter would grow with the table and OOM
      // executors at 100× — exactly what this pins down.
      val (buildPlan, probePlan) = j.buildSide match {
        case BuildLeft  => (j.left, j.right)
        case BuildRight => (j.right, j.left)
      }
      val build = buildPlan.toString
      val probe = probePlan.toString
      assert(build.contains(">= cut") && !build.contains("< cut"),
        s"broadcast build side is not the batch filter:\n$build")
      assert(probe.contains("< cut"),
        s"probe side is not the corpus filter:\n$probe")
    }
    // and the cut itself must be an absolute batch width, not a
    // corpus fraction: guard the query text against a decile regression
    val oracle = SparkEntry.oracleSql("q58_incremental_neardup")
    assert(oracle.contains("max(doc_id) - 49"),
      "q58 oracle cut is no longer an absolute batch width")
  }

  test("q71 merge-pair top-K plans as TakeOrderedAndProject over the pair aggregate") {
    val plan = SparkEntry.queries("q71_bpe_merge_pairs")(spark, sf)
      .queryExecution.sparkPlan
    val topK = plan.collect { case t: TakeOrderedAndProjectExec => t }
    assert(topK.nonEmpty, s"no TakeOrderedAndProject in plan:\n$plan")
    assert(topK.exists(_.collect { case a: HashAggregateExec => a }.nonEmpty),
      s"TakeOrderedAndProject does not cover the pair aggregate:\n$plan")
  }

  test("q72 per-doc top-3 plans with WindowGroupLimit before the exchange") {
    // the rank-filter shape must trigger WindowGroupLimit so each
    // partition ships at most 3 rows per doc into the ranking window's
    // exchange — without it the full (doc, token) tf relation sorts
    // inside the window
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    val plan = SparkEntry.queries("q72_tfidf_terms")(spark, sf)
      .queryExecution.sparkPlan
    val limits = allNodes(plan).collect { case w: WindowGroupLimitExec => w }
    assert(limits.nonEmpty, s"no WindowGroupLimit in plan:\n$plan")
  }

  test("q81 pack groupBy reuses the window exchange — one shuffle total") {
    // the pack aggregation's clustering keys (lang, shard, pack_id)
    // extend the window's partitioning keys (lang, shard), so the
    // groupBy must NOT introduce a second shuffle: at 100 TB a
    // re-exchange would move the whole corpus TEXT twice
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // executedPlan, not sparkPlan: exchanges are inserted by
    // EnsureRequirements during preparation
    val plan = SparkEntry.queries("q81_pack_materialize")(spark, sf)
      .queryExecution.executedPlan
    val shuffles = allNodes(plan).collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size === 1,
      s"expected exactly 1 shuffle (the window's), found ${shuffles.size}:\n$plan")
  }

  test("q80 k-means broadcasts centroids; the corpus is never a build side") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val plan = SparkEntry.queries("q80_kmeans_train")(spark, sf)
      .queryExecution.sparkPlan
    // assignment = crossJoin(broadcast(k=8 centroid rows)): every
    // nested-loop join must broadcast, and the broadcast subtree must
    // be an aggregate result (centroids) or the seed filter — a plain
    // corpus scan as build side would OOM at scale
    val nl = allNodes(plan).collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(nl.nonEmpty, s"no broadcast assignment join in plan:\n$plan")
    nl.foreach { j =>
      val build = (j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }).toString
      assert(build.contains("vec_id < 8") || build.contains("sort_array") ||
        build.contains("array_sort") || build.contains("transform"),
        s"broadcast build side is not a centroid table:\n$build")
    }
  }

  test("q97 range join is an equi-join on bucket, never a nested loop") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    // a raw `ON ship >= ws AND ship < we` predicate has no equi-key, so
    // Spark would plan BroadcastNestedLoopJoin — O(n·windows) compares
    // and, for a big-big pair, no plan at all without a broadcastable
    // side. The bucket mapping gives the join a hash key; the range
    // predicate only post-filters hash-matched candidates
    val plan = SparkEntry.queries("q97_range_join")(spark, sf)
      .queryExecution.sparkPlan
    val nl = allNodes(plan).collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(nl.isEmpty, s"range join degenerated to a nested loop:\n$plan")
  }

  test("q102 bloom probes gate the corpus before the exact benchmark join") {
    // the exact shingle join must consume BLOOM-FILTERED candidates:
    // its probe subtree carries both bitmask predicates. A plan where
    // the exact join sees the raw corpus is q50 with extra steps — the
    // bloom's whole point (shrinking the exact join's input) is gone
    val plan = SparkEntry.queries("q102_bloom_contamination")(spark, sf)
      .queryExecution.sparkPlan
    val joins = allNodes(plan).collect { case j: BroadcastHashJoinExec => j }
    // 3 broadcast joins: 2 bloom-word probes + 1 exact shingle join
    assert(joins.size >= 3, s"expected bloom+exact join chain:\n$plan")
    val exact = joins.filter(_.leftKeys.exists(_.toString.contains("sh")))
    assert(exact.nonEmpty, s"no exact shingle join found:\n$plan")
    exact.foreach { j =>
      val probe = j.left.toString + j.right.toString
      assert(probe.contains("b1") && probe.contains("b2"),
        s"exact join probe side is not bloom-gated:\n$probe")
    }
  }

  test("q101 priority sampling keeps <=K rows per stratum before the exchange") {
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    val plan = SparkEntry.queries("q101_priority_sample")(spark, sf)
      .queryExecution.sparkPlan
    val limits = allNodes(plan).collect { case w: WindowGroupLimitExec => w }
    assert(limits.nonEmpty, s"no WindowGroupLimit in plan:\n$plan")
  }

  test("q119 collocation top-20 plans as TakeOrderedAndProject") {
    val plan = SparkEntry.queries("q119_collocations")(spark, sf)
      .queryExecution.sparkPlan
    val topK = plan.collect { case t: TakeOrderedAndProjectExec => t }
    assert(topK.nonEmpty, s"no TakeOrderedAndProject in plan:\n$plan")
  }

  test("q145 pushes every predicate to the scan and prunes to 4 columns") {
    // the Q6-shape contract: a selective scalar scan is I/O-bound only
    // if the range predicates reach the parquet reader and the scan
    // schema carries nothing beyond the touched columns
    val plan = SparkEntry.queries("q145_forgone_revenue")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters: [IsNotNull"), s"no pushed filters:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(l_shipdate") &&
      plan.contains("LessThanOrEqual(l_discount,0.07)") &&
      plan.contains("LessThan(l_quantity,24.0)"),
      s"range predicates did not reach the scan:\n$plan")
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(Seq("l_quantity", "l_extendedprice", "l_discount", "l_shipdate")
      .forall(read.contains) && !read.contains("l_orderkey"),
      s"scan schema not pruned to the touched columns: $read")
  }

  test("a day-partitioned lake scan accepts a dynamic partition-pruning filter") {
    // the lake layout contract (IngestStream partitions its sink;
    // SURVEY §4): joining a partitioned fact to a filtered dimension on
    // the partition column must push a RUNTIME subquery filter into the
    // fact scan — at 100 TB this is the difference between reading 3
    // days and reading every partition, and it only engages when the
    // join key IS the partition column and the dim side broadcasts
    import org.apache.spark.sql.functions.{col, expr}
    val dir = java.nio.file.Files.createTempDirectory("dpp").toString
    Tables.events(spark, sf)
      .withColumn("day", expr("cast(date_trunc('day', ts) as date)"))
      .write.partitionBy("day").mode("overwrite").parquet(s"$dir/fact")
    spark.read.parquet(s"$dir/fact")
      .select(col("day")).distinct()
      .withColumn("keep", expr("CASE WHEN day(day) <= 3 THEN 1 ELSE 0 END"))
      .write.mode("overwrite").parquet(s"$dir/dim")
    val fact = spark.read.parquet(s"$dir/fact")
    val dim = spark.read.parquet(s"$dir/dim").filter(col("keep") === 1)
    val plan = fact.join(dim, "day").groupBy("event_type").count()
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition-pruning filter reached the fact scan:\n$plan")
  }

  test("q146 DSIR probes through a broadcast of the constant-size feature table") {
    // the scoring join must broadcast the ≤4096-row hashed-feature
    // relation onto the token pass — a shuffle join here would
    // re-exchange the whole corpus's tokens on bucket id
    val plan = SparkEntry.queries("q146_dsir_importance")(spark, sf)
      .queryExecution.sparkPlan
    val bhj = allNodes(plan).collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"no broadcast join in the DSIR plan:\n$plan")
    // and the top-20 must be TakeOrderedAndProject, not a global sort
    assert(allNodes(plan).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"DSIR top-20 is not TakeOrderedAndProject:\n$plan")
  }

  test("q148 threshold sweep builds its nested-loop join on the 4-row side") {
    // the inequality join (jppm >= threshold) is necessarily a
    // BroadcastNestedLoopJoin — legitimate ONLY because the build side
    // is the 4-row threshold dimension; building on the scored-pair
    // side would broadcast a dup-rate-sized relation
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val plan = SparkEntry.queries("q148_threshold_sweep")(spark, sf)
      .queryExecution.sparkPlan
    val bnl = allNodes(plan).collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnl.nonEmpty, s"expected the threshold BNL join:\n$plan")
    val outer = bnl.maxBy(_.collect { case n => n }.size)
    val buildTree = outer.buildSide match {
      case BuildLeft => outer.left
      case BuildRight => outer.right
    }
    // the build subtree is the threshold×count side: it contains NO
    // join (the scored-pair side contains the two array joins)
    assert(allNodes(buildTree).count(_.isInstanceOf[BroadcastHashJoinExec]) == 0,
      s"BNL built on the scored-pair side:\n$outer")
  }

  test("q150 chunking plans with zero exchanges (pure map pipeline)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // executedPlan: exchanges are inserted by EnsureRequirements
    val plan = SparkEntry.queries("q150_chunk_windows")(spark, sf)
      .queryExecution.executedPlan
    val shuffles = allNodes(plan).collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty,
      s"chunking must not shuffle — ×(W/S) amplification is map-side:\n$plan")
  }

  test("q149 segment dedup's keep-decision exchange carries hashes, not text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the sf0.001 parquet is one split, and a 1-partition child
    // satisfies every distribution — Spark elides all exchanges and
    // the assertion would hold vacuously; split the scan so the plan
    // takes its real multi-partition shape
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    val plan =
      try SparkEntry.queries("q149_segment_dedup")(spark, sf)
        .queryExecution.executedPlan
      finally {
        spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
        spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
      }
    // the scale contract has two halves: (a) the keep-DECISION
    // aggregate shuffles (h, partial-min) with no text aboard; (b)
    // segment text crosses the wire AT MOST once — in the rewrite join
    // that forms the output (zero times when AQE broadcasts the keep
    // side, as it does at test SFs)
    val hExchanges = allNodes(plan).collect {
      case e: ShuffleExchangeExec if e.output.exists(_.name == "h") => e
    }
    val decision = hExchanges.filterNot(_.output.exists(_.name == "seg"))
    assert(decision.nonEmpty, s"no text-free hash-keyed decision exchange:\n$plan")
    val withText = allNodes(plan).collect {
      case e: ShuffleExchangeExec if e.output.exists(_.name == "seg") => e
    }
    assert(withText.size <= 1,
      s"segment text crosses the wire ${withText.size}× (max 1):\n$plan")
  }

  test("q40/q153 IVF probe join broadcasts the probe side, streams the corpus") {
    // the probed-partition join must build on the |Q|·nprobe probe
    // relation — at x100 an unpinned plan shuffled (or broadcast) the
    // corpus by label, the exact exchange IVF probing exists to avoid
    for (name <- Seq("q40_ivf_ann", "q153_ivf_recall")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.sparkPlan
      val labelJoins = allNodes(plan).collect {
        case j: BroadcastHashJoinExec
            if j.leftKeys.exists(_.toString.contains("plabel")) ||
              j.rightKeys.exists(_.toString.contains("plabel")) => j
      }
      assert(labelJoins.nonEmpty, s"$name: no probed-partition join:\n$plan")
      labelJoins.foreach { j =>
        val buildTree = j.buildSide match {
          case BuildLeft => j.left
          case BuildRight => j.right
        }
        assert(buildTree.output.exists(_.name == "plabel"),
          s"$name: corpus side built instead of the probe side:\n$j")
      }
    }
  }

  test("q158 decontamination broadcasts the benchmark side, streams the corpus") {
    // the cross join is a BroadcastNestedLoopJoin by construction;
    // legitimate ONLY because the broadcast side is the benchmark set
    // (structurally small) — broadcasting the corpus side would ship
    // the whole embedding table to every executor
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val plan = SparkEntry.queries("q158_semantic_decontamination")(spark, sf)
      .queryExecution.sparkPlan
    val bnl = allNodes(plan).collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnl.nonEmpty, s"expected the benchmark cross join:\n$plan")
    bnl.foreach { j =>
      val buildTree = j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }
      // the benchmark subtree carries the vec_id < 20 scan filter; the
      // corpus subtree filters vec_id >= 20
      val s = buildTree.toString
      assert(s.contains("vec_id#") && s.contains("< 20"),
        s"BNL built on the corpus side:\n$j")
    }
  }

  test("q156 BPE encode never broadcasts the corpus into the vocab probe") {
    // the word join's build side is AQE's call (the vocabulary grows
    // with corpus diversity — the q58 lesson), but whichever side is
    // built, the CORPUS explode must stay streamed: its subtree scans
    // documents, the vocabulary subtree is the cached training output
    val plan = SparkEntry.queries("q156_bpe_encode")(spark, sf)
      .queryExecution.sparkPlan
    val joins = allNodes(plan).collect { case j: BroadcastHashJoinExec => j }
    joins.foreach { j =>
      val buildTree = j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }
      // the corpus side is recognizable by a DIRECT parquet scan of the
      // documents table; the vocab side reads the cached training
      // output (its own documents scan hides behind the InMemoryRelation
      // boundary, so plain collect — no cache descent — separates them)
      val directScans = buildTree.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(!directScans.exists(_.toString.contains("documents")),
        s"corpus side chosen as broadcast build:\n$j")
    }
    spark.catalog.clearCache() // q156 leaves the trained vocab persisted
  }

  test("q64 boilerplate: common-set join hash-probes the stream, never sorts it") {
    // the one measured ×100 spill (SCALE.md r6): AQE fell back from
    // broadcast to sort-merge on sh⋈common and sorted the corpus-sized
    // shingle stream per reducer. The shuffle_hash pin makes the df≥K
    // common set the build side; assert no SortMergeJoin anywhere in
    // q64 (its other join, tot⋈com, is doc-sized and hash/broadcast
    // joins too under the forced multi-partition shape)
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    // disable broadcast so the hinted join must stand on its own (at
    // production scale the common set outgrows any broadcast threshold)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan =
      try SparkEntry.queries("q64_boilerplate_ngrams")(spark, sf)
        .queryExecution.executedPlan
      finally {
        spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
        spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
        spark.catalog.clearCache() // q64 scope-persists the shingle stream
      }
    // only the sh-keyed join streams shingle-mass rows; tot⋈com is
    // doc-sized and may legitimately sort-merge with broadcast off
    val smjOnSh = allNodes(plan).collect {
      case j: SortMergeJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == "sh")) => j
    }
    assert(smjOnSh.isEmpty, s"sort-merge join sorts the shingle stream:\n$plan")
    val shjOnSh = allNodes(plan).collect {
      case j: ShuffledHashJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == "sh")) => j
    }
    assert(shjOnSh.nonEmpty, s"shuffle_hash pin did not land:\n$plan")
  }

  test("q152 length buckets: one combine-reduced exchange, no text aboard") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // force the multi-partition shape (see q149 above) so the exchange
    // is real, then check the whole length histogram reduces map-side:
    // the one shuffle carries (bucket, partial aggregates), never text
    // or per-document rows
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    val plan =
      try SparkEntry.queries("q152_length_buckets")(spark, sf)
        .queryExecution.executedPlan
      finally {
        spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
        spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
      }
    val shuffles = allNodes(plan).collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size === 1, s"want exactly one exchange:\n$plan")
    assert(!shuffles.head.output.exists(a =>
        a.name == "text" || a.name == "n"),
      s"per-document data crosses the exchange:\n$plan")
    // partial aggregation below the exchange (map-side combine)
    val partial = allNodes(shuffles.head).collect {
      case a: HashAggregateExec => a
    }
    assert(partial.nonEmpty, s"no map-side partial aggregate:\n$plan")
  }

  /** Every node in the FINAL (post-AQE) plan: like [[allNodes]] but
    * descends each AdaptiveSparkPlanExec's `executedPlan` (valid after
    * the query has run) and unwraps materialized query stages — the
    * view that shows which join strategy AQE actually chose at runtime.
    */
  private def allFinalNodes(p: SparkPlan): Seq[SparkPlan] = {
    val extra = p match {
      case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    p +: (p.children ++ extra).flatMap(allFinalNodes)
  }

  test("q170 degree joins stay broadcast under AQE with no forced hint") {
    // r12 verdict nit: trianglesByDegree used to FORCE broadcast() on
    // the degree relation — dup-rate-sized, but corpus-proportional
    // under a high dup rate, and a forced hint bypasses AQE's size
    // check (driver OOM instead of graceful shuffle degradation). The
    // hint is gone; this pins that AQE still CHOOSES broadcast for the
    // two edge-orientation joins when the degree relation fits — the
    // plan a healthy-dup-rate corpus should get.
    CacheScope.drain()
    val df = SparkEntry.queries("q170_triangles128")(spark, sf)
    try {
      df.collect()
      val nodes = allFinalNodes(df.queryExecution.executedPlan)
      // the orientation joins are the only ones probing the degree
      // aggregate: a broadcast join whose subtree aggregates the
      // exploded endpoint column "node" into "deg"
      val degJoins = nodes.collect { case j: BroadcastHashJoinExec => j }
        .filter(j => allFinalNodes(j).exists {
          case h: HashAggregateExec => h.output.exists(_.name == "deg")
          case _ => false
        })
      assert(degJoins.size >= 2,
        s"degree relation not AQE-broadcast onto both orientation joins:\n" +
          df.queryExecution.executedPlan)
    } finally CacheScope.drain()
  }

  test("q173/q174/q178 ADC scan builds on the LUT side; the code relation streams") {
    // the asymmetric-distance join must broadcast the lookup table
    // (|Q|·64 rows flat, |Q|·nprobe·64 rows IVF-PQ) onto the corpus
    // code scan — building on the codes side would hash the whole
    // (compressed) corpus per executor, defeating the one-pass scan
    // PQ exists for. q178 (the semantic gate's batch pin) probes with
    // the WHOLE corpus as the query batch, so its LUT is the largest
    // of the three — the law must hold there most of all
    for (name <- Seq("q173_pq_adc", "q174_ivfpq_ann", "q178_semantic_gate")) {
      CacheScope.drain()
      try {
        val plan = SparkEntry.queries(name)(spark, sf)
          .queryExecution.sparkPlan
        val adcJoins = allNodes(plan).collect {
          case j: BroadcastHashJoinExec
              if j.leftKeys.exists(_.toString.contains("code")) ||
                j.rightKeys.exists(_.toString.contains("code")) => j
        }
        assert(adcJoins.nonEmpty, s"$name: no ADC code-probe join:\n$plan")
        adcJoins.foreach { j =>
          val buildTree = j.buildSide match {
            case BuildLeft => j.left
            case BuildRight => j.right
          }
          assert(buildTree.output.exists(_.name == "dist"),
            s"$name: ADC join built on the code side instead of the LUT:\n$j")
        }
      } finally CacheScope.drain()
    }
  }

  test("q175 kNN graph: equi-joins only; no exchange carries two vectors") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // every join in the descent is an equi hash join (bucket, v, w) —
    // a planner fallback to a nested-loop/cartesian form would turn
    // the linear candidate machinery quadratic; and scored pairs must
    // shuffle as (v, w, cos) triples, never with both 64-long qe
    // arrays aboard (the vectors join in corpus-side, ids travel)
    CacheScope.drain()
    try {
      // since the r15 per-round localCheckpoint (descend truncates each
      // round to a LogicalRDD leaf so consumers stop re-paying the
      // ~6^r plan analysis), the REGISTERED query's executed plan no
      // longer contains the descent — the law is pinned on the round
      // constructors' own plans, which are exactly what executes at
      // each checkpoint barrier
      import ext.{KnnGraph, Similarity}
      val e = Similarity.nv(spark, sf).select("vec_id", "qe", "nrm")
        .transform(CacheScope.scoped)
      val planes = KnnGraph.planesFor(e.count())
      val g0 = KnnGraph.initTopK(e, planes, k = KnnGraph.KBuild)
      val g1 = KnnGraph.roundTopK(e, g0, k = KnnGraph.KBuild)
      for ((name, df) <- Seq("initTopK" -> g0, "roundTopK" -> g1)) {
        val plan = df.queryExecution.executedPlan
        val nodes = allNodes(plan)
        val nonEqui = nodes.filter(n =>
          n.nodeName.contains("CartesianProduct") ||
            n.nodeName.contains("BroadcastNestedLoop"))
        assert(nonEqui.isEmpty, s"$name: non-equi join in the descent:\n$plan")
        val doubleVec = nodes.collect {
          case ex: ShuffleExchangeExec
              if Seq("vqe", "wqe").forall(c => ex.output.exists(_.name == c)) ||
                Seq("xqe", "wqe").forall(c => ex.output.exists(_.name == c)) => ex
        }
        assert(doubleVec.isEmpty,
          s"$name: scored pairs shuffle with both vectors aboard:\n${doubleVec.mkString("\n")}")
      }
    } finally CacheScope.drain()
  }

  test("q172 soft-dedup: document text never crosses an exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the policy table rides narrow relations only — (doc_id,
    // cluster_id) for the CC/size machinery, (doc_id, source,
    // n_tokens) for the mass join; shuffling text would make the
    // aggregation pay the corpus a second time. Split the scan so
    // exchanges take their real multi-partition shape (q149's note).
    CacheScope.drain()
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try {
      val plan = SparkEntry.queries("q172_soft_dedup")(spark, sf)
        .queryExecution.executedPlan
      val withText = allNodes(plan).collect {
        case e: ShuffleExchangeExec if e.output.exists(_.name == "text") => e
      }
      assert(withText.isEmpty,
        s"document text crosses ${withText.size} exchange(s):\n$plan")
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
      spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
      CacheScope.drain()
    }
  }

  test("the ingest record path optimizes to a small expression tree") {
    import graft.rules.Validation
    import graft.schema.FarmSchema
    import graft.stream.IngestStream
    // every micro-batch of the ingest stream re-plans this path, so its
    // size is a per-invocation fixed cost: analysis, optimization,
    // codegen and Janino compilation all scale with it. Built as one
    // expression per output it optimized to 12,623 expression nodes;
    // the staged validator keeps each shared per-record value in one
    // internal column (Validation's plan-layout note).
    val dir = java.nio.file.Files.createTempDirectory("plan-size")
    java.nio.file.Files.writeString(dir.resolve("events.jsonl"),
      Seq(FarmFixtures.record(), "[1, 2, 3]").mkString("\n"))
    val raw = spark.read.text(dir.toString).withColumnRenamed("value", "raw")
    val plan = IngestStream.process(raw).queryExecution.optimizedPlan
    val nodes = plan.collect { case p => p.expressions.map(_.collect { case e => e }.size).sum }.sum
    assert(nodes <= 3000, s"record path optimizes to $nodes expression nodes:\n$plan")

    // the staging is internal: exactly the input columns, then the
    // validation outputs in the documented order — no `_` column leaks
    val parsed = FarmSchema.parse(raw, "raw")
    assert(Validation.annotate(parsed).columns.toSeq === parsed.columns.toSeq ++
      Seq("validation_errors", "validation_warnings", "validation_status") ++
      FarmSchema.sensorFields.map(s => s"sensor_$s"))
  }
}
