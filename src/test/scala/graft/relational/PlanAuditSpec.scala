package graft.relational

import graft.SparkSpec
import graft.plans.SimJoin
import org.apache.spark.sql.catalyst.expressions.{Expression, Levenshtein}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Regression net over the whole registry's PHYSICAL plans: correctness
  * tests can't catch a plan that silently degrades to a cartesian product
  * (it still computes the right answer — until it meets real data).
  * Small-side broadcasts legitimately plan as BroadcastNestedLoopJoin
  * (1-row bounds frames, query vectors), so only the truly pathological
  * shape is banned.
  */
class PlanAuditSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  // stream_* run a real streaming query inside the builder (AvailableNow +
  // awaitTermination) — they are executed, not planned, so auditing them
  // here would re-run the streaming machinery for no plan information.
  // (A few other builders run small setup jobs at construction — the wrm
  // ingest, bucket-size counts, IVF training — that's accepted cost; this
  // spec's assertion is still about the RETURNED plan.)
  private val skip = Set(
    "stream_hourly_window", "stream_latest_per_user",
    "stream_purchase_view_join", "stream_doc_dedup", "stream_token_topk",
    "stream_session_window")

  test("registry names are unique (SparkEntry.queries is a Map — a duplicate would silently shadow)") {
    val names = graft.SparkEntry.registry.map(_.name)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate registry names: ${dups.mkString(", ")}")
    assert(names.forall(_.matches("[a-z0-9_]+")),
      s"non-snake-case names: ${names.filterNot(_.matches("[a-z0-9_]+")).mkString(", ")}")
  }

  test("EVERY registry query carries a DuckDB oracle (no rows-only checks)") {
    // Every operator is hash-checked against an independent engine — pin it
    // so a future operator can't quietly ship with the weaker rows>0 check.
    // As of round 11 there are NO exceptions: even the IVF build surface
    // runs a deterministic md5-seeded configuration whose Lloyd rounds the
    // oracle unrolls as CTE stages.
    val missing = graft.SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name)
    assert(missing.isEmpty, s"oracle-less registry queries: ${missing.mkString(", ")}")
  }

  test("no registry query plans a CartesianProduct") {
    val dir = "/root/testdata/sf0.001"
    graft.SparkEntry.registry.filterNot(q => skip(q.name)).foreach { q =>
      val plan = q.run(spark, dir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"${q.name} plans a cartesian product:\n$plan")
    }
  }

  test("unpartitioned Window nodes sit only above aggregated (reduced) input") {
    // A window with no PARTITION BY executes in ONE task. That is the
    // deliberate shape for the tiny per-group offset frames in the
    // hierarchical prefix-sum/rank operators (q66-q68) — where the window
    // input is already an aggregate, corpus/groupSize rows — and a scale
    // bug anywhere else. Pin the invariant: every unpartitioned WindowExec
    // must have an aggregation somewhere below it.
    val dir = "/root/testdata/sf0.001"
    graft.SparkEntry.registry.filterNot(q => skip(q.name)).foreach { q =>
      val plan = q.run(spark, dir).queryExecution.sparkPlan
      val bad = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty &&
              w.child.collectFirst {
                case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
              }.isEmpty => w
      }
      assert(bad.isEmpty,
        s"${q.name} plans an unpartitioned Window over non-aggregated input " +
          s"(single-task global window):\n${bad.headOption.getOrElse("")}")
    }
  }

  test("no broadcast hint over an unbounded-cardinality grouped aggregate") {
    // A broadcast() hint FORCES BroadcastHashJoin regardless of
    // autoBroadcastJoinThreshold — over a grouped aggregate whose key
    // cardinality grows with the data (a token vocabulary, a per-group
    // frequency table) that OOMs the driver at corpus scale (the r7 q65
    // defect). Global aggregates (empty grouping → ≤1 row) and
    // LocalRelations are fine; grouped aggregates under a hint need an
    // explicit entry here with a boundedness argument.
    val bounded = Map(
      // l_returnflag is a 3-value domain key — the aggregate is O(1)
      "q37_approx_distinct" -> "grouped by l_returnflag (domain-bounded, 3 values)",
      // the contamination benchmark is a fixed eval set; its gram table
      // is bounded by the benchmark size, not the corpus
      "q58_contamination" -> "eval-benchmark grams (fixed set, corpus-independent)",
      // centroid/stats broadcasts sit over a (dim)-grouped aggregate —
      // dim is the embedding dimensionality (64), a schema constant
      "q76_embedding_outliers" -> "grouped by dim (schema-bounded, 64 values)",
      // the hint wraps a GLOBAL 1-row node count; the grouped aggregate the
      // walk finds below it is the co-purchase edge input's support counts —
      // part of the count's lineage, never the broadcast payload
      "q93_pagerank" -> "hinted relation is a global count (1 row by construction)",
      // the hint wraps the global 1-row scale = min(c/w); the per-source
      // count aggregate the walk finds is the min's input, not the payload
      "q96_mixture_resample" -> "hinted relation is a global min (1 row by construction)",
      // label is a classification-taxonomy key (like l_returnflag): the
      // centroid table is O(labels × dims), bounded by the label domain
      // and the schema dim constant, not corpus size
      "q137_class_separation" -> "grouped by label (taxonomy-bounded domain) × dim (schema constant)",
      // the hint wraps a GLOBAL 1-row basket count; the grouped aggregate
      // the walk finds below it is the distinct-items input of that
      // count's lineage, never the broadcast payload (the q93 class)
      "q146_pair_lift" -> "hinted relation is a global count (1 row by construction)",
      // the cross-bucket prune table is grouped by the price range bucket —
      // construction-bounded at nBuckets (32) rows whatever the data size
      "q151_skyline" -> "grouped by range bucket (construction-bounded, <= nBuckets=32)",
      // the hint wraps the GLOBAL 1-row total count; the digit-grouped
      // aggregate the walk finds below it is that total's lineage (and is
      // itself domain-bounded at 9 digits), never the broadcast payload
      "q152_benford" -> "hinted relation is a global count (1 row by construction)",
      // the hint wraps the GLOBAL 1-row mean of the daily-count series; the
      // date-grouped aggregate below is the mean's lineage, not the payload
      "q154_cusum" -> "hinted relation is a global mean (1 row by construction)",
      // the hint wraps the GLOBAL 1-row byte total; the shard-grouped
      // aggregate below is the total's lineage (itself bounded at nShards)
      "q170_shard_balance" -> "hinted relation is a global sum (1 row by construction)",
      // the hint wraps the GLOBAL 1-row depth stats of the sweep; the
      // grouped aggregates below (per-file spans, boundary nets) are its
      // lineage, themselves bounded at O(files)
      "q171_clustering_depth" -> "hinted relation is a global max/avg (1 row by construction)",
      // the centroid row is dim-grouped — bounded by the schema's 64
      // dims (the q76 class), collapsed to ONE row before the hint
      "q175_pr_curve" -> "grouped by dim (schema-bounded, 64 values), 1 row after collect_list",
      // the per-dim range table is dim-grouped — bounded by the schema's
      // dims (the q76 class); unhinted it planned as a 64-key sort-merge
      // exchange of the full exploded value stream
      "q130_quantization_audit" -> "grouped by dim (schema-bounded, 64 values)",
      // the hint wraps the GLOBAL 1-row basket count (the q146 class)
      "q176_assoc_rules" -> "hinted relation is a global count (1 row by construction)",
      // the hint wraps the GLOBAL 1-row watermark (max of per-type maxes);
      // the type-grouped aggregate below is its lineage, bounded at O(types)
      "q182_freshness" -> "hinted relation is a global max (1 row by construction)")
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, ResolvedHint}
    graft.SparkEntry.registry.filterNot(q => skip(q.name)).foreach { q =>
      val analyzed = q.run(spark, dir).queryExecution.analyzed
      val offenders = analyzed.collect {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) &&
            h.child.collectFirst {
              case a: Aggregate if a.groupingExpressions.nonEmpty => a
            }.nonEmpty => h
      }
      assert(offenders.isEmpty || bounded.contains(q.name),
        s"${q.name} broadcast-hints a grouped aggregate (forced broadcast of " +
          s"data-dependent cardinality — the q65 class):\n${offenders.headOption.getOrElse("")}")
    }
  }

  test("basket family exchange budget: the r11 two-shuffle pair pipeline holds") {
    // The co-purchase rewrite (baskets via ONE orderkey aggregate + in-row
    // pair expansion) replaced a 4-exchange distinct+self-join shape. Pin
    // the shuffle budget so a refactor can't silently reintroduce it:
    // q87 = basket agg + pair agg + presentation sort = 3 shuffle
    // exchanges; q138 adds the rank window's item exchange and its final
    // sort. Counts are on the pre-AQE spark plan (deterministic).
    // String-count on the executed plan: with AQE the top node is an
    // AdaptiveSparkPlanExec wrapper, so a collect() over the tree sees no
    // exchanges; the rendered plan shows them.
    val dir = "/root/testdata/sf0.001"
    def hashShuffles(name: String): Int =
      "Exchange hashpartitioning".r.findAllIn(
        graft.SparkEntry.queries(name)(spark, dir)
          .queryExecution.executedPlan.toString).size
    // q87: basket agg + pair agg (the presentation sort adds one RANGE
    // exchange on top — not counted; it's output ordering, not data
    // movement the operators need). q138 adds the rank window's item
    // exchange; q146/q176 add the margin joins (their broadcast
    // exchanges are the intended slim-side shape). q95's returned plan
    // hangs off the final label checkpoint (rounds already cut).
    val budget = Map("q87_copurchase" -> 2, "q138_also_bought" -> 3,
      "q146_pair_lift" -> 3, "q176_assoc_rules" -> 3, "q95_communities" -> 0)
    budget.foreach { case (name, cap) =>
      val n = hashShuffles(name)
      assert(n <= cap, s"$name plans $n hash-shuffle exchanges (budget $cap)")
    }
  }

  test("in-row quantile family plans no window and one data shuffle") {
    // q116/q123 (r12 rewrite): bounded groups -> sort_array(collect_list)
    // + rank indexing in ONE aggregate. Pin the shape so a refactor can't
    // reintroduce the count-table windows + self-joins that degenerated
    // on the near-unique value column (count table ~ fact table).
    val dir = "/root/testdata/sf0.001"
    Seq("q116_mad_outliers", "q123_winsorized_stats").foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("WindowExec"), s"$name plans a window:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
        s"$name plans a join:\n$plan")
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(shuffles <= 1, s"$name plans $shuffles hash shuffles (budget 1)")
    }
  }

  test("pair-dedup query CONSTRUCTION runs no Spark job (lazy bucket cap)") {
    // the bucket cap once ran an eager count+cache during plan build — callers
    // paid a cluster job just to *define* a DataFrame. Pin the fix: build
    // the pair pipelines and assert zero jobs were submitted.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        descs.add(js.stageInfos.map(_.name).mkString("; "))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))
      graft.text.TextDedup.minhashDupPairs(docs, maxBucketSize = 10)
      graft.text.TextDedup.simhashDupPairs(docs, maxBucketSize = 10)
      graft.vector.Similarity.embeddingDupPairs(
        graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
          .select(org.apache.spark.sql.functions.col("vec_id"),
            org.apache.spark.sql.functions.col("embedding")),
        threshold = 0.999, maxBucketSize = 10)
      // Listener events are async with no public bus-drain API, but they
      // are delivered IN ORDER: run a sentinel job and wait for it — once
      // its JobStart arrives, any construction-time job would already
      // have been counted. The sentinel is an RDD action (exactly ONE
      // job): a DataFrame count() under AQE materializes its shuffle
      // stage as a separate job and would miscount.
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000
      while (jobs.get() == 0 && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(jobs.get() == 1,
        s"building the pair-dedup plans submitted ${jobs.get() - 1} Spark job(s): " +
          descs.toArray.mkString(" | "))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("r13 serialization fixes keep their plan shape (pins + broadcast)") {
    // The round-13 sweep fixed four single-task/serialized CPU stages.
    // Pin the shapes so a refactor can't silently reintroduce them:
    //  - q130: the 64-row per-dim range table must join by BROADCAST —
    //    unhinted it planned a sort-merge whose dim-keyed exchange of the
    //    full exploded value stream byte-coalesced to one task;
    //  - q80 / q126 / q153: the CPU-dense exchanges (dominance bucket
    //    pairs, dup-pair bucket pairs, the per-nation rank window) must
    //    stay explicitly pinned — REPARTITION_BY_NUM is the one shuffle
    //    origin AQE's byte-based coalescing leaves alone.
    val dir = "/root/testdata/sf0.001"
    def plan(name: String): String =
      graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString

    val q130 = plan("q130_quantization_audit")
    assert(q130.contains("BroadcastHashJoin"),
      s"q130's range join is not a broadcast:\n$q130")
    assert(!q130.contains("SortMergeJoin"),
      s"q130 plans a sort-merge join:\n$q130")

    Map("q80_semantic_dedup" -> 2, "q126_knn_graph" -> 2,
        "q153_gini_revenue" -> 1).foreach { case (name, minPins) =>
      val p = plan(name)
      val pins = "REPARTITION_BY_NUM".r.findAllIn(p).size
      assert(pins >= minPins,
        s"$name carries $pins pinned exchanges (expected >= $minPins):\n$p")
    }
  }

  test("name-pair kernels run on distinct name pairs, never per record pair (q105/q150/q157)") {
    // SimJoin.pairs computes the score above the (name_a, name_b) distinct,
    // once per distinct pair. Catalyst pushes the threshold below that
    // distinct into the block self-join's condition, where it filters the
    // candidates before the distinct's shuffle; no other operator — in
    // particular none at or above the record join-back — evaluates it.
    val part = graft.Tables.part(spark, "/root/testdata/sf0.001")
    def isKernel(e: Expression): Boolean = e match {
      case _: Levenshtein | _: graft.text.JaroWinkler.JaroWinklerSim => true
      case _ => false
    }
    def subtree(p: SparkPlan): Seq[SparkPlan] = p +: allChildren(p).flatMap(subtree)
    // (row, plan, operators that compute the score above the distinct:
    // q157 keeps only the edges, so Catalyst prunes its unused score)
    val rows = Seq(
      ("q105", FuzzyJoin.blockedFuzzyPairs(part, maxDist = 3), 1),
      ("q150", FuzzyJoin.jaroWinklerPairs(part, minSim = 0.95), 1),
      ("q157", EntityResolution.edges(SimJoin.partRecords(part), minSim = 0.95,
        EntityResolution.MaxBlockNames), 0))
    rows.foreach { case (name, df, scoreOps) =>
      df.collect()
      val plan = df.queryExecution.executedPlan
      val ops = subtree(plan)
      val pairDistinct = ops.collect { case a: HashAggregateExec
        if a.groupingExpressions.map(_.name) == Seq("name_a", "name_b") => a }
      assert(pairDistinct.nonEmpty, s"$name plans no (name_a, name_b) distinct:\n$plan")
      def over(op: SparkPlan, below: Seq[SparkPlan]) =
        subtree(op).exists(d => below.exists(_ eq d))
      val kernelOps = ops.filter(_.expressions.exists(_.exists(isKernel)))
      assert(kernelOps.nonEmpty, s"$name: no operator evaluates the kernel:\n$plan")
      // 1. the score: once per distinct pair, in one operator at or above
      // the distinct
      val above = kernelOps.filter(over(_, pairDistinct))
      assert(above.size === scoreOps, s"$name evaluates the kernel in ${above.size} " +
        s"operators above the pair distinct:\n$plan")
      // 2. none per record pair: no kernel operator sits over a join that
      // itself sits over the distinct (the join-back)
      val joinBack = ops.collect { case j: BaseJoinExec if over(j, pairDistinct) => j }
      assert(joinBack.nonEmpty, s"$name plans no join-back over the pair distinct")
      assert(!kernelOps.exists(over(_, joinBack)),
        s"$name evaluates the kernel per record pair:\n$plan")
      // ... and below the distinct only as the block self-join's threshold
      kernelOps.filterNot(op => above.exists(_ eq op)).foreach { op =>
        assert(op.isInstanceOf[BaseJoinExec],
          s"$name evaluates the kernel below the distinct outside the self-join: $op")
      }
      // 3. the distinct-name table's block pin
      val pins = ops.collect {
        case ShuffleExchangeExec(h: HashPartitioning, _, REPARTITION_BY_NUM, _)
          if Set("blk_tok", "blk_brand").subsetOf(h.references.map(_.name).toSet) => h }
      assert(pins.nonEmpty, s"$name lost the block REPARTITION_BY_NUM pin:\n$plan")
    }
  }

  test("MinHash signs once, in the cached signing relation (q26/q50/q51)") {
    // Every band, bucket and verify step reads the cached (doc_id, sh,
    // sig) relation. A signature computed in a band explode (Generate)
    // runs once per band reader instead. q51's edges run inside its
    // connected-components jobs, so every plan the row executes is
    // captured, not only the returned one.
    import graft.text.TextExprs.MinHashSignature
    import org.apache.spark.sql.execution.{GenerateExec, QueryExecution}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executed.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def signs(op: SparkPlan) =
      op.expressions.exists(_.exists(_.isInstanceOf[MinHashSignature]))
    def subtree(p: SparkPlan): Seq[SparkPlan] = p +: allChildren(p).flatMap(subtree)
    def cachedPlans(p: SparkPlan): Seq[SparkPlan] = subtree(p).collect {
      case s: InMemoryTableScanExec => s.relation.cachedPlan }
    def withCached(p: SparkPlan): Seq[SparkPlan] =
      subtree(p) ++ cachedPlans(p).flatMap(withCached)
    spark.listenerManager.register(listener)
    try Seq("q26_minhash_lsh_dedup", "q50_minhash_canonical", "q51_dedup_clusters")
      .foreach { name =>
        executed.clear()
        graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").collect()
        org.apache.spark.graftbridge.ListenerBridge
          .waitUntilListenerBusEmpty(spark.sparkContext, 30000)
        val plans = executed.asScala.toSeq
        val outside = plans.flatMap(subtree)
        val inside = plans.flatMap(cachedPlans).flatMap(withCached)
        assert(inside.exists(signs), s"$name caches no signature:\n${plans.mkString("\n")}")
        assert(!outside.exists(signs),
          s"$name signs outside the cached relation:\n${plans.mkString("\n")}")
        assert(!(outside ++ inside).exists(op => op.isInstanceOf[GenerateExec] && signs(op)),
          s"$name signs inside a Generate:\n${plans.mkString("\n")}")
      }
    finally spark.listenerManager.unregister(listener)
  }

  test("every LSH, prefix and dominance pair row pairs its blocks through one capped cover") {
    // SimJoin.blockPairs is the one block self-join of the q26/q52/q71 LSH
    // pairs, the q30/q126 embedding pairs, the q129 prefix join and the q80
    // dominance scan. In every plan such a row executes, each self-join
    // over its block keys joins on the cover's bucket columns (__i, __j),
    // and each side reads exactly one block-count window (the cap and the
    // cover's bucket count come from the same count). A join on the block
    // keys against an aggregate grouped by them (q80's centroids, q129's
    // token frequencies) is a lookup, not a self-join.
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val blockKeys = Seq(
      "q26_minhash_lsh_dedup" -> Set("band_id", "band_key"),
      "q52_simhash_dedup" -> Set("band_id", "band_val"),
      "q71_image_dedup" -> Set("band_id", "band_val"),
      "q30_embedding_dedup" -> Set("bucket"),
      "q126_knn_graph" -> Set("bucket"),
      "q129_prefix_filter_join" -> Set("token"),
      "q80_semantic_dedup" -> Set("cell"))
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executed.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // q126 reads its pairs twice, so one side's cover is a reused exchange
    def inputs(p: SparkPlan): Seq[SparkPlan] = p match {
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => allChildren(p)
    }
    def subtree(p: SparkPlan): Seq[SparkPlan] = p +: inputs(p).flatMap(subtree)
    def names(es: Seq[Expression]): Set[String] = es.flatMap(_.references.map(_.name)).toSet
    // down a chain of single-input operators to the first aggregate, window or join
    def isLookup(p: SparkPlan, keys: Set[String]): Boolean = p match {
      case a: BaseAggregateExec => names(a.groupingExpressions) == keys
      case _: WindowExec | _: BaseJoinExec => false
      case _ => inputs(p) match {
        case Seq(c) => isLookup(c, keys)
        case _ => false
      }
    }
    spark.listenerManager.register(listener)
    try blockKeys.foreach { case (name, keys) =>
      executed.clear()
      graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").collect()
      org.apache.spark.graftbridge.ListenerBridge
        .waitUntilListenerBusEmpty(spark.sparkContext, 30000)
      val plans = executed.asScala.toSeq
      val selfJoins = plans.flatMap(subtree).collect {
        case j: BaseJoinExec if keys.subsetOf(names(j.leftKeys)) &&
            keys.subsetOf(names(j.rightKeys)) &&
            !j.children.exists(isLookup(_, keys)) => j
      }
      assert(selfJoins.nonEmpty, s"$name runs no self-join over ${keys.mkString(", ")}:\n" +
        plans.mkString("\n"))
      selfJoins.foreach { j =>
        assert(names(j.leftKeys) == keys ++ Set("__i", "__j"),
          s"$name self-joins its blocks outside the bucket cover:\n$j")
        j.children.foreach { side =>
          val counts = subtree(side).collect {
            case w: WindowExec if names(w.partitionSpec) == keys => w }
          assert(counts.size === 1,
            s"$name runs ${counts.size} block-count windows on one side of its cover:\n$j")
        }
      }
    }
    finally spark.listenerManager.unregister(listener)
  }

  test("no executed plan rounds a double with Spark's round(x, d != 0)") {
    // Spark's round(x, d) on a double rounds its shortest decimal string;
    // DuckDB's (the oracle's) rounds the binary value, so 9.575 gives 9.58
    // in one and 9.57 in the other. GraftQuery.duckRound computes DuckDB's
    // rule; a DECIMAL round is exact in both and a scale-0 round of a
    // double agrees. Every plan a row executes is captured, cached
    // relations and subqueries included.
    import org.apache.spark.sql.catalyst.expressions.RoundBase
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.types.{DataType, DoubleType, FloatType}
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executed.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def withCached(p: SparkPlan): Seq[SparkPlan] = {
      val ops = collectWithSubqueries(p) { case op => op }
      ops ++ ops.collect { case s: InMemoryTableScanExec => s.relation.cachedPlan }
        .flatMap(withCached)
    }
    def doubleRounds(op: SparkPlan): Seq[Expression] = op.expressions.flatMap(_.collect {
      case r: RoundBase if Set[DataType](DoubleType, FloatType)(r.left.dataType) &&
          r.right.foldable && r.right.eval() != 0 => r
    })
    spark.listenerManager.register(listener)
    val offenders = try graft.SparkEntry.registry.filterNot(_.name.startsWith("stream_"))
      .flatMap { q =>
        executed.clear()
        q.run(spark, "/root/testdata/sf0.001").collect()
        org.apache.spark.graftbridge.ListenerBridge
          .waitUntilListenerBusEmpty(spark.sparkContext, 30000)
        executed.asScala.toSeq.flatMap(withCached).flatMap(doubleRounds)
          .headOption.map(r => s"${q.name}: $r")
      }
    finally spark.listenerManager.unregister(listener)
    if (offenders.nonEmpty) fail(s"${offenders.size} rows round a double with Spark's " +
      s"round(x, d); use GraftQuery.duckRound:\n${offenders.mkString("\n")}")
  }
}
