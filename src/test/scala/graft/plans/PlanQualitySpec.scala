package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike

/** Plan-shape regression tests for the flagship reports and the scale-
  * sensitive ops: the rules that make these queries safe at 100 TB are
  * asserted against the physical plan, so a future edit that re-introduces
  * a corpus-side broadcast (or an un-pruned scan) fails CI instead of
  * becoming a cluster incident.
  */
class PlanQualitySpec extends SparkSuite {

  /** Tables that grow with the data (facts / corpora) — broadcasting their
    * raw rows is never acceptable; broadcasting a grain-reducing AGGREGATE
    * of them (e.g. the distinct-genre universe in q2) is bounded and fine. */
  private val factTables = Seq("lineitem", "orders", "documents", "embeddings", "events")

  /** BroadcastExchange subtrees that scan a fact table without any
    * aggregation in between — the unbounded-broadcast anti-pattern. */
  private def corpusBroadcasts(p: SparkPlan): Seq[String] =
    p.collect { case b: BroadcastExchangeLike => b }.flatMap { b =>
      val aggregated = b.exists {
        case _: HashAggregateExec | _: ObjectHashAggregateExec | _: SortAggregateExec => true
        case _ => false
      }
      if (aggregated) Nil
      else b.collect { case s: FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString)
      }.flatten.filter(path => factTables.exists(path.contains))
    }

  /** Static planner: AQE + statistics-broadcast off, so every remaining
    * BroadcastExchange comes from a hard-coded hint — exactly the set that
    * would survive a 100× scale-up where statistics stop electing
    * broadcasts on their own. */
  private def withStaticPlanner[T](f: => T): T = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    }
  }

  test("flagships q1/q2/q3 carry no corpus-side broadcast hint") {
    withStaticPlanner {
      for (q <- Seq("q1_genre_sales", "q2_primary_genre_spend", "q3_gross_margin")) {
        val df = graft.SparkEntry.queries(q)(spark, sf001)
        val bad = corpusBroadcasts(df.queryExecution.executedPlan)
        assert(bad.isEmpty, s"$q broadcasts raw fact/corpus rows: ${bad.mkString(", ")}")
      }
    }
  }

  test("dedup family carries no corpus-side broadcast hint") {
    withStaticPlanner {
      for (q <- Seq("dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
        "dedup_simhash", "dedup_fuzzy_editdist", "dedup_embedding_cosine")) {
        val df = graft.SparkEntry.queries(q)(spark, sf001)
        val bad = corpusBroadcasts(df.queryExecution.executedPlan)
        assert(bad.isEmpty, s"$q broadcasts raw fact/corpus rows: ${bad.mkString(", ")}")
      }
    }
  }

  test("round-4/5 pipeline ops carry no corpus-side broadcast hint") {
    withStaticPlanner {
      // (the sim_* ANN ops are exempt by design: they broadcast the BOUNDED
      // query batch — a filter of the corpus, capped/chunked by contract —
      // while their corpus side stays on the shuffle path)
      for (q <- Seq("dedup_containment", "dedup_incremental", "text_unigram_score",
        "dedup_semantic")) {
        val df = graft.SparkEntry.queries(q)(spark, sf001)
        val bad = corpusBroadcasts(df.queryExecution.executedPlan)
        assert(bad.isEmpty, s"$q broadcasts raw fact/corpus rows: ${bad.mkString(", ")}")
      }
    }
  }

  test("round-6 ops carry no corpus-side broadcast hint") {
    withStaticPlanner {
      // sim_knn_graph included deliberately: it has NO bounded query batch
      // (every vector is a query), so unlike the sim_topk_* family nothing
      // at all may broadcast from the embeddings corpus without aggregation
      // graph_* and join_interval_overlap likewise: both graph sides and
      // both interval sides are fact-derived and unbounded — the interval
      // join carries an explicit merge hint precisely so statistics can
      // never elect a broadcast that would not survive 100×
      for (q <- Seq("win_islands", "etl_table_diff", "etl_cdc_apply",
        "text_repetition_topngram", "sim_knn_graph", "agg_hll_partial_merge",
        "events_markov_transitions", "agg_distinct_overlap",
        "graph_pagerank", "graph_triangles", "graph_label_prop",
        "graph_edge_jaccard", "join_interval_overlap")) {
        val df = graft.SparkEntry.queries(q)(spark, sf001)
        val bad = corpusBroadcasts(df.queryExecution.executedPlan)
        assert(bad.isEmpty, s"$q broadcasts raw fact/corpus rows: ${bad.mkString(", ")}")
      }
    }
  }

  test("round-7 ops carry no corpus-side broadcast hint") {
    withStaticPlanner {
      // agg_overlap_sketch / agg_freq_sketch broadcast only sketch
      // AGGREGATES (fixed-size by construction); graph_khop_reach's BFS
      // joins are all fact-derived and unbounded; q4's only broadcast is
      // the 1-row anchor aggregate
      for (q <- Seq("agg_overlap_sketch", "agg_freq_sketch",
        "graph_khop_reach", "q4_customer_rfm")) {
        val df = graft.SparkEntry.queries(q)(spark, sf001)
        val bad = corpusBroadcasts(df.queryExecution.executedPlan)
        assert(bad.isEmpty, s"$q broadcasts raw fact/corpus rows: ${bad.mkString(", ")}")
      }
    }
  }

  test("round-8 ops carry no corpus-side broadcast hint") {
    withStaticPlanner {
      // the only broadcasts these ops hint are grain-bounded: 1-row
      // totals / per-type aggregates (cusum, lm_surprisal), the n_labels-
      // row threshold frame selected at rank n_min (class_balance_
      // threshold — its subtree carries GlobalRank's counts aggregate),
      // and the 4-value quantile frames (score_rfm_threshold); kcore and
      // the incremental span dedup join on shuffle paths only
      // agg_topk_heap / events_sliding_distinct / events_decay_counts:
      // their only broadcasts are grain-bounded frames (day anchors,
      // 1-row bounds) — the aggregate-below predicate accepts those
      for (q <- Seq("score_rfm_threshold", "sample_class_balance_threshold",
        "text_dedup_substring_incr", "text_lm_surprisal",
        "text_quality_learned", "events_cusum", "graph_kcore",
        "agg_topk_heap", "events_sliding_distinct", "events_decay_counts",
        "win_gap_fill", "win_interpolate", "sample_temporal_split",
        "agg_ttest_groups", "events_heavy_change", "events_markov_perplexity",
        "etl_dq_profile", "agg_mannwhitney_u", "sim_centroid_drift",
        "multimodal_dedup", "text_pmi_phrases", "agg_ks_test",
        "sim_pca_power", "graph_coreness")) {
        val df = graft.SparkEntry.queries(q)(spark, sf001)
        val bad = corpusBroadcasts(df.queryExecution.executedPlan)
        assert(bad.isEmpty, s"$q broadcasts raw fact/corpus rows: ${bad.mkString(", ")}")
      }
    }
  }

  test("round-9 ops carry no corpus-side broadcast hint") {
    withStaticPlanner {
      // the only broadcasts these ops hint are grain-bounded: chi²'s
      // row/col/total frames (≤ |types|×7 cells), the bootstrap's
      // nothing, ntile's GlobalRank cell frame (aggregate-below),
      // truncate-quality's nothing; winnowing/entropy/phash join on
      // shuffle paths only
      for (q <- Seq("win_ntile_grouped", "agg_chi2_independence",
        "text_token_entropy", "text_winnowing_fingerprint",
        "sample_bootstrap_poisson", "sim_truncate_quality",
        "multimodal_neardup_phash", "graph_ktruss", "agg_gini_grouped",
        "events_autocorr", "sample_neyman_alloc",
        "agg_quantile_bands_grouped", "multimodal_shard_pack",
        "sample_mixture_temperature", "eval_langid_confusion",
        "eval_score_auc", "eval_calibration_bins")) {
        val df = graft.SparkEntry.queries(q)(spark, sf001)
        val bad = corpusBroadcasts(df.queryExecution.executedPlan)
        assert(bad.isEmpty, s"$q broadcasts raw fact/corpus rows: ${bad.mkString(", ")}")
      }
    }
  }

  test("round-9 scans are column-pruned to what the op consumes") {
    // a scan that reads every column for a narrow projection silently
    // multiplies IO at 100 TB — assert each op's fact scans carry a
    // ReadSchema no wider than what the op actually needs
    val allowed: Map[String, Map[String, Set[String]]] = Map(
      "text_token_entropy" -> Map("documents" -> Set("doc_id", "text")),
      "text_winnowing_fingerprint" -> Map("documents" -> Set("doc_id", "text")),
      "multimodal_neardup_phash" -> Map("documents" -> Set("doc_id", "text")),
      "agg_gini_grouped" -> Map(
        "orders" -> Set("o_orderkey", "o_custkey", "o_totalprice"),
        "customer" -> Set("c_custkey", "c_mktsegment")),
      "agg_chi2_independence" -> Map("events" -> Set("event_type", "ts")),
      "sim_truncate_quality" -> Map("embeddings" -> Set("label", "embedding")),
      "sample_bootstrap_poisson" -> Map("orders" -> Set("o_orderkey", "o_totalprice")),
      "win_ntile_grouped" -> Map("events" -> Set("event_id", "event_type", "value")),
      "events_autocorr" -> Map("events" -> Set("event_type", "ts")),
      "agg_quantile_bands_grouped" -> Map("events" -> Set("event_id", "event_type", "value")),
      "multimodal_shard_pack" -> Map("documents" -> Set("doc_id", "text")),
      "sample_mixture_temperature" -> Map("documents" -> Set("doc_id", "source")),
      "eval_langid_confusion" -> Map("documents" -> Set("lang", "text")),
      "io_zonemap_audit" -> Map(
        "lineitem" -> Set("l_shipdate", "l_returnflag", "l_extendedprice")),
      "sample_neyman_alloc" -> Map(
        "orders" -> Set("o_custkey", "o_totalprice"),
        "customer" -> Set("c_custkey", "c_mktsegment")))
    // GlobalRank-based ops persist their range exchange, which hides the
    // file scans behind InMemoryTableScanExec — descend into cached plans
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] =
      p.collect { case s: FileSourceScanExec => s } ++
        p.collect { case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => i }
          .flatMap(i => allScans(i.relation.cachedPlan))
    withStaticPlanner {
      for ((q, tbls) <- allowed) {
        val plan = graft.SparkEntry.queries(q)(spark, sf001).queryExecution.executedPlan
        val scans = allScans(plan)
        assert(scans.nonEmpty, s"$q: no file scans found")
        scans.foreach { s =>
          val path = s.relation.location.rootPaths.head.toString
          tbls.find { case (t, _) => path.contains(t + ".parquet") }.foreach { case (t, cols) =>
            val read = s.requiredSchema.fieldNames.toSet
            assert(read.subsetOf(cols),
              s"$q reads ${(read -- cols).mkString(",")} from $t beyond the needed $cols")
          }
        }
      }
    }
  }

  test("global scoring ops keep every data-sized window partitioned") {
    // Window.orderBy with no partitionBy moves its WHOLE input to one
    // partition (Spark's own WindowExec warning) — the single-task global
    // sort that killed q4's original ntile windows at 100×. These ops
    // were rebuilt on GlobalRank / broadcast-threshold joins precisely so
    // no partition-less window and no single-partition exchange ever
    // carries fact rows; the bounded exceptions that remain (GlobalRank's
    // P-row offsets frame, the label lookup) are aggregates or local
    // relations, which the same grain-reduction predicate as
    // corpusBroadcasts accepts.
    def unboundedGlobal(p: SparkPlan): Seq[String] = {
      def factScanBelow(n: SparkPlan): Boolean = {
        val aggregated = n.children.exists(_.exists {
          case _: HashAggregateExec | _: ObjectHashAggregateExec | _: SortAggregateExec => true
          case _ => false
        })
        !aggregated && n.exists {
          case s: FileSourceScanExec =>
            s.relation.location.rootPaths.exists(p => factTables.exists(p.toString.contains))
          case _ => false
        }
      }
      p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty && factScanBelow(w) => s"global window: $w"
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.numPartitions == 1 && factScanBelow(e) =>
            s"single-partition exchange: $e"
      }
    }
    withStaticPlanner {
      // detector self-check first (a vacuous pass here would certify
      // nothing): a deliberately partition-less window straight over the
      // raw fact scan MUST be flagged
      val poison = spark.read.parquet(s"$sf001/embeddings.parquet")
        .withColumn("r", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("vec_id")))
      assert(unboundedGlobal(poison.queryExecution.executedPlan).nonEmpty,
        "unboundedGlobal detector failed to flag a global window over a fact scan")
      for (q <- Seq("q4_customer_rfm", "score_rfm_threshold",
        "sample_class_balance_threshold", "agg_mannwhitney_u",
        "agg_ks_test", "win_running_total_global", "multimodal_shard_pack",
        "eval_calibration_bins")) {
        val df = graft.SparkEntry.queries(q)(spark, sf001)
        val bad = unboundedGlobal(df.queryExecution.executedPlan)
        assert(bad.isEmpty, s"$q funnels fact rows through one partition:\n${bad.mkString("\n")}")
      }
    }
  }

  test("exact rank ops keep fact-row windows pid-partitioned (no group-key sorts)") {
    // A WindowExec partitioned by a LOW-CARDINALITY data column (e.g.
    // event_type, ~5 values) is almost as bad as a partition-less one:
    // each task sorts ~n/|groups| rows — data-proportional partitions at
    // any scale. The grouped-GlobalRank rebuild moves ALL data-row
    // sorting onto range-partition ids; the only acceptable windows over
    // un-aggregated fact rows are pid-partitioned.
    def groupKeyWindow(p: SparkPlan): Seq[String] = {
      def factScanBelow(n: SparkPlan): Boolean = {
        val aggregated = n.children.exists(_.exists {
          case _: HashAggregateExec | _: ObjectHashAggregateExec | _: SortAggregateExec => true
          case _ => false
        })
        !aggregated && n.exists {
          case s: FileSourceScanExec =>
            s.relation.location.rootPaths.exists(p => factTables.exists(p.toString.contains))
          case _ => false
        }
      }
      p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if factScanBelow(w) &&
            !w.partitionSpec.exists(_.references.exists(_.name.matches("__g[grp]_pid"))) =>
          s"data-column window partition: $w"
      }
    }
    withStaticPlanner {
      // detector self-check: row_number over partitionBy(event_type) on
      // the raw events scan MUST be flagged
      val poison = spark.read.parquet(s"$sf001/events.parquet")
        .withColumn("r", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("event_type").orderBy("event_id")))
      assert(groupKeyWindow(poison.queryExecution.executedPlan).nonEmpty,
        "groupKeyWindow detector failed to flag a group-key window over a fact scan")
      for (q <- Seq("events_anomaly_mad", "sample_class_balance_threshold",
        "score_rfm_threshold", "win_running_total_global", "win_ntile_grouped",
        "win_pctrank_grouped",
        "agg_gini_grouped", "agg_quantile_bands_grouped", "eval_score_auc")) {
        val df = graft.SparkEntry.queries(q)(spark, sf001)
        val bad = groupKeyWindow(df.queryExecution.executedPlan)
        assert(bad.isEmpty, s"$q sorts data-proportional group partitions:\n${bad.mkString("\n")}")
      }
    }
  }

  test("sim_* query-batch broadcasts are capped by construction") {
    // The ANN ops broadcast the query batch — a filter of the embeddings
    // corpus. That is only scale-safe because querySample hard-caps it
    // (QueryCap top-k by id); this asserts the cap is IN THE PLAN for
    // every embeddings-scanning broadcast subtree, so the
    // bounded-broadcast claim is structural, not a comment.
    // sim_topk_mips additionally broadcasts the 1-row max-norm aggregate
    // — bounded by aggregation, accepted by the same predicate that
    // grain-bounds corpusBroadcasts.
    withStaticPlanner {
      // eval_dedup_pr broadcasts its hard-capped 500-doc sample of the
      // documents corpus — same contract, different table
      for ((q, tbl) <- Seq("sim_cosine_topk" -> "embeddings", "sim_topk_ivf" -> "embeddings",
        "sim_topk_ivf_kmeans" -> "embeddings", "sim_topk_ivf_pq" -> "embeddings",
        "sim_topk_ivf_pq8" -> "embeddings", "sim_topk_mips" -> "embeddings",
        "eval_dedup_pr" -> "documents", "eval_retrieval_recall" -> "embeddings",
        "eval_retrieval_recall_trained" -> "embeddings")) {
        val df = graft.SparkEntry.queries(q)(spark, sf001)
        val uncapped = df.queryExecution.executedPlan
          .collect { case b: BroadcastExchangeLike => b }
          .filter { b =>
            val scansEmbeddings = b.exists {
              case s: FileSourceScanExec =>
                s.relation.location.rootPaths.exists(_.toString.contains(tbl))
              case _ => false
            }
            val capped = b.exists {
              case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
              case _: org.apache.spark.sql.execution.GlobalLimitExec => true
              case _: org.apache.spark.sql.execution.CollectLimitExec => true
              // a global (no-grouping) aggregate is one row by construction
              case a: HashAggregateExec if a.groupingExpressions.isEmpty => true
              case _ => false
            }
            scansEmbeddings && !capped
          }
        assert(uncapped.isEmpty,
          s"$q broadcasts an uncapped slice of the embeddings corpus:\n${uncapped.mkString("\n")}")
      }
    }
  }

  test("sample_weighted plans its per-stratum top-k as a WindowGroupLimit") {
    val df = graft.SparkEntry.queries("sample_weighted")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    // the rank<=k filter must push into a WindowGroupLimit so each
    // partition keeps k rows per stratum BEFORE the shuffle — the
    // difference between a reservoir and a full sort at 100 TB
    assert(plan.contains("WindowGroupLimit"),
      s"A-ES top-k lost its WindowGroupLimit:\n$plan")
  }

  test("agg_topk_heap map-side combines: partial aggregation below the shuffle") {
    // the whole point of the aggregate form — each task ships an O(k)
    // partial, not its rows; a plan missing the Partial mode would
    // shuffle the full lineitem grain to the groups
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
    withStaticPlanner {
      val df = graft.SparkEntry.queries("agg_topk_heap")(spark, sf001)
      val modes = df.queryExecution.executedPlan.collect {
        case a: ObjectHashAggregateExec
          if a.aggregateExpressions.exists(_.aggregateFunction.prettyName == "topk_by_score") =>
            a.aggregateExpressions.map(_.mode).distinct
      }.flatten
      assert(modes.contains(Partial) && modes.contains(Final),
        s"topk_by_score must plan Partial+Final aggregation, got: $modes")
      // and no WindowExec anywhere — the op exists to avoid one
      assert(!df.queryExecution.executedPlan.toString.contains("WindowExec"),
        "agg_topk_heap must not fall back to a window")
    }
  }

  test("text_collapse_repeats is one shuffle-free codegen map over the scan") {
    // the op's whole claim: split → position filter → rejoin as pure
    // array expressions — any Exchange, Window, or Generate (explode)
    // in the plan means the linear-per-row shape was lost
    withStaticPlanner {
      val df = graft.SparkEntry.queries("text_collapse_repeats")(spark, sf001)
      val plan = df.queryExecution.executedPlan
      val bad = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s"shuffle: $e"
        case w: org.apache.spark.sql.execution.window.WindowExec => s"window: $w"
        case g: org.apache.spark.sql.execution.GenerateExec => s"generate: $g"
      }
      assert(bad.isEmpty, s"collapse lost its zero-shuffle shape:\n${bad.mkString("\n")}")
      // the lambda Project itself is interpreted (Spark higher-order
      // functions don't codegen) but stays a narrow per-row map; the
      // scan and the surrounding projects must still be codegen spans
      // (executedPlan prints them as "*(n)")
      assert(plan.toString.contains("*("),
        "no codegen span left around the collapse projects")
    }
  }

  test("dedup_incremental picks winners by aggregation, not a window") {
    val df = graft.SparkEntry.queries("dedup_incremental")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"hot-key-unsafe window in dedup_incremental plan:\n$plan")
  }

  test("join_dpp_prune scan actually carries a dynamic-pruning expression") {
    val df = graft.SparkEntry.queries("join_dpp_prune")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("dynamicpruning"),
      "partitioned-fact scan lost its dynamicpruningexpression — DPP regressed")
  }

  test("join_bloom_runtime_filter probes the bitset below the fact exchange") {
    // static planner: the AQE wrapper hides the tree from collect(), and
    // the dim must not silently become a broadcast at test scale
    val plan = withStaticPlanner {
      val df = graft.SparkEntry.queries("join_bloom_runtime_filter")(spark, sf001)
      df.queryExecution.executedPlan
    }
    assert(plan.toString.contains("SortMergeJoin"),
      "the op models the non-broadcastable dim regime — the join must stay merge")
    // structural: the bloom probe lives in the fact SCAN stage — its own
    // subtree reaches the parquet scan with no exchange in between, and
    // at least one shuffle sits strictly ABOVE it (so the probe reduces
    // shuffle input, not shuffle output)
    val probes = plan.collect {
      case f: org.apache.spark.sql.execution.FilterExec
        if f.condition.toString.contains("bloom_contains") => f
    }
    assert(probes.nonEmpty, "bloom_contains filter vanished from the physical plan")
    val probe = probes.head
    assert(probe.collect { case s: FileSourceScanExec => s }.nonEmpty
      && !probe.children.mkString.contains("Exchange"),
      "probe must sit directly on the fact scan")
    val above = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.collect { case f if f eq probe => f }.nonEmpty => e
    }
    assert(above.nonEmpty, "no shuffle above the probe — the reduction buys nothing")
  }

  test("dedup_fuzzy_editdist computes levenshtein exactly once") {
    val df = graft.SparkEntry.queries("dedup_fuzzy_editdist")(spark, sf001)
    val n = "levenshtein".r.findAllIn(df.queryExecution.optimizedPlan.toString).length
    assert(n == 1, s"expected a single levenshtein in the optimized plan, found $n")
  }
}
