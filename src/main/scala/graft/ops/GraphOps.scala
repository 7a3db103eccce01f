package graft.ops

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over the warehouse — the iterative join-aggregate
  * family (PageRank-style power iteration) the LLM-pipeline scope needs
  * for link/citation-weighted corpus curation (e.g. Common-Crawl-host
  * ranking for crawl prioritization), here demonstrated on the part
  * co-purchase graph the reference's market-basket view implies
  * (ref: the genre/author cross-sell angle of LQY_query2.txt's
  * per-customer spend profile; the graph itself is beyond-reference
  * scope, alg. per Page et al. 1999, "The PageRank Citation Ranking").
  *
  * Everything is INTEGER arithmetic by design: ranks are BIGINT
  * micro-units (R0 = 1e12 per node), per-edge contributions are
  * `rank div out_degree` (integer division — deterministic and
  * engine-portable, unlike float sums whose value depends on reduction
  * order), and damping is `(mass * 85) div 100`. Sums of BIGINT are
  * order-independent, so the whole fixed-point is bit-identical across
  * partitionings, engines, and re-runs — which is what makes the op
  * hash-checkable against DuckDB at all. Truncation loses < out_degree
  * micro-units per node per round: ~1e-9 relative, far below any
  * ranking-relevant signal.
  *
  * Scale shape: the edge list is built once (self-join bounded by basket
  * size — the per-order line count is contract-bounded exactly like the
  * per-key sequences in PatternMatch), pre-aggregated to (src, dst, w)
  * weighted-edge grain with map-side combine, and cached; each of the
  * fixed `iters` power-iteration rounds is then ONE shuffle of the rank
  * vector onto src plus ONE map-side-combined sum onto dst — the
  * standard distributed-PageRank shape. Hot destinations (best-seller
  * parts) are safe: the combine is an associative BIGINT sum. No
  * windows, no driver-side state, no broadcast hints on unbounded
  * sides. Overflow headroom: per-node in-mass × 85 must stay < 2^63,
  * so R0 = 1e12 is safe while total graph mass N·R0 < ~1e17 (N up to
  * ~1e5 nodes even in the all-mass-to-one-node worst case, far more
  * under any real in-degree distribution); larger graphs shrink R0 —
  * the precision floor is only that R0 exceed max out_degree.
  */
object GraphOps {

  /** Fixed-iteration integer PageRank. `edges` must be weighted-edge
    * grain (src: long, dst: long, w: long), `nodes` one `pk` row per
    * vertex. Dangling mass (nodes without out-edges) is dropped, the
    * usual simplification; isolated nodes keep the damping base.
    * Returns (pk, r) with r in R0 micro-units. */
  def pageRank(edges: DataFrame, nodes: DataFrame, iters: Int, r0: Long): DataFrame = {
    require(iters >= 1, "at least one power-iteration round")
    val base = (r0 * 15L) / 100L
    val deg = edges.groupBy("src").agg(sum("w").as("outdeg"))
    // (src, dst, w, outdeg) — built once, reused by every round; at
    // cluster scale this is the persisted, src-partitioned edge artifact
    val esd = edges.join(deg, "src").cache()
    var ranks = nodes.select(col("pk"), lit(r0).as("r"))
    for (_ <- 1 to iters) {
      val mass = esd.join(ranks.withColumnRenamed("pk", "src"), "src")
        .select(col("dst"), (expr("r div outdeg") * col("w")).as("c"))
        .groupBy("dst").agg(sum("c").as("m"))
      ranks = nodes.join(mass.withColumnRenamed("dst", "pk"), Seq("pk"), "left_outer")
        .select(col("pk"),
          (lit(base) + expr("(coalesce(m, cast(0 as bigint)) * 85) div 100")).as("r"))
    }
    ranks
  }

  val ops: Seq[OpQuery] = Seq(
    // ── graph_pagerank: 3 power-iteration rounds over the part
    // co-purchase graph (directed both ways by construction; edge weight
    // = number of co-occurring order lines). Emits every node's rank in
    // micro-units — all-BIGINT, so the driver hash-compares exactly.
    OpQuery.checked(
      "graph_pagerank",
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |edges AS MATERIALIZED (SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(count(*) AS BIGINT) AS w
        |          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |          GROUP BY 1, 2),
        |deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS outdeg FROM edges GROUP BY 1),
        |nodes AS (SELECT DISTINCT l_partkey AS pk FROM li),
        |r0 AS (SELECT pk, CAST(1000000000000 AS BIGINT) AS r FROM nodes),
        |m1 AS (SELECT e.dst AS pk, CAST(sum((r.r // d.outdeg) * e.w) AS BIGINT) AS m
        |       FROM edges e JOIN deg d ON d.src = e.src JOIN r0 r ON r.pk = e.src GROUP BY 1),
        |r1 AS (SELECT n.pk, CAST(150000000000 + (COALESCE(m1.m, 0) * 85) // 100 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN m1 ON m1.pk = n.pk),
        |m2 AS (SELECT e.dst AS pk, CAST(sum((r.r // d.outdeg) * e.w) AS BIGINT) AS m
        |       FROM edges e JOIN deg d ON d.src = e.src JOIN r1 r ON r.pk = e.src GROUP BY 1),
        |r2 AS (SELECT n.pk, CAST(150000000000 + (COALESCE(m2.m, 0) * 85) // 100 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN m2 ON m2.pk = n.pk),
        |m3 AS (SELECT e.dst AS pk, CAST(sum((r.r // d.outdeg) * e.w) AS BIGINT) AS m
        |       FROM edges e JOIN deg d ON d.src = e.src JOIN r2 r ON r.pk = e.src GROUP BY 1),
        |r3 AS (SELECT n.pk, CAST(150000000000 + (COALESCE(m3.m, 0) * 85) // 100 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN m3 ON m3.pk = n.pk)
        |SELECT pk AS part_key, r AS rank_score FROM r3""".stripMargin
    ) { (spark, dir) =>
      val li = Tables(spark, dir).lineitem.select("l_orderkey", "l_partkey")
      val (edges, nodes) = coGraph(spark, li)
      pageRank(edges, nodes, iters = 3, r0 = 1000000000000L)
        .select(col("pk").as("part_key"), col("r").as("rank_score"))
    },

    // ── graph_ppr: personalized PageRank — the same all-integer power
    // iteration as graph_pagerank, but teleport mass lands ONLY on a
    // seed set (topic-sensitive PageRank, Haveliwala WWW'02): rank
    // measures proximity to the Brand#11 seeds, the crawl-frontier /
    // related-items prioritization primitive. Seeds start with R0,
    // everyone else 0; each round re-bases seeds at 15% R0 and damps
    // in-mass by 85% — all BIGINT div arithmetic, so the fixed-point is
    // order-independent and hash-exact. Mass spreads frontier-sparse:
    // nodes at rank 0 contribute nothing, so early rounds shuffle only
    // the seeds' neighborhoods (the khop frontier shape, with weights).
    OpQuery.checked(
      "graph_ppr",
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |edges AS MATERIALIZED (SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(count(*) AS BIGINT) AS w
        |          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |          GROUP BY 1, 2),
        |deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS outdeg FROM edges GROUP BY 1),
        |nodes AS (SELECT DISTINCT l_partkey AS pk FROM li),
        |seeds AS (SELECT p_partkey AS pk FROM part WHERE p_brand = 'Brand#11'),
        |sn AS (SELECT n.pk, CASE WHEN s.pk IS NULL THEN 0 ELSE 1 END AS is_seed
        |       FROM nodes n LEFT JOIN seeds s ON s.pk = n.pk),
        |r0 AS (SELECT pk, CAST(is_seed * 1000000000000 AS BIGINT) AS r FROM sn),
        |m1 AS (SELECT e.dst AS pk, CAST(sum((r.r // d.outdeg) * e.w) AS BIGINT) AS m
        |       FROM edges e JOIN deg d ON d.src = e.src JOIN r0 r ON r.pk = e.src GROUP BY 1),
        |r1 AS (SELECT sn.pk, CAST(sn.is_seed * 150000000000 + (COALESCE(m1.m, 0) * 85) // 100 AS BIGINT) AS r
        |       FROM sn LEFT JOIN m1 ON m1.pk = sn.pk),
        |m2 AS (SELECT e.dst AS pk, CAST(sum((r.r // d.outdeg) * e.w) AS BIGINT) AS m
        |       FROM edges e JOIN deg d ON d.src = e.src JOIN r1 r ON r.pk = e.src GROUP BY 1),
        |r2 AS (SELECT sn.pk, CAST(sn.is_seed * 150000000000 + (COALESCE(m2.m, 0) * 85) // 100 AS BIGINT) AS r
        |       FROM sn LEFT JOIN m2 ON m2.pk = sn.pk)
        |SELECT pk AS part_key, r AS ppr_score FROM r2""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val li = t.lineitem.select("l_orderkey", "l_partkey")
      val seeds = t.part.filter(col("p_brand") === "Brand#11")
        .select(col("p_partkey").as("pk"))
      val (edges, nodes) = coGraph(spark, li)
      personalizedPageRank(edges, nodes, seeds, iters = 2, r0 = 1000000000000L)
        .select(col("pk").as("part_key"), col("r").as("ppr_score"))
    },

    // ── graph_label_prop: community detection by synchronous label
    // propagation (Raghavan, Albert & Kumara 2007, "Near linear time
    // algorithm to detect community structures") over the same weighted
    // co-purchase graph — each round every node adopts the label with
    // the largest incoming edge-weight mass, ties broken by the SMALLEST
    // label so the sync update is a deterministic function of the
    // previous labeling (classic async LPA is run-order-dependent — that
    // variant cannot be hash-checked and cannot be distributed without a
    // coordination story; the deterministic sync form is the one a 100 TB
    // engine can actually ship). Fixed 2 rounds (convergence is not the
    // demo; label cascades are). All-BIGINT: weights and label ids only.
    OpQuery.checked(
      "graph_label_prop",
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |edges AS MATERIALIZED (SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(count(*) AS BIGINT) AS w
        |          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |          GROUP BY 1, 2),
        |nodes AS (SELECT DISTINCT l_partkey AS pk FROM li),
        |l0 AS (SELECT pk, pk AS lbl FROM nodes),
        |n1 AS (SELECT e.dst AS pk, r.lbl, CAST(sum(e.w) AS BIGINT) AS wsum
        |       FROM edges e JOIN l0 r ON r.pk = e.src GROUP BY 1, 2),
        |b1 AS (SELECT pk, lbl FROM (
        |         SELECT pk, lbl, row_number() OVER (PARTITION BY pk ORDER BY wsum DESC, lbl ASC) AS rn
        |         FROM n1) WHERE rn = 1),
        |l1 AS (SELECT n.pk, COALESCE(b1.lbl, n.pk) AS lbl FROM nodes n LEFT JOIN b1 ON b1.pk = n.pk),
        |n2 AS (SELECT e.dst AS pk, r.lbl, CAST(sum(e.w) AS BIGINT) AS wsum
        |       FROM edges e JOIN l1 r ON r.pk = e.src GROUP BY 1, 2),
        |b2 AS (SELECT pk, lbl FROM (
        |         SELECT pk, lbl, row_number() OVER (PARTITION BY pk ORDER BY wsum DESC, lbl ASC) AS rn
        |         FROM n2) WHERE rn = 1),
        |l2 AS (SELECT n.pk, COALESCE(b2.lbl, n.pk) AS lbl FROM nodes n LEFT JOIN b2 ON b2.pk = n.pk)
        |SELECT pk AS part_key, CAST(lbl AS BIGINT) AS community FROM l2""".stripMargin
    ) { (spark, dir) =>
      val li = Tables(spark, dir).lineitem.select("l_orderkey", "l_partkey")
      val (edges, nodes) = coGraph(spark, li)
      labelProp(edges, nodes, iters = 2)
        .select(col("pk").as("part_key"), col("lbl").as("community"))
    },

    // ── graph_triangles: per-node triangle participation over the same
    // co-purchase graph — the clustering/cohesion primitive (and the
    // classic MapReduce skew case study: Suri & Vassilvitskii, WWW'11,
    // "Counting Triangles and the Curse of the Last Reducer"). The
    // physical plan uses exactly their cure: orient every undirected
    // edge from the lower to the higher endpoint under the (degree, id)
    // total order, so wedge enumeration fans out from each node's
    // ORIENTED out-neighborhood — bounded by O(√m) even at a celebrity
    // node whose raw degree is unbounded — and each triangle surfaces
    // exactly once, at its (degree, id)-minimal apex. The oracle is the
    // direct a<b<c three-way join: orientation is physical strategy
    // only, the result multiset is identical. All-BIGINT, hash-exact.
    OpQuery.checked(
      "graph_triangles",
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |canon AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u, greatest(a.l_partkey, b.l_partkey) AS v
        |          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |        FROM canon e1 JOIN canon e2 ON e2.u = e1.u AND e2.v > e1.v
        |        JOIN canon e3 ON e3.u = e1.v AND e3.v = e2.v),
        |corners AS (SELECT a AS pk FROM tri UNION ALL SELECT b AS pk FROM tri
        |            UNION ALL SELECT c AS pk FROM tri),
        |nodes AS (SELECT DISTINCT l_partkey AS pk FROM li)
        |SELECT n.pk AS part_key, CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_triangles
        |FROM nodes n LEFT JOIN (SELECT pk, count(*) AS n FROM corners GROUP BY 1) cnt
        |  ON cnt.pk = n.pk""".stripMargin
    ) { (spark, dir) =>
      val li = Tables(spark, dir).lineitem.select("l_orderkey", "l_partkey")
      val (edges, nodes) = coGraph(spark, li)
      triangles(pairsOf(edges), nodes)
        .select(col("pk").as("part_key"), col("n").as("n_triangles"))
    },

    // ── graph_edge_jaccard: tie strength for every co-purchase edge —
    // common-neighbor count and neighborhood Jaccard (the embeddedness
    // measure of Easley & Kleinberg ch.3, and the "customers also
    // bought" similarity primitive). Common neighbors of an ADJACENT
    // pair are exactly the triangles through the edge, so the counting
    // rides the degree-oriented triangle enumeration instead of raw
    // wedge fan-out (Σdeg² — unbounded at a hub); the Jaccard is one
    // BIGINT/BIGINT division, bit-identical in both engines. Linear
    // output: one row per edge.
    OpQuery.checked(
      "graph_edge_jaccard",
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |canon AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u, greatest(a.l_partkey, b.l_partkey) AS v
        |          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT pk, CAST(count(*) AS BIGINT) AS d FROM (
        |          SELECT u AS pk FROM canon UNION ALL SELECT v AS pk FROM canon) GROUP BY 1),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |        FROM canon e1 JOIN canon e2 ON e2.u = e1.u AND e2.v > e1.v
        |        JOIN canon e3 ON e3.u = e1.v AND e3.v = e2.v),
        |sides AS (SELECT a AS u, b AS v FROM tri UNION ALL SELECT a, c FROM tri
        |          UNION ALL SELECT b, c FROM tri),
        |common AS (SELECT u, v, CAST(count(*) AS BIGINT) AS n_common FROM sides GROUP BY 1, 2)
        |SELECT e.u, e.v, CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common,
        |       COALESCE(c.n_common, 0) / (du.d + dv.d - COALESCE(c.n_common, 0)) AS jaccard
        |FROM canon e
        |LEFT JOIN common c ON c.u = e.u AND c.v = e.v
        |JOIN deg du ON du.pk = e.u
        |JOIN deg dv ON dv.pk = e.v""".stripMargin
    ) { (spark, dir) =>
      val li = Tables(spark, dir).lineitem.select("l_orderkey", "l_partkey")
      edgeJaccard(pairsOf(coGraph(spark, li)._1))
    },

    // ── graph_khop_reach: multi-source BFS — minimum hop distance from a
    // seed set, bounded at 3 hops, over the strong (w ≥ 2) co-purchase
    // edges ("which parts are within k recommendation steps of this
    // brand"). The Spark side is DELTA-FRONTIER BFS: each round expands
    // only the nodes discovered last round (join frontier→edges, then
    // anti-join against the reached KEYS), so the expensive edge-side
    // shuffle carries the frontier, not the whole reached set — the shape
    // that survives graphs where |reached| ≫ |frontier|. The reached set
    // accumulates as a union of per-round distinct frontiers, so min-hop
    // is by construction (first discovery wins) — no min-aggregate over
    // re-discoveries, no window. The oracle unrolls the same three
    // rounds as EXCEPT-chained CTEs. All-BIGINT, hash-exact.
    OpQuery.checked(
      "graph_khop_reach",
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |edges AS MATERIALIZED (SELECT a.l_partkey AS src, b.l_partkey AS dst
        |          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |          GROUP BY 1, 2 HAVING count(*) >= 2),
        |l0 AS (SELECT p_partkey AS pk FROM part WHERE p_brand = 'Brand#11'),
        |n1 AS (SELECT DISTINCT e.dst AS pk FROM edges e JOIN l0 ON l0.pk = e.src
        |       EXCEPT SELECT pk FROM l0),
        |n2 AS (SELECT DISTINCT e.dst AS pk FROM edges e JOIN n1 ON n1.pk = e.src
        |       EXCEPT (SELECT pk FROM l0 UNION ALL SELECT pk FROM n1)),
        |n3 AS (SELECT DISTINCT e.dst AS pk FROM edges e JOIN n2 ON n2.pk = e.src
        |       EXCEPT (SELECT pk FROM l0 UNION ALL SELECT pk FROM n1 UNION ALL SELECT pk FROM n2))
        |SELECT pk AS part_key, CAST(0 AS BIGINT) AS hops FROM l0
        |UNION ALL SELECT pk, CAST(1 AS BIGINT) FROM n1
        |UNION ALL SELECT pk, CAST(2 AS BIGINT) FROM n2
        |UNION ALL SELECT pk, CAST(3 AS BIGINT) FROM n3""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val li = t.lineitem.select("l_orderkey", "l_partkey")
      val strong = coGraph(spark, li)._1.filter(col("w") >= 2).select("src", "dst")
      val seeds = t.part.filter(col("p_brand") === "Brand#11")
        .select(col("p_partkey").as("pk"))
      khopReach(strong, seeds, hops = 3)
        .select(col("pk").as("part_key"), col("hops"))
    },

    // ── graph_kcore: k-core decomposition (here: the 3-core of the
    // strong co-purchase graph) by synchronous peeling — each round
    // drops every node whose degree among the SURVIVORS is < k, until
    // fixpoint (Matula & Beck 1983; the distributed formulation of
    // Montresor et al. 2013). The dense-subgraph gate graph pipelines
    // run before community/influence analysis: the k-core is where the
    // recommendation signal actually lives. Spark runs the peel as a
    // fixed-round loop of [degree aggregate → threshold filter] —
    // each round is one map-side-combined count over edges semi-joined
    // to the survivor set on BOTH endpoints, so a round's shuffle
    // carries (edge endpoint, 1) pairs at survivor grain and hot nodes
    // arrive pre-reduced; no windows anywhere. GraphOpsSpec asserts
    // the fixpoint is actually reached within the unrolled budget (the
    // last two rounds agree) — the bounded-round/convergence contract
    // graph_khop_reach and graph_pagerank already use. The oracle
    // unrolls the same rounds as chained CTEs.
    OpQuery.checked(
      "graph_kcore",
      kcoreSql(rounds = 6, k = 3)
    ) { (spark, dir) =>
      val li = Tables(spark, dir).lineitem.select("l_orderkey", "l_partkey")
      val strong = coGraph(spark, li)._1.filter(col("w") >= 2).select("src", "dst")
      kcore(strong, k = 3, rounds = 6)
        .select(col("pk").as("part_key"), col("core_deg"))
    },

    // ── graph_coreness: core decomposition — coreness(v) = max k ≤ K
    // such that v survives the k-core peel — the standard graph
    // importance tier (Matula & Beck 1983; distributed as repeated
    // synchronous peels, Montresor et al. 2013). The contract is
    // EXPLICITLY min(coreness, K): with budget K=3 the verification
    // graph's spectrum is complete (its 4-core is empty at sf0.01 —
    // GraphOpsSpec asserts it; denser graphs, e.g. sf0.001's 200-part
    // baskets, genuinely cap at K). Coreness = max surviving k per
    // node — a plain union + max aggregation, no window. The basket
    // self-join is paid ONCE: the strong edge set is checkpointed
    // before the three peels, so each additional k costs only its
    // survivor rounds over the materialized edges.
    OpQuery.checked(
      "graph_coreness",
      corenessSql(rounds = 6, kMax = 3)
    ) { (spark, dir) =>
      val li = Tables(spark, dir).lineitem.select("l_orderkey", "l_partkey")
      // partitioned by src before the shared checkpoint — all three
      // peels' per-round degree aggregates reuse the layout (see kcore)
      val strong = coGraph(spark, li)._1.filter(col("w") >= 2).select("src", "dst")
        .repartition(col("src")).localCheckpoint(true)
      // k = 1 is the IDENTITY peel on a symmetric edge list: every
      // present node keeps ≥ 1 in-set neighbor at round 0, so the
      // 1-core membership is the node set itself — zero peel rounds
      // (the oracle's c1 chain computes exactly this set). The tier
      // only needs membership, not degrees.
      val tier1 = strong.select(col("src").as("pk")).distinct().localCheckpoint(true)
      // incremental peel seeding: core(k+1) ⊆ core(k), so peel k+1
      // starts from peel k's survivor set instead of all nodes — the
      // early rounds that re-discover the (k)-core are skipped, and
      // each peel's cost is proportional to ITS survivor set
      var tiers = List(tier1.select(col("pk"), lit(1L).as("k")))
      // k=2 runs UNSEEDED: tier1 is exactly the unseeded start (all
      // present nodes), so passing it as a seed buys nothing and — when
      // the cascade outlives the round budget — would trip the seeded
      // fallback into re-running the identical peel. k=3 seeds from
      // k=2's survivors (a strict superset of the 3-core), where the
      // seeding actually sheds rounds.
      var seed: Option[DataFrame] = None
      for (k <- 2 to 3) {
        val surv = kcore(strong, k = k, rounds = 6, edgesMaterialized = true, seed = seed)
        seed = Some(surv.select("pk"))
        tiers ::= surv.select(col("pk"), lit(k).cast("long").as("k"))
      }
      tiers.reduce(_.unionByName(_))
        .groupBy(col("pk").as("part_key"))
        .agg(max(col("k")).as("coreness"))
    },

    // ── graph_ktruss: k-truss decomposition (k=3: every surviving edge
    // sits in ≥ 1 triangle among survivors) of the STRONG (weight ≥ 2)
    // co-purchase graph — the EDGE-grain sibling of graph_kcore's node
    // peel, on the same graph the whole peel family uses (Cohen 2008;
    // the cohesive-subgraph tier between cores and cliques: a k-truss
    // is a (k−1)-core of guaranteed triangle density, the community-
    // backbone extractor). Same synchronous-peel discipline as kcore:
    // each round enumerates triangles over the surviving canonical
    // (u < v) edges, credits each triangle's 3 edges by one map-side-
    // combined count, and drops edges under threshold; per-round
    // localCheckpoint + count-equality early exit (survivor edges are
    // monotone ⊆, so equal counts = fixpoint = every remaining round
    // identity). Budget 4 rounds, fixpoint-within-budget asserted at
    // the oracle scales; if a larger graph has not converged by the
    // budget, BOTH engines still agree — the oracle unrolls exactly the
    // same rounds. Output = surviving edges with final in-truss support
    // (the survive() guard pattern). The multi-round cascade is pinned
    // on a fixture (GraphOpsSpec's propped-triangle graph).
    OpQuery.checked(
      "graph_ktruss",
      ktrussSql(rounds = 4, support = 1)
    ) { (spark, dir) =>
      val li = Tables(spark, dir).lineitem.select("l_orderkey", "l_partkey")
      val strongCanon = coGraph(spark, li)._1
        .filter(col("w") >= 2 && col("src") < col("dst"))
        .select(col("src").as("u"), col("dst").as("v"))
      ktruss(strongCanon, support = 1, rounds = 4)
        .select(col("u").as("src"), col("v").as("dst"), col("sup").as("support"))
    }
  )

  /** Synchronous k-truss peel over a canonical (u < v) edge set: each
    * round keeps the edges with ≥ `support` triangles among last
    * round's survivors; returns the survivors with their final
    * within-truss support. The [[kcore]] loop discipline applies
    * verbatim: eager localCheckpoint per generation (the triangle
    * enumeration consumes the survivor set THREE times — without
    * materialization the plan tree would triple per round), superseded
    * generations released, count-equality early exit (edge sets are
    * monotone decreasing, so equal counts mean the fixpoint). */
  def ktruss(canon: DataFrame, support: Int, rounds: Int): DataFrame = {
    require(rounds >= 1, "at least one peel round")
    def rddsOf(df: DataFrame) = df.queryExecution.analyzed
      .collect { case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd }
    // support per canonical edge = triangle credits. The enumeration is
    // [[triangleList]]'s DEGREE-ordered orientation (wedges fan out from
    // each node's oriented out-neighborhood, O(√m)-bounded even at a
    // hub) — a plain ID-oriented apex join measured 52.8 s vs ~4 s at
    // sf0.1 on exactly this loop. Each triangle credits its 3 canonical
    // edges via ONE explode pass, then a map-side-combined count.
    def edgeSupport(e: DataFrame): DataFrame =
      triangleList(e)
        .select(explode(array(
          struct(least(col("s"), col("b")).as("u"), greatest(col("s"), col("b")).as("v")),
          struct(least(col("s"), col("c")).as("u"), greatest(col("s"), col("c")).as("v")),
          struct(col("b").as("u"), col("c").as("v")))).as("ed"))
        .select(col("ed.u").as("u"), col("ed.v").as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("sup"))
    // INCREMENTAL support maintenance (r19, guide §2.4 applied to the
    // loop body): round 1 pays the one full triangle enumeration;
    // every later round only enumerates the triangles DESTROYED by the
    // edges dropped last round (for each dropped edge (u, v), the
    // common neighbors w with (u, w) and (v, w) still present — work
    // proportional to the drop set's neighborhoods, not the graph) and
    // subtracts their credits. Exact, not approximate: triangles among
    // sᵣ = triangles among sᵣ₋₁ minus those touching D = sᵣ₋₁ ∖ sᵣ,
    // each destroyed triangle deduped on its sorted vertex triple and
    // credited to its 3 canonical edges once — so the maintained counts
    // equal a fresh enumeration round for round (the unrolled oracle
    // re-derives every round; GraphOpsSpec's propped-triangle cascade
    // pins the multi-round agreement).
    def destroyedDecrements(sPrev: DataFrame, d: DataFrame): DataFrame = {
      // symmetric adjacency of the set triangles were counted among
      val adj = sPrev.select(explode(array(
          struct(col("u").as("x"), col("v").as("w")),
          struct(col("v").as("x"), col("u").as("w")))).as("e"))
        .select(col("e.x").as("u"), col("e.w").as("w"))
      val tri = d
        .join(adj, Seq("u"))
        .filter(col("w") =!= col("v"))
        .join(sPrev.toDF("cu", "cv"),
          least(col("v"), col("w")) === col("cu") &&
            greatest(col("v"), col("w")) === col("cv"))
        .select(array_sort(array(col("u"), col("v"), col("w"))).as("t"))
        .select(element_at(col("t"), 1).as("a"),
          element_at(col("t"), 2).as("b"), element_at(col("t"), 3).as("c"))
        .distinct()
      tri.select(explode(array(
          struct(col("a").as("u"), col("b").as("v")),
          struct(col("a").as("u"), col("c").as("v")),
          struct(col("b").as("u"), col("c").as("v")))).as("ed"))
        .select(col("ed.u").as("u"), col("ed.v").as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("d"))
    }
    // LAZY checkpoints through this loop: each generation's count()
    // materializes the blocks in the SAME job (lineage truncated either
    // way) — eager form paid a separate materialization job per round
    val s0 = canon.select(col("u"), col("v")).localCheckpoint(false)
    var released = Seq.empty[org.apache.spark.rdd.RDD[_]]
    var n = s0.count()
    // loop invariant: `cur` = the survivors (u, v, sup) with sup counted
    // among `sPrev`'s edge set (exactly what each full-enumeration round
    // carried); count-equality early exit unchanged (edge sets are
    // monotone decreasing, so equal counts mean the fixpoint, and at the
    // fixpoint sPrev = cur's edges so the carried sup already IS the
    // final-set count)
    var sPrev = s0
    var cur = edgeSupport(s0).filter(col("sup") >= support).localCheckpoint(false)
    var c = cur.count()
    var fixed = c == n
    n = c
    for (_ <- 2 to rounds if !fixed) {
      val curEdges = cur.select(col("u"), col("v"))
      val dropped = sPrev.join(curEdges, Seq("u", "v"), "left_anti")
      val next = cur
        .join(destroyedDecrements(sPrev, dropped), Seq("u", "v"), "left_outer")
        .select(col("u"), col("v"),
          (col("sup") - coalesce(col("d"), lit(0L))).as("sup"))
        .filter(col("sup") >= support)
        .localCheckpoint(false)
      val c2 = next.count()
      released.foreach(_.unpersist(false))
      released = rddsOf(cur)
      sPrev = curEdges.localCheckpoint(false)
      cur = next
      fixed = c2 == n
      n = c2
    }
    if (fixed) cur
    else {
      // budget exhausted: the contract emits support counted among the
      // FINAL set, unfiltered except that only triangle-participating
      // edges appear (edgeSupport's shape) — one more decrement pass
      // instead of a full re-enumeration, keeping sup ≥ 1 rows
      val curEdges = cur.select(col("u"), col("v"))
      val dropped = sPrev.join(curEdges, Seq("u", "v"), "left_anti")
      cur.join(destroyedDecrements(sPrev, dropped), Seq("u", "v"), "left_outer")
        .select(col("u"), col("v"),
          (col("sup") - coalesce(col("d"), lit(0L))).as("sup"))
        .filter(col("sup") >= 1)
    }
  }

  /** Oracle for [[graph_ktruss]]: the same peel unrolled — s0 = the
    * canonical co-purchase pairs, each round re-derives triangle support
    * and keeps edges at the threshold; output = final survivor support. */
  private def ktrussSql(rounds: Int, support: Int): String = {
    def triOf(prev: String, t: String): String =
      s"""$t AS MATERIALIZED (SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |       FROM $prev e1 JOIN $prev e2 ON e2.u = e1.u AND e2.v > e1.v
         |       JOIN $prev e3 ON e3.u = e1.v AND e3.v = e2.v)""".stripMargin
    def supOf(t: String, s: String, filtered: Boolean): String =
      s"""$s AS MATERIALIZED (SELECT u, v, CAST(count(*) AS BIGINT) AS sup FROM (
         |         SELECT a AS u, b AS v FROM $t
         |         UNION ALL SELECT a, c FROM $t
         |         UNION ALL SELECT b, c FROM $t)
         |       GROUP BY 1, 2${if (filtered) s" HAVING count(*) >= $support" else ""})""".stripMargin
    val iters = (1 to rounds).map { i =>
      s"${triOf(s"s${i - 1}", s"t$i")},\n${supOf(s"t$i", s"s$i", filtered = true)}"
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |s0 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
       |       FROM li a JOIN li b
       |         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |       GROUP BY 1, 2 HAVING count(*) >= 2),
       |$iters,
       |${triOf(s"s$rounds", "tf")},
       |${supOf("tf", "sf", filtered = false)}
       |SELECT u AS src, v AS dst, sup AS support FROM sf""".stripMargin
  }

  /** Oracle for [[graph_coreness]]: one [[kcoreSql]]-style unrolled peel
    * chain per k (CTE prefixes c{k}_), coreness = max surviving k. */
  private def corenessSql(rounds: Int, kMax: Int): String = {
    val chains = (1 to kMax).map { k =>
      val iters = (1 to rounds).map { i =>
        s"""c${k}_$i AS MATERIALIZED (SELECT e.src AS pk FROM edges e
           |       JOIN c${k}_${i - 1} a ON a.pk = e.src JOIN c${k}_${i - 1} b ON b.pk = e.dst
           |       GROUP BY 1 HAVING count(*) >= $k)""".stripMargin
      }.mkString(",\n")
      s"""c${k}_0 AS MATERIALIZED (SELECT DISTINCT src AS pk FROM edges),
         |$iters""".stripMargin
    }.mkString(",\n")
    // membership mirrors kcore()'s final survive() exactly — survivors
    // with >= 1 in-core edge — NOT raw c{k}_rounds membership: if a peel
    // had not reached fixpoint by the budget, a round-`rounds` survivor
    // whose last in-core neighbors died that round would otherwise be
    // counted by the oracle but dropped by the Spark side
    val union = (1 to kMax)
      .map(k =>
        s"""SELECT e.src AS pk, $k AS k FROM edges e
           |JOIN c${k}_$rounds a ON a.pk = e.src JOIN c${k}_$rounds b ON b.pk = e.dst
           |GROUP BY 1""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |edges AS MATERIALIZED (SELECT a.l_partkey AS src, b.l_partkey AS dst
       |          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
       |          GROUP BY 1, 2 HAVING count(*) >= 2),
       |$chains
       |SELECT pk AS part_key, CAST(max(k) AS BIGINT) AS coreness
       |FROM ($union)
       |GROUP BY 1""".stripMargin
  }

  /** Synchronous k-core peel over a symmetric (src, dst) edge set: each
    * round keeps the nodes with ≥ k neighbors among last round's
    * survivors; after `rounds` rounds, returns (pk, core_deg) for the
    * survivors with their within-core degree. Callers own convergence:
    * the round budget must reach the fixpoint (asserted in
    * GraphOpsSpec for the co-purchase graph).
    *
    * Every survivor generation is eagerly localCheckpoint'd (the
    * [[graft.algo.ConnectedComponents]] discipline) and the superseded
    * one released: the survivor set feeds BOTH semi-join sides of the
    * next round, so without materialization the physical plan tree
    * duplicates the whole prior chain per side — ~2^rounds subtree
    * blowup (measured 35.9 s → 4.1 s at sf0.1 for 6 rounds; the
    * remainder is the basket self-join every co-purchase graph op
    * pays). One job per round, executor storage O(surviving nodes). */
  def kcore(
      edges: DataFrame,
      k: Int,
      rounds: Int,
      edgesMaterialized: Boolean = false,
      seed: Option[DataFrame] = None): DataFrame = {
    require(rounds >= 1, "at least one peel round")
    def rddsOf(df: DataFrame) = df.queryExecution.analyzed
      .collect { case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd }
    // the caller states materialization intent explicitly
    // (graph_coreness shares ONE localCheckpoint'd edge artifact across
    // its three peels — re-checkpointing it would store a redundant full
    // copy and pay a copy job per k); plan-shape sniffing would silently
    // recompute a non-checkpointed LogicalRDD source every round.
    // The edge set is HASH-PARTITIONED BY src before materializing
    // (r18): every peel round ends in groupBy("src"), and the
    // checkpointed layout satisfies that distribution, so each round's
    // degree aggregate runs exchange-free off the materialized edges
    // (the survivor semi-joins broadcast their small side) — one
    // partitioning paid once for the whole loop instead of a shuffle
    // per round, the classic iterative-workload layout (guide §2.4).
    val cached =
      if (edgesMaterialized) edges
      else edges.repartition(col("src")).localCheckpoint(true)
    def survive(core: DataFrame): DataFrame = cached
      .join(core.toDF("src"), Seq("src"), "left_semi")
      .join(core.toDF("dst"), Seq("dst"), "left_semi")
      .groupBy("src").agg(count(lit(1)).as("deg"))
    // seed = a known SUPERSET of the k-core (e.g. the (k−1)-core's
    // survivors: monotonicity gives core(k) ⊆ core(k−1)) — the peel
    // converges to the same fixpoint from any superset start, in no
    // more rounds than the from-scratch peel, so incremental seeding
    // only sheds work
    // LAZY checkpoints throughout the loop: the count() that follows
    // materializes the checkpoint in the SAME job, halving the per-round
    // job count — at small survivor frames the peel is scheduling-bound,
    // and at scale the fused job is simply one pass instead of two
    var core = seed
      .map(s => s.select(col(s.columns.head).as("pk")).localCheckpoint(false))
      .getOrElse(cached.select(col("src").as("pk")).distinct().localCheckpoint(false))
    var prev = rddsOf(core).filterNot(rddsOf(cached).contains)
    // early exit at the observed fixpoint: generations are MONOTONE
    // (round i's survivors appear as src among round i−1's set, so
    // next ⊆ core), hence equal COUNTS mean equal sets, and a round
    // that peeled nothing makes every remaining round identity. The
    // count is a bounded driver read off the eagerly-checkpointed
    // generation (a cached-partition scan, no recompute); seeded peels
    // typically stabilize in 1-2 rounds, so this is what converts
    // incremental seeding into actual savings (and from-scratch peels
    // stop paying for budget rounds past their fixpoint).
    var coreN = core.count()
    var fixed = false
    // generations carry (pk, deg): at the observed fixpoint the last
    // round's degrees WERE computed against a set equal to the final
    // one, so the trailing survive() pass below is redundant exactly
    // when the early exit fires — the common case pays one survive per
    // round and nothing after
    var lastGen: Option[DataFrame] = None
    for (_ <- 1 to rounds if !fixed) {
      val next = survive(core).filter(col("deg") >= k)
        .select(col("src").as("pk"), col("deg")).localCheckpoint(false)
      val n = next.count()
      prev.foreach(_.unpersist(false))
      prev = rddsOf(next).filterNot(rddsOf(cached).contains)
      core = next.select("pk")
      lastGen = Some(next)
      fixed = n == coreN
      coreN = n
    }
    // Seeded-peel semantics guard: a seeded peel that exhausts its round
    // budget WITHOUT an observed fixpoint may sit strictly inside the
    // from-scratch iterate at the same round count — the "both engines
    // run exactly the same rounds" contract the unseeded peel has with
    // its unrolled-CTE oracle no longer holds, and the divergence would
    // be silent and seed-dependent. Fall back to the unseeded peel (same
    // budget): if THAT converges the results agree anyway, and if not,
    // engine and oracle at least run the identical round chain again.
    // The common case never pays this — convergence is observed well
    // inside the budget and the early exit fires.
    if (seed.isDefined && !fixed) {
      prev.foreach(_.unpersist(false))
      return kcore(cached, k, rounds, edgesMaterialized = true, seed = None)
    }
    // the edge artifact and the final generation back the returned frame;
    // the ContextCleaner reclaims them once the result is unreferenced.
    // At a fixpoint the final survive() ≡ the last generation (equal
    // sets ⇒ equal in-core degrees) — only a budget-exhausted unseeded
    // peel still needs the explicit pass (and then MUST run it: the
    // oracle's final membership is survive(c_rounds), not c_rounds).
    lastGen match {
      case Some(g) if fixed => g.select(col("pk"), col("deg").as("core_deg"))
      case _ => survive(core).select(col("src").as("pk"), col("deg").as("core_deg"))
    }
  }

  /** Oracle for [[graph_kcore]]: the same peel unrolled as chained CTEs
    * — n0 = all vertices, n_i = vertices with ≥ k surviving neighbors
    * in n_{i-1}; output = final survivor degrees. */
  private def kcoreSql(rounds: Int, k: Int): String = {
    val iters = (1 to rounds).map { i =>
      s"""n$i AS MATERIALIZED (SELECT e.src AS pk FROM edges e
         |       JOIN n${i - 1} a ON a.pk = e.src JOIN n${i - 1} b ON b.pk = e.dst
         |       GROUP BY 1 HAVING count(*) >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |edges AS MATERIALIZED (SELECT a.l_partkey AS src, b.l_partkey AS dst
       |          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
       |          GROUP BY 1, 2 HAVING count(*) >= 2),
       |n0 AS MATERIALIZED (SELECT DISTINCT src AS pk FROM edges),
       |$iters
       |SELECT e.src AS part_key, CAST(count(*) AS BIGINT) AS core_deg
       |FROM edges e
       |JOIN n$rounds a ON a.pk = e.src JOIN n$rounds b ON b.pk = e.dst
       |GROUP BY 1""".stripMargin
  }

  /** The directed weighted co-purchase edge list: one (src, dst, w) row
    * per ordered part pair that shares an order, w = co-occurrence count.
    * Symmetric by construction (both directions emitted), basket-bounded
    * self-join, map-side-combined weights. */
  def coEdges(li: DataFrame): DataFrame =
    li.toDF("ok", "src").join(li.toDF("ok", "dst"), "ok")
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))

  /** Parquet root for the persisted canonical co-purchase graph
    * (weighted symmetric edges + node set), hive-partitioned by corpus
    * fingerprint. */
  val GraphArtifactDir = graft.Artifacts.Root + "/graphdata"

  /** The canonical co-purchase graph, built ONCE per corpus and
    * persisted — every graph op used to re-pay the basket self-join
    * ([[coEdges]]) per query, the floor under the whole graph tier
    * (the #1 bench query's cost was mostly this join). Now the first
    * op per corpus materializes (edges, nodes) under a fingerprint
    * partition (lineitem row count — the io_zonemap_audit discipline)
    * and every later op — kcore, coreness, ktruss, pagerank, ppr,
    * label-prop, triangles, jaccard, khop — reads the same parquet,
    * exactly how a production deployment shares one edge artifact
    * across its graph workload.
    *
    * The artifact is a pure relational derivation, deterministic as a
    * SET, so the DuckDB oracles keep deriving the edges from lineitem
    * INDEPENDENTLY — a stronger check than replaying persisted bytes
    * (both engines must agree on the derivation, not just on what
    * follows it), which is why this needs no byte-determinism care
    * and no oracle read_parquet. Existence is gated on the _SUCCESS
    * marker, so a torn earlier write rebuilds. */
  // single-slot fingerprint memo keyed by graft.Artifacts.inputsKey:
  // all nine graph ops derive `li` identically per corpus, so a sweep
  // pays the fingerprint scan once, not nine times (the SimOps.corpusFp
  // discipline), and an in-place rewrite of lineitem re-fingerprints
  private var fpMemo: Option[((Int, BigInt, Int, Long), Long)] = None

  private[ops] def coGraph(
      spark: org.apache.spark.sql.SparkSession, li: DataFrame): (DataFrame, DataFrame) =
    GraphOps.synchronized {
      // CONTENT fingerprint, not a row count: an order-free sum of
      // per-row xxhash64(l_orderkey, l_partkey) residues — two corpora
      // with equal row counts but different rows get different
      // partitions. The sum rides DECIMAL(38,0) (a raw BIGINT sum of
      // hashes overflows, which ANSI mode — Spark 4's default — turns
      // into a job failure) and folds to a long driver-side. No oracle
      // mirrors this value — the oracles derive the edges from
      // lineitem independently.
      val memoKey = graft.Artifacts.inputsKey(li)
      val fp = fpMemo match {
        case Some((k, v)) if k == memoKey => v
        case _ =>
          val v = graft.Artifacts.decFp(li,
            pmod(xxhash64(col(li.columns.head), col(li.columns(1))), lit(1000000007L)))
          fpMemo = Some((memoKey, v))
          v
      }
      val ep = s"$GraphArtifactDir/co_edges.parquet/corpus_fp=$fp"
      val np = s"$GraphArtifactDir/co_nodes.parquet/corpus_fp=$fp"
      if (!graft.Artifacts.ready(spark, ep)) coEdges(li).write.mode("overwrite").parquet(ep)
      if (!graft.Artifacts.ready(spark, np)) coNodes(li).write.mode("overwrite").parquet(np)
      (graft.Artifacts.read(spark, ep), graft.Artifacts.read(spark, np))
    }

  /** Canonical (u < v) unweighted pairs off the persisted edge set —
    * the (src, dst) grain is already distinct, so this is a pure
    * filter+project over the artifact. */
  private def pairsOf(edges: DataFrame): DataFrame =
    edges.filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))

  /** One (pk) row per vertex of the co-purchase graph. */
  def coNodes(li: DataFrame): DataFrame =
    li.select(col("l_partkey").as("pk")).distinct()

  /** The undirected co-purchase edge set in canonical (u < v) form —
    * the unweighted counterpart of [[coEdges]] the triangle ops need. */
  def coPairs(li: DataFrame): DataFrame =
    li.toDF("ok", "u").join(li.toDF("ok", "v"), "ok")
      .filter(col("u") < col("v")).select("u", "v").distinct()

  /** Fixed-iteration synchronous weighted label propagation. Each round,
    * every node adopts argmax-by-weight over its in-neighbors' current
    * labels (smallest label on ties); neighborless nodes keep their own.
    * The argmax is a struct-max AGGREGATION — (wsum, -lbl) max picks
    * exactly "heaviest, then smallest label" — so the hot-node path is
    * map-side-combinable, window-free, and skew-safe; the oracle states
    * the same choice as a row_number window, which is fine single-node
    * but would sort a celebrity node's whole neighborhood on one task
    * at cluster scale. Returns (pk, lbl). */
  def labelProp(edges: DataFrame, nodes: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "at least one propagation round")
    val cached = edges.cache()
    var labels = nodes.select(col("pk"), col("pk").as("lbl"))
    for (_ <- 1 to iters) {
      val best = cached.join(labels.select(col("pk").as("src"), col("lbl")), "src")
        .groupBy(col("dst"), col("lbl")).agg(sum("w").as("wsum"))
        .groupBy("dst").agg(max(struct(col("wsum"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("dst").as("pk"), (-col("m.neg")).as("best_lbl"))
      labels = nodes.join(best, Seq("pk"), "left_outer")
        .select(col("pk"), coalesce(col("best_lbl"), col("pk")).as("lbl"))
    }
    labels
  }

  /** Personalized (topic-sensitive) PageRank: [[pageRank]]'s integer
    * fixed-point with the teleport base restricted to `seeds`. Non-seed
    * nodes start at 0 and receive no re-base, so rank is proximity to
    * the seed set; the `r > 0` frontier filter is a pure optimization
    * (zero ranks contribute zero mass) that keeps early rounds' shuffles
    * proportional to the reached neighborhood, not the graph. */
  def personalizedPageRank(
      edges: DataFrame, nodes: DataFrame, seeds: DataFrame,
      iters: Int, r0: Long): DataFrame = {
    require(iters >= 1, "at least one power-iteration round")
    val base = (r0 * 15L) / 100L
    val deg = edges.groupBy("src").agg(sum("w").as("outdeg"))
    val esd = edges.join(deg, "src").cache()
    val seeded = nodes
      .join(seeds.select(col("pk"), lit(1L).as("is_seed")), Seq("pk"), "left_outer")
      .select(col("pk"), coalesce(col("is_seed"), lit(0L)).as("is_seed")).cache()
    var ranks = seeded.select(col("pk"), (col("is_seed") * r0).as("r"))
    for (_ <- 1 to iters) {
      val mass = esd.join(ranks.filter(col("r") > 0).withColumnRenamed("pk", "src"), "src")
        .select(col("dst"), (expr("r div outdeg") * col("w")).as("c"))
        .groupBy("dst").agg(sum("c").as("m"))
      ranks = seeded.join(mass.withColumnRenamed("dst", "pk"), Seq("pk"), "left_outer")
        .select(col("pk"),
          (col("is_seed") * base + expr("(coalesce(m, cast(0 as bigint)) * 85) div 100")).as("r"))
    }
    ranks
  }

  /** Delta-frontier multi-source BFS. `edges` is a directed (src, dst)
    * list (emit both directions for undirected graphs), `seeds` one (pk)
    * row per source (hop 0, graph membership not required). Each round
    * the edge join touches only the LAST round's frontier, so the
    * expensive expansion (the edge shuffle, proportional to frontier
    * out-degree) tracks the frontier; the novelty filter is an anti-join
    * against the reached set PROJECTED TO ITS 8-BYTE KEY — that
    * key-column shuffle grows with |reached|, the unavoidable cost of
    * exact visited-set semantics (at 100 TB one would co-partition
    * frontier and visited set by pk so rounds 2+ reuse the layout, or
    * accept false-negatives from a Bloom visited filter). Returns
    * (pk, hops: long) for every node within `hops` of a seed — minimum
    * distance by construction, since a node joins the reached set the
    * first round it appears and is excluded thereafter. */
  def khopReach(edges: DataFrame, seeds: DataFrame, hops: Int): DataFrame = {
    require(hops >= 1, "at least one expansion round")
    val e = edges.cache()
    var frontier = seeds.select(col("pk")).distinct().cache()
    var reached = frontier.select(col("pk"), lit(0L).as("hops"))
    for (i <- 1 to hops) {
      frontier = e.join(frontier.withColumnRenamed("pk", "src"), "src")
        .select(col("dst").as("pk")).distinct()
        .join(reached.select("pk"), Seq("pk"), "left_anti")
        .cache()
      reached = reached.union(frontier.select(col("pk"), lit(i.toLong).as("hops")))
    }
    reached
  }

  /** Per-vertex degree of the canonical (u < v) edge set. */
  private def degrees(pairs: DataFrame): DataFrame =
    pairs.select(col("u").as("pk")).union(pairs.select(col("v").as("pk")))
      .groupBy("pk").agg(count(lit(1)).as("d"))

  /** One (s, b, c) row per triangle of the canonical (u < v) edge set —
    * s is the (degree, id)-minimal apex, b < c by id. Degree-ordered
    * orientation per Suri & Vassilvitskii bounds the wedge fan-out at
    * hub nodes; each triangle surfaces exactly once. */
  def triangleList(pairs: DataFrame): DataFrame = {
    // the edge set feeds four plan arms (two degree joins, the wedge
    // build, the closure probe) — cache it or the upstream derivation
    // (a fact self-join) re-runs once per arm
    val p = pairs.cache()
    val deg = degrees(p)
    val withDeg = p
      .join(deg.select(col("pk").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("pk").as("v"), col("d").as("dv")), "v")
    val uFirst = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    // one oriented edge per undirected edge; cached — the wedge join
    // reads it twice (and at cluster scale it is the persisted artifact)
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("s"),
      when(uFirst, col("v")).otherwise(col("u")).as("t")).cache()
    val wedges = oriented.toDF("s", "b").join(oriented.toDF("s", "c"), "s")
      .filter(col("b") < col("c"))
    // closure: the third side in canonical (u < v) form is exactly (b, c)
    wedges.join(p.toDF("b", "c"), Seq("b", "c")).select("s", "b", "c")
  }

  /** Per-node triangle counts for an undirected graph given as canonical
    * (u < v) edges. Returns (pk, n) for every node in `nodes`, n = 0 for
    * triangle-free nodes. */
  def triangles(pairs: DataFrame, nodes: DataFrame): DataFrame = {
    val tri = triangleList(pairs)
    // ONE explode pass, not a 3-arm union: the union arms would each
    // re-run the (uncached) wedge+closure joins — the triangle
    // enumeration is the expensive pass and was paying 3× (the ktruss
    // edgeSupport explode discipline, applied here). Same multiset of
    // corner rows, same counts.
    val corners = tri
      .select(explode(array(col("s"), col("b"), col("c"))).as("pk"))
    nodes.join(corners.groupBy("pk").agg(count(lit(1)).as("cnt")), Seq("pk"), "left_outer")
      .select(col("pk"), coalesce(col("cnt"), lit(0L)).cast("long").as("n"))
  }

  /** Per-edge neighborhood overlap (tie strength): for every canonical
    * edge, the number of common neighbors — the triangles through the
    * edge, so the skew-guarded [[triangleList]] does the heavy lifting —
    * and the neighborhood Jaccard n∩/(deg(u)+deg(v)−n∩). Returns
    * (u, v, n_common, jaccard). */
  def edgeJaccard(pairs: DataFrame): DataFrame = {
    val p = pairs // triangleList caches this same object for all arms
    val tri = triangleList(p)
    // each triangle strengthens all three of its sides; s is not
    // id-ordered against b/c, so those two sides re-canonicalize.
    // ONE explode pass, not a 3-arm union — the union arms would each
    // re-run the (uncached) wedge+closure joins, tripling the triangle
    // enumeration (the ktruss edgeSupport explode discipline).
    val sides = tri
      .select(explode(array(
        struct(least(col("s"), col("b")).as("u"), greatest(col("s"), col("b")).as("v")),
        struct(least(col("s"), col("c")).as("u"), greatest(col("s"), col("c")).as("v")),
        struct(col("b").as("u"), col("c").as("v")))).as("sd"))
      .select(col("sd.u").as("u"), col("sd.v").as("v"))
    val common = sides.groupBy("u", "v").agg(count(lit(1)).as("nc"))
    val deg = degrees(p)
    val nCommon = coalesce(col("nc"), lit(0L))
    p.join(common, Seq("u", "v"), "left_outer")
      .join(deg.select(col("pk").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("pk").as("v"), col("d").as("dv")), "v")
      .select(col("u"), col("v"), nCommon.as("n_common"),
        (nCommon / (col("du") + col("dv") - nCommon)).as("jaccard"))
  }
}
