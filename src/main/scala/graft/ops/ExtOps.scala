package graft.ops

import graft.{Norm, Tables}
import graft.etl.Scd2
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3 extension operators: the remaining analytic-SQL surface
  * (as-of join, first/last/nth window values, median + deterministic
  * mode, set operations, unpivot, stratified sampling, bucketed-table
  * co-located joins) plus two more training-data text ops (tf-idf term
  * ranking, PII redaction).
  *
  * Scale posture follows the repo rules: windows partition on high-
  * cardinality keys, joins on corpus-sized sides are shuffle joins on
  * small keys, per-row text work is codegen'd projections, and the one
  * deliberately-physical demo (`io_bucketed_join`) shows the bucketing
  * path that removes the join shuffle entirely at 100 TB.
  */
object ExtOps {

  /** The zonemap layout's range-cut fan-out, baked into [[ZonemapDir]]'s
    * name so a layout change misses the skip-if-present `_SUCCESS` gate
    * mechanically (dir name keys the config, fingerprint partition keys
    * the corpus). */
  private[ops] val ZonemapCuts = 8

  /** Fixed parquet location for io_zonemap_audit's clustered layout —
    * inside the repo so the oracle reads the same files after the Spark
    * JVM exits (the [[PipelineOps.BpeDictDir]] pattern). */
  val ZonemapDir = graft.Artifacts.Root + s"/zonemapdata_c$ZonemapCuts"

  val ops: Seq[OpQuery] = Seq(
    // ── join_asof: for every click, the latest view of the same user at
    // or before it (the reference's closest analog is the range joins of
    // 13_InsertSalesAndOrders.sql:43; as-of is its streaming-world
    // generalization). NOT a pair join: the idiomatic scale shape is
    // union + running max over (user, time) — one shuffle on user_id and
    // zero per-user pair blowup, where an equi-join with ts<=ts would go
    // quadratic inside heavy users.
    OpQuery.checked(
      "join_asof",
      """WITH ev AS (
        |  SELECT event_id, user_id, ts, event_type,
        |         CASE WHEN event_type = 'view' THEN ts END AS view_ts
        |  FROM events WHERE event_type IN ('view', 'click')),
        |w AS (
        |  SELECT event_id, user_id, ts, event_type,
        |         max(view_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_view_ts
        |  FROM ev)
        |SELECT event_id, user_id, ts, asof_view_ts
        |FROM w WHERE event_type = 'click'""".stripMargin
    ) { (spark, dir) =>
      val ev = Tables(spark, dir).events
        .filter(col("event_type").isin("view", "click"))
        .select(
          col("event_id"), col("user_id"), col("ts"), col("event_type"),
          when(col("event_type") === "view", col("ts")).as("view_ts"))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("asof_view_ts", max(col("view_ts")).over(w))
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("asof_view_ts"))
    },

    // ── join_asof_tolerance: as-of with a MAX-GAP bound — the
    // attribution-window form every ad/event pipeline actually runs
    // ("the latest view within 1 hour of the click", not "ever"):
    // join_asof's union + running-max shape (one shuffle on user_id,
    // zero per-user pair blowup), then the tolerance applied as a plain
    // post-filter on the matched timestamp — a view older than the
    // window nulls out, exactly pandas merge_asof(tolerance=...) /
    // QuestDB ASOF ... TOLERANCE semantics. The gap rides as BIGINT
    // microseconds (unix_micros ↔ epoch_us, integer in both engines;
    // second-granularity epoch() is a DOUBLE in DuckDB and not hashable
    // bit-exactly).
    OpQuery.checked(
      "join_asof_tolerance",
      """WITH ev AS (
        |  SELECT event_id, user_id, ts, event_type,
        |         CASE WHEN event_type = 'view' THEN ts END AS view_ts
        |  FROM events WHERE event_type IN ('view', 'click')),
        |w AS (
        |  SELECT event_id, user_id, ts, event_type,
        |         max(view_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS raw_asof
        |  FROM ev),
        |g AS (
        |  SELECT event_id, user_id, ts,
        |         epoch_us(ts) - epoch_us(raw_asof) AS gap_us, raw_asof
        |  FROM w WHERE event_type = 'click')
        |SELECT event_id, user_id, ts,
        |       CASE WHEN gap_us <= 3600000000 THEN raw_asof END AS asof_view_ts,
        |       CASE WHEN gap_us <= 3600000000 THEN gap_us END AS gap_us
        |FROM g""".stripMargin
    ) { (spark, dir) =>
      val ev = Tables(spark, dir).events
        .filter(col("event_type").isin("view", "click"))
        .select(
          col("event_id"), col("user_id"), col("ts"), col("event_type"),
          when(col("event_type") === "view", col("ts")).as("view_ts"))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tolUs = 3600L * 1000000L
      ev.withColumn("raw_asof", max(col("view_ts")).over(w))
        .filter(col("event_type") === "click")
        .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(col("raw_asof")))
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("gap_us") <= tolUs, col("raw_asof")).as("asof_view_ts"),
          when(col("gap_us") <= tolUs, col("gap_us")).as("gap_us"))
    },

    // ── win_first_last: FIRST_VALUE / LAST_VALUE / NTH_VALUE over the
    // full partition frame (SURVEY §2.5 noted frames unused by the
    // reference; this is the standard frame-dependent value family).
    // Total order inside the partition (date, key) makes every value
    // deterministic; the frame must be explicit — the default frame ends
    // at CURRENT ROW and would break last_value in both engines.
    OpQuery.checked(
      "win_first_last",
      """SELECT DISTINCT o_custkey,
        |  first_value(o_orderdate) OVER w AS first_order_ts,
        |  last_value(o_orderdate) OVER w AS last_order_ts,
        |  CAST(nth_value(o_orderkey, 2) OVER w AS BIGINT) AS second_orderkey
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin
    ) { (spark, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(spark, dir).orders
        .select(
          col("o_custkey"),
          first(col("o_orderdate")).over(w).as("first_order_ts"),
          last(col("o_orderdate")).over(w).as("last_order_ts"),
          nth_value(col("o_orderkey"), 2).over(w).cast("long").as("second_orderkey"))
        .distinct()
    },

    // ── agg_median_mode: exact median + deterministic mode per group.
    // Median = (lo + hi) / 2 of the middle value(s), summed in DECIMAL
    // and halved only after the final cast — exact in both engines,
    // where built-in MEDIAN interpolates in double whose last ulp is not
    // pinned across engines. Mode = max count with an explicit
    // alphabetical tiebreak (built-in MODE leaves ties undefined).
    OpQuery.checked(
      "agg_median_mode",
      """WITH r AS (
        |  SELECT o_orderpriority, CAST(o_totalprice AS DECIMAL(18,2)) AS v,
        |         row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS rn,
        |         count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders),
        |med AS (
        |  SELECT o_orderpriority,
        |         CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN v END)
        |              + sum(CASE WHEN rn = (n + 2) // 2 THEN v END) AS DOUBLE) / 2 AS median_price
        |  FROM r GROUP BY o_orderpriority),
        |cnt AS (
        |  SELECT o_orderpriority, o_orderstatus, count(*) AS n FROM orders GROUP BY 1, 2),
        |pick AS (
        |  SELECT o_orderpriority, o_orderstatus, n,
        |         row_number() OVER (PARTITION BY o_orderpriority ORDER BY n DESC, o_orderstatus) AS rn
        |  FROM cnt)
        |SELECT m.o_orderpriority, median_price,
        |       p.o_orderstatus AS mode_status, CAST(p.n AS BIGINT) AS mode_n
        |FROM med m JOIN pick p ON m.o_orderpriority = p.o_orderpriority AND p.rn = 1""".stripMargin
    ) { (spark, dir) =>
      val orders = Tables(spark, dir).orders
      val wOrd = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice"), col("o_orderkey"))
      val wAll = Window.partitionBy("o_orderpriority")
      val med = orders
        .select(
          col("o_orderpriority"), Norm.dec(col("o_totalprice")).as("v"),
          row_number().over(wOrd).as("rn"), count(lit(1)).over(wAll).as("n"))
        .groupBy("o_orderpriority")
        .agg(((sum(when(col("rn") === expr("(n + 1) div 2"), col("v")))
          + sum(when(col("rn") === expr("(n + 2) div 2"), col("v")))).cast("double") / 2)
          .as("median_price"))
      val pick = orders.groupBy("o_orderpriority", "o_orderstatus").agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_orderpriority").orderBy(col("n").desc, col("o_orderstatus"))))
        .filter(col("rn") === 1)
        .select(col("o_orderpriority").as("p2"), col("o_orderstatus").as("mode_status"), col("n").as("mode_n"))
      med.join(pick, col("o_orderpriority") === col("p2"))
        .select(col("o_orderpriority"), col("median_price"), col("mode_status"), col("mode_n"))
    },

    // ── setop_family: INTERSECT / EXCEPT / UNION in one tagged result —
    // customer retention between two years (the set-op surface SURVEY
    // §2.7 records as absent from the reference SQL).
    OpQuery.checked(
      "setop_family",
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders
        |            WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'),
        |     b AS (SELECT DISTINCT o_custkey FROM orders
        |            WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01')
        |SELECT 'both' AS tag, o_custkey FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        |UNION ALL
        |SELECT 'only_1995' AS tag, o_custkey FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
        |UNION ALL
        |SELECT 'only_1996' AS tag, o_custkey FROM (SELECT * FROM b EXCEPT SELECT * FROM a)""".stripMargin
    ) { (spark, dir) =>
      val orders = Tables(spark, dir).orders
      // raw date ranges, not year(col) == yr: the range form reaches the
      // parquet scan as a pushed filter in ANY session — the installed
      // YearPredicateRewrite rule would rescue a year() predicate where
      // the graft extensions are active, but library code shouldn't
      // depend on that
      def custsIn(yr: Int) = orders
        .filter(col("o_orderdate") >= lit(s"$yr-01-01").cast("date")
          && col("o_orderdate") < lit(s"${yr + 1}-01-01").cast("date"))
        .select("o_custkey").distinct()
      val a = custsIn(1995)
      val b = custsIn(1996)
      a.intersect(b).withColumn("tag", lit("both"))
        .unionByName(a.except(b).withColumn("tag", lit("only_1995")))
        .unionByName(b.except(a).withColumn("tag", lit("only_1996")))
        .select(col("tag"), col("o_custkey"))
    },

    // ── unpivot_measures: wide → long melt of numeric measures
    // (Dataset.unpivot; Catalyst Expand — one pass, no shuffle).
    OpQuery.checked(
      "unpivot_measures",
      """SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS value FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_retailprice' AS measure, p_retailprice AS value FROM part""".stripMargin
    ) { (spark, dir) =>
      Tables(spark, dir).part
        .select(col("p_partkey"), col("p_size").cast("double").as("p_size"), col("p_retailprice"))
        .unpivot(
          Array(col("p_partkey")),
          Array(col("p_size"), col("p_retailprice")),
          "measure", "value")
    },

    // ── sample_stratified: per-stratum Bernoulli rates off the same
    // deterministic multiplicative hash as `sample_random` — downsample
    // the dominant class, keep the rare one (the class-balance step of a
    // training-data pipeline). Pure filter: pushes to the scan, no
    // shuffle before the summarizing agg.
    OpQuery.checked(
      "sample_stratified",
      """SELECT o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_sampled,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM orders
        |WHERE ((o_orderkey % 2147483648) * 2654435761) % 1000 <
        |      CASE o_orderstatus WHEN 'F' THEN 20 WHEN 'O' THEN 100 ELSE 500 END
        |GROUP BY o_orderstatus""".stripMargin
    ) { (spark, dir) =>
      val rate = when(col("o_orderstatus") === "F", 20L)
        .when(col("o_orderstatus") === "O", 100L)
        .otherwise(500L)
      Tables(spark, dir).orders
        .filter(Norm.hashBucket(col("o_orderkey"), 1000) < rate)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_sampled"), Norm.dsum(col("o_totalprice")).as("spend"))
    },

    // ── sample_neyman_alloc: Neyman-optimal stratified sample allocation
    // (Neyman 1934) — given a fixed label/audit budget n, how many rows
    // to draw per stratum to minimize the estimator variance of mean
    // order value: n_h ∝ N_h·σ_h (big AND volatile strata get more; the
    // planning step in front of sample_stratified's fixed rates).
    // Exactness: money rides as BIGINT cents so each stratum's variance
    // numerator n·Σx²−(Σx)² is an exact integer (DECIMAL(38,0) ↔
    // HUGEINT, the chi² discipline); σ_h is one mirrored sqrt/division;
    // and the cross-stratum total Σ N_h·σ_h — a double sum whose fold
    // order would differ between engines — is instead summed as
    // floor(N_h·σ_h) BIGINTS (the centroid-drift fixed-point idiom;
    // cents-scaled, so the truncation is ≤ 1 cent-weight per stratum).
    // Scale shape: one map-side-combined power-sum pass to the
    // |segments| grain; everything else lives on that bounded frame.
    OpQuery.checked(
      "sample_neyman_alloc",
      """WITH s AS (
        |  SELECT c_mktsegment AS seg,
        |         CAST(count(*) AS BIGINT) AS nh,
        |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS HUGEINT) AS sx,
        |         CAST(sum(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS HUGEINT)
        |                  * CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS HUGEINT)) AS HUGEINT) AS sx2
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1),
        |v AS (
        |  SELECT seg, nh,
        |         -- VARCHAR-route cast: correctly-rounded parse in both
        |         -- engines (the agg_corr_stats discipline for big sums)
        |         sqrt(CAST(CAST(CAST(nh AS HUGEINT) * sx2 - sx * sx AS VARCHAR) AS DOUBLE))
        |           / CAST(nh AS DOUBLE) AS sd_cents
        |  FROM s),
        |w AS (SELECT seg, nh, sd_cents,
        |             CAST(floor(CAST(nh AS DOUBLE) * sd_cents) AS BIGINT) AS wfp
        |      FROM v),
        |t AS (SELECT CAST(sum(wfp) AS BIGINT) AS wtot FROM w)
        |SELECT w.seg, w.nh, w.sd_cents,
        |       CAST(w.wfp AS DOUBLE) / CAST(t.wtot AS DOUBLE) AS alloc_frac,
        |       CAST(floor(1000 * (CAST(w.wfp AS DOUBLE) / CAST(t.wtot AS DOUBLE))) AS BIGINT)
        |         AS n_alloc
        |FROM w, t""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val cents = (Norm.dec(col("o_totalprice")) * 100).cast("long")
      val s = t.orders
        .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), cents.as("c"))
        .groupBy("seg")
        .agg(
          count(lit(1)).as("nh"),
          sum(col("c").cast("decimal(38,0)")).as("sx"),
          sum(col("c").cast("decimal(38,0)") * col("c").cast("decimal(38,0)")).as("sx2"))
      // sd in cents: sqrt of the exact integer variance numerator, one
      // division — identical op order to the oracle
      val w = s.select(col("seg"), col("nh"),
          (sqrt(expr("cast(cast(cast(nh as decimal(38,0)) * sx2 - sx * sx as string) as double)"))
            / col("nh").cast("double")).as("sd_cents"))
        .withColumn("wfp", floor(col("nh").cast("double") * col("sd_cents")).cast("long"))
      val tot = w.agg(sum(col("wfp")).as("wtot"))
      w.crossJoin(broadcast(tot))
        .select(col("seg"), col("nh"), col("sd_cents"),
          (col("wfp").cast("double") / col("wtot").cast("double")).as("alloc_frac"),
          floor(lit(1000) * (col("wfp").cast("double") / col("wtot").cast("double")))
            .cast("long").as("n_alloc"))
    },

    // ── io_bucketed_join: both sides written bucketed on the join key,
    // then joined — the physical layout that deletes the join's shuffle
    // exchange at 100 TB (each bucket pair joins locally). The write is
    // part of the demo: bucket metadata only exists through the catalog
    // (saveAsTable), not bare parquet paths.
    OpQuery.checked(
      "io_bucketed_join",
      """SELECT o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o_orderpriority""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      // bucketing is an INGEST-time layout (a production table buckets
      // once, then every join reads it shuffle-free) — table names carry
      // a corpus tag so each source owns its tables, and a session that
      // already built them skips straight to the read path (the coGraph
      // artifact discipline; the checked RESULT is identical either
      // way). The tag is dir + both sides' row counts — parquet-footer
      // metadata, computed ONCE per (process, dir) via the memo so the
      // hot repeat path costs a map lookup, catching cross-JVM
      // regeneration that changes cardinalities. (A count-preserving
      // in-place edit still slips past — a full content hash would cost
      // a real scan per call; the trade-off is the same one the scratch
      // layouts accept.) A fresh session's in-memory catalog has
      // forgotten the managed table while its warehouse directory
      // survives, so the build path clears both before writing — and
      // also sweeps SUPERSEDED tags for this dir, or regenerations
      // would leak one abandoned table pair per rebuild.
      val dirTag = java.lang.Integer.toHexString(dir.hashCode)
      // computed once per process, so the cache-hit path is job-free
      val tag = EtlOps.builtOnce("bucketedTag", dir)(
        s"${dirTag}_${t.orders.count()}_${t.lineitem.count()}")
      val ot = s"graft_orders_bucketed_$tag"
      val lt = s"graft_lineitem_bucketed_$tag"
      if (!spark.catalog.tableExists(ot) || !spark.catalog.tableExists(lt)) {
        def reset(name: String): Unit = {
          spark.sql(s"DROP TABLE IF EXISTS $name")
          val loc = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), name)
          loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
        }
        // sweep superseded tags of the SAME dir (stale warehouse dirs
        // from older row-count fingerprints)
        val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
        val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(wh)) fs.listStatus(wh).foreach { st =>
          val n = st.getPath.getName
          val stale = (n.startsWith(s"graft_orders_bucketed_$dirTag") ||
            n.startsWith(s"graft_lineitem_bucketed_$dirTag")) && n != ot && n != lt
          if (stale) reset(n)
        }
        reset(ot)
        reset(lt)
        t.orders.select("o_orderkey", "o_orderpriority").write.mode("overwrite")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
        t.lineitem.select("l_orderkey", "l_extendedprice").write.mode("overwrite")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
      }
      spark.table(lt)
        .join(spark.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"), Norm.dsum(col("l_extendedprice")).as("revenue"))
    },

    // ── text_tfidf: top-3 terms per document by tf-idf. Rank order is
    // (tf DESC, df ASC, term ASC) — integer-exact and identical across
    // engines. The checked output carries the exact integer factors
    // (tf, df, n_docs) from which tf·idf = tf·ln(n_docs/df) is derivable;
    // the double score itself stays OUT of the hashed contract because
    // the last ulp of ln (and the round-at-6-decimals boundary on it) is
    // engine-dependent — the determinism doctrine every checked op here
    // follows. Corpus size N enters as a broadcast 1-row agg, not a
    // driver-side count.
    OpQuery.checked(
      "text_tfidf",
      """WITH terms AS (
        |  SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM terms WHERE length(term) > 0 GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT doc_id, tf.term AS term, tf, df,
        |         (SELECT count(*) FROM documents) AS n_docs,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, df ASC, tf.term ASC) AS rn
        |  FROM tf JOIN df USING (term))
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |       CAST(n_docs AS BIGINT) AS n_docs, CAST(rn AS BIGINT) AS rn
        |FROM scored WHERE rn <= 3""".stripMargin
    ) { (spark, dir) =>
      val docs = Tables(spark, dir).documents
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      tf.join(dfreq, "term") // shuffle on term — tiny keys, corpus-safe
        .crossJoin(broadcast(nDocs))
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("tf").desc, col("df").asc, col("term").asc)))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("n_docs"),
          col("rn").cast("long").as("rn"))
    },

    // ── text_pii_redact: regex PII scrubbing — the compliance pass every
    // training corpus needs. The synthetic corpus carries no PII, so a
    // deterministic contact line is appended per document first; the op
    // then counts and redacts emails/phones. Pure projection (codegen'd
    // regex), no shuffle. Regexes stay in the Java∩RE2 common dialect.
    OpQuery.checked(
      "text_pii_redact",
      """WITH seeded AS (
        |  SELECT doc_id,
        |         concat(substring(text, 1, 40), ' contact user', CAST(doc_id AS VARCHAR),
        |                '@mail.example.com or +1-555-',
        |                lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' now') AS text
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(text, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
        |       regexp_replace(regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
        |                      '\+1-555-[0-9]{4}', '[PHONE]', 'g') AS redacted
        |FROM seeded""".stripMargin
    ) { (spark, dir) =>
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phoneRe = "\\+1-555-[0-9]{4}"
      Tables(spark, dir).documents
        .select(col("doc_id"), concat(
          substring(col("text"), 1, 40), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" now")).as("text"))
        .select(
          col("doc_id"),
          regexp_count(col("text"), lit(emailRe)).cast("long").as("n_emails"),
          regexp_count(col("text"), lit(phoneRe)).cast("long").as("n_phones"),
          regexp_replace(regexp_replace(col("text"), emailRe, "[EMAIL]"), phoneRe, "[PHONE]")
            .as("redacted"))
    },

    // ── events_retention_cohort: classic cohort retention — users
    // grouped by first-activity week, counted per subsequent activity
    // week. Two shuffles (first-touch agg on user_id, matrix agg on the
    // tiny cohort grain); the user⋈first-touch join stays on user_id, so
    // at 100 TB it reuses the first agg's partitioning.
    OpQuery.checked(
      "events_retention_cohort",
      """WITH firsts AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS fd FROM events GROUP BY user_id),
        |act AS (
        |  SELECT DISTINCT e.user_id,
        |         date_trunc('week', CAST(e.ts AS DATE)) AS aw,
        |         date_trunc('week', f.fd) AS cw
        |  FROM events e JOIN firsts f ON e.user_id = f.user_id)
        |SELECT CAST(cw AS DATE) AS cohort_week,
        |       CAST(date_diff('day', cw, aw) // 7 AS BIGINT) AS week_no,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM act GROUP BY 1, 2""".stripMargin
    ) { (spark, dir) =>
      val ev = Tables(spark, dir).events.select(col("user_id"), to_date(col("ts")).as("d"))
      val firsts = ev.groupBy("user_id").agg(min(col("d")).as("fd"))
      ev.join(firsts, "user_id")
        .select(col("user_id"), trunc(col("d"), "week").as("aw"), trunc(col("fd"), "week").as("cw"))
        .distinct()
        .groupBy(col("cw").as("cohort_week"), expr("datediff(aw, cw) div 7").cast("long").as("week_no"))
        .agg(count(lit(1)).as("n_users"))
    },

    // ── agg_corr_stats: sample stddev + Pearson correlation per group,
    // derived from exact DECIMAL power sums (Σx, Σx², Σxy) and only then
    // combined in double — the built-in STDDEV/CORR stream doubles whose
    // partition fold order is nondeterministic at 32+ partitions, this
    // form is order-independent (decimal addition commutes exactly) and
    // still one partial+final hash aggregation.
    OpQuery.checked(
      "agg_corr_stats",
      """WITH s AS (
        |  SELECT l_returnflag,
        |         CAST(count(*) AS DOUBLE) AS n,
        |         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sq,
        |         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sp,
        |         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sq2,
        |         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sp2,
        |         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS spq
        |  -- decimal → VARCHAR → DOUBLE: DuckDB's direct decimal→double
        |  -- conversion can land 1 ULP off correct rounding on large
        |  -- scale-4 power sums (observed at sf0.001); the string parse is
        |  -- correctly rounded, matching Spark's BigDecimal.doubleValue
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |       CAST(n AS BIGINT) AS n,
        |       sqrt((n * sq2 - sq * sq) / (n * (n - 1))) AS stddev_qty,
        |       sqrt((n * sp2 - sp * sp) / (n * (n - 1))) AS stddev_price,
        |       (n * spq - sq * sp) / (sqrt(n * sq2 - sq * sq) * sqrt(n * sp2 - sp * sp)) AS corr_qty_price
        |FROM s""".stripMargin
    ) { (spark, dir) =>
      val q = Norm.dec(col("l_quantity"))
      val p = Norm.dec(col("l_extendedprice"))
      val s = Tables(spark, dir).lineitem
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(q).cast("double").as("sq"),
          sum(p).cast("double").as("sp"),
          sum(q * q).cast("double").as("sq2"),
          sum(p * p).cast("double").as("sp2"),
          sum(q * p).cast("double").as("spq"))
      val n = col("n")
      s.select(
        col("l_returnflag"),
        n.cast("long").as("n"),
        sqrt((n * col("sq2") - col("sq") * col("sq")) / (n * (n - lit(1)))).as("stddev_qty"),
        sqrt((n * col("sp2") - col("sp") * col("sp")) / (n * (n - lit(1)))).as("stddev_price"),
        ((n * col("spq") - col("sq") * col("sp")) /
          (sqrt(n * col("sq2") - col("sq") * col("sq")) * sqrt(n * col("sp2") - col("sp") * col("sp"))))
          .as("corr_qty_price"))
    },

    // ── agg_ttest_groups: Welch's two-sample t statistic for every
    // segment pair — the A/B significance readout every experimentation
    // platform computes, built the only way that scales AND reproduces:
    // per-segment (n, Σx, Σx²) as ONE map-side-combined decimal
    // aggregation over the fact (order-independent — same power-sum
    // algebra as agg_corr_stats), then means/variances/t/dof as pure
    // double arithmetic on the |segments|-row frame, operation order
    // mirrored in the oracle so every IEEE rounding lands identically.
    // The pair "join" is a self cross of the 5-row aggregate — never the
    // fact table.
    OpQuery.checked(
      "agg_ttest_groups",
      """WITH s AS (
        |  SELECT c_mktsegment AS seg,
        |         CAST(count(*) AS DOUBLE) AS n,
        |         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx,
        |         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))
        |                  * CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx2
        |  -- VARCHAR round-trip: correctly-rounded decimal→double (the
        |  -- agg_corr_stats note — DuckDB's direct conversion drifts 1 ULP
        |  -- on large power sums)
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1),
        |v AS (
        |  SELECT seg, n, sx / n AS mean,
        |         (n * sx2 - sx * sx) / (n * (n - 1)) / n AS vn
        |  FROM s)
        |SELECT a.seg AS seg_a, b.seg AS seg_b,
        |       CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
        |       a.mean AS mean_a, b.mean AS mean_b,
        |       (a.mean - b.mean) / sqrt(a.vn + b.vn) AS t_stat,
        |       (a.vn + b.vn) * (a.vn + b.vn)
        |         / (a.vn * a.vn / (a.n - 1) + b.vn * b.vn / (b.n - 1)) AS welch_dof
        |FROM v a JOIN v b ON a.seg < b.seg""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val x = Norm.dec(col("o_totalprice"))
      val s = t.orders
        .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(x).cast("double").as("sx"),
          sum(x * x).cast("double").as("sx2"))
      val n = col("n")
      // vn = sample variance / n — the per-group term of Welch's t
      val v = s.select(
        col("seg"), n, (col("sx") / n).as("mean"),
        ((n * col("sx2") - col("sx") * col("sx")) / (n * (n - lit(1))) / n).as("vn"))
      val a = v.as("a")
      val b = v.as("b")
      a.join(b, col("a.seg") < col("b.seg"))
        .select(
          col("a.seg").as("seg_a"), col("b.seg").as("seg_b"),
          col("a.n").cast("long").as("n_a"), col("b.n").cast("long").as("n_b"),
          col("a.mean").as("mean_a"), col("b.mean").as("mean_b"),
          ((col("a.mean") - col("b.mean")) / sqrt(col("a.vn") + col("b.vn"))).as("t_stat"),
          ((col("a.vn") + col("b.vn")) * (col("a.vn") + col("b.vn"))
            / (col("a.vn") * col("a.vn") / (col("a.n") - lit(1))
               + col("b.vn") * col("b.vn") / (col("b.n") - lit(1)))).as("welch_dof"))
    },

    // ── agg_mannwhitney_u: the Mann–Whitney U test (Mann & Whitney
    // 1947) — agg_ttest_groups' NONPARAMETRIC sibling, the A/B readout
    // for skewed metrics where the t-test's normality story breaks.
    // Exactness via the pair-count identity: 2·U_A = 2·Σ_v nA(v)·cumB(<v)
    // + Σ_v nA(v)·nB(v) — an INTEGER (ties contribute the ½ as the
    // un-halved middle term), so both engines agree bit-for-bit before
    // the one final z-score division. Scale shape: one map-side-combined
    // count to the VALUE grain, then the cumulative B-count comes from
    // graft.algo.GlobalRank.withPrefixSum — the TeraSort-shaped exact
    // running total (range partition → P-row offsets frame → broadcast
    // + partition-local window) — never a partition-less
    // sum().over(orderBy) on the data-proportional value grain.
    OpQuery.checked(
      "agg_mannwhitney_u",
      """WITH po AS (
        |  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v, c_mktsegment AS seg
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')),
        |g AS (
        |  SELECT v,
        |         sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS na,
        |         sum(CASE WHEN seg = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS nb
        |  FROM po GROUP BY v),
        |c AS (
        |  SELECT v, na, nb,
        |         coalesce(sum(nb) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
        |  FROM g),
        |s AS (
        |  SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b,
        |         CAST(sum(2 * na * cumb + na * nb) AS BIGINT) AS u2_a
        |  FROM c)
        |SELECT n_a, n_b, u2_a,
        |       (CAST(u2_a AS DOUBLE) / 2
        |          - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2)
        |         / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |                * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1) / 12)
        |         AS z_score
        |FROM s""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val po = t.orders
        .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .select(Norm.dec(col("o_totalprice")).as("v"), col("c_mktsegment").as("seg"))
      val g = po.groupBy("v")
        .agg(
          sum(when(col("seg") === "BUILDING", 1L).otherwise(0L)).as("na"),
          sum(when(col("seg") === "AUTOMOBILE", 1L).otherwise(0L)).as("nb"))
      val c = graft.algo.GlobalRank.withPrefixSum(g, Seq(col("v")), col("nb"), "cumb")
      val s = c.agg(
        sum(col("na")).cast("long").as("n_a"),
        sum(col("nb")).cast("long").as("n_b"),
        sum(lit(2) * col("na") * col("cumb") + col("na") * col("nb")).cast("long").as("u2_a"))
      val (na, nb) = (col("n_a").cast("double"), col("n_b").cast("double"))
      s.select(col("n_a"), col("n_b"), col("u2_a"),
        ((col("u2_a").cast("double") / 2 - na * nb / 2)
          / sqrt(na * nb * (na + nb + 1) / 12)).as("z_score"))
    },

    // ── agg_ks_test: two-sample Kolmogorov–Smirnov — completes the
    // classical A/B trio (Welch t = means, Mann–Whitney = ranks, KS =
    // WHOLE-DISTRIBUTION shape: D = max |F_A − F_B| catches
    // variance/tail differences equal means hide). Integer-exact core:
    // at the pooled value grain, D's numerator is max |cumA·n_b −
    // cumB·n_a| — a BIGINT both engines agree on before the one final
    // division. Both groups' inclusive CDF steps come from ONE
    // GlobalRank.withPrefixSums call (both running totals share a
    // single range exchange) — never a partition-less window over the
    // data-proportional value grain.
    OpQuery.checked(
      "agg_ks_test",
      """WITH po AS (
        |  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v, c_mktsegment AS seg
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')),
        |g AS (
        |  SELECT v,
        |         sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS na,
        |         sum(CASE WHEN seg = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS nb
        |  FROM po GROUP BY v),
        |c AS (
        |  SELECT v, na, nb,
        |         sum(na) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |         sum(nb) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
        |  FROM g),
        |t AS (SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b FROM g)
        |SELECT t.n_a, t.n_b,
        |       CAST(max(abs(c.ca * t.n_b - c.cb * t.n_a)) AS BIGINT) AS d_num,
        |       CAST(max(abs(c.ca * t.n_b - c.cb * t.n_a)) AS DOUBLE)
        |         / (CAST(t.n_a AS DOUBLE) * CAST(t.n_b AS DOUBLE)) AS d_stat
        |FROM c, t GROUP BY t.n_a, t.n_b""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val po = t.orders
        .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .select(Norm.dec(col("o_totalprice")).as("v"), col("c_mktsegment").as("seg"))
      val g = po.groupBy("v")
        .agg(
          sum(when(col("seg") === "BUILDING", 1L).otherwise(0L)).as("na"),
          sum(when(col("seg") === "AUTOMOBILE", 1L).otherwise(0L)).as("nb"))
      // exclusive prefix sums + own value = the inclusive CDF steps
      val c = graft.algo.GlobalRank
        .withPrefixSums(g, Seq(col("v").asc), Seq(col("na") -> "xa", col("nb") -> "xb"))
        .select(col("na"), col("nb"),
          (col("xa") + col("na")).as("ca"), (col("xb") + col("nb")).as("cb"))
      val tot = c.agg(sum(col("na")).cast("long").as("n_a"), sum(col("nb")).cast("long").as("n_b"))
      c.crossJoin(broadcast(tot))
        .groupBy("n_a", "n_b")
        .agg(max(abs(col("ca") * col("n_b") - col("cb") * col("n_a"))).cast("long").as("d_num"))
        .select(col("n_a"), col("n_b"), col("d_num"),
          (col("d_num").cast("double")
            / (col("n_a").cast("double") * col("n_b").cast("double"))).as("d_stat"))
    },

    // ── agg_gini_grouped: Gini concentration coefficient of order
    // revenue per market segment — the inequality readout (how
    // top-heavy is spend within each segment?) every revenue-mix
    // dashboard carries. The textbook formula needs every value's RANK
    // in the per-segment sorted order, G = (2·Σ rank·x − (n+1)·Σ x) /
    // (n·Σ x) — at 100 TB a per-segment sort is exactly the
    // low-cardinality-partition window trap, so the ranks come from
    // GlobalRank.withGroupedRowNumber (one composite range exchange,
    // no group-key WindowExec; equal values may permute within a tie
    // run but Σ rank·x is tie-invariant). Exactness: money rides as
    // BIGINT cents, Σ rank·cents is an exact BIGINT in both engines
    // (≤ ~2^56 at sf1), and the single Gini division is the only
    // double.
    OpQuery.checked(
      "agg_gini_grouped",
      """WITH o AS (
        |  SELECT c_mktsegment AS seg, o_orderkey,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |r AS (
        |  SELECT seg, cents,
        |         CAST(row_number() OVER (PARTITION BY seg
        |             ORDER BY cents, o_orderkey) AS BIGINT) AS rnk
        |  FROM o)
        |SELECT seg,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(cents) AS BIGINT) AS total_cents,
        |       CAST(2 * sum(rnk * cents) - (count(*) + 1) * sum(cents) AS BIGINT) AS gini_num,
        |       CAST(2 * sum(rnk * cents) - (count(*) + 1) * sum(cents) AS DOUBLE)
        |         / (CAST(count(*) AS DOUBLE) * CAST(sum(cents) AS DOUBLE)) AS gini
        |FROM r GROUP BY seg""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val o = t.orders
        .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("o_orderkey"),
          (Norm.dec(col("o_totalprice")) * 100).cast("long").as("cents"))
      graft.algo.GlobalRank
        .withGroupedRowNumber(o, Seq("seg"), Seq(col("cents").asc, col("o_orderkey").asc), "rnk", "gn")
        .groupBy("seg")
        .agg(
          count(lit(1)).as("n"),
          sum(col("cents")).as("total_cents"),
          (lit(2) * sum(col("rnk") * col("cents"))
            - (count(lit(1)) + 1) * sum(col("cents"))).as("gini_num"))
        .select(col("seg"), col("n"), col("total_cents"), col("gini_num"),
          (col("gini_num").cast("double")
            / (col("n").cast("double") * col("total_cents").cast("double"))).as("gini"))
    },

    // ── agg_chi2_independence: Pearson's chi-square test of independence
    // (Pearson 1900) on the (event_type × day-of-week) contingency table
    // — the fourth leg of the classical A/B family (Welch t = means,
    // Mann–Whitney = ranks, KS = distribution shape, chi² = CATEGORICAL
    // association: "does activity mix depend on weekday?"). Integer-
    // exactness: per cell, the deviation numerator n·obs − row·col and
    // the scaled contribution (num²·10⁶) div (n·row·col) are exact
    // integer arithmetic in both engines (Spark DECIMAL(38,0) ↔ DuckDB
    // HUGEINT, positive integer division truncates identically), so the
    // statistic is a BIGINT micro-units sum — no double accumulation
    // order to drift. Scale shape: ONE map-side-combined count to the
    // |types|×7 cell grain is the only corpus pass; every total, join,
    // and the chi² sum live on that constant-size frame.
    OpQuery.checked(
      "agg_chi2_independence",
      """WITH ev AS (
        |  SELECT event_type,
        |         CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow
        |  FROM events),
        |cells AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS obs
        |          FROM ev GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT dow, CAST(sum(obs) AS BIGINT) AS ct FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n,
        |               CAST(count(DISTINCT event_type) AS BIGINT) AS nr,
        |               CAST(count(DISTINCT dow) AS BIGINT) AS nc
        |        FROM cells),
        |t AS (
        |  SELECT c.event_type, c.dow, c.obs,
        |         CAST(tot.n AS HUGEINT) * c.obs - CAST(r.rt AS HUGEINT) * ct.ct AS num,
        |         CAST((CAST(r.rt AS HUGEINT) * ct.ct * 1000000) // tot.n AS BIGINT) AS exp_micro,
        |         tot.n, tot.nr, tot.nc, r.rt, ct.ct
        |  FROM cells c JOIN rt r USING (event_type) JOIN ct USING (dow) CROSS JOIN tot),
        |tm AS (
        |  SELECT event_type, dow, obs, exp_micro,
        |         CAST((num * num * 1000000) // (CAST(n AS HUGEINT) * rt * ct) AS BIGINT)
        |           AS term_micro,
        |         nr, nc
        |  FROM t)
        |SELECT event_type, dow, obs, exp_micro, term_micro,
        |       CAST(sum(term_micro) OVER () AS BIGINT) AS chi2_micro,
        |       (nr - 1) * (nc - 1) AS dof
        |FROM tm""".stripMargin
    ) { (spark, dir) =>
      val ev = Tables(spark, dir).events
        .select(col("event_type"), dayofweek(to_date(col("ts"))).cast("long").as("dow"))
      val cells = ev.groupBy("event_type", "dow").agg(count(lit(1)).as("obs"))
      val rt = cells.groupBy("event_type").agg(sum(col("obs")).as("rt"))
      val ctf = cells.groupBy("dow").agg(sum(col("obs")).as("ct"))
      val tot = cells.agg(
        sum(col("obs")).as("n"),
        countDistinct(col("event_type")).as("nr"),
        countDistinct(col("dow")).as("nc"))
      val terms = cells
        .join(broadcast(rt), "event_type")
        .join(broadcast(ctf), "dow")
        .crossJoin(broadcast(tot))
        .withColumn("num", expr("cast(n as decimal(38,0)) * obs - cast(rt as decimal(38,0)) * ct"))
        .withColumn(
          "term_micro",
          expr("cast((num * num * 1000000) div (cast(n as decimal(38,0)) * rt * ct) as bigint)"))
        .withColumn(
          "exp_micro",
          expr("cast((cast(rt as decimal(38,0)) * ct * 1000000) div n as bigint)"))
      val chi = terms.agg(sum(col("term_micro")).as("chi2_micro"))
      terms.crossJoin(broadcast(chi))
        .select(col("event_type"), col("dow"), col("obs"), col("exp_micro"),
          col("term_micro"), col("chi2_micro"),
          expr("(nr - 1) * (nc - 1)").as("dof"))
    },

    // ── win_running_total_global: company-wide running revenue per
    // order — the classic cumulative report whose SQL form
    // (`sum(...) OVER (ORDER BY date)` with no partition) funnels every
    // row through ONE task. This op is the user-facing face of
    // graft.algo.GlobalRank.withPrefixSum: the same exclusive prefix
    // sum computed TeraSort-shaped (range partition on the total order
    // (date, orderkey) → P-row offsets → broadcast + partition-local
    // running sums), inclusive total = exclusive + own value. Money
    // rides as exact BIGINT cents end to end; the double mirror is one
    // final division both engines perform identically. Output is
    // order-grain on purpose — a day-grain pre-aggregation would not
    // need the primitive (constant-size frame), the per-row form is
    // what actually requires it at 100 TB.
    OpQuery.checked(
      "win_running_total_global",
      """SELECT o_orderkey,
        |       CAST(o_orderdate AS DATE) AS od,
        |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |              OVER (ORDER BY CAST(o_orderdate AS DATE), o_orderkey
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS running_cents,
        |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |              OVER (ORDER BY CAST(o_orderdate AS DATE), o_orderkey
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100
        |         AS running_rev
        |FROM orders""".stripMargin
    ) { (spark, dir) =>
      val o = Tables(spark, dir).orders.select(
        col("o_orderkey"),
        to_date(col("o_orderdate")).as("od"),
        (Norm.dec(col("o_totalprice")) * 100).cast("long").as("cents"))
      graft.algo.GlobalRank
        .withPrefixSum(o, Seq(col("od").asc, col("o_orderkey").asc), col("cents"), "excl")
        .select(
          col("o_orderkey"), col("od"),
          (col("excl") + col("cents")).as("running_cents"),
          ((col("excl") + col("cents")).cast("double") / 100).as("running_rev"))
    },

    // ── scd2_asof_lookup: point-in-time join — every order sees the dim
    // version that was current ON ITS OWN DATE (the whole point of SCD2:
    // 1995 revenue stays under the 1995 segment even after the customer
    // moved). Same versioned dim as `etl_scd2_apply`; the join is an
    // equi-join on the business key with the validity-window filter
    // applied post-match — ≤2 versions per key, so no blowup, and at
    // 100 TB it shuffles once on the key like any fact⋈dim join.
    OpQuery.checked(
      "scd2_asof_lookup",
      """WITH dim AS (
        |  SELECT c_custkey, c_mktsegment,
        |         DATE '1992-01-01' AS effective_date,
        |         DATE '9999-12-31' AS expiration_date
        |  FROM customer),
        |chg AS (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 0),
        |scd AS (
        |  SELECT d.* FROM dim d LEFT JOIN chg c USING (c_custkey)
        |  WHERE c.c_custkey IS NULL OR d.c_mktsegment = 'MACHINERY'
        |  UNION ALL
        |  SELECT d.c_custkey, d.c_mktsegment, d.effective_date, DATE '1996-05-31'
        |  FROM dim d JOIN chg c USING (c_custkey) WHERE d.c_mktsegment <> 'MACHINERY'
        |  UNION ALL
        |  SELECT d.c_custkey, 'MACHINERY', DATE '1996-06-01', DATE '9999-12-31'
        |  FROM dim d JOIN chg c USING (c_custkey) WHERE d.c_mktsegment <> 'MACHINERY')
        |SELECT s.c_mktsegment AS segment_asof,
        |       CAST(year(o.o_orderdate) AS BIGINT) AS yr,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM orders o
        |  JOIN scd s ON o.o_custkey = s.c_custkey
        |    AND CAST(o.o_orderdate AS DATE) BETWEEN s.effective_date AND s.expiration_date
        |GROUP BY s.c_mktsegment, year(o.o_orderdate)""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val c = t.customer
      val dim = Scd2.initial(c.select("c_custkey", "c_mktsegment"), "1992-01-01")
      val changes = c
        .filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), lit("MACHINERY").as("c_mktsegment"))
      val scd = Scd2.apply(dim, changes, Seq("c_custkey"), Seq("c_mktsegment"), "1996-06-01")
      t.orders
        .join(scd,
          col("o_custkey") === col("c_custkey") &&
            to_date(col("o_orderdate")).between(col("effective_date"), col("expiration_date")))
        .groupBy(col("c_mktsegment").as("segment_asof"), year(col("o_orderdate")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("spend"))
    },

    // ── dedup_fuzzy_editdist: edit-distance near-dup verification on
    // blocked candidate pairs — the character-level complement of the
    // token-level Jaccard dedup. Blocking key = md5 of the 32-char
    // prefix (re-crawls and copy-paste dups share openings), so the
    // self-join shuffles 16-byte keys, never O(n²) pairs; Levenshtein
    // runs only inside blocks. Threshold: distance ≤ 20% of the longer
    // text.
    OpQuery.checked(
      "dedup_fuzzy_editdist",
      """WITH blocked AS (
        |  SELECT doc_id, text, md5(substring(text, 1, 32)) AS bk FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
        |FROM blocked a JOIN blocked b ON a.bk = b.bk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.text, b.text) * 5 <= greatest(length(a.text), length(b.text))""".stripMargin
    ) { (spark, dir) =>
      val blocked = Tables(spark, dir).documents
        .select(col("doc_id"), col("text"), md5(substring(col("text"), 1, 32)).as("bk"))
      // skew-guarded block self-join: boilerplate openings put unbounded
      // doc counts into ONE prefix block, and the quadratic Levenshtein
      // verify would run inside that single task — BlockedPairs splits a
      // hot block into bounded triangular cells with the same pair set
      val maxLen = greatest(length(col("a_text")), length(col("b_text"))).cast("long")
      BlockedPairs.pairs(blocked, Seq("bk"), "doc_id", BlockedPairs.DefaultCap)
        .select(
          col("a.doc_id").as("a_id"), col("a.text").as("a_text"),
          col("b.doc_id").as("b_id"), col("b.text").as("b_text"))
        // the length-difference bound (levenshtein >= |lenA-lenB|, so it
        // drops only sure-fails) short-circuits before the O(len^2)
        // distance runs
        .filter(abs(length(col("a_text")) - length(col("b_text"))).cast("long") * 5 <= maxLen)
        // compute the distance ONCE behind a Generate barrier: a plain
        // withColumn alias would be substituted back into the threshold
        // filter by predicate pushdown, evaluating the O(len²) distance
        // twice (Filter and Project don't share subexpressions)
        .select(col("a_id"), col("b_id"), col("a_text"), col("b_text"),
          explode(array(levenshtein(col("a_text"), col("b_text")).cast("long"))).as("edit_dist"))
        .filter(col("edit_dist") * 5 <= maxLen)
        .select(col("a_id"), col("b_id"), col("edit_dist"))
    },

    // ── events_anomaly_zscore: daily event-type volumes flagged by
    // z-score against the type's own distribution. Mean/stddev come from
    // exact decimal power sums (order-independent — see agg_corr_stats),
    // combined in double only at the end; the daily-counts grain is tiny,
    // so the stats side broadcasts back onto it.
    OpQuery.checked(
      "events_anomaly_zscore",
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT event_type,
        |         CAST(count(*) AS DOUBLE) AS k,
        |         CAST(sum(CAST(n AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |         CAST(sum(CAST(n AS DECIMAL(18,2)) * CAST(n AS DECIMAL(18,2))) AS DOUBLE) AS s2
        |  FROM daily GROUP BY event_type)
        |SELECT d.event_type, d.day, CAST(d.n AS BIGINT) AS n,
        |       (d.n - s1 / k) / sqrt((k * s2 - s1 * s1) / (k * (k - 1))) AS z,
        |       CAST(CASE WHEN abs((d.n - s1 / k) / sqrt((k * s2 - s1 * s1) / (k * (k - 1)))) > 2
        |            THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
        |FROM daily d JOIN stats s ON d.event_type = s.event_type
        |WHERE k > 1 AND (k * s2 - s1 * s1) > 0""".stripMargin
    ) { (spark, dir) =>
      val daily = Tables(spark, dir).events
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val nd = Norm.dec(col("n"))
      val stats = daily.groupBy(col("event_type").as("et"))
        .agg(
          count(lit(1)).cast("double").as("k"),
          sum(nd).cast("double").as("s1"),
          sum(nd * nd).cast("double").as("s2"))
      val k  = col("k")
      val z  = (col("n") - col("s1") / k) /
        sqrt((k * col("s2") - col("s1") * col("s1")) / (k * (k - lit(1))))
      // drop groups whose z is undefined: singletons (k=1) AND flat
      // groups with zero variance (all daily counts equal ⇒ z = 0/0) —
      // a NaN/Inf has no pinned cross-engine representation in the hash
      // compare. The variance term is IEEE-exact in both engines (the
      // power sums arrive through exact decimal addition).
      val variance = k * col("s2") - col("s1") * col("s1")
      daily.join(broadcast(stats), col("event_type") === col("et"))
        .filter(k > 1 && variance > 0)
        .select(
          col("event_type"), col("day"), col("n"),
          z.as("z"),
          when(abs(z) > 2, 1L).otherwise(0L).as("is_anomaly"))
    },

    // ── events_anomaly_mad: the ROBUST outlier gate — median absolute
    // deviation instead of mean/stddev, so a heavy-tailed value column
    // (or the anomalies themselves) cannot drag the threshold the way
    // they inflate a z-score's stddev (the classic masking failure).
    // All ranks ride exact decimal order statistics, and every division
    // is deferred to the final doubles by carrying med×2 and mad×4
    // (sums of two decimals — exact, engine-identical; /2 and /4 in
    // binary doubles are exact). Flag: |v − med| > 3·1.4826·MAD, the
    // normal-consistent MAD cutoff, compared as 2·d > 3·1.4826·mad4
    // with d = |2v − med2|.
    //
    // Two branches, the agg_quantile_sketch pattern: the KLL sketch
    // branch IS the 100 TB path — per-type med from one mergeable
    // kll_quantiles pass (O(k·log n) state, map-side combine), MAD from
    // a second KLL pass over |v − med_kll| — and it stays in the
    // executed plan because within_eps is computed FROM its estimates
    // (true rank of med_kll and mad_kll must land within ε of 0.5, or
    // the row hash-fails the driver compare). The exact decimal path —
    // whose per-type row_number sorts near-whole-table partitions — is
    // the oracle-scale VERIFICATION branch only; at 100 TB the sketch
    // thresholds drive the gate and the exact branch never runs.
    OpQuery.checked(
      "events_anomaly_mad",
      """WITH t AS (
        |  SELECT event_type, event_id, CAST(value AS DECIMAL(18,6)) AS v
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM t),
        |med AS (
        |  SELECT event_type,
        |         sum(CASE WHEN rn = (n + 1) // 2 THEN v END)
        |         + sum(CASE WHEN rn = (n + 2) // 2 THEN v END) AS med2
        |  FROM r GROUP BY 1),
        |d AS (
        |  SELECT t.event_type, t.event_id, t.v, abs(2 * t.v - m.med2) AS dd
        |  FROM t JOIN med m ON m.event_type = t.event_type),
        |r2 AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dd, event_id) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM d),
        |mad AS (
        |  SELECT event_type,
        |         sum(CASE WHEN rn = (n + 1) // 2 THEN dd END)
        |         + sum(CASE WHEN rn = (n + 2) // 2 THEN dd END) AS mad4
        |  FROM r2 GROUP BY 1)
        |SELECT d.event_type, d.event_id, CAST(d.v AS DOUBLE) AS value,
        |       CAST(m.med2 AS DOUBLE) / 2 AS med,
        |       CAST(a.mad4 AS DOUBLE) / 4 AS mad,
        |       TRUE AS within_eps
        |FROM d
        |JOIN med m ON m.event_type = d.event_type
        |JOIN mad a ON a.event_type = d.event_type
        |WHERE CAST(2 * d.dd AS DOUBLE) > 3 * 1.4826 * CAST(a.mad4 AS DOUBLE)""".stripMargin
    ) { (spark, dir) =>
      graft.functions.KllQuantiles.register(spark)
      // null group keys excluded on BOTH sides (dailyGrid contract) —
      // GlobalRank's null-group guard vs DuckDB's null partition would
      // otherwise diverge crash-vs-result
      val t = Tables(spark, dir).events
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .select(col("event_type"), col("event_id"), Norm.dec6(col("value")).as("v"))
      // ── sketch branch (the 100 TB path): med and MAD from two KLL
      // passes; fixed-size mergeable partials, no per-type sort anywhere
      val skMed = t.groupBy("event_type")
        .agg(element_at(expr("kll_quantiles(v, 256, 0.5)"), 1).as("med_kll"),
          count(lit(1)).as("n"))
      val dk = t.join(broadcast(skMed), Seq("event_type"))
        .withColumn("dkv", abs(col("v").cast("double") - col("med_kll")))
      // the MAD sketch and the MED audit consume the SAME dk rows under
      // the SAME grouping — one aggregate pass computes both (was two
      // full passes; guide §2.3 "aggregate before you shuffle" applied
      // to pass count)
      val skMadAud = dk.groupBy("event_type", "n")
        .agg(element_at(expr("kll_quantiles(dkv, 256, 0.5)"), 1).as("mad_kll"),
          sum(when(col("v").cast("double") < col("med_kll"), 1L).otherwise(0L)).as("lo_med"),
          sum(when(col("v").cast("double") <= col("med_kll"), 1L).otherwise(0L)).as("hi_med"))
      val skMad = skMadAud.select(col("event_type"), col("mad_kll"))
      // rank audit: both sketch estimates must sit within ε of the true
      // median rank (ε = KLL's advertised 0.05 at k=256 plus 4/n small-n
      // slack) — computed FROM the estimates, so the sketch branch
      // cannot be optimized out of the checked plan. Tie-safe range
      // form: a returned value's true rank is the RANGE
      // [#{x < est}, #{x ≤ est}]; the audit passes iff that range
      // intersects [0.5 − ε, 0.5 + ε]·n, which is exactly KLL's
      // guarantee even when the estimate sits inside a tie run.
      val audMad = dk.join(broadcast(skMad), Seq("event_type"))
        .groupBy("event_type", "n", "mad_kll")
        .agg(sum(when(col("dkv") < col("mad_kll"), 1L).otherwise(0L)).as("lo_mad"),
          sum(when(col("dkv") <= col("mad_kll"), 1L).otherwise(0L)).as("hi_mad"))
      val eps = col("n").cast("double") * 0.05 + 4.0
      val half = col("n").cast("double") / 2
      val audit = skMadAud.join(audMad.drop("n", "mad_kll"), Seq("event_type"))
        .select(col("event_type"),
          (col("lo_med").cast("double") <= half + eps &&
            col("hi_med").cast("double") >= half - eps &&
            col("lo_mad").cast("double") <= half + eps &&
            col("hi_mad").cast("double") >= half - eps)
            .as("within_eps"))
      // ── exact decimal branch: oracle-scale verification only — but
      // TeraSort-shaped all the same: per-type rank/count via ONE
      // composite-order GlobalRank (a partitionBy(event_type) window
      // would sort ~n/|types| rows on one task each; |types| ≈ 5 here,
      // so each partition is a fifth of the corpus at any scale)
      def median2(df: org.apache.spark.sql.DataFrame, c: String, out: String) =
        graft.algo.GlobalRank
          .withGroupedRowNumber(df, Seq("event_type"), Seq(col(c), col("event_id")), "rn", "n")
          .groupBy("event_type")
          .agg((sum(when(col("rn") === expr("(n + 1) div 2"), col(c)))
            + sum(when(col("rn") === expr("(n + 2) div 2"), col(c)))).as(out))
      val med = median2(t, "v", "med2")
      val d = t.join(broadcast(med), Seq("event_type"))
        .withColumn("dd", abs(lit(2) * col("v") - col("med2")))
      // narrow the ranked frame: med2/v would otherwise ride the range
      // exchange and the rank persist for nothing
      val mad = median2(d.select("event_type", "event_id", "dd"), "dd", "mad4")
      d.join(broadcast(mad), Seq("event_type"))
        .filter((lit(2) * col("dd")).cast("double") > lit(3) * lit(1.4826) * col("mad4").cast("double"))
        .join(broadcast(audit), Seq("event_type"))
        .select(col("event_type"), col("event_id"), col("v").cast("double").as("value"),
          (col("med2").cast("double") / 2).as("med"),
          (col("mad4").cast("double") / 4).as("mad"),
          col("within_eps"))
    },

    // ── events_cusum: change-point detection over the daily event-rate
    // series — Page's CUSUM (Page 1954, Biometrika: cumulative sums of
    // deviations from the mean; the |S| peak is the classic change-
    // point estimate). The integer-exactness trick: deviations are
    // scaled by the day count D, dev_t = n_t·D − total, so the running
    // sum stays BIGINT (no double accumulation drift across engines)
    // and the one division to the reported cusum = S/D happens last.
    //
    // Scale shape: the window runs AFTER the map-side-combined
    // aggregate to (event_type, day) grain — its input is days×types
    // rows, CONSTANT in corpus size (the grain-reduction that the
    // events_anomaly_mad verdict demanded of per-type windows: never
    // sort event rows, sort the bounded daily series). Per-type totals
    // broadcast from an aggregate; peak flags come from a second
    // bounded aggregate join, not a whole-partition max window.
    OpQuery.checked(
      "events_cusum",
      """WITH day AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |typ AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot,
        |               CAST(count(*) AS BIGINT) AS d
        |        FROM day GROUP BY 1),
        |cs AS (
        |  SELECT day.event_type, day.day, day.n, typ.d,
        |         CAST(sum(day.n * typ.d - typ.tot)
        |              OVER (PARTITION BY day.event_type ORDER BY day.day) AS BIGINT) AS s
        |  FROM day JOIN typ USING (event_type)),
        |peak AS (SELECT event_type, CAST(max(abs(s)) AS BIGINT) AS smax FROM cs GROUP BY 1)
        |SELECT cs.event_type, cs.day, cs.n,
        |       CAST(cs.s AS DOUBLE) / CAST(cs.d AS DOUBLE) AS cusum,
        |       abs(cs.s) = peak.smax AS is_peak
        |FROM cs JOIN peak USING (event_type)""".stripMargin
    ) { (spark, dir) =>
      val day = Tables(spark, dir).events
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val typ = day.groupBy("event_type")
        .agg(sum("n").as("tot"), count(lit(1)).as("d"))
      val cs = day.join(broadcast(typ), Seq("event_type"))
        .withColumn("s", sum(col("n") * col("d") - col("tot")).over(
          Window.partitionBy("event_type").orderBy("day")))
      val peak = cs.groupBy("event_type").agg(max(abs(col("s"))).as("smax"))
      cs.join(broadcast(peak), Seq("event_type"))
        .select(col("event_type"), col("day"), col("n"),
          (col("s").cast("double") / col("d").cast("double")).as("cusum"),
          (abs(col("s")) === col("smax")).as("is_peak"))
    },

    // ── events_hopping_window: overlapping (hopping) windows — 1-hour
    // width sliding by 15 minutes, the batch analog of the streaming
    // window(ts, width, slide) path. Spark's window() expands each event
    // into its width/slide = 4 covering windows (Expand, partition-local)
    // before one aggregation shuffle; the oracle replays the same
    // epoch-aligned start arithmetic in integer microseconds.
    OpQuery.checked(
      "events_hopping_window",
      """WITH hopped AS (
        |  SELECT event_type,
        |         make_timestamp((epoch_us(ts) // 900000000 - k) * 900000000) AS window_start,
        |         value
        |  FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS k) ks)
        |SELECT window_start, event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM hopped GROUP BY 1, 2""".stripMargin
    ) { (spark, dir) =>
      Tables(spark, dir).events
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(Norm.dec6(col("value"))).cast("double").as("total_value"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n_events"), col("total_value"))
    },

    // ── sql_api_report: the same engine surface through spark.sql —
    // testdata registered as temp views, the quarterly-genre report shape
    // (ref LQY_query1.txt:39-65) written as SQL text. Catalyst plans the
    // SQL and the DataFrame DSL identically; this pins the SQL entry
    // point a reference user would reach for first.
    OpQuery.checked(
      "sql_api_report",
      """SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
        |       CAST(quarter(o.o_orderdate) AS BIGINT) AS qtr,
        |       p.p_type AS genre,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p   ON l.l_partkey = p.p_partkey
        |WHERE o.o_orderdate >= DATE '1995-01-01' AND o.o_orderdate < DATE '1997-01-01'
        |GROUP BY year(o.o_orderdate), quarter(o.o_orderdate), p.p_type""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.lineitem.createOrReplaceTempView("g_lineitem")
      t.orders.createOrReplaceTempView("g_orders")
      t.part.createOrReplaceTempView("g_part")
      spark.sql(
        """SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
          |       CAST(quarter(o.o_orderdate) AS BIGINT) AS qtr,
          |       p.p_type AS genre,
          |       CAST(count(*) AS BIGINT) AS n_lines,
          |       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM g_lineitem l
          |  JOIN g_orders o ON l.l_orderkey = o.o_orderkey
          |  JOIN g_part p   ON l.l_partkey = p.p_partkey
          |WHERE o.o_orderdate >= DATE '1995-01-01' AND o.o_orderdate < DATE '1997-01-01'
          |GROUP BY year(o.o_orderdate), quarter(o.o_orderdate), p.p_type""".stripMargin)
    },

    // ── io_partition_overwrite_dynamic: restate ONE partition of a
    // year-partitioned fact table without touching the others — dynamic
    // partition overwrite, the idempotent-incremental-load primitive at
    // 100 TB (a day's restatement rewrites a day, not the table). Full
    // load, then a corrected 1996 restatement (even order keys only);
    // the final state must show 1996 halved and every other year intact.
    OpQuery.checked(
      "io_partition_overwrite_dynamic",
      """WITH finalstate AS (
        |  SELECT * FROM orders
        |  WHERE o_orderdate < DATE '1996-01-01' OR o_orderdate >= DATE '1997-01-01'
        |  UNION ALL
        |  SELECT * FROM orders
        |  WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
        |    AND o_orderkey % 2 = 0)
        |SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM finalstate GROUP BY 1""".stripMargin
    ) { (spark, dir) =>
      val path = CoreOps.scratch(dir, "dyn_overwrite")
      val orders = Tables(spark, dir).orders.withColumn("yr", year(col("o_orderdate")))
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try {
        // initial full load (static overwrite semantics are fine here too)
        orders.write.partitionBy("yr").mode("overwrite").parquet(path)
        // restated 1996: dynamic mode replaces ONLY the yr=1996 directory.
        // The restatement filters the SOURCE on the raw date range so the
        // scan prunes in any session; filtering the derived yr column
        // would collapse to year(o_orderdate)=1996, pushable only where
        // the YearPredicateRewrite extension happens to be installed
        orders
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("date")
            && col("o_orderdate") < lit("1997-01-01").cast("date")
            && col("o_orderkey") % 2 === 0)
          .write.partitionBy("yr").mode("overwrite").parquet(path)
      } finally prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None    => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      spark.read.parquet(path)
        .groupBy(col("yr").cast("long").as("yr"))
        .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("spend"))
    },

    // ── agg_grouping_sets: arbitrary GROUPING SETS — the general form
    // that ROLLUP (prefix hierarchy) and CUBE (all subsets) special-case.
    // The set list here ((pri,status),(status),()) is expressible by
    // neither: it skips the (pri) level. One Expand + one shuffle, same
    // physical shape as cube/rollup; per-column GROUPING flags avoid the
    // engine-specific grouping_id bit order.
    OpQuery.checked(
      "agg_grouping_sets",
      """SELECT o_orderpriority, o_orderstatus,
        |       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
        |       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderstatus), ())""".stripMargin
    ) { (spark, dir) =>
      Tables(spark, dir).orders
        .select(col("o_orderpriority"), col("o_orderstatus"), Norm.dec(col("o_totalprice")).as("p"))
        .groupingSets(
          Seq(Seq(col("o_orderpriority"), col("o_orderstatus")), Seq(col("o_orderstatus")), Seq()),
          col("o_orderpriority"), col("o_orderstatus"))
        .agg(
          grouping(col("o_orderpriority")).cast("long").as("g_pri"),
          grouping(col("o_orderstatus")).cast("long").as("g_status"),
          count(lit(1)).as("n"),
          sum(col("p")).cast("double").as("spend"))
        .select("o_orderpriority", "o_orderstatus", "g_pri", "g_status", "n", "spend")
    },

    // ── join_dpp_prune: dynamic partition pruning — the fact side is a
    // year-partitioned layout and the year filter arrives through a JOIN
    // (ship years carrying ≥90% of the peak year's line count), so static
    // pruning can't help; Spark plans a dynamicpruningexpression on the
    // fact scan that reuses the dim side's broadcast and opens ONLY the
    // matching year directories. At 100 TB this is the difference between
    // reading the busy years and reading the table. (The dim derivation
    // deliberately ends in a comparison Filter: Catalyst's PartitionPruning
    // rule only injects DPP when the filtering side has a likely-selective
    // predicate — a LIMIT-based top-k would not qualify.) The oracle
    // replays the same selection relationally.
    OpQuery.checked(
      "join_dpp_prune",
      """WITH cnt AS (
        |  SELECT year(l_shipdate) AS sel_yr, count(*) AS n FROM lineitem GROUP BY 1),
        |sel AS (
        |  SELECT sel_yr FROM cnt WHERE n * 10 >= (SELECT max(n) FROM cnt) * 9)
        |SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr, o.o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM orders o JOIN sel s ON year(o.o_orderdate) = s.sel_yr
        |GROUP BY 1, 2""".stripMargin
    ) { (spark, dir) =>
      val path = CoreOps.scratch(dir, "dpp_fact")
      val t = Tables(spark, dir)
      t.orders.withColumn("yr", year(col("o_orderdate")))
        .write.partitionBy("yr").mode("overwrite").parquet(path)
      val cnts = t.lineitem
        .groupBy(year(col("l_shipdate")).as("sel_yr")).agg(count(lit(1)).as("n"))
      cnts.createOrReplaceTempView("g_dpp_cnt")
      // the threshold enters as a scalar subquery so the comparison stays
      // a Filter NODE in the dim plan (a cross-join formulation fuses the
      // predicate into the join condition, and PartitionPruning then sees
      // no selective filter and skips DPP)
      val sel = spark.sql(
        "SELECT sel_yr FROM g_dpp_cnt WHERE n * 10 >= (SELECT max(n) FROM g_dpp_cnt) * 9")
      spark.read.parquet(path)
        .join(broadcast(sel), col("yr") === col("sel_yr"))
        .groupBy(col("yr").cast("long").as("yr"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("spend"))
    },

    // ── io_compact_small_files: the table-maintenance primitive — a
    // fragmented table (48 small files here; millions at 100 TB, where
    // per-file open/footer costs and NameNode pressure dominate scans) is
    // rewritten into few right-sized files with coalesce(), which merges
    // inputs WITHOUT a shuffle (each output task just reads ~12 files).
    // The checked result proves the rewrite is lossless; the file-count
    // drop itself is asserted in ExtOpsSpec.
    OpQuery.checked(
      "io_compact_small_files",
      """SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type""".stripMargin
    ) { (spark, dir) =>
      val frag      = CoreOps.scratch(dir, "compact_src")
      val compacted = CoreOps.scratch(dir, "compact_out")
      val ev = Tables(spark, dir).events.select("event_id", "event_type", "value")
      ev.repartition(48).write.mode("overwrite").parquet(frag)
      spark.read.parquet(frag).coalesce(4).write.mode("overwrite").parquet(compacted)
      spark.read.parquet(compacted)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          sum(Norm.dec6(col("value"))).cast("double").as("total_value"))
    },

    // ── join_hint_shuffle_hash: explicit join-strategy hint — the Spark
    // analog of the reference dialect's optimizer-hint culture (Oracle
    // /*+ USE_HASH */). hint("shuffle_hash") keeps the big⋈big join a
    // hash join (no sort phase on either side) where the planner's
    // default would sort-merge; the right call when one side fits a
    // partition's hash table and neither side is pre-sorted. The hint
    // changes the physical plan only — results are checked identical.
    OpQuery.checked(
      "join_hint_shuffle_hash",
      """SELECT o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.lineitem.select("l_orderkey", "l_extendedprice")
        .join(t.orders.select("o_orderkey", "o_orderstatus").hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_lines"), Norm.dsum(col("l_extendedprice")).as("revenue"))
    },

    // ── io_csv_permissive: malformed-record ingestion — PERMISSIVE mode
    // keeps every successfully-parsed field, nulls the unconvertible one,
    // and captures the raw line in the corrupt-record column (the
    // quarantine pattern: bad rows are routed, never dropped silently or
    // allowed to kill a 100 TB load). The fixture is an 8-line literal CSV
    // (driver-side write of a test vector, not data-plane); the oracle is
    // the PERMISSIVE contract itself as a VALUES table — note the empty
    // field (row 6/7) parses to NULL without being corrupt, while the
    // unconvertible tokens (rows 3/4) null their field AND flag the line.
    OpQuery.checked(
      "io_csv_permissive",
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(10.5 AS DOUBLE), 'alpha', CAST(0 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(20.25 AS DOUBLE), 'beta', CAST(0 AS BIGINT)),
        |  (CAST(NULL AS BIGINT), CAST(30.0 AS DOUBLE), 'gamma', CAST(1 AS BIGINT)),
        |  (CAST(4 AS BIGINT), CAST(NULL AS DOUBLE), 'delta', CAST(1 AS BIGINT)),
        |  (CAST(5 AS BIGINT), CAST(50.0 AS DOUBLE), 'epsilon', CAST(0 AS BIGINT)),
        |  (CAST(NULL AS BIGINT), CAST(60.5 AS DOUBLE), 'zeta', CAST(0 AS BIGINT)),
        |  (CAST(7 AS BIGINT), CAST(NULL AS DOUBLE), 'eta', CAST(0 AS BIGINT)),
        |  (CAST(8 AS BIGINT), CAST(80.0 AS DOUBLE), 'theta', CAST(0 AS BIGINT))
        |) t(id, v, tag, is_corrupt)""".stripMargin
    ) { (spark, dir) =>
      import org.apache.spark.sql.types._
      val path = CoreOps.scratch(dir, "csv_permissive")
      val lines = Seq(
        "1,10.5,alpha", "2,20.25,beta", "bad_id,30.0,gamma", "4,not_a_number,delta",
        "5,50.0,epsilon", ",60.5,zeta", "7,,eta", "8,80.0,theta")
      val f = new java.io.File(path)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath.resolveSibling(f.getName + ".csv"),
        lines.mkString("\n").getBytes("UTF-8"))
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("v", DoubleType),
        StructField("tag", StringType), StructField("_bad", StringType)))
      spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(path + ".csv")
        .select(
          col("id"), col("v"), col("tag"),
          when(col("_bad").isNotNull, 1L).otherwise(0L).as("is_corrupt"))
    },

    // ── io_schema_evolution: widening append — a v2 writer adds a column
    // the v1 files lack (the lakehouse reality: producers evolve before
    // history is rewritten). mergeSchema reconciles the footers at read
    // time and v1 rows surface NULL for the new column; the aggregation
    // buckets them as LEGACY. At 100 TB the alternative (rewriting history
    // to add a column) is exactly what this avoids.
    OpQuery.checked(
      "io_schema_evolution",
      """WITH unioned AS (
        |  SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority FROM orders
        |  WHERE o_orderdate < DATE '1996-01-01'
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |  WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01')
        |SELECT coalesce(o_orderpriority, 'LEGACY') AS priority,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM unioned GROUP BY 1""".stripMargin
    ) { (spark, dir) =>
      val path = CoreOps.scratch(dir, "schema_evo")
      val orders = Tables(spark, dir).orders
      orders.filter(col("o_orderdate") < lit("1996-01-01").cast("date"))
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(path)
      orders.filter(col("o_orderdate") >= lit("1996-01-01").cast("date")
          && col("o_orderdate") < lit("1997-01-01").cast("date"))
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("append").parquet(path)
      spark.read.option("mergeSchema", "true").parquet(path)
        .groupBy(coalesce(col("o_orderpriority"), lit("LEGACY")).as("priority"))
        .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("spend"))
    },

    // ── fn_array_pack: the higher-order array-function family — transform
    // / filter / aggregate / exists over the embedding vectors, mirroring
    // DuckDB's list_* functions. All lambdas run inside codegen as
    // partition-local array loops (zero shuffle); folds go left-to-right
    // in both engines and every float enters arithmetic through an exact
    // float→double cast, so the doubles match bit-for-bit.
    OpQuery.checked(
      "fn_array_pack",
      """SELECT vec_id,
        |       CAST(len(embedding) AS BIGINT) AS dim,
        |       list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'sum') AS l1,
        |       list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'max') AS vmax,
        |       CAST(len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0)) AS BIGINT) AS n_pos,
        |       CAST(CASE WHEN len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.99)) > 0
        |            THEN 1 ELSE 0 END AS BIGINT) AS has_hot
        |FROM embeddings""".stripMargin
    ) { (spark, dir) =>
      Tables(spark, dir).embeddings
        .select(
          col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          expr("aggregate(transform(embedding, x -> abs(CAST(x AS DOUBLE))), 0D, (a, x) -> a + x)").as("l1"),
          expr("aggregate(transform(embedding, x -> CAST(x AS DOUBLE)), CAST('-Infinity' AS DOUBLE), (a, x) -> greatest(a, x))").as("vmax"),
          expr("CAST(size(filter(embedding, x -> CAST(x AS DOUBLE) > 0D)) AS BIGINT)").as("n_pos"),
          expr("CAST(CASE WHEN exists(embedding, x -> CAST(x AS DOUBLE) > 0.99D) THEN 1 ELSE 0 END AS BIGINT)").as("has_hot"))
    },

    // ── events_session_window_api: Spark's native session_window operator
    // (events_sessionize is the hand-rolled gaps-and-islands form; this is
    // the built-in merging-window aggregation, the same operator the
    // streaming path uses). Semantics: each event spans [t, t+gap) and
    // sessions MERGE while the next event starts at or before the current
    // end — so a new session begins only when next_ts - prev_ts is
    // STRICTLY greater than the gap (an exactly-30-minute gap still
    // merges). The oracle replays that boundary with a lag/cumsum island
    // id. One shuffle on user_id.
    OpQuery.checked(
      "events_session_window_api",
      """WITH o AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts, value,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM o)
        |SELECT user_id,
        |       min(ts) AS session_start,
        |       max(ts) + INTERVAL 30 MINUTE AS session_end,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
        |FROM s GROUP BY user_id, sid""".stripMargin
    ) { (spark, dir) =>
      Tables(spark, dir).events
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(Norm.dec6(col("value"))).cast("double").as("session_value"))
        .select(
          col("user_id"), col("w.start").as("session_start"), col("w.end").as("session_end"),
          col("n_events"), col("session_value"))
    },

    // ── agg_pivot_api: the Dataset.pivot path (agg_conditional_pivot is
    // the manual CASE form). Values are passed EXPLICITLY — at scale the
    // values-less overload runs an extra distinct-collect job over the
    // pivot column and caps at spark.sql.pivotMaxValues; a known domain
    // should always be declared. Missing (priority, status) cells are
    // NULL in both the pivot and the ELSE-less CASE.
    OpQuery.checked(
      "agg_pivot_api",
      """SELECT o_orderpriority,
        |       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS spend_f,
        |       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS spend_o,
        |       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS spend_p
        |FROM orders GROUP BY 1""".stripMargin
    ) { (spark, dir) =>
      Tables(spark, dir).orders
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(Norm.dsum(col("o_totalprice")))
        .withColumnRenamed("F", "spend_f")
        .withColumnRenamed("O", "spend_o")
        .withColumnRenamed("P", "spend_p")
    },

    // ── io_sorted_layout: range-clustered table layout — the write-side
    // optimization that makes parquet min/max (zone-map) skipping work.
    // repartitionByRange + sortWithinPartitions gives each file/row-group
    // a narrow l_shipdate span, so a ship-date range scan reads ~1/8 of
    // the data instead of every row-group (at 100 TB, clustering on the
    // dominant filter column is the cheapest 10× any table gets; the
    // file-span property is asserted in ExtOpsSpec). The query result is
    // layout-independent — the oracle checks losslessness.
    OpQuery.checked(
      "io_sorted_layout",
      """SELECT l_returnflag,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= DATE '1995-06-01' AND l_shipdate < DATE '1995-09-01'
        |GROUP BY 1""".stripMargin
    ) { (spark, dir) =>
      val path = CoreOps.scratch(dir, "sorted_layout")
      Tables(spark, dir).lineitem
        .select("l_shipdate", "l_returnflag", "l_extendedprice")
        .repartitionByRange(8, col("l_shipdate"))
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
        .filter(col("l_shipdate") >= lit("1995-06-01").cast("date")
          && col("l_shipdate") < lit("1995-09-01").cast("date"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), Norm.dsum(col("l_extendedprice")).as("revenue"))
    },

    // ── io_zonemap_audit: zone-map effectiveness audit over the range-
    // clustered layout — the file-grain min/max profile that says
    // WHETHER min/max skipping will pay before anyone relies on it (the
    // io_sorted_layout claim, measured instead of asserted): write the
    // clustered copy, then profile every FILE's (min, max, rows) via the
    // engines' file-identity columns (Spark `_metadata.file_name`,
    // DuckDB `filename=true` — the filename itself never reaches the
    // output, only the per-file spans, so the hash compare is
    // path-independent) and flag which files a canonical 3-month range
    // scan must touch. At 100 TB this audit IS the table-health metric
    // a lakehouse layout job publishes: touched/total file ratio ≈ the
    // IO fraction of every range query on the cluster key.
    // (the layout persists under target/ keyed by a corpus fingerprint —
    // the BpeDictDir discipline: the oracle reads the SAME files after
    // the Spark JVM exits, and runs at other scales cannot clobber the
    // partition a pending compare depends on. A scratch dir would be
    // deleted by the JVM shutdown hook before DuckDB ever looked. The
    // range cut is EXPLICIT date arithmetic, not repartitionByRange —
    // that one samples its boundaries, so every re-execution would lay
    // the files out differently and invalidate a pending compare; the
    // deterministic cut also makes the audit itself reproducible.)
    OpQuery.checked(
      "io_zonemap_audit",
      s"""SELECT CAST(min(l_shipdate) AS DATE) AS d_min,
         |       CAST(max(l_shipdate) AS DATE) AS d_max,
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       min(l_shipdate) <= DATE '1995-08-31'
         |         AND max(l_shipdate) >= DATE '1995-06-01' AS touched
         |FROM read_parquet('$ZonemapDir/corpus_fp=*/pid=*/*.parquet',
         |                  filename=true, hive_partitioning=1)
         |WHERE corpus_fp = (
         |  SELECT CAST(sum(CAST(datediff('day', DATE '1990-01-01', CAST(l_shipdate AS DATE))
         |                       AS HUGEINT)) % 1000000000000000 AS BIGINT)
         |  FROM lineitem)
         |GROUP BY filename""".stripMargin
    ) { (spark, dir) =>
      val li = Tables(spark, dir).lineitem
      // CONTENT fingerprint (a row count lets a same-cardinality corpus
      // silently reuse a stale layout through the new _SUCCESS skip
      // gate): sum of day-offsets of the cluster key itself, mod 10^15,
      // via DECIMAL(38,0) <-> HUGEINT - exact, order-free, and mirrored
      // by the oracle's WHERE corpus_fp subquery above (both operands
      // positive, so % agrees across engines)
      val fp = graft.Artifacts.decFp(li,
        datediff(to_date(col("l_shipdate")), lit("1990-01-01").cast("date")))
      val path = s"$ZonemapDir/corpus_fp=$fp"
      // min/max as STRINGS: the column is a timestamp and the java8
      // datetime API would hand back LocalDateTime, not java.sql.Date
      val b = li.agg(
        min(to_date(col("l_shipdate"))).cast("string").as("d0"),
        max(to_date(col("l_shipdate"))).cast("string").as("d1")).head()
      val (d0, d1) = (b.getString(0), b.getString(1))
      val span = java.time.LocalDate.parse(d1).toEpochDay -
        java.time.LocalDate.parse(d0).toEpochDay + 1
      ExtOps.synchronized {
        // the explicit deterministic range cut makes the layout
        // byte-stable, so a completed write for this corpus fingerprint
        // never needs repeating (_SUCCESS-gated like the graph artifact)
        if (!graft.Artifacts.ready(spark, path))
          li.select("l_shipdate", "l_returnflag", "l_extendedprice")
            .withColumn("pid",
              expr(s"cast((datediff(l_shipdate, date'$d0') * $ZonemapCuts) div $span as int)"))
            .repartition(ZonemapCuts, col("pid"))
            .sortWithinPartitions("pid", "l_shipdate")
            .write.mode("overwrite").partitionBy("pid").parquet(path)
      }
      graft.Artifacts.read(spark, path)
        .select(col("_metadata.file_path").as("f"), col("l_shipdate"))
        .groupBy("f")
        .agg(
          min(col("l_shipdate")).as("d_min"),
          max(col("l_shipdate")).as("d_max"),
          count(lit(1)).as("n_rows"))
        .select(col("d_min"), col("d_max"), col("n_rows"),
          (col("d_min") <= lit("1995-08-31").cast("date")
            && col("d_max") >= lit("1995-06-01").cast("date")).as("touched"))
    },

    // ── text_contamination: train/benchmark overlap detection — the
    // decontamination pass every LLM training corpus needs (flag training
    // documents sharing word 8-grams with the held-out benchmark set;
    // cf. the n-gram collision checks of the GPT-3/Llama reports). The
    // benchmark split is the deterministic doc_id hash (5%), grams join
    // on md5 keys with NO broadcast hint — statistics pick the strategy,
    // and they pick well at every scale: a benchmark suite is bounded
    // (thousands of docs), so its gram set broadcasts legitimately, while
    // the training-corpus side always streams. The per-doc contamination
    // evidence is two count-distincts in one aggregation.
    OpQuery.checked(
      "text_contamination",
      """WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id, md5(gr) AS gh FROM (
        |    SELECT doc_id,
        |           unnest(list_distinct(list_transform(
        |             range(1, greatest(len(ws) - 7, 1) + 1),
        |             i -> array_to_string(ws[CAST(i AS INT):CAST(i AS INT) + 7], ' ')))) AS gr
        |    FROM w)),
        |bench AS (SELECT doc_id AS bench_id, gh FROM g
        |          WHERE (doc_id % 2147483648) * 2654435761 % 100 < 5),
        |train AS (SELECT doc_id, gh FROM g
        |          WHERE (doc_id % 2147483648) * 2654435761 % 100 >= 5)
        |SELECT t.doc_id,
        |       CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs,
        |       CAST(count(DISTINCT t.gh) AS BIGINT) AS n_shared_grams
        |FROM train t JOIN bench b USING (gh)
        |GROUP BY t.doc_id""".stripMargin
    ) { (spark, dir) =>
      val grams = Tables(spark, dir).documents
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), explode(expr(
          "array_distinct(transform(sequence(1, greatest(size(ws) - 7, 1)), i -> concat_ws(' ', slice(ws, i, 8))))"
        )).as("gr"))
        .select(col("doc_id"), md5(col("gr")).as("gh"))
      val bench = grams.filter(Norm.hashBucket(col("doc_id"), 100) < 5)
        .select(col("doc_id").as("bench_id"), col("gh"))
      val train = grams.filter(Norm.hashBucket(col("doc_id"), 100) >= 5)
      train.join(bench, "gh") // shuffle on 32-byte gram hashes
        .groupBy("doc_id")
        .agg(
          countDistinct(col("bench_id")).as("n_bench_docs"),
          countDistinct(col("gh")).as("n_shared_grams"))
    },

    // ── text_domain_quota: per-source quota sampling — cap every source
    // domain at 50 documents, picked by the deterministic doc-hash order
    // (the curation step that stops one crawl domain from dominating the
    // mix). One window shuffle on source; the quota filter is
    // WindowGroupLimit-eligible, so ranks stop computing at 50 per group.
    OpQuery.checked(
      "text_domain_quota",
      """SELECT source, doc_id,
        |       CAST(rn AS BIGINT) AS rn
        |FROM (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY (doc_id % 2147483648) * 2654435761 % 100000, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 50""".stripMargin
    ) { (spark, dir) =>
      Tables(spark, dir).documents
        .withColumn("rn", row_number().over(
          Window.partitionBy("source")
            .orderBy(Norm.hashBucket(col("doc_id"), 100000), col("doc_id"))))
        .filter(col("rn") <= 50)
        .select(col("source"), col("doc_id"), col("rn").cast("long").as("rn"))
    },

    // ── agg_histogram: fixed-width value histogram per event type — the
    // distribution-profiling pass of a data-quality pipeline. Bin =
    // floor(value / width): IEEE division and floor are exactly rounded
    // in both engines, so bin edges are deterministic (no width_bucket,
    // which DuckDB lacks). Pure projection + one aggregation shuffle on
    // the tiny (type, bin) grain.
    OpQuery.checked(
      "agg_histogram",
      """SELECT event_type,
        |       CAST(floor(value / 25.0) AS BIGINT) AS bin,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS bin_value
        |FROM events GROUP BY 1, 2""".stripMargin
    ) { (spark, dir) =>
      Tables(spark, dir).events
        .groupBy(
          col("event_type"),
          floor(col("value") / 25.0).cast("long").as("bin"))
        .agg(
          count(lit(1)).as("n"),
          sum(Norm.dec6(col("value"))).cast("double").as("bin_value"))
    }
  )
}
