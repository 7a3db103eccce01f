package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit, pmod, regexp_replace, xxhash64}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** `corpus`: the LLM-data pipeline's text operators over a seeded
  * sample of the documents test table. Set-up writes the sample and
  * runs the op set twice as a warm-up (none of these ops persists an
  * artifact); the timed loop then cycles through the op set warm. */
object Corpus {
  /** The op set: shingle containment dedup, substring dedup over native
    * gram hashes, and Bloom-filter contamination. The embedding ops
    * (dedup_semantic, sim_topk_ivf_pq8, sim_knn_graph), dedup_cluster_star
    * and pipeline_pretrain_v2 are left out: their first calls, which
    * train artifacts, take 3–35 s each, more than a run's budget holds
    * next to the reports workload. */
  val Keys: Seq[String] = Seq("dedup_containment", "text_dedup_substring", "text_contamination_bloom")

  /** Percent of the documents table one run samples. */
  val SamplePct = 12

  /** Writes the run's corpus to `dir`: a seed-chosen hash sample of the
    * documents table at `source`. A near copy is an earlier document
    * with " dup" appended; it hashes with its original, so the sample
    * keeps the table's share of duplicates. */
  def sample(ctx: Ctx, source: String, dir: String): Unit = {
    val group = regexp_replace(col("text"), " dup$", "")
    ctx.spark.read.parquet(source)
      .filter(pmod(xxhash64(lit(ctx.seed), group), lit(100)) < SamplePct)
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
  }

  /** One op call; `layer` names its span. */
  private def runOp(ctx: Ctx, key: String, dataDir: String, layer: String): (StructType, Array[Row]) = {
    val out = ctx.span(layer) {
      val df = graft.SparkEntry.queries(key)(ctx.spark, dataDir)
      (df.schema, df.collect())
    }
    // ops cache intermediates they cannot know the caller is done with;
    // drop them so each op runs on its own, as the repository's sweep does
    Dw.uncache(ctx)
    out
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val (dataDir, setupS) = ctx.setup {
      val dir = ctx.dir("corpus")
      sample(ctx, ctx.inputs + "/documents.parquet", dir)
      // two passes: after one, the loop's ops still got faster round by
      // round as the JIT compiled them
      ctx.span("ops.warmup")(for (_ <- 1 to 2; k <- Keys) runOp(ctx, k, dir, s"ops.warmup.$k"))
      dir
    }
    Heap.checkpoint()
    val last = scala.collection.mutable.Map.empty[String, (StructType, Array[Row])]
    val (lat, attempted) = ctx.loop(Keys.size) { i =>
      val k = Keys(i % Keys.size)
      last(k) = runOp(ctx, k, dataDir, s"ops.$k")
    }
    Heap.checkpoint()
    val views = Map("documents" -> s"$dataDir/documents.parquet/*.parquet")
    val checks = last.toSeq.sortBy(_._1).map { case (k, (schema, rows)) =>
      val got = s"${ctx.dir("checks")}/$k"
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.parquet(got)
      OracleCheck(k, graft.SparkEntry.oracleSql(k), got, views)
    }
    Outcome(setupS, lat, attempted, failed = attempted - lat.size, oracle = checks,
      layer = Map.empty, notes = Seq(s"${lat.size} op calls over ${last.size} ops"))
  }
}
