package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev-only empirical profiler (guide §1): runs the named queries with the
  * Bench session configuration and reports, per query, the warm cost
  * decomposition the disabled UI would otherwise show — jobs launched,
  * stages, tasks, summed executor task time, GC time, shuffle bytes
  * read/written, and records shuffled. Methodology: Bench's session
  * confs and warmup action, `.count()` as the measured action, and the
  * cache and persistent RDDs cleared before EVERY repeat, so no repeat
  * is measured on a frame an earlier repeat persisted. One row per
  * repeat (GRAFT_PROFILE_RUNS, default 2): the first carries one-time
  * artifact builds and codegen, later ones run warm. The last column is
  * the repeat's [[FileMemo]] traffic: hits/misses/evictions per kind
  * that saw any.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.Profile <sfDir> key..."
  */
object Profile {
  final class Acc extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskTimeMs = new AtomicLong
    val gcMs = new AtomicLong
    val shufReadB = new AtomicLong
    val shufWriteB = new AtomicLong
    val shufReadRec = new AtomicLong
    val inputB = new AtomicLong
    val spillB = new AtomicLong
    val maxTaskMs = new AtomicLong
    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0); taskTimeMs.set(0); gcMs.set(0)
      shufReadB.set(0); shufWriteB.set(0); shufReadRec.set(0); inputB.set(0); spillB.set(0)
      maxTaskMs.set(0); jobLog.clear()
    }
    /** Per-job callsites (GRAFT_PROFILE_JOBS=1): attributes sequential
      * driver-blocking jobs — a metadata-latency-bound query's cost is
      * its job LIST, which the aggregate counters can't show. */
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      if (sys.env.contains("GRAFT_PROFILE_JOBS")) {
        val si = e.stageInfos.lastOption
        val name = si.map(_.name).getOrElse("?")
        // first graft frame of the submitting stack — the actual caller
        val frame = si.map(_.details).getOrElse("").split('\n')
          .find(l => l.contains("graft.") && !l.contains("graft.Profile"))
          .getOrElse("").trim
        jobLog.add(s"job ${e.jobId} (${e.stageInfos.size} stages): $name | $frame"): Unit
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskTimeMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufReadRec.addAndGet(m.shuffleReadMetrics.recordsRead)
        inputB.addAndGet(m.inputMetrics.bytesRead)
        spillB.addAndGet(m.memoryBytesSpilled)
        maxTaskMs.getAndAccumulate(m.executorRunTime, math.max(_, _)): Unit
      }
    }
    /** Drain: poll until the task counter stops moving (the listener bus
      * delivers asynchronously; a fixed sleep silently dropped straggler
      * onTaskEnd events from the printed counters). */
    def quiesce(timeoutMs: Long = 2000): Unit = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      var seen = -1
      while (seen != tasks.get && System.nanoTime() < deadline) {
        seen = tasks.get
        Thread.sleep(50)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val keys = if (args.length > 1) args.drop(1).toSeq else Seq("q1_genre_sales")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", graft.Artifacts.Root + "/spark-warehouse")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    // A/B experiment hook: GRAFT_EXTRA_CONFS="k=v;k=v" layers candidate
    // settings over the Bench baseline so their effect is measurable in
    // isolation before they are promoted into the Bench session itself.
    sys.env.get("GRAFT_EXTRA_CONFS").foreach(_.split(';').filter(_.contains("=")).foreach { kv =>
      val Array(k, v) = kv.split("=", 2); builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    val repeats = sys.env.getOrElse("GRAFT_PROFILE_RUNS", "2").toInt
    println(f"${"query"}%-34s ${"sec"}%7s ${"jobs"}%5s ${"stg"}%4s ${"task"}%5s ${"taskSec"}%8s ${"gcMs"}%6s ${"shRdMB"}%7s ${"shWrMB"}%7s ${"shRdRec"}%9s ${"inMB"}%7s ${"spillMB"}%7s ${"maxTask"}%7s memo(h/m/e)")
    keys.foreach { name =>
      (1 to repeats).foreach { i =>
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        System.gc()
        acc.reset()
        val memo0 = FileMemo.kinds.map(FileMemo.stats)
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val tBuild = (System.nanoTime() - t0) / 1e9
        val buildJobs = acc.jobs.get
        df.count()
        val sec = (System.nanoTime() - t0) / 1e9
        val label = s"$name#$i"
        System.err.println(f"[profile] $label%-34s build=$tBuild%.3f ($buildJobs jobs) action=${sec - tBuild}%.3f")
        // let straggler listener events drain before reading the counters
        acc.quiesce()
        val memo = FileMemo.kinds.zip(memo0).map { case (k, s0) => k.name -> (FileMemo.stats(k) - s0) }
          .collect { case (n, d) if d.hits + d.misses + d.evictions > 0 =>
            s"$n ${d.hits}/${d.misses}/${d.evictions}" }.mkString(" ")
        println(f"$label%-34s $sec%7.3f ${acc.jobs.get}%5d ${acc.stages.get}%4d ${acc.tasks.get}%5d ${acc.taskTimeMs.get / 1000.0}%8.2f ${acc.gcMs.get}%6d ${acc.shufReadB.get / 1e6}%7.1f ${acc.shufWriteB.get / 1e6}%7.1f ${acc.shufReadRec.get}%9d ${acc.inputB.get / 1e6}%7.1f ${acc.spillB.get / 1e6}%7.1f ${acc.maxTaskMs.get}%7d $memo")
        if (sys.env.contains("GRAFT_PROFILE_JOBS"))
          acc.jobLog.forEach(l => System.err.println(s"[jobs] $label $l"))
      }
    }
    spark.stop()
  }
}
