package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One correctness check handed to the DuckDB side of the benchmark:
  * `sql` is run against `views` (name → parquet glob) and must equal
  * the rows stored at `got` under the repository's compare rules. */
final case class OracleCheck(name: String, sql: String, got: String, views: Map[String, String])

/** What a workload hands back: its set-up time, the latencies of the
  * timed operations that succeeded, how many were attempted and failed,
  * the checks left for DuckDB, and layer numbers only the workload can
  * compute. */
final case class Outcome(
    setupS: Double,
    latenciesMs: Seq[Double],
    attempted: Long,
    failed: Long,
    oracle: Seq[OracleCheck],
    layer: Map[String, Double],
    notes: Seq[String])

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val runDir: String, val inputs: String, val seed: Long,
    val seconds: Int, val tracer: Option[Tracer], val cores: Int) {
  /** Times `f` as one call into `layer`; a plain call when untraced. */
  def span[T](layer: String)(f: => T): T = tracer match {
    case Some(t) => t.span(layer)(f)
    case None => f
  }
  def dir(name: String): String = {
    val d = new File(runDir, name)
    d.mkdirs()
    d.getAbsolutePath
  }
  /** Runs the workload's set-up in a "setup" span, then compiles the
    * reference kernel the loop runs; returns its state and duration in
    * seconds. */
  def setup[S](f: => S): (S, Double) = {
    val t = System.nanoTime()
    val s = span("setup")(f)
    for (_ <- 1 to 20) Reference.run()
    (s, (System.nanoTime() - t) / 1e9)
  }

  /** Wall time of the timed loop, without the reference kernel's. */
  var timedWallS = 0.0
  /** The JIT compiler threads' CPU time in the timed loop. */
  var timedJitCpuS = 0.0
  /** Share of the host's CPU time stolen by the hypervisor during the
    * timed loop (Linux `/proc/stat`), recorded so noisy runs can be
    * told apart; NaN where unavailable. */
  var timedStealFrac = Double.NaN

  private def procStat(): Option[Array[Long]] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
  }.toOption
  /** The JIT compiler threads' `/proc` entries. run.py starts the JVM
    * with a fixed set of compiler threads that live as long as it does,
    * so they are looked up once. Empty where `/proc` is unavailable. */
  private lazy val jitThreads: Seq[File] = scala.util.Try {
    new File("/proc/self/task").listFiles().toSeq.filter { t =>
      scala.util.Try(readFile(new File(t, "comm")).contains("CompilerThre")).getOrElse(false)
    }
  }.getOrElse(Nil)
  private def readFile(f: File): String = {
    val src = scala.io.Source.fromFile(f)
    try src.mkString finally src.close()
  }
  /** CPU time of the JIT compiler threads so far, in seconds, from
    * Linux's per-thread accounting (clock ticks of 10 ms); 0 where it
    * is not available. */
  private def jitCpuS(): Double = jitThreads.map { t =>
    scala.util.Try {
      val f = readFile(new File(t, "stat")).split("\\) ", 2)(1).split(' ')
      (f(11).toLong + f(12).toLong) / 100.0 // utime, stime
    }.getOrElse(0.0)
  }.sum

  /** Per timed operation that succeeded: its kind (index in the round)
    * and the process CPU time it took, less the JIT compiler's, in ms. */
  val opCpuMs = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]

  /** The reference kernel's CPU time after each of those, in ms. */
  val refCpuMs = scala.collection.mutable.ArrayBuffer.empty[Double]

  var codegenCompiles = 0L
  var codegenMs = 0.0

  /** The closed loop: runs `op(0)`, `op(1)`, ... one after another,
    * each in an "op" span, until `seconds` have passed and a whole
    * number of rounds of `round` ops has run, so every run weighs each
    * kind of op alike. An op that throws counts as failed. Returns the
    * latencies of the ops that succeeded and the number attempted. */
  def loop(round: Int)(op: Int => Unit): (Seq[Double], Long) = {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val n0 = CodeGenerator.compileTime
    Main.mark("timed loop starts")
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jit0 = jitCpuS()
    val stat0 = procStat()
    val t0 = System.nanoTime()
    val end = t0 + seconds * 1000000000L
    var refNs = 0L
    var i = 0
    while (System.nanoTime() < end || i % round != 0) {
      val s = System.nanoTime()
      val c = os.getProcessCpuTime
      val j = jitCpuS()
      try {
        span("op")(op(i))
        lat += (System.nanoTime() - s) / 1e6
        opCpuMs += ((i % round, (os.getProcessCpuTime - c) / 1e6 - (jitCpuS() - j) * 1e3))
        val r = System.nanoTime()
        refCpuMs += Reference.run()
        refNs += System.nanoTime() - r
      } catch {
        case e: Exception => System.err.println(s"[perfbench] op $i failed: $e")
      }
      i += 1
    }
    timedWallS = (System.nanoTime() - t0 - refNs) / 1e9
    timedJitCpuS = jitCpuS() - jit0
    for (a <- stat0; b <- procStat() if a.length > 7) {
      val d = b.zip(a).map { case (x, y) => x - y }
      timedStealFrac = d(7).toDouble / math.max(d.take(8).sum, 1L)
    }
    Main.mark(s"timed loop done: $i ops")
    codegenCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    codegenMs = (CodeGenerator.compileTime - n0) / 1e6
    (lat.toSeq, i.toLong)
  }

}

/** Old-generation occupancy right after a full collection, sampled
  * at fixed points of a run. */
object Heap {
  val samplesMb = scala.collection.mutable.ArrayBuffer.empty[Double]
  def checkpoint(): Unit = {
    // the first collection lets Spark's cleaner see unreachable
    // broadcasts and shuffles; give it a moment to drop their blocks so
    // the sample does not depend on when the cleaner thread ran
    System.gc()
    Thread.sleep(500)
    System.gc()
    samplesMb ++= ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getName.contains("Old"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed / 1048576.0)
  }
  def peakMb: Double = samplesMb.max
}

/** A fixed piece of single-threaded JVM work that calls no library or
  * Spark code and allocates nothing: a walk of 60k dependent random
  * reads through 16 MB, then a sort of 64k longs, about 20 ms of CPU. The loop runs it on the client thread after every timed
  * operation. The host is shared, and how fast it runs this process
  * changes from minute to minute (busy neighbours on the same cores and
  * memory); the kernel's CPU time moves with it, so an operation's CPU
  * time divided by the kernel's is a cost the host's speed largely
  * cancels out of. No change to the library can move the kernel's time. */
object Reference {
  private val tmx = ManagementFactory.getThreadMXBean
  private val Size = 1 << 22
  /** One random cycle through all of `0 until Size` (Sattolo's
    * shuffle), off the heap so `heap_peak_mb` does not count it. */
  private val next: java.nio.IntBuffer = {
    val a = java.nio.ByteBuffer.allocateDirect(Size * 4)
      .order(java.nio.ByteOrder.nativeOrder()).asIntBuffer()
    for (i <- 0 until Size) a.put(i, i)
    val r = new java.util.Random(42)
    var i = Size - 1
    while (i > 0) {
      val j = r.nextInt(i)
      val t = a.get(i)
      a.put(i, a.get(j))
      a.put(j, t)
      i -= 1
    }
    a
  }
  private val keys = { val r = new java.util.Random(7); Array.fill(1 << 16)(r.nextLong()) }
  private val scratch = new Array[Long](keys.length)
  private var sink = 0L

  /** Runs the kernel once; returns its CPU time in ms. */
  def run(): Double = {
    val t = tmx.getCurrentThreadCpuTime
    var p = 0
    var h = 0L
    var k = 0
    while (k < 60000) {
      p = next.get(p)
      h = h * 31 + p
      k += 1
    }
    System.arraycopy(keys, 0, scratch, 0, keys.length)
    java.util.Arrays.sort(scratch)
    sink += h + scratch(keys.length / 2)
    (tmx.getCurrentThreadCpuTime - t) / 1e6
  }
}

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** The highest order statistic with at least ten samples above it:
    * (value, its percentile, samples beyond it). With ten samples or
    * fewer there is no such value and the maximum is reported with the
    * true count beyond it (zero). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val k = s.size - 11
    if (k < 0) (s.last, 100.0, 0)
    else (s(k), 100.0 * (k + 1) / s.size, s.size - 1 - k)
  }
}

object Main {
  private val t0 = System.nanoTime()
  /** Phase marks on stderr, with seconds since the JVM loaded the benchmark. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.1f s  $what")

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(name)
    require(i >= 0 && i + 1 < args.length, s"missing $name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toInt
    val trace = arg(args, "--trace") == "1"
    val runDir = new File(arg(args, "--run-dir")).getAbsolutePath
    val inputs = new File(arg(args, "--inputs")).getAbsolutePath
    val traceOut = arg(args, "--trace-out")
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$runDir/spark-warehouse")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    mark("session ready")
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    val ctx = new Ctx(spark, runDir, inputs, seed, seconds, tracer, cores)
    val out = workload match {
      case "reports" => Reports.run(ctx)
      case "corpus" => Corpus.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    mark("workload done")

    val lat = out.latenciesMs
    val (tailV, tailPct, beyond) = Stats.tail(lat)
    val p50 = Stats.median(lat)
    val opsPerS = lat.size / ctx.timedWallS
    // the median CPU time of each kind of operation, averaged over the
    // kinds: a stray collection or compile burst moves one sample, not
    // the figure, and every run weighs the kinds alike
    val cpuPerOp = Stats.mean(ctx.opCpuMs.groupBy(_._1).values
      .map(ops => Stats.median(ops.map(_._2).toSeq)).toSeq)
    val refMs = Stats.median(ctx.refCpuMs.toSeq)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    metrics("setup_s") = (sessionS + out.setupS, "s")
    metrics("heap_peak_mb") = (Heap.peakMb, "MB")
    metrics("cpu_per_op_ref") = (cpuPerOp / refMs, "ref")
    val info = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> cores, "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "xmx" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .find(_.startsWith("-Xmx")).getOrElse("default"),
      "session_s" -> sessionS, "workload_setup_s" -> out.setupS,
      "timed_ops" -> lat.size, "p50_ms" -> p50, "ops_per_s" -> opsPerS,
      "tail_ms" -> tailV, "tail_percentile" -> tailPct,
      "tail_samples_beyond" -> beyond,
      "jit_cpu_ms_per_op" -> ctx.timedJitCpuS * 1e3 / lat.size,
      "steal_frac" -> ctx.timedStealFrac, "heap_samples_mb" -> Heap.samplesMb.toSeq,
      "latencies_ms" -> lat.map(x => math.round(x * 10) / 10.0),
      "cpu_ms_per_op" -> cpuPerOp, "ref_cpu_ms" -> refMs,
      "op_cpu_ms" -> ctx.opCpuMs.map { case (k, v) => Seq(k, math.round(v)) }.toSeq,
      "ref_cpu_ms_samples" -> ctx.refCpuMs.map(x => math.round(x * 100) / 100.0).toSeq,
      "notes" -> out.notes)

    tracer.foreach { t =>
      t.drain()
      val layer = Layers.summarize(t, out, ctx)
      metrics.clear()
      layer.foreach { case (k, v) => metrics(k) = v }
      metrics("trace.p50_ms") = (p50, "ms")
      metrics("trace.ops_per_s") = (opsPerS, "1/s")
      metrics("trace.cpu_ms_per_op") = (cpuPerOp, "ms")
      Layers.write(t, layer, traceOut, workload, seed)
    }
    Json.writeResult(s"$runDir/result.json", out, metrics.toSeq, info.toSeq)
    mark("result written")
    spark.stop()
    mark("session stopped")
  }
}
