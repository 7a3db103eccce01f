package perfbench

import java.io.File

/** Turns a traced run's spans into the per-layer metrics and writes
  * the spans and the per-layer table out. Every workload prints the
  * same metric set; a layer a workload never calls reads 0. */
object Layers {
  /** Spans whose mean duration per call is a metric, `<name>.ms`. */
  val Timed: Seq[String] = Seq("gen", "etl.derive", "etl.load", "store.bootstrap",
    "ops.warmup", "store.read", "queries.build", "plans.plan", "exec.run")


  def summarize(t: Tracer, out: Outcome, ctx: Ctx): Seq[(String, (Double, String))] = {
    val spans = t.spans
    val incl = t.inclusive(spans)
    val byId = spans.map(s => s.id -> s).toMap
    def inOp(s: Span): Boolean = s.name == "op" || byId.get(s.parent).exists(inOp)
    // set-up layers count every call; the rest only calls made by timed ops
    val setupLayers = Set("gen", "etl.derive", "etl.load", "store.bootstrap", "ops.warmup")
    def named(n: String) = spans.filter(s => s.name == n && (setupLayers(n) || inOp(s)))
    def meanMs(n: String) = { val s = named(n); if (s.isEmpty) 0.0 else s.map(_.ms).sum / s.size }
    val ops = named("op")
    val perOp = math.max(ops.size, 1).toDouble
    val exec = new SparkCounters
    ops.foreach(o => exec.add(incl(o.id)))

    Timed.map(n => s"$n.ms" -> (meanMs(n), "ms")) ++
      Seq("store.prune_ratio" -> (out.layer.getOrElse("store.prune_ratio", 0.0), "ratio")) ++
      Seq(
        "exec.jobs" -> (exec.jobs / perOp, "count"),
        "exec.tasks" -> (exec.tasks / perOp, "count"),
        "exec.task.ms" -> (exec.taskMs / perOp, "ms"),
        "exec.busy_frac" -> (exec.taskMs / (ctx.cores * ctx.timedWallS * 1e3), "ratio"),
        "exec.gc.ms" -> (exec.gcMs / perOp, "ms"),
        "exec.shuffle.bytes" -> (exec.shuffleBytes / perOp, "bytes"),
        "exec.spill.bytes" -> (exec.spillBytes / perOp, "bytes"),
        "exec.codegen.compiles" -> (ctx.codegenCompiles / perOp, "count"),
        "exec.codegen.ms" -> (ctx.codegenMs / perOp, "ms")) ++
      Corpus.Keys.map(k => s"ops.$k.ms" -> (meanMs(s"ops.$k"), "ms"))
  }

  /** Writes `trace-<workload>-<seed>.jsonl` (one span a line) and
    * `layers-<workload>-<seed>.txt` (per-layer table with self time)
    * under `dir`, and prints the table to stderr. */
  def write(t: Tracer, metrics: Seq[(String, (Double, String))], dir: String,
      workload: String, seed: Long): Unit = {
    new File(dir).mkdirs()
    val spans = t.spans
    val self = t.selfMs
    val own = (id: Int) => Option(t.counters.get(id)).getOrElse(new SparkCounters)
    Json.write(s"$dir/trace-$workload-$seed.jsonl", spans.map { s =>
      val c = own(s.id)
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6, "self_ms" -> self(s.id),
        "jobs" -> c.jobs, "tasks" -> c.tasks, "task_ms" -> c.taskMs, "gc_ms" -> c.gcMs,
        "shuffle_bytes" -> c.shuffleBytes, "input_bytes" -> c.inputBytes,
        "spill_bytes" -> c.spillBytes))
    }.mkString("", "\n", "\n"))

    val header = f"${"layer"}%-28s ${"calls"}%7s ${"total_ms"}%11s ${"self_ms"}%11s ${"mean_ms"}%9s " +
      f"${"jobs"}%6s ${"tasks"}%7s ${"task_ms"}%10s ${"gc_ms"}%8s ${"shuffle_B"}%12s ${"input_B"}%12s ${"spill_B"}%9s"
    val rows = spans.groupBy(_.name).toSeq.sortBy(-_._2.map(s => self(s.id)).sum).map { case (n, ss) =>
      val c = new SparkCounters
      ss.foreach(s => c.add(own(s.id)))
      val total = ss.map(_.ms).sum
      f"$n%-28s ${ss.size}%7d $total%11.1f ${ss.map(s => self(s.id)).sum}%11.1f ${total / ss.size}%9.1f " +
        f"${c.jobs}%6d ${c.tasks}%7d ${c.taskMs}%10d ${c.gcMs}%8d ${c.shuffleBytes}%12d ${c.inputBytes}%12d ${c.spillBytes}%9d"
    }
    val metricLines = metrics.map { case (k, (v, u)) => f"$k%-28s $v%14.4f $u" }
    val text = (Seq(s"per-layer table: workload=$workload seed=$seed " +
      "(Spark counters are charged to the innermost span; self = duration minus child spans)",
      header) ++ rows ++ Seq("", "per-layer metrics") ++ metricLines).mkString("", "\n", "\n")
    Json.write(s"$dir/layers-$workload-$seed.txt", text)
    System.err.print(text)
  }
}
