package graft.plans

import java.util.concurrent.{Future => JFuture, TimeUnit}

import scala.concurrent.Promise

import graft.FileMemo
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, InterpretedUnsafeProjection, PlanExpression, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastMode, BroadcastPartitioning, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, FilterExec, InputAdapter, ProjectExec, SQLExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, BroadcastExchangeLike}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Job-free broadcasts of small store snapshot scans, an AQE query-stage
  * preparation rule. It replaces a `BroadcastExchangeExec` with a
  * [[SnapshotBroadcastExchangeExec]] when its child is only
  * deterministic, subquery-free projections and filters over one
  * non-partitioned, non-bucketed file scan whose files are all store
  * snapshot files ([[graft.etl.SnapshotStore.areSnapshotFiles]]) and whose
  * unfiltered size is within `spark.sql.autoBroadcastJoinThreshold`.
  *
  * Why: a star report joins its fact to small dimensions that are
  * committed store versions. Spark collects each broadcast side with a
  * one-task job per query, followed by an AQE re-plan. Snapshot files are
  * write-once, so the scan's rows can be read once and kept (the rows
  * kind of [[graft.FileMemo]]); each query then applies its own filters and
  * projections to them on the driver and broadcasts the result without
  * a job. The rows are memoized, not the broadcast: a request's filters
  * differ (constraint propagation copies its date window into the
  * `dim_date` side, and a gender or state list filters `dim_members`),
  * so a memo of the broadcast subtree would hit only exact repeats.
  *
  * The logical plan is unchanged, so `inputFiles` and file pruning read
  * as before. Sessions without AQE, and DSv2 scans of the store, keep
  * Spark's exchange. Registered by [[GraftExtensions]].
  */
object SnapshotBroadcast extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case b @ BroadcastExchangeExec(mode, child) =>
      scanUnder(child).flatMap(snapshotFiles).fold[SparkPlan](b)(files =>
        SnapshotBroadcastExchangeExec(mode, child, files))
  }

  /** The one file scan under a chain of projections and filters that
    * can run on the driver. */
  private def scanUnder(p: SparkPlan): Option[FileSourceScanExec] = p match {
    case ProjectExec(list, c) if list.forall(driverSafe) => scanUnder(c)
    case FilterExec(cond, c) if driverSafe(cond) => scanUnder(c)
    case s: FileSourceScanExec => Some(s)
    case _ => None
  }

  private def driverSafe(e: Expression): Boolean =
    e.deterministic && !e.exists(_.isInstanceOf[PlanExpression[_]])

  /** The scan's files, when it is an unpartitioned, unbucketed batch
    * scan of snapshot files within the broadcast threshold. */
  private def snapshotFiles(s: FileSourceScanExec): Option[Seq[FileMemo.FileId]] = {
    val r = s.relation
    if (r.partitionSchema.nonEmpty || r.bucketSpec.nonEmpty || s.stream.nonEmpty ||
      r.sizeInBytes > conf.autoBroadcastJoinThreshold) None
    else {
      val files = r.location.listFiles(Nil, Nil).flatMap(_.files).map(f =>
        FileMemo.FileId(f.getPath.toString, f.getLen, f.getModificationTime))
      val hadoopConf = r.sparkSession.sessionState.newHadoopConfWithOptions(r.options)
      Some(files.sortBy(_.path))
        .filter(fs => graft.etl.SnapshotStore.areSnapshotFiles(hadoopConf, fs.map(f => new Path(f.path))))
    }
  }
}

/** A broadcast built on the driver, with no Spark job, from the rows of
  * `files`: the memoized rows of its scan (the rows kind of
  * [[graft.FileMemo]], capped by the broadcast threshold; a miss
  * collects them with one job) go through the child's filters and
  * projections on the driver, then into `mode`'s relation. The child is
  * kept for the plan's output, canonical form and EXPLAIN; it runs only
  * where it is not the projections and filters over the scan that
  * [[SnapshotBroadcast]] accepted. Its name keeps "Exchange" only inside
  * "BroadcastExchange", as plan checks that look for shuffles expect. */
case class SnapshotBroadcastExchangeExec(mode: BroadcastMode, child: SparkPlan,
    files: Seq[FileMemo.FileId]) extends BroadcastExchangeLike {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "dataSize" -> SQLMetrics.createSizeMetric(sparkContext, "data size"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def outputPartitioning: Partitioning = BroadcastPartitioning(mode)

  override def stringArgs: Iterator[Any] = Iterator(mode, s"snapshotFiles=${files.size}")

  override def doCanonicalize(): SparkPlan =
    copy(mode = mode.canonicalized, child = child.canonicalized)

  override def runtimeStatistics: Statistics =
    Statistics(metrics("dataSize").value, Some(metrics("numOutputRows").value))

  @transient private lazy val promise = Promise[Broadcast[Any]]()

  @transient override lazy val completionFuture: scala.concurrent.Future[Broadcast[Any]] =
    promise.future

  @transient override lazy val relationFuture: JFuture[Broadcast[Any]] =
    SQLExecution.withThreadLocalCaptured[Broadcast[Any]](session,
      SnapshotBroadcastExchangeExec.pool) {
      try {
        sparkContext.addJobTag(jobTag)
        sparkContext.setInterruptOnCancel(true)
        val rows = onDriver(child)
        metrics("numOutputRows") += rows.length
        metrics("dataSize") += FileMemo.Rows.weigh(files, rows)
        val b = sparkContext.broadcast[Any](mode.transform(rows.iterator, Some(rows.length.toLong)))
        SQLMetrics.postDriverMetricUpdates(sparkContext,
          sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
        promise.trySuccess(b)
        b
      } catch {
        case e: Throwable =>
          promise.tryFailure(e)
          throw e
      }
    }

  /** `p`'s rows: projections and filters evaluated here, interpreted
    * (small inputs; no class to compile per query), over the scan's
    * memoized rows. AQE's stage preparation wraps the child in codegen
    * and columnar-transition nodes, which are looked through; any other
    * node runs as Spark would run it. */
  private def onDriver(p: SparkPlan): Array[InternalRow] = p match {
    case ProjectExec(list, c) =>
      val proj = InterpretedUnsafeProjection.createProjection(
        BindReferences.bindReferences(list, c.output))
      proj.initialize(0)
      onDriver(c).map(r => proj(r).copy())
    case FilterExec(cond, c) =>
      val pred = Predicate.createInterpreted(BindReferences.bindReference(cond, c.output))
      pred.initialize(0)
      onDriver(c).filter(pred.eval)
    case WholeStageCodegenExec(c) => onDriver(c)
    case InputAdapter(c) => onDriver(c)
    case ColumnarToRowExec(c) => onDriver(c)
    case s: FileSourceScanExec =>
      FileMemo.get(FileMemo.Rows, files, (s.schema, s.relation.options),
        conf.autoBroadcastJoinThreshold) {
        val all = s.copy(dataFilters = Nil)
        Some((if (all.supportsColumnar) ColumnarToRowExec(all) else all).executeCollect())
      }.get
    case other => other.executeCollect()
  }

  override protected def doPrepare(): Unit = relationFuture: Unit

  override protected def doExecute(): org.apache.spark.rdd.RDD[InternalRow] =
    throw new UnsupportedOperationException(s"$nodeName does not support execute()")

  override def doExecuteBroadcast[T](): Broadcast[T] =
    relationFuture.get(conf.broadcastTimeout, TimeUnit.SECONDS).asInstanceOf[Broadcast[T]]

  override protected def withNewChildInternal(newChild: SparkPlan): SnapshotBroadcastExchangeExec =
    copy(child = newChild)
}

object SnapshotBroadcastExchangeExec {
  /** Builds the broadcasts off the thread that plans the query. */
  private val pool = java.util.concurrent.Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "snapshot-broadcast")
    t.setDaemon(true)
    t
  }
}
