package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.spark.graftbench.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, FilterExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Local file system that counts the metadata and open calls the
  * engine makes. Installed as `fs.file.impl` in traced runs only. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  override def listStatus(f: Path): Array[FileStatus] = { lists.incrementAndGet(); super.listStatus(f) }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    lists.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = { statuses.incrementAndGet(); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet(); super.open(f, bufferSize)
  }
}

object CountingLocalFileSystem {
  val lists = new AtomicLong
  val statuses = new AtomicLong
  val opens = new AtomicLong
}

/** Scan, write and operator figures read from one executed plan. */
final case class PlanSummary(filesRead: Long, scanRows: Long, filesWritten: Long,
                             bytesWritten: Long, rowsWritten: Long)

object Plans {
  /** Every node of an executed plan, through adaptive stages, command
    * wrappers and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)

  def summary(p: SparkPlan): PlanSummary = {
    val all = nodes(p)
    val scans = all.collect { case s: FileSourceScanExec => s }
    val writes = all.collect { case w: DataWritingCommandExec => w.cmd.metrics }
    PlanSummary(
      filesRead = scans.map(metric(_, "numFiles")).sum,
      scanRows = scans.map(metric(_, "numOutputRows")).sum,
      filesWritten = writes.map(m => m.get("numFiles").map(_.value).getOrElse(0L)).sum,
      bytesWritten = writes.map(m => m.get("numOutputBytes").map(_.value).getOrElse(0L)).sum,
      rowsWritten = writes.map(m => m.get("numOutputRows").map(_.value).getOrElse(0L)).sum)
  }

  private def isJoin(p: SparkPlan): Boolean = p.nodeName.contains("Join")

  /** Plan guard: the executed plan of a timed action must still hold
    * the operator under test, so no change can win by letting Catalyst
    * prune the work away. `refine:<term>` asks for a filter or join
    * condition that mentions the term. Returns the missing requirements. */
  def missing(df: DataFrame, required: Seq[String]): Seq[String] = {
    val all = nodes(df.queryExecution.executedPlan)
    def has(req: String): Boolean = req match {
      case "generate" => all.exists(_.isInstanceOf[GenerateExec])
      case "aggregate" => all.exists(_.isInstanceOf[BaseAggregateExec])
      case "join" => all.exists(isJoin)
      case r if r.startsWith("refine:") =>
        val term = r.stripPrefix("refine:").toLowerCase
        all.exists {
          case f: FilterExec => f.condition.sql.toLowerCase.contains(term)
          case j if isJoin(j) => j.simpleStringWithNodeId().toLowerCase.contains(term) ||
            j.verboseStringWithOperatorId().toLowerCase.contains(term)
          case _ => false
        }
      case "pushed_scan" => all.exists {
        case s: FileSourceScanExec => s.dataFilters.nonEmpty || s.partitionFilters.nonEmpty
        case _ => false
      }
      case "scan" => all.exists(n => n.isInstanceOf[FileSourceScanExec] || n.nodeName.contains("Scan"))
    }
    required.filterNot(has)
  }
}

/** Cumulative counters observed from outside the engine: a
  * SparkListener for jobs, tasks, GC, shuffle and spill, a
  * QueryExecutionListener for per-action plan figures, and the counting
  * file system. A span reads them as deltas. */
final class Counters extends SparkListener with QueryExecutionListener {
  private val c = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private def add(k: String, v: Long): Unit = c.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_ms", m.executorRunTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit = {
    val s = Plans.summary(qe.executedPlan)
    add("actions", 1)
    add("files_read", s.filesRead)
    add("scan_rows", s.scanRows)
    add("files_written", s.filesWritten)
    add("bytes_written", s.bytesWritten)
    add("rows_written", s.rowsWritten)
  }
  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         exception: Exception): Unit = add("failed_actions", 1)

  def snapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val fsStats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    c.asScala.map { case (k, v) => k -> v.get }.toMap ++ Map(
      "fs_list" -> CountingLocalFileSystem.lists.get,
      "fs_status" -> CountingLocalFileSystem.statuses.get,
      "fs_open" -> CountingLocalFileSystem.opens.get,
      "fs_bytes_read" -> fsStats.map(_.getBytesRead).sum,
      "fs_bytes_written" -> fsStats.map(_.getBytesWritten).sum)
  }
}

/** Spans around each call into a layer: name, start, end, parent, and
  * the counter deltas observed while the span was open. Spans are kept
  * in memory and written out when the run ends. With tracing off a span
  * only runs its body. */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
                        counters: Map[String, Long]) {
    def ms: Double = (endNs - startNs) / 1e6
    def apply(k: String): Long = counters.getOrElse(k, 0L)
  }

  @volatile var on = false
  private var spark: SparkSession = _
  private var counters: Counters = _
  private val t0 = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1

  /** Attach the listeners (traced runs only); spans record once `on`. */
  def install(s: SparkSession): Unit = {
    spark = s
    counters = new Counters
    s.sparkContext.addSparkListener(counters)
    s.listenerManager.register(counters)
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      ListenerBus.drain(spark.sparkContext)
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val before = counters.snapshot()
      val start = System.nanoTime()
      stack = id :: stack
      try body
      finally {
        val end = System.nanoTime()
        stack = stack.tail
        ListenerBus.drain(spark.sparkContext)
        val after = counters.snapshot()
        val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
        done += Span(id, parent, name, start, end, delta)
      }
    }

  def named(prefix: String): Seq[Span] = done.filter(_.name.startsWith(prefix)).toSeq
  def children(s: Span): Seq[Span] = done.filter(_.parent == s.id).toSeq

  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try done.sortBy(_.id).foreach { s =>
      val cs = s.counters.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      out.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs - t0},"end_ns":${s.endNs - t0},"counters":{$cs}}""")
    } finally out.close()
  }
}
