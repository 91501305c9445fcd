package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced runs only: records spans and per-operation scheduler, executor,
  * exchange and storage counters from outside the program, through a
  * `SparkListener`.
  *
  * Every operation runs under its own Spark job group (its root span id);
  * jobs carry that group, stages belong to jobs and tasks to stages, so
  * each job, stage and task span has a parent. Streaming micro-batch jobs
  * carry the query's run id as group; their batch id is read from the job
  * description instead (`<queryName>-batch-<id>`). Spans stay in memory
  * and are written out when the run ends.
  */
final class Tracer private (spark: SparkSession) extends SparkListener {
  private val t0Gc = Proc.gcMs()
  private val t0Codegen = CodeGenerator.compileTime
  private val t0Footers = graft.sources.v2.FluvioDsv2.footerParses.get()
  private val t0Wall = System.nanoTime()
  private var wallS = 0.0
  private var gcMs = 0L
  private var codegenMs = 0.0
  private var footerParses = 0L

  import Tracer.Span
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  /** Per job group: counts and summed task metrics. */
  final class Agg {
    var jobs, stages, tasks, taskMs, cpuNs, peakMem, shuffleWrite, shuffleRead,
        spill, fetchWaitMs, schedDelayMs = 0L
  }
  private val aggs = new ConcurrentHashMap[String, Agg]()
  private def agg(g: String): Agg = aggs.computeIfAbsent(g, _ => new Agg)

  private val jobGroupOf = new ConcurrentHashMap[Int, String]()
  private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitted = new ConcurrentHashMap[(Int, Int), java.lang.Long]()
  private val blocks = mutable.HashMap.empty[String, Long]
  private var blockBytes = 0L
  private var blockPeak = 0L

  /** Driver phases (QueryPlanningTracker) summed over every query
    * execution the session reports. */
  private val phaseMs = mutable.HashMap.empty[String, Double]
  private var executions = 0L
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        executions += 1
        qe.tracker.phases.foreach { case (n, p) =>
          phaseMs(n) = phaseMs.getOrElse(n, 0.0) + p.durationMs
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val BatchRe = """batch = (\d+)""".r

  /** The operation a job belongs to. */
  private def groupOf(props: java.util.Properties): String = {
    val group = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val desc = Option(props).flatMap(p => Option(p.getProperty("spark.job.description")))
    desc.flatMap(d => BatchRe.findFirstMatchIn(d).map(m =>
      s"${d.linesIterator.next().trim}-batch-${m.group(1)}"))
      .orElse(group).getOrElse("none")
  }

  /** A span recorded by the harness (operation roots and their phases). */
  def span(id: String, parent: String, name: String, startMs: Double, endMs: Double): Unit =
    spans.add(Span(id, parent, name, startMs, endMs))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    jobGroupOf.put(e.jobId, g)
    jobStartMs.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    agg(g).synchronized(agg(g).jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroupOf.getOrDefault(e.jobId, "none")
    val start = Option(jobStartMs.get(e.jobId)).map(_.longValue).getOrElse(e.time)
    span(s"job-${e.jobId}", g, "job", start.toDouble, e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    stageSubmitted.put((i.stageId, i.attemptNumber()),
      java.lang.Long.valueOf(i.submissionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val job = stageJob.getOrDefault(i.stageId, -1)
    val g = jobGroupOf.getOrDefault(job, "none")
    val start = i.submissionTime.getOrElse(0L)
    span(s"stage-${i.stageId}.${i.attemptNumber()}", s"job-$job", "stage",
      start.toDouble, i.completionTime.getOrElse(start).toDouble)
    agg(g).synchronized(agg(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    val job = stageJob.getOrDefault(e.stageId, -1)
    val g = jobGroupOf.getOrDefault(job, "none")
    span(s"task-${info.taskId}", s"stage-${e.stageId}.${e.stageAttemptId}", "task",
      info.launchTime.toDouble, info.finishTime.toDouble)
    val submitted = Option(stageSubmitted.get((e.stageId, e.stageAttemptId)))
      .map(_.longValue).getOrElse(info.launchTime)
    val a = agg(g)
    a.synchronized {
      a.tasks += 1
      a.schedDelayMs += math.max(0L, info.launchTime - submitted)
      val m = e.taskMetrics
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val id = info.blockId.name
    val size = info.memSize + info.diskSize
    blockBytes += size - blocks.getOrElse(id, 0L)
    if (size == 0) blocks.remove(id) else blocks(id) = size
    blockPeak = math.max(blockPeak, blockBytes)
  }

  /** End of the traced phase: wait for every pending listener event and
    * take the JVM-wide deltas. */
  def finish(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    wallS = (System.nanoTime() - t0Wall) / 1e9
    gcMs = Proc.gcMs() - t0Gc
    codegenMs = (CodeGenerator.compileTime - t0Codegen) / 1e6
    footerParses = graft.sources.v2.FluvioDsv2.footerParses.get() - t0Footers
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
  }

  def toJson: ObjectNode = {
    val o = Json.obj()
    o.put("wall_s", wallS)
    o.put("gc_ms", gcMs)
    o.put("codegen_ms", codegenMs)
    o.put("footer_parses", footerParses)
    o.put("block_bytes_peak", blockPeak)
    o.put("query_executions", executions)
    val phases = Json.obj()
    phaseMs.toSeq.sortBy(_._1).foreach { case (n, v) => phases.put(n, v) }
    o.set[JsonNode]("phases_ms", phases)
    val groups = Json.obj()
    aggs.asScala.toSeq.sortBy(_._1).foreach { case (g, a) =>
      val n = Json.obj()
      n.put("jobs", a.jobs); n.put("stages", a.stages); n.put("tasks", a.tasks)
      n.put("task_ms", a.taskMs); n.put("cpu_ms", a.cpuNs / 1e6)
      n.put("peak_memory_bytes", a.peakMem)
      n.put("shuffle_write_bytes", a.shuffleWrite)
      n.put("shuffle_read_bytes", a.shuffleRead)
      n.put("spill_bytes", a.spill); n.put("fetch_wait_ms", a.fetchWaitMs)
      n.put("sched_delay_ms", a.schedDelayMs)
      groups.set[JsonNode](g, n)
    }
    o.set[JsonNode]("groups", groups)
    o
  }

  def writeSpans(f: File): Unit = {
    val a = Json.arr()
    spans.asScala.foreach { s =>
      val n = Json.obj()
      n.put("id", s.id); n.put("parent", s.parent); n.put("name", s.name)
      n.put("start", s.start); n.put("end", s.end)
      a.add(n)
    }
    Json.mapper.writeValue(f, a)
  }
}

object Tracer {
  final case class Span(id: String, parent: String, name: String, start: Double, end: Double)

  def attach(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t.queryListener)
    t
  }
}
