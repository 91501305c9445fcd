package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{Row, SparkSession}

/** JVM side of the benchmark. Reads the run spec written by run.py,
  * performs the set-up cycles, warm-up and measured phase of one
  * workload, and writes the raw observations (per-operation latencies
  * and results, set-up times, calibration samples and, in a traced run,
  * layer counters and spans) to the spec's `out` file. Grading and
  * result checks happen in run.py.
  *
  * Usage: `java -cp <classpath> perfbench.Main <spec.json>`
  */
object Main {
  def main(args: Array[String]): Unit = {
    val ctx = new Ctx(Json.mapper.readTree(new File(args(0))))
    try {
      ctx.workload match {
        case "consume_sql"    => ConsumeSql.run(ctx)
        case "stream_ingest"  => StreamIngest.run(ctx)
        case "curation_batch" => CurationBatch.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      ctx.out.put("peak_rss_mb", Proc.vmHwmMb())
      Json.mapper.writeValue(new File(ctx.spec.get("out").asText), ctx.out)
    } finally ctx.close()
  }
}

object Json {
  val mapper = new ObjectMapper()

  def obj(): ObjectNode = mapper.createObjectNode()
  def arr(): ArrayNode = mapper.createArrayNode()

  /** One result row as a JSON array; timestamps as ISO-8601 UTC text. */
  def row(r: Row): ArrayNode = {
    val a = arr()
    r.toSeq.foreach {
      case null                    => a.addNull()
      case v: Int                  => a.add(v)
      case v: Long                 => a.add(v)
      case v: Short                => a.add(v.toInt)
      case v: Byte                 => a.add(v.toInt)
      case v: Double               => a.add(v)
      case v: Float                => a.add(v.toDouble)
      case v: Boolean              => a.add(v)
      case v: java.math.BigDecimal => a.add(v)
      case v: java.sql.Timestamp   => a.add(v.toInstant.toString)
      case v: java.time.Instant    => a.add(v.toString)
      case v                       => a.add(v.toString)
    }
    a
  }

  def rows(rs: Seq[Row]): ArrayNode = {
    val a = arr()
    rs.foreach(r => a.add(row(r)))
    a
  }

  def doubles(xs: Iterable[Double]): ArrayNode = {
    val a = arr()
    xs.foreach(x => a.add(x))
    a
  }
}

object Proc {
  /** The process's peak resident set (VmHWM), in MiB. */
  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Total JVM garbage-collection time so far, in ms. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  def jvmStartMs(): Long = ManagementFactory.getRuntimeMXBean.getStartTime
}

/** Run state shared by the workloads: the spec, the output document, the
  * current session and (in a traced run) the tracer. */
final class Ctx(val spec: JsonNode) {
  val out: ObjectNode = Json.obj()
  val workload: String = spec.get("workload").asText
  val seconds: Double = spec.get("seconds").asDouble
  val trace: Boolean = spec.get("trace").asBoolean
  val cpus: Int = spec.get("cpus").asInt
  val dataDir: String = spec.get("data_dir").asText
  val workDir: String = spec.get("work_dir").asText

  private var session: SparkSession = _
  var tracer: Tracer = _

  def spark: SparkSession = session

  def str(key: String): String = spec.get(key).asText
  def strings(key: String): Seq[String] =
    spec.get(key).elements().asScala.map(_.asText).toSeq

  /** The benchmark's session: graft.Bench's session on `cpus` local
    * cores, plus the run's directories and the workload's topic
    * registrations. */
  def newSession(cpus: Int = cpus): SparkSession = {
    if (session != null) {
      session.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    val conf = Map(
      "spark.app.name" -> s"perfbench-$workload",
      "spark.sql.streaming.numRecentProgressUpdates" -> "100000",
      "spark.graft.dataDir" -> dataDir,
      "spark.local.dir" -> s"$workDir/spark-local",
      "spark.sql.warehouse.dir" -> s"$workDir/spark-warehouse") ++
      Option(spec.get("conf")).toSeq.flatMap(_.fields().asScala.map(e =>
        e.getKey -> e.getValue.asText))
    session = graft.BenchAccess.sessionWith(cpus, conf)
    graft.sql.GraftSql.register(session)
    session
  }

  /** Set-up, done `cycles` times: each cycle builds a fresh session and
    * runs the workload's warm-up `warm`. The first cycle is timed from
    * JVM start, so it also carries JVM and Spark class loading. */
  def setupCycles(cycles: Int)(warm: SparkSession => Unit): Unit = {
    val samples = (1 to cycles).map { i =>
      val t0 = if (i == 1) Proc.jvmStartMs() else System.currentTimeMillis()
      newSession()
      warm(session)
      (System.currentTimeMillis() - t0) / 1e3
    }
    out.set[JsonNode]("setup_s", Json.doubles(samples))
    // compile and warm the calibration job before its first timed sample
    (1 to 2).foreach(_ => graft.BenchAccess.timeNoop(graft.BenchAccess.calibrationDf(session)))
  }

  private val calSamples = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** One host-calibration sample: graft.Bench's pinned fixed-cost job
    * (in-memory range, fixed expression chain, 8 partitions; no I/O, no
    * shuffle), run 3 times back to back; the sample is the fastest, in
    * ms, so JIT and GC jitter drop out while a host stall, which outlasts
    * the three, still shows. */
  def calibrate(): Unit = {
    session.sparkContext.setJobGroup("calibration", "calibration", interruptOnCancel = false)
    calSamples += (1 to 3).map(_ =>
      graft.BenchAccess.timeNoop(graft.BenchAccess.calibrationDf(session))).min * 1e3
    session.sparkContext.clearJobGroup()
    out.set[JsonNode]("calibration_ms", Json.doubles(calSamples))
  }

  /** Attach the tracer to the current session (traced runs only). */
  def startTrace(): Unit =
    if (trace) tracer = Tracer.attach(session)

  /** Stop tracing and store its layer counters and spans. */
  def finishTrace(): Unit =
    if (tracer != null) {
      tracer.finish()
      out.set[JsonNode]("trace", tracer.toJson)
      tracer.writeSpans(new File(workDir, "spans.json"))
    }

  private val marks = Json.obj()

  /** Record when a phase of the run ended (seconds since JVM start). */
  def mark(phase: String): Unit = {
    marks.put(phase, (System.currentTimeMillis() - Proc.jvmStartMs()) / 1e3)
    out.set[JsonNode]("phase_end_s", marks)
  }

  def close(): Unit = if (session != null) session.stop()
}
