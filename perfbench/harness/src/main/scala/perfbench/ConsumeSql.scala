package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.v2.{FluvioBatch, FluvioDsv2, FluvioInputPartition, FluvioPartitionReader}

/** `consume_sql`: one client in a closed loop, issuing the run's seeded
  * cycle of SQL statements (`fluvio_consume` windows and aggregates,
  * `fluvio_topics`, `fluvio_partitions`) through `spark.sql`. Each
  * statement is bound, executed with `collect()`, and its rows kept for
  * the result check. */
object ConsumeSql extends AdaptiveSparkPlanHelper {
  final case class Op(id: String, kind: String, sql: String)

  def run(ctx: Ctx): Unit = {
    val ops = ctx.spec.get("ops").elements().asScala.map(n =>
      Op(n.get("id").asText, n.get("kind").asText, n.get("sql").asText)).toIndexedSeq
    // set-up: a fresh session answering a small window, an admin scan
    // and a full-window aggregate
    val first = Seq("small", "admin", "agg").map(k => ops.find(_.kind == k).get)
    ctx.setupCycles(3)(s => first.foreach(o => exec(ctx, s, o, "setup", traced = false)))
    ctx.mark("setup")
    // warm-up: every other statement of the cycle once
    ops.filterNot(first.contains).foreach(o => exec(ctx, ctx.spark, o, "warm", traced = false))
    ctx.mark("warm")

    ctx.calibrate()
    ctx.startTrace()
    // whole cycles, so every run measures the same statement mix: at least
    // two, then another while at least half of it (by the last cycle's
    // time) fits before the deadline
    val results = Json.arr()
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    var calNs = 0L
    var cycle = 0
    var lastCycleNs = 0L
    while (cycle < 2 || System.nanoTime() + lastCycleNs / 2 < deadline) {
      val c0 = System.nanoTime()
      ops.indices.foreach { k =>
        // mid-run host calibration, halfway through the first cycle
        if (cycle == 0 && k == ops.size / 2) {
          val k0 = System.nanoTime(); ctx.calibrate(); calNs += System.nanoTime() - k0
        }
        results.add(exec(ctx, ctx.spark, ops(k), s"op-${cycle * ops.size + k}", ctx.trace))
      }
      lastCycleNs = System.nanoTime() - c0
      cycle += 1
    }
    val measuredS = (System.nanoTime() - t0 - calNs) / 1e9
    ctx.finishTrace()
    ctx.calibrate()
    ctx.mark("measured")
    ctx.out.put("measured_s", measuredS)
    ctx.out.set[JsonNode]("ops", results)
    if (ctx.trace) ctx.out.set[JsonNode]("kernels", kernels(ctx))
  }

  /** Bind and run one statement under job group `run`; returns its record. */
  def exec(ctx: Ctx, spark: SparkSession, op: Op, run: String, traced: Boolean): ObjectNode = {
    val rec = Json.obj()
    rec.put("id", op.id); rec.put("kind", op.kind); rec.put("run", run)
    spark.sparkContext.setJobGroup(run, op.id, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val df = spark.sql(op.sql)
      val tb = System.nanoTime()
      val rows = df.collect()
      val t1 = System.nanoTime()
      rec.put("lat_ms", (t1 - t0) / 1e6)
      rec.put("bind_ms", (tb - t0) / 1e6)
      rec.set[JsonNode]("rows", Json.rows(rows.toSeq))
      if (traced) {
        val endMs = startMs + (t1 - t0) / 1e6
        ctx.tracer.span(run, "", "op", startMs.toDouble, endMs)
        ctx.tracer.span(s"$run-bind", run, "sql.bind", startMs.toDouble,
          startMs + (tb - t0) / 1e6)
        val phases = Json.obj()
        df.queryExecution.tracker.phases.foreach { case (name, p) =>
          phases.put(name, p.durationMs.toDouble)
          if (name != "parsing" && name != "analysis")
            ctx.tracer.span(s"$run-$name", run, s"driver.$name",
              p.startTimeMs.toDouble, p.endTimeMs.toDouble)
        }
        rec.set[JsonNode]("phases", phases)
        rec.set[JsonNode]("scan", scanStats(df))
      }
    } catch {
      case e: Exception =>
        rec.put("lat_ms", (System.nanoTime() - t0) / 1e6)
        rec.put("error", s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
    } finally spark.sparkContext.clearJobGroup()
    rec
  }

  /** What the fluvio DSv2 scans of an executed statement planned and
    * delivered: segments, rows planned (Σ take), rows skipped inside
    * segments (Σ skip) and rows delivered (`numOutputRows`). */
  def scanStats(df: DataFrame): ObjectNode = {
    val scans = collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec if b.batch.isInstanceOf[FluvioBatch] => b
    }
    val parts = scans.flatMap(_.inputPartitions.collect { case p: FluvioInputPartition => p })
    val o = Json.obj()
    o.put("scans", scans.size)
    o.put("segments", parts.map(_.path).distinct.size)
    o.put("rows_planned", parts.map(_.take).sum)
    o.put("rows_skipped", parts.map(_.skip).sum)
    o.put("rows_delivered",
      scans.flatMap(_.metrics.get("numOutputRows").map(_.value)).sum)
    o
  }

  /** Per-record costs of the kernels under `fluvio_consume`, measured
    * outside Spark's scheduler: draining one segment through the DSv2
    * partition reader, and evaluating the JSON and jolt expressions over
    * that segment's payloads. Each is the median of five passes. */
  def kernels(ctx: Ctx): ObjectNode = {
    val seg = new File(ctx.str("reader_segment"))
    val n = FluvioDsv2.rowCount(seg)
    val part = FluvioInputPartition(seg.getAbsolutePath, 0, 0L, n,
      "offset", "ts", "value", FluvioDsv2.Schema.fieldNames.toSeq)
    val payloads = scala.collection.mutable.ArrayBuffer.empty[String]
    def drain(keep: Boolean): Unit = {
      val r = new FluvioPartitionReader(part)
      try while (r.next()) {
        val row = r.get()
        if (keep) payloads += row.getUTF8String(3).toString
      } finally r.close()
    }
    drain(keep = true)
    val readerNs = median((1 to 5).map { _ =>
      val t0 = System.nanoTime(); drain(keep = false); (System.nanoTime() - t0).toDouble / n
    })
    val rows: Array[InternalRow] =
      payloads.map(p => InternalRow(UTF8String.fromString(p))).toArray
    val in = BoundReference(0, StringType, nullable = true)
    def evalNs(e: Expression): Double = {
      rows.foreach(e.eval); rows.foreach(e.eval)
      median((1 to 5).map { _ =>
        val t0 = System.nanoTime(); rows.foreach(e.eval)
        (System.nanoTime() - t0).toDouble / rows.length
      })
    }
    val o = Json.obj()
    o.put("reader_ns_per_record", readerNs)
    o.put("json_map_ns", evalNs(graft.functions.JsonToMap(in)))
    o.put("json_field_ns", evalNs(graft.functions.JsonField(in, ctx.str("json_field_path"))))
    o.put("jolt_ns", evalNs(graft.functions.JoltShift(in, ctx.str("jolt_shift_spec"))))
    o.put("sample_records", rows.length)
    o
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
