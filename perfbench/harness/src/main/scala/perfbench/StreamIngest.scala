package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.sources.{ConsumeOpt, FluvioDuck}
import graft.streaming.ConsumeStream

/** `stream_ingest`: one continuous consume of `transit_live` while a
  * publisher thread renames pre-built segment files into its partition
  * directories on a fixed schedule (an open loop), then timed drains of
  * the pre-published `transit_backlog` topic.
  *
  * The query is the reference's `-d` flavor on the DSv2 streaming face:
  * `readStream.format("fluvio")` with `-A -B`, the `-c` mappings applied
  * by `ConsumeStream.fromRecords`, then a watermarked 1 s tumbling
  * per-route aggregate in update mode into a `foreachBatch` sink that
  * keeps the latest value of every (window, route) row. The live query
  * runs on a fixed processing-time trigger; the drains run AvailableNow. */
object StreamIngest {
  val Mappings = "-c route=VP.route -c spd:d=VP.spd -c time:t=VP.tst"

  /** Latest (window, route) → (count, speed sum) seen by a sink. */
  final class Table {
    private val rows = mutable.HashMap.empty[(String, String), (Long, Double)]
    def update(df: Dataset[Row]): Unit = {
      val got = df.collect()
      synchronized(got.foreach { r =>
        rows((r.get(0).toString, Option(r.getString(1)).getOrElse("\u0000null")) ) =
          (r.getLong(2), r.getDouble(3))
      })
    }
    def json: com.fasterxml.jackson.databind.node.ArrayNode = synchronized {
      val a = Json.arr()
      rows.toSeq.sortBy(_._1).foreach { case ((w, route), (n, s)) =>
        val r = Json.arr()
        r.add(w)
        if (route == "\u0000null") r.addNull() else r.add(route)
        r.add(n); r.add(s)
        a.add(r)
      }
      a
    }
  }

  def windowed(records: DataFrame): DataFrame =
    records
      .withWatermark("time", "5 seconds")
      .groupBy(window(col("time"), "1 second"), col("route"))
      .agg(count(lit(1)).as("n"), sum(col("spd")).as("spd_sum"))
      .select(col("window.start").cast("string").as("w"), col("route"), col("n"), col("spd_sum"))

  /** The streaming plan over `topic` in `baseDir`. */
  def streamPlan(spark: SparkSession, topic: String, baseDir: String,
                 maxPerTrigger: Long): DataFrame = {
    val opt = ConsumeOpt.parse(s"$topic -A -B --rows 1000000000 $Mappings")
      .fold(e => throw new IllegalArgumentException(e), identity)
    val reader = spark.readStream.format("fluvio")
      .option("cmd", s"$topic -A -B").option("baseDir", baseDir)
    if (maxPerTrigger > 0) reader.option("maxRecordsPerTrigger", maxPerTrigger)
    windowed(ConsumeStream.fromRecords(reader.load(), opt, "offset", "timestamp", "value"))
  }

  /** The same window table recomputed by a bounded batch consume. */
  def batchTable(spark: SparkSession, topic: String, baseDir: String): com.fasterxml.jackson.databind.node.ArrayNode = {
    val df = windowed(FluvioDuck.consume(spark,
      s"$topic -A -B --rows 1000000000 $Mappings", baseDir))
    Json.rows(df.orderBy("w", "route").collect().toSeq)
  }

  private def checkpoint(ctx: Ctx): String =
    Files.createTempDirectory(new File(ctx.workDir).toPath, "ckpt-").toString

  /** Drain a whole topic with Trigger.AvailableNow; returns (seconds, table). */
  def drain(ctx: Ctx, spark: SparkSession, name: String, topic: String, baseDir: String,
            maxPerTrigger: Long): (Double, Table) = {
    val table = new Table
    val t0 = System.nanoTime()
    val q = streamPlan(spark, topic, baseDir, maxPerTrigger).writeStream
      .queryName(name).outputMode("update")
      .foreachBatch((df: Dataset[Row], _: Long) => table.update(df))
      .option("checkpointLocation", checkpoint(ctx))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    ((System.nanoTime() - t0) / 1e9, table)
  }

  /** Progress of the live query: per batch, when the sink finished it and
    * the per-partition end offsets it covered. */
  final class Progress(name: String) extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[ObjectNode]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.name == name) {
        val o = Json.mapper.readTree(p.json).asInstanceOf[ObjectNode]
        events.add(o)
      }
    }
  }

  def run(ctx: Ctx): Unit = {
    val liveDir = ctx.str("live_dir")
    val backlogDir = ctx.str("backlog_dir")
    val warmDir = ctx.str("warm_dir")
    val cap = ctx.spec.get("max_records_per_trigger").asLong
    ctx.setupCycles(3)(s => drain(ctx, s, "warm", "transit_warm", warmDir,
      ctx.spec.get("warm_max_records_per_trigger").asLong))
    val spark = ctx.spark
    ctx.mark("setup")

    // backlog leg: timed drains of the pre-published topic
    ctx.calibrate()
    ctx.startTrace()
    val drains = Json.arr()
    val backlogTables = (1 to ctx.spec.get("drains").asInt).map { i =>
      val (s, t) = drain(ctx, spark, s"backlog$i", "transit_backlog", backlogDir, cap)
      drains.add(s)
      t
    }
    ctx.out.set[JsonNode]("drain_s", drains)
    ctx.mark("drains")
    // mid-run host calibration, between the two legs: during the open
    // loop it would delay the segments published meanwhile
    ctx.calibrate()

    // open loop: publisher thread + the live query
    val progress = new Progress("live")
    spark.streams.addListener(progress)
    val table = new Table
    val sinkDone = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
    val q = streamPlan(spark, "transit_live", liveDir, 0L).writeStream
      .queryName("live").outputMode("update")
      .foreachBatch { (df: Dataset[Row], id: Long) =>
        table.update(df)
        sinkDone.put(id, System.currentTimeMillis())
        ()
      }
      .option("checkpointLocation", checkpoint(ctx))
      // a fixed trigger interval, as a continuous consumer is deployed:
      // batch composition does not then depend on the last batch's time
      .trigger(Trigger.ProcessingTime(ctx.spec.get("trigger_ms").asLong))
      .start()
    q.processAllAvailable() // the pre-published first segments
    val segments = ctx.spec.get("publish").elements().asScala.toSeq
    val published = Json.arr()
    val startMs = System.currentTimeMillis() + 200
    val publisher = new Thread(() => {
      segments.foreach { seg =>
        val due = startMs + seg.get("due_ms").asLong
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Files.move(new File(seg.get("src").asText).toPath,
          new File(seg.get("dst").asText).toPath, StandardCopyOption.ATOMIC_MOVE)
        val o = Json.obj()
        o.put("partition", seg.get("partition").asInt)
        o.put("end_offset", seg.get("end_offset").asLong)
        o.put("due_ms", due.toDouble)
        o.put("published_ms", System.currentTimeMillis().toDouble)
        published.synchronized(published.add(o))
      }
    }, "perfbench-publisher")
    publisher.start()
    publisher.join()
    q.processAllAvailable()
    q.stop()
    spark.streams.removeListener(progress)
    if (ctx.trace) progress.events.asScala.foreach { p =>
      val start = java.time.Instant.parse(p.get("timestamp").asText).toEpochMilli.toDouble
      val dur = Option(p.get("durationMs").get("triggerExecution")).map(_.asDouble).getOrElse(0.0)
      ctx.tracer.span(s"live-batch-${p.get("batchId").asLong}", "", "op", start, start + dur)
    }
    ctx.finishTrace()
    ctx.calibrate()
    ctx.mark("measured")

    ctx.out.put("start_ms", startMs.toDouble)
    ctx.out.set[JsonNode]("published", published)
    val prog = Json.arr()
    progress.events.asScala.foreach { p =>
      val id = p.get("batchId").asLong
      Option(sinkDone.get(id)).foreach(t => p.put("sink_done_ms", t.doubleValue))
      prog.add(p)
    }
    ctx.out.set[JsonNode]("progress", prog)

    // result checks: streaming tables against batch recomputations
    ctx.out.set[JsonNode]("live_table", table.json)
    ctx.out.set[JsonNode]("live_batch", batchTable(spark, "transit_live", liveDir))
    val bt = Json.arr()
    backlogTables.foreach(t => bt.add(t.json))
    ctx.out.set[JsonNode]("backlog_tables", bt)
    ctx.out.set[JsonNode]("backlog_batch", batchTable(spark, "transit_backlog", backlogDir))
    ctx.mark("check")

    if (ctx.trace) {
      // single-threaded baseline: the same backlog drain on local[1]
      val one = ctx.newSession(cpus = 1)
      val (s, _) = drain(ctx, one, "backlog_local1", "transit_backlog", backlogDir, cap)
      ctx.out.put("drain_local1_s", s)
      ctx.mark("local1")
    }
  }
}
