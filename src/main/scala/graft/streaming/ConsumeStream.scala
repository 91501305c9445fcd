package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{ColumnMapping, ConsumeOpt, TopicRegistry, Tables}
import graft.transforms.{TransformChain, TransformRegistry}

/** The `-d` (continuous) flavor of consume: the same option grammar,
  * projection compiler and transform chain as the batch path, but planned
  * as a Structured Streaming source (`readStream`) — micro-batch execution,
  * watermarks and stateful operators compose on top.
  *
  * Reference: `continuous_toggle` (`/root/reference/src/consume.rs:480-482`,
  * `:675`) — without `-d` a scan stops at the end of the log; with `-d` it
  * keeps waiting for new records. Spark's file streaming source gives the
  * same semantics over a growing topic directory: each new parquet dropped
  * into the topic path becomes a micro-batch.
  *
  * Offset-window flags that need the log end (`-T`, default end-of-log) are
  * meaningless on an unbounded stream — the reference reads them relative
  * to the log at bind time; here `-B`/`-H`/`--start` filter by offset and
  * `-T`/default-end raise, which is stricter but explicit.
  */
object ConsumeStream {

  def consume(spark: SparkSession, cmd: String, baseDir: String): DataFrame = {
    val opt = ConsumeOpt.parse(cmd) match {
      case Left(err) => throw new IllegalArgumentException(err)
      case Right(o)  => o
    }
    // the shared two-message error contract (TopicRegistry.requireRecordView)
    val view = TopicRegistry.requireRecordView(spark, baseDir, opt.topic)
    // schema comes from the batch reader (streaming sources need one fixed)
    val schema = Tables.load(spark, baseDir, opt.topic).schema
    val raw = spark.readStream.schema(schema)
      .parquet(TopicRegistry.topicPath(baseDir, opt.topic))
    // partition selection: the one shared contract (default pins 0,
    // -p prunes at file listing, -A streams all; single-partition topics
    // ignore the flags) — see FluvioDuck.selectPartition.
    val selected = graft.sources.FluvioDuck.selectPartition(raw, opt)
    fromRecords(selected, opt, view.offsetCol, view.timestampCol, view.valueCol)
  }

  /** Shared plan builder: record shape → window → transforms → projection.
    * Used by [[consume]] and by tests feeding a MemoryStream. */
  def fromRecords(raw: DataFrame, opt: ConsumeOpt,
                  offsetCol: String, timestampCol: String, valueCol: String): DataFrame = {
    val records = raw.select(
      col(offsetCol).cast("long").as("offset"),
      col(timestampCol).cast("timestamp").as("timestamp"),
      col(valueCol).cast("string").as("value"))

    import graft.sources.OffsetSpec._
    val windowed = opt.startOffset match {
      case FromBeginning(0) => records
      case FromBeginning(n) => records.filter(col("offset") >= n)
      case Absolute(n)      => records.filter(col("offset") >= n)
      case FromEnd(_) | End =>
        throw new IllegalArgumentException(
          "tail/end-relative offsets are not defined on a continuous stream; use -B/-H/--start")
    }
    val ended = opt.end.fold(windowed)(e => windowed.filter(col("offset") <= e))

    // ---- `--rows` cap. The reference's cap applies in continuous mode
    // too: `-d --rows N` blocks awaiting new records until N are filled
    // (/root/reference/src/consume.rs:75-92,675). Two plan shapes:
    //   * map-only chain (incl. no transforms): offsets are dense, so
    //     "first N window rows" ≡ `offset < start + N` — a pure stateless
    //     filter, applied ALWAYS (default included), free at any scale.
    //   * cardinality-changing chain: rows count POST-transform, so the
    //     cap needs a running count — a single-key stateful cap
    //     ([[boundedCap]]). Planted only for an EXPLICIT --rows (a user
    //     asking for a bounded pull); the implicit default must not put a
    //     single-task funnel into every filtered 100 TB stream.
    val chain = TransformChain.fromOpt(opt)
    val mapOnlyChain = chain.forall(t => TransformRegistry.preservesCardinality(t.uses))
    def applyChain(df: DataFrame): DataFrame =
      chain.foldLeft(df) { (d, t) => TransformRegistry(t.uses)(d, t.params) }
    val capped =
      if (mapOnlyChain) {
        val start = opt.startOffset match {
          case FromBeginning(n) => n
          case Absolute(n)      => n
          case _                => 0L // unreachable: FromEnd/End raised above
        }
        val capN = math.min(opt.rows, Long.MaxValue - start - 1)
        applyChain(ended.filter(col("offset") < start + capN))
      } else if (opt.rowsExplicit) {
        boundedCap(applyChain(ended), opt.rows)
      } else applyChain(ended)

    if (opt.columns.isEmpty) capped
    else ColumnMapping.project(capped, opt.columns)
  }

  /** Exact post-transform `--rows` cap for a continuous read: a running
    * count in a single-key `flatMapGroupsWithState` that emits rows (in
    * offset order within each micro-batch) until the cap is filled, then
    * nothing. All rows route through ONE state task — the cost of exact
    * cross-partition counting; acceptable for what this is (a bounded
    * interactive pull, N ≪ corpus), which is why it is only planted for an
    * explicit `--rows` on a cardinality-changing chain. */
  def boundedCap(records: DataFrame, n: Long): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    records
      .select(col("offset").cast("long"), col("timestamp").cast("timestamp"),
        col("value").cast("string"))
      .as[(Long, java.sql.Timestamp, String)]
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[Long, (Long, java.sql.Timestamp, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, it, state) =>
          val sofar = state.getOption.getOrElse(0L)
          if (sofar >= n) Iterator.empty
          else {
            // bounded selection of the `need` smallest offsets via a
            // max-heap: memory O(cap remaining), never O(micro-batch) —
            // a backfill's first batch can be the whole log
            val need = math.min(n - sofar, Int.MaxValue.toLong).toInt
            val heap = new java.util.PriorityQueue[(Long, java.sql.Timestamp, String)](
              math.max(need, 1),
              Ordering.by[(Long, java.sql.Timestamp, String), Long](_._1).reverse)
            it.foreach { r =>
              if (heap.size < need) heap.add(r)
              else if (r._1 < heap.peek()._1) { heap.poll(); heap.add(r) }
            }
            val take = new Array[(Long, java.sql.Timestamp, String)](heap.size)
            var i = take.length - 1
            while (i >= 0) { take(i) = heap.poll(); i -= 1 } // ascending offset
            state.update(sofar + take.length)
            take.iterator
          }
      }
      .toDF("offset", "timestamp", "value")
  }

  /** The reference CLI's bounded-pull lifecycle for `-d --rows N`
    * (/root/reference/src/consume.rs:75-92): start the stream, block until
    * N rows have been delivered (or `timeoutMs`), stop the query, return
    * the delivered rows. Driver-side accumulation is bounded by N. */
  def runBounded(stream: DataFrame, rows: Long,
                 timeoutMs: Long = 60000L): Seq[org.apache.spark.sql.Row] = {
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val count = new java.util.concurrent.atomic.AtomicLong(0L)
    // micro-batches are delivered sequentially, so count/buf see no
    // concurrent writers — only the concurrent reader in the wait loop
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val need = math.min(rows - count.get(), Int.MaxValue.toLong)
        if (need > 0) {
          val got = df.limit(need.toInt).collect()
          var i = 0
          while (i < got.length && count.get() < rows) {
            buf.add(got(i)); count.incrementAndGet(); i += 1
          }
        }
        ()
      }
      .start()
    try {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (count.get() < rows && q.isActive &&
        System.currentTimeMillis() < deadline) Thread.sleep(25)
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    buf.asScala.toSeq
  }

  /** Event-time windowed aggregation over a consume stream: count/avg of a
    * mapped numeric column per tumbling window — the standard streaming
    * rollup (watermark bounds state). */
  def windowedAgg(stream: DataFrame, mapped: ColumnMapping,
                  windowDuration: String, watermarkDelay: String): DataFrame =
    stream
      .withColumn("v", mapped.toColumn(col("value")).cast("double"))
      .withWatermark("timestamp", watermarkDelay)
      .groupBy(window(col("timestamp"), windowDuration))
      .agg(count(lit(1)).as("n"), avg(col("v")).as("avg_v"))
      .select(col("window.start").as("window_start"), col("n"), col("avg_v"))

  /** Sliding-window count: overlapping windows of `windowDuration` every
    * `slideDuration` — each record lands in windowDuration/slideDuration
    * windows. */
  def slidingAgg(stream: DataFrame, windowDuration: String,
                 slideDuration: String, watermarkDelay: String): DataFrame =
    stream
      .withWatermark("timestamp", watermarkDelay)
      .groupBy(window(col("timestamp"), windowDuration, slideDuration))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("n"))

  /** Session windows: records gapped less than `gapDuration` apart merge
    * into one session per key — `session_window` keeps per-key state until
    * the watermark passes the gap. */
  def sessionAgg(stream: DataFrame, keyMapped: ColumnMapping,
                 gapDuration: String, watermarkDelay: String): DataFrame =
    stream
      .withColumn("k", keyMapped.toColumn(col("value")))
      .withWatermark("timestamp", watermarkDelay)
      .groupBy(session_window(col("timestamp"), gapDuration), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("k"), col("n"))

  /** Stream-static enrichment: join each streamed record against a static
    * dimension table — planned as a per-micro-batch broadcast join, no
    * streaming state at all (the standard lookup-enrichment shape; at
    * scale the static side is broadcast once per batch). */
  def enrich(stream: DataFrame, dim: DataFrame, streamKey: Column,
             dimKey: Column): DataFrame =
    stream.join(broadcast(dim), streamKey === dimKey, "left")

  /** Stream-stream correlation: join records of two topic streams whose
    * payload keys match and whose event times are within `within` of each
    * other. Both sides carry watermarks so the join state is bounded —
    * Spark keeps each side only until the other's watermark passes the
    * time bound (the canonical stream-stream interval join). Inputs must
    * be record-shaped (offset, timestamp, value); keys are extracted by
    * the provided column builders. */
  def correlate(left: DataFrame, right: DataFrame,
                leftKey: Column, rightKey: Column,
                watermarkDelay: String, within: String): DataFrame = {
    val l = left.select(col("offset").as("l_offset"),
        col("timestamp").as("l_ts"), leftKey.as("l_key"))
      .withWatermark("l_ts", watermarkDelay)
    val r = right.select(col("offset").as("r_offset"),
        col("timestamp").as("r_ts"), rightKey.as("r_key"))
      .withWatermark("r_ts", watermarkDelay)
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $within") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $within"))
  }
}
