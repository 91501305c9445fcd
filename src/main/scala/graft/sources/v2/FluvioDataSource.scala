package graft.sources.v2

import java.io.File
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.{ColumnIOFactory, RecordReader}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.sources.{ConsumeOpt, OffsetSpec, RecordView, TopicRegistry}

/** DataSource-v2 streaming source for topic directories — the Spark-native
  * analog of the reference's LIVE consumer loop
  * (`/root/reference/src/consume.rs:72-134`): a consume that keeps
  * delivering as the log grows, with REAL per-partition log offsets in the
  * streaming checkpoint (not file names).
  *
  * ```
  * spark.readStream.format("graft.sources.v2.FluvioTableProvider")
  *   .option("cmd", "events_mp -A -B").option("baseDir", dir).load()
  * ```
  *
  * Fixed record schema, like the Kafka source: (partition INT, offset
  * LONG, timestamp TIMESTAMP, value STRING). Column projection and
  * transform chains compose on top (they are plan-level); the `--rows`
  * bounded-pull semantics live in [[graft.streaming.ConsumeStream]].
  *
  * Offset model: a topic partition is an append-only sequence of parquet
  * segment files with DENSE record offsets; the stream offset per
  * partition is the record count delivered so far (≡ LEO when caught up,
  * matching `fluvio_partitions()`). `latestOffset` reads only footer
  * metadata (row counts, cached by (mtime, length)); `planInputPartitions`
  * maps record ranges onto segment files, so a micro-batch reads ONLY the
  * new segments — never a rescan of the topic. Bind-time offset flags
  * follow the reference: `-B`/`-H n`/`--start n` → absolute starts,
  * `-T n`/default-end → relative to the log end AS OF STREAM START (the
  * reference computes the start offset once at bind, consume.rs:580-605).
  *
  * Admission control (the 100 TB guard): `.option("maxRecordsPerTrigger",
  * n)` caps each micro-batch at n records, split across partitions
  * proportionally to backlog — without it, the FIRST batch of a `-B`
  * consume over a deep topic is the entire log in one transaction.
  * `.option("maxBytesPerTrigger", n)` caps the ESTIMATED parquet bytes per
  * micro-batch the same way (the streaming analog of the reference's
  * `-b/--maxbytes`, consume.rs:507-509) — on fat-payload topics a record
  * cap alone under-controls memory; both compose (min wins per partition).
  * A partition that vanishes or truncates below the committed offset fails
  * the query loudly (Kafka `failOnDataLoss=true` semantics).
  * `Trigger.AvailableNow` is supported: the log end is latched at start,
  * drained in rate-limited batches, then the query stops.
  */
object FluvioDsv2 {
  /** Times any planner has called SupportsPushDownRequiredColumns
    * .pruneColumns on a fluvio scan in this JVM — 0 on Spark 4.1, whose
    * micro-batch planner plans streaming relations before
    * V2ScanRelationPushDown. DsvPushdownCanarySpec asserts which route
    * (interface vs the `columns` option) is operative and fails loudly
    * if an upgrade flips it without the spec being updated. */
  val pruneColumnsCalls = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Times any planner has called SupportsPushDownFilters.pushFilters on
    * a fluvio scan in this JVM — the batch-face pushdown canary
    * (DsvPushdownCanarySpec pins that V2ScanRelationPushDown drives the
    * batch offset/partition range pruning). */
  val pushFiltersCalls = new java.util.concurrent.atomic.AtomicLong(0L)

  val Schema: StructType = StructType(Seq(
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = true),
    StructField("value", StringType, nullable = true)))

  /** The advertised schema restricted to a `columns` option value
    * (comma-separated record-column names, advertised-schema order
    * preserved); unknown names fail loudly with the valid set. */
  def prunedSchema(columns: Option[String]): StructType = columns match {
    case None => Schema
    case Some(spec) =>
      val want = spec.split(",").map(_.trim).filter(_.nonEmpty)
      require(want.nonEmpty, "fluvio `columns` option: empty column list")
      val known = Schema.fieldNames.toSet
      val bad = want.filterNot(known)
      require(bad.isEmpty,
        s"fluvio `columns` option: unknown column(s) ${bad.mkString(", ")} " +
          s"(valid: ${Schema.fieldNames.mkString(", ")})")
      StructType(Schema.fields.filter(f => want.contains(f.name)))
  }

  /** partition id → its data directory/file. Hive `partition=N` subdirs
    * for multi-partition topics; partition 0 = the topic path itself
    * otherwise. */
  def partitionDirs(baseDir: String, topic: String): Map[Int, File] = {
    val root = new File(TopicRegistry.topicPath(baseDir, topic))
    val subs = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("partition="))
    if (subs.nonEmpty)
      subs.map(f => f.getName.stripPrefix("partition=").toInt -> f).toMap
    else Map(0 -> root)
  }

  /** Data segments of one partition, in append order (mtime, then name —
    * appended segments always have later mtimes). The directory is walked
    * recursively, skipping the names the parquet file source treats as
    * hidden (`_`/`.` prefixes), so every parquet layout a file-source
    * read of the path would count is counted here too. */
  def segmentFiles(dirOrFile: File): Seq[File] = {
    def hidden(f: File): Boolean =
      f.getName.startsWith(".") || (f.getName.startsWith("_") && !f.getName.contains("="))
    def walk(d: File): Seq[File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.filterNot(hidden).flatMap { f =>
        if (f.isDirectory) walk(f)
        else if (f.isFile && f.getName.endsWith(".parquet")) Seq(f)
        else Seq.empty
      }
    if (dirOrFile.isFile) Seq(dirOrFile)
    else walk(dirOrFile).sortBy(f => (f.lastModified(), f.getPath))
  }

  // footer row counts, keyed by (path, mtime, length) — segments are
  // immutable once written, so this never goes stale
  private val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Long]()

  /** PLANNER-side footer parses actually performed (cache misses) —
    * the steady-state contract is that `latestOffset` on an unchanged
    * topic costs file stats only: each segment's footer is parsed at
    * most ONCE per (path, mtime, length) identity, never once per
    * trigger. FluvioDsv2Spec pins a zero delta across triggers;
    * tools/StreamBench reports the counter beside throughput.
    * (Executor-side DATA reads open footers as part of reading — that
    * is the scan itself, not planning overhead, and is not counted.) */
  val footerParses = new java.util.concurrent.atomic.AtomicLong(0L)

  def rowCount(f: File): Long =
    rowCountCache.computeIfAbsent(
      (f.getAbsolutePath, f.lastModified(), f.length()),
      _ => {
        footerParses.incrementAndGet()
        val r = open(f.getAbsolutePath, hadoopConf())
        try r.getRecordCount finally r.close()
      })

  /** The running context's Hadoop configuration: loaded once per
    * SparkContext, read-only here. Every parquet open of this source
    * goes through [[open]] with this conf (driver side) or its broadcast
    * copy ([[broadcastConf]], executor side). */
  def hadoopConf(): Configuration = SparkSession.active.sparkContext.hadoopConfiguration

  /** A broadcast of [[hadoopConf]], shipped in every reader factory —
    * the file source's `SerializableConfiguration` idiom: readers on
    * executors get the driver's loaded conf instead of building their
    * own. Unlike the file source, which broadcasts per scan, one
    * broadcast is reused until the conf's contents change: serializing
    * its ~1,000 entries costs about 17 ms (4-vCPU VM), more than a small
    * window's whole read, while fingerprinting them costs well under 1 ms. */
  def broadcastConf(): Broadcast[SerializableConfiguration] = synchronized {
    val sc = SparkSession.active.sparkContext
    val conf = sc.hadoopConfiguration
    val stamp = scala.util.hashing.MurmurHash3.unorderedHash(
      conf.iterator().asScala.map(e => (e.getKey, e.getValue)))
    confBroadcast match {
      case Some((c, st, b)) if (c eq sc) && st == stamp => b
      case _ =>
        val b = sc.broadcast(new SerializableConfiguration(conf))
        confBroadcast = Some((sc, stamp, b))
        b
    }
  }

  private var confBroadcast
      : Option[(org.apache.spark.SparkContext, Int, Broadcast[SerializableConfiguration])] = None

  /** Open a segment's footer with an ALREADY LOADED conf. No parquet-mr
    * entry point that takes no conf may be used here or in the reader:
    * `ParquetFileReader.open(InputFile)`, `ParquetReadOptions.builder()`
    * and `ParquetReader.builder(readSupport, path)` each build a fresh
    * Hadoop `Configuration`, whose first read scans every jar on the
    * classpath for `core-default.xml` — about 10 ms per open, paid per
    * segment slice per query (and `.withConf(conf)` on the old builder
    * comes too late: its constructor has already loaded one). */
  def open(path: String, conf: Configuration): ParquetFileReader = {
    val p = new Path(path)
    ParquetFileReader.open(HadoopInputFile.fromPath(p, conf),
      HadoopReadOptions.builder(conf, p).build())
  }

  /** Current LEO (record count) per partition. */
  def leo(baseDir: String, topic: String): Map[Int, Long] =
    partitionDirs(baseDir, topic).map { case (p, d) =>
      p -> segmentFiles(d).map(rowCount).sum
    }

  /** The shared partition-selection contract (FluvioDuck.selectPartition),
    * used by BOTH faces of the source: single-partition topics ignore
    * `-p`/`-A`; multi-partition topics pin partition 0 by default, `-p N`
    * selects one, `-A` fans over all. */
  def selectedDirs(baseDir: String, opt: ConsumeOpt): Map[Int, File] = {
    val dirs = partitionDirs(baseDir, opt.topic)
    if (dirs.size <= 1 || opt.allPartitions) dirs
    else dirs.filter(_._1 == opt.partition)
  }

  /** Map the record range [from, to) of topic partition `p` onto its
    * segment files by cumulative row count — only overlapping segments
    * become input partitions. The ONE range→file mapping, shared by the
    * micro-batch planner and the batch scan (a mapping bug cannot make
    * the two faces read different records). */
  def sliceSegments(files: Seq[File], p: Int, from: Long, to: Long,
                    view: RecordView, fields: Seq[String]): Seq[FluvioInputPartition] = {
    val parts = Seq.newBuilder[FluvioInputPartition]
    var cum = 0L
    for (f <- files) {
      val n = rowCount(f)
      val fileStart = cum
      val fileEnd = cum + n
      val lo = math.max(from, fileStart)
      val hi = math.min(to, fileEnd)
      if (hi > lo)
        parts += FluvioInputPartition(f.getAbsolutePath, p,
          skip = lo - fileStart, take = hi - lo,
          view.offsetCol, view.timestampCol, view.valueCol, fields)
      cum = fileEnd
    }
    parts.result()
  }

  private[v2] val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}

/** Per-partition log positions, serialized as `{"0": 123, "1": 456}` in
  * the streaming checkpoint — restart-stable consumer offsets. */
case class FluvioOffset(positions: Map[Int, Long]) extends Offset {
  override def json(): String = {
    val node = FluvioDsv2.mapper.createObjectNode()
    positions.toSeq.sortBy(_._1).foreach { case (p, o) => node.put(p.toString, o) }
    FluvioDsv2.mapper.writeValueAsString(node)
  }
}

object FluvioOffset {
  def fromJson(json: String): FluvioOffset = {
    val node = FluvioDsv2.mapper.readTree(json)
    FluvioOffset(node.properties().asScala
      .map(e => e.getKey.toInt -> e.getValue.asLong()).toMap)
  }
}

/** Registered as format("fluvio") via the DataSourceRegister service
  * file (META-INF/services). */
class FluvioTableProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "fluvio"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FluvioDsv2.prunedSchema(Option(options.get("columns")))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    // properties arrive with the user's original key casing; DSv2 options
    // are case-insensitive by convention (inferSchema already receives a
    // CaseInsensitiveStringMap), so look up through the same wrapper
    val opts = new CaseInsensitiveStringMap(properties)
    val cmd = Option(opts.get("cmd")).getOrElse(
      throw new IllegalArgumentException("fluvio source requires a `cmd` option"))
    val baseDir = Option(opts.get("baseDir")).getOrElse(
      throw new IllegalArgumentException("fluvio source requires a `baseDir` option"))
    new FluvioTable(cmd, baseDir, Option(opts.get("columns")))
  }
}

class FluvioTable(cmd: String, baseDir: String,
                  columns: Option[String] = None)
    extends Table with SupportsRead {
  private val opt: ConsumeOpt = ConsumeOpt.parse(cmd) match {
    case Left(err) => throw new IllegalArgumentException(err)
    case Right(o)  => o
  }
  private val view: RecordView = TopicRegistry.requireRecordView(baseDir, opt.topic)

  override def name(): String = s"fluvio_consume(${opt.topic})"
  override def schema(): StructType = FluvioDsv2.prunedSchema(columns)
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // Kafka-style admission control: caps records and/or bytes admitted
    // per micro-batch (0/absent = unlimited). Bytes are the streaming
    // analog of the reference's `-b/--maxbytes` fetch cap
    // (`/root/reference/src/consume.rs:507-509,640-643`) — on a topic with
    // fat payloads, record-count admission alone under-controls memory.
    // Read here — Spark passes stream options to the scan builder, not the
    // table properties.
    val maxPerTrigger = options.getLong("maxRecordsPerTrigger", 0L)
    val maxBytesPerTrigger = options.getLong("maxBytesPerTrigger", 0L)
    // `--rows` on the BATCH face (r14): honored in segment planning by
    // default — the raw relation delivers the first `rows` records of
    // the window PER PARTITION (dense offsets make the cap a row-range,
    // so a `--rows 500` consume of a deep topic PLANS ~500 rows; under
    // `-A` the cap is per partition, the same documented divergence as
    // the file path's per-partition FromEnd windows — the reference is
    // single-partition, consume.rs:179, so the axis has no reference
    // semantics to diverge from). `rowsCap=false` opts out: the consume
    // wrapper sets it when a cardinality-CHANGING transform chain must
    // count post-transform rows (the cap then applies after the chain,
    // outside the scan). Streaming admission is a different axis
    // (maxRecordsPerTrigger above); the micro-batch face never row-caps.
    val rowsCap = options.getBoolean("rowsCap", true)
    // COLUMN PRUNING, two routes to the same reader projection: the
    // explicit `columns` option (a stream that needs only `offset` must
    // not pay value-string materialization — on a fat-payload topic the
    // value column IS the byte volume), and the engine's
    // SupportsPushDownRequiredColumns hook for planners that apply
    // pushdown to this scan (Spark 4.1's micro-batch planner does NOT —
    // it plans streaming relations before V2ScanRelationPushDown — so
    // the option is the operative route today; the hook costs nothing
    // and picks up planner support when it lands). The pruned schema
    // flows through the input partitions to the reader, which
    // materializes ONLY those fields.
    new ScanBuilder with SupportsPushDownRequiredColumns
        with SupportsPushDownFilters {
      private var pruned: StructType = FluvioDsv2.prunedSchema(columns)
      override def pruneColumns(requiredSchema: StructType): Unit = {
        // observability counter for the canary spec: today's micro-batch
        // planner never calls this (see comment above) — but the BATCH
        // planner DOES (V2ScanRelationPushDown runs on batch relations),
        // so batch `select("offset")` prunes through this interface and
        // the canary asserts it
        FluvioDsv2.pruneColumnsCalls.incrementAndGet()
        pruned = requiredSchema
      }

      // FILTER PUSHDOWN (batch face): offset bounds and partition
      // equality tighten the planned record ranges — with dense
      // per-partition offsets an offset predicate IS a row-range
      // predicate, so `offset >= n` skips [0, n) without reading it and
      // `partition = p` lists only that subtree (the Kafka-source
      // analog of storage partition pruning). Every accepted filter is
      // ALSO returned as a residual: the range arithmetic is exact on
      // the dense-log model, but re-evaluation on the delivered rows is
      // one codegen'd comparison and keeps correctness independent of
      // that model — the standard conservative DSv2 contract.
      private var offLo = 0L                 // inclusive record-range lo
      private var offHi = Long.MaxValue      // exclusive record-range hi
      private var partEq: Option[Int] = None
      private var accepted: Array[org.apache.spark.sql.sources.Filter] = Array.empty
      private def longOf(v: Any): Option[Long] = v match {
        case l: Long => Some(l)
        case i: Int  => Some(i.toLong)
        case _       => None
      }
      override def pushFilters(
          filters: Array[org.apache.spark.sql.sources.Filter])
          : Array[org.apache.spark.sql.sources.Filter] = {
        import org.apache.spark.sql.sources._
        FluvioDsv2.pushFiltersCalls.incrementAndGet()
        accepted = filters.filter {
          case EqualTo("partition", v) =>
            longOf(v).exists { p => partEq = Some(p.toInt); true }
          case EqualTo("offset", v) =>
            longOf(v).exists { n =>
              offLo = math.max(offLo, n); offHi = math.min(offHi, n + 1); true }
          case GreaterThanOrEqual("offset", v) =>
            longOf(v).exists { n => offLo = math.max(offLo, n); true }
          case GreaterThan("offset", v) =>
            longOf(v).exists { n => offLo = math.max(offLo, n + 1); true }
          case LessThan("offset", v) =>
            longOf(v).exists { n => offHi = math.min(offHi, n); true }
          case LessThanOrEqual("offset", v) =>
            longOf(v).exists { n => offHi = math.min(offHi, n + 1); true }
          case _ => false
        }
        filters // all residual (see contract note above)
      }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
        accepted

      override def build(): Scan = new Scan {
        override def readSchema(): StructType = pruned
        override def description(): String =
          s"fluvio_consume(${opt.topic}) " +
            s"PushedOffsetRange: [$offLo, ${if (offHi == Long.MaxValue) "inf" else offHi}) " +
            s"PushedPartition: ${partEq.getOrElse("*")} " +
            // the cmd's own offset window resolves bind-time inside the
            // source (segment-level planning, not deliver-then-filter) —
            // surfaced here so plan audits can pin it from explain output
            s"CmdWindow: start=${opt.startOffset} end=${opt.end.getOrElse("leo")} " +
            s"rows=${if (rowsCap) opt.rows.toString else "uncapped"}"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new FluvioMicroBatchStream(opt, view, baseDir, maxPerTrigger,
            maxBytesPerTrigger, pruned.fieldNames.toSeq)
        override def toBatch: Batch =
          new FluvioBatch(opt, view, baseDir, pruned.fieldNames.toSeq,
            offLo, offHi, partEq, rowsCap)
      }
    }
  }
}

/** Batch face of the DSv2 source — the SAME provider, offset algebra,
  * range→file mapping and reader as the streaming face (VERDICT r12
  * task 7; the Kafka source's one-source-two-faces shape). Bind-time
  * offset flags resolve against the CURRENT log (`-B`/`--start`/`-H`
  * absolute, `-T`/default-end relative to LEO, `--end` inclusive cap),
  * then pushed offset/partition filters tighten each partition's
  * [start, end) record range before it maps onto segment files — a
  * `--rows`-capped or offset-filtered batch consume reads only the
  * overlapping segments, and inside them skips straight to the range. */
class FluvioBatch(opt: ConsumeOpt, view: RecordView, baseDir: String,
                  fields: Seq[String],
                  offLo: Long, offHi: Long, partEq: Option[Int],
                  capRows: Boolean = true)
    extends Batch {

  override def planInputPartitions(): Array[InputPartition] = {
    val dirs0 = FluvioDsv2.selectedDirs(baseDir, opt)
    val dirs = partEq match {
      case Some(pe) => dirs0.filter(_._1 == pe)
      case None     => dirs0
    }
    dirs.toSeq.sortBy(_._1).flatMap { case (p, d) =>
      val files = FluvioDsv2.segmentFiles(d)
      val leoP = files.map(FluvioDsv2.rowCount).sum
      // the reference's calculate_offset (consume.rs:580-605), same
      // algebra as the stream's initialOffset — resolved per partition
      val start0 = opt.startOffset match {
        case OffsetSpec.FromBeginning(n) => n
        case OffsetSpec.Absolute(n)      => n
        case OffsetSpec.FromEnd(n)       => math.max(0L, leoP - n)
        case OffsetSpec.End              => leoP
      }
      val end0 = math.min(leoP, opt.end.map(_ + 1).getOrElse(Long.MaxValue))
      // `--rows` = first N records of the window, per partition (dense
      // offsets: ≡ offset < start0 + N) — applied to the WINDOW before
      // intersecting with pushed filters, so a user predicate on top of
      // the capped consume filters the capped rows, never widens them.
      // Saturating add: `--rows` near Long.MaxValue must mean "uncapped".
      val endCap =
        if (!capRows) end0
        else if (start0 > Long.MaxValue - opt.rows) end0
        else math.min(end0, start0 + opt.rows)
      val from = math.max(start0, offLo)
      val to = math.min(endCap, offHi)
      if (to > from) FluvioDsv2.sliceSegments(files, p, from, to, view, fields)
      else Seq.empty
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FluvioReaderFactory(FluvioDsv2.broadcastConf())
}

class FluvioMicroBatchStream(opt: ConsumeOpt, view: RecordView, baseDir: String,
                             maxPerTrigger: Long = 0L,
                             maxBytesPerTrigger: Long = 0L,
                             fields: Seq[String] =
                               FluvioDsv2.Schema.fieldNames.toSeq)
    extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  /** See [[FluvioDsv2.selectedDirs]] — the contract shared with batch. */
  private def selectedDirs(): Map[Int, File] =
    FluvioDsv2.selectedDirs(baseDir, opt)

  override def initialOffset(): Offset = {
    // bind-time start offsets, like the reference's calculate_offset
    // (consume.rs:580-605): end-relative flags read the log end ONCE here
    val dirs = selectedDirs()
    val starts = opt.startOffset match {
      case OffsetSpec.FromBeginning(n) => dirs.map { case (p, _) => p -> n }
      case OffsetSpec.Absolute(n)      => dirs.map { case (p, _) => p -> n }
      case OffsetSpec.FromEnd(n) =>
        dirs.map { case (p, d) =>
          p -> math.max(0L, FluvioDsv2.segmentFiles(d).map(FluvioDsv2.rowCount).sum - n)
        }
      case OffsetSpec.End =>
        dirs.map { case (p, d) =>
          p -> FluvioDsv2.segmentFiles(d).map(FluvioDsv2.rowCount).sum
        }
    }
    FluvioOffset(starts)
  }

  /** ONE directory listing + stat pass over the selected partitions:
    * per partition, (row count, on-disk bytes) across its segments. Row
    * counts come from the (path, mtime, length)-keyed footer cache, so a
    * steady-state trigger costs file stats only — footers are parsed once
    * per segment ever. Every per-trigger metadata consumer (ends, byte
    * sizing) derives from a single snapshot instead of re-listing. */
  private def partitionMeta(): Map[Int, (Long, Long)] =
    selectedDirs().map { case (p, d) =>
      val fs = FluvioDsv2.segmentFiles(d)
      p -> ((fs.map(FluvioDsv2.rowCount).sum, fs.map(_.length()).sum))
    }

  /** Current deliverable end per partition: LEO capped by `--end N`
    * (inclusive ⇒ cap at N+1). Footer-metadata only — no data read. */
  private def currentEnds(meta: Map[Int, (Long, Long)]): Map[Int, Long] = {
    val cap = opt.end.map(_ + 1).getOrElse(Long.MaxValue)
    meta.map { case (p, (rows, _)) => p -> math.min(rows, cap) }
  }

  private def currentEnds(): Map[Int, Long] = currentEnds(partitionMeta())

  // Trigger.AvailableNow contract: latch the log ends ONCE at prepare
  // time; every subsequent micro-batch targets this fixed end (reached in
  // maxRecordsPerTrigger-sized steps if admission control is on), then the
  // query shuts down — records appended after the latch wait for the next
  // run. Without the latch a busy topic could keep an "available now"
  // query alive indefinitely.
  @volatile private var availableNowEnds: Option[Map[Int, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnds = Some(currentEnds())

  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      Option.when(maxPerTrigger > 0L)(ReadLimit.maxRows(maxPerTrigger)),
      Option.when(maxBytesPerTrigger > 0L)(ReadLimit.maxBytes(maxBytesPerTrigger))
    ).flatten
    limits match {
      case Seq()    => ReadLimit.allAvailable()
      case Seq(one) => one
      case many     => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def reportLatestOffset(): Offset = FluvioOffset(currentEnds())

  override def latestOffset(): Offset =
    // SupportsAdmissionControl streams are driven via latestOffset(start,
    // limit); keep the no-arg form total (≡ no limit) for direct callers
    FluvioOffset(availableNowEnds.getOrElse(currentEnds()))

  /** Rate-limited batch end: admit at most `budget` records above `start`,
    * split across partitions PROPORTIONALLY to their backlog (a hot
    * partition cannot starve the others; allocation is deterministic —
    * floor of the proportional share, remainder to the lowest partition
    * ids). The same shape as the Kafka source's maxOffsetsPerTrigger. */
  private[v2] def admit(start: Map[Int, Long], target: Map[Int, Long],
                        budget: Long): Map[Int, Long] = {
    val backlog = target.map { case (p, t) =>
      p -> math.max(0L, t - start.getOrElse(p, 0L)) }
    val total = backlog.values.sum
    if (total <= budget) return target
    val base = backlog.toSeq.sortBy(_._1).map { case (p, b) =>
      // floor share — via BigInt: `budget * b` on Longs overflows for a
      // large trigger cap times a deep backlog, turning the share negative
      // (admitted end below `start` ⇒ zero-row batch with a REGRESSED
      // committed offset — a stalled stream)
      (p, b, (BigInt(budget) * b / total).toLong)
    }
    var remainder = budget - base.map(_._3).sum
    base.map { case (p, b, share) =>
      val bump = if (remainder > 0 && share < b) { remainder -= 1; 1L } else 0L
      p -> (start.getOrElse(p, 0L) + share + bump)
    }.toMap
  }

  /** Estimated bytes per record per partition, from a [[partitionMeta]]
    * snapshot: on-disk bytes / footer row count. The parquet-encoded size
    * is the same stored size the reference's `--maxbytes` caps fetches by
    * (consume.rs:507-509) — an estimate (segments mix compression ratios)
    * but metadata-only and conservative enough for admission control. */
  private def avgBytesPerRecord(meta: Map[Int, (Long, Long)]): Map[Int, Double] =
    meta.map { case (p, (rows, bytes)) =>
      p -> (if (rows == 0L) 0.0 else bytes.toDouble / rows)
    }

  /** Byte-budget analog of [[admit]]: the byte budget splits across
    * partitions proportionally to their byte backlog, then converts to a
    * record count via the partition's average record size. A budget below
    * one record's size still admits ONE record (lowest partition id with
    * backlog) — the same minimum-progress rule as Kafka's maxBytes
    * handling; otherwise the stream would stall forever. */
  private[v2] def admitBytes(start: Map[Int, Long], target: Map[Int, Long],
                             byteBudget: Long,
                             bpr: Map[Int, Double]): Map[Int, Long] = {
    val backlog = target.map { case (p, t) =>
      p -> math.max(0L, t - start.getOrElse(p, 0L)) }
    val bytes = backlog.map { case (p, b) => p -> b * bpr.getOrElse(p, 0.0) }
    val totalBytes = bytes.values.sum
    if (totalBytes <= byteBudget) return target
    val recs = scala.collection.mutable.Map.empty[Int, Long]
    backlog.foreach { case (p, b) =>
      recs(p) =
        if (bpr.getOrElse(p, 0.0) <= 0.0) b
        else math.min(b,
          (byteBudget * (bytes(p) / totalBytes) / bpr(p)).toLong)
    }
    // redistribute the leftover byte budget (each partition's floor
    // truncation strands up to one record's bytes) to backlogged
    // partitions, lowest id first — the byte analog of admit()'s record
    // remainder bump; without it a many-partition topic undershoots the
    // budget by ~one record per partition every trigger
    var leftover = byteBudget - recs.map { case (p, r) => r * bpr.getOrElse(p, 0.0) }.sum
    for (p <- backlog.keys.toSeq.sorted if leftover > 0.0 && bpr.getOrElse(p, 0.0) > 0.0) {
      val extra = math.min(backlog(p) - recs(p), (leftover / bpr(p)).toLong)
      if (extra > 0L) { recs(p) += extra; leftover -= extra * bpr(p) }
    }
    val ends = backlog.map { case (p, b) =>
      p -> (start.getOrElse(p, 0L) + recs(p)) }
    val admitted = recs.values.sum
    if (admitted == 0L && backlog.values.sum > 0L) {
      val p = backlog.filter(_._2 > 0L).keys.min
      ends.updated(p, start.getOrElse(p, 0L) + 1L)
    } else ends
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    // one listing+stat snapshot serves BOTH the target ends and the byte
    // sizing — a trigger never walks the segment metadata twice. LAZY so
    // an AvailableNow stream with latched ends and a row-only limit does
    // ZERO metadata work per trigger (the pre-snapshot behavior)
    lazy val meta = partitionMeta()
    val target = availableNowEnds.getOrElse(currentEnds(meta))
    val s = start.asInstanceOf[FluvioOffset].positions
    def applyOne(l: ReadLimit): Map[Int, Long] = l match {
      case r: ReadMaxRows  => admit(s, target, r.maxRows())
      case b: ReadMaxBytes => admitBytes(s, target, b.maxBytes(), avgBytesPerRecord(meta))
      case _               => target // allAvailable/minRows/other hints
    }
    val end = limit match {
      case composite: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
        // both caps hold: the admitted end per partition is the MIN of
        // what each limiter admits. Each limiter's own minimum-progress
        // guarantee does NOT survive the min (they may spend their one
        // guaranteed record on DIFFERENT partitions), so re-apply it at
        // the composition level or the stream can stall forever with
        // backlog present.
        val mins = composite.getReadLimits.map(applyOne).reduce { (a, b) =>
          target.keys.map(p =>
            p -> math.min(a.getOrElse(p, 0L), b.getOrElse(p, 0L))).toMap
        }
        val admitted = mins.map { case (p, e) =>
          math.max(0L, e - s.getOrElse(p, 0L)) }.sum
        val backlogged = target.filter { case (p, t) => t > s.getOrElse(p, 0L) }
        if (admitted == 0L && backlogged.nonEmpty) {
          val p = backlogged.keys.min
          mins.updated(p, s.getOrElse(p, 0L) + 1L)
        } else mins
      case l => applyOne(l)
    }
    FluvioOffset(end)
  }

  override def deserializeOffset(json: String): Offset = FluvioOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FluvioOffset].positions
    val e = end.asInstanceOf[FluvioOffset].positions
    val dirs = selectedDirs()
    // one segment listing per partition serves the data-loss check AND
    // the range→file mapping below (row counts hit the footer cache)
    val filesByPart: Map[Int, Seq[File]] =
      dirs.map { case (p, d) => p -> FluvioDsv2.segmentFiles(d) }
    // data-loss contract (Kafka's failOnDataLoss=true): a topic partition
    // that VANISHED, or whose log shrank below the committed offset
    // (segment deletion / compaction), cannot be streamed exactly-once —
    // fail loudly instead of silently planning zero rows over the hole
    for ((p, from) <- s.toSeq.sortBy(_._1)) {
      val files = filesByPart.getOrElse(p,
        throw new IllegalStateException(
          s"fluvio stream: partition $p of topic '${opt.topic}' vanished " +
            s"(committed offset $from); a removed partition cannot be " +
            "streamed exactly-once — restart from a fresh checkpoint to " +
            "accept the loss"))
      val leoP = files.map(FluvioDsv2.rowCount).sum
      if (leoP < from)
        throw new IllegalStateException(
          s"fluvio stream: partition $p of topic '${opt.topic}' truncated " +
            s"(log end $leoP < committed offset $from); segments were " +
            "deleted or compacted — restart from a fresh checkpoint to " +
            "accept the loss")
    }
    val parts = Seq.newBuilder[InputPartition]
    // iterate the END map: a topic partition ADDED after stream start has
    // no entry in `s` (bind-time initialOffset) but latestOffset already
    // advanced and will commit it — planning from `s` would silently skip
    // every record it ever held. New partitions start at 0 (their whole
    // log is new to this query).
    for ((p, to) <- e.toSeq.sortBy(_._1)) {
      val from0 = s.getOrElse(p, 0L)
      if (to > from0)
        parts ++= FluvioDsv2.sliceSegments(filesByPart.getOrElse(p, Seq.empty),
          p, from0, to, view, fields)
    }
    parts.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FluvioReaderFactory(FluvioDsv2.broadcastConf())

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One segment-file slice: rows [skip, skip+take) of `path`, belonging to
  * topic partition `partitionId`. */
case class FluvioInputPartition(path: String, partitionId: Int,
                                skip: Long, take: Long,
                                offsetCol: String, tsCol: String,
                                valueCol: String,
                                fields: Seq[String]) extends InputPartition

/** Builds one [[FluvioPartitionReader]] per input partition from the
  * scan's broadcast Hadoop conf (see [[FluvioDsv2.broadcastConf]]). */
class FluvioReaderFactory(conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new FluvioPartitionReader(partition.asInstanceOf[FluvioInputPartition],
      conf.value.value)
}

/** Executor-side reader: parquet example API (Group) — record-at-a-time
  * over one segment slice, no Spark-internal reader dependencies. The
  * timestamp unit (ms/µs/ns) is read from the file's logical type
  * annotation and normalized to Spark's µs.
  *
  * The footer is opened ONCE, with the caller's loaded conf (see
  * [[FluvioDsv2.open]] for why no conf-less parquet-mr entry point may be
  * used), and the same file reader then serves the rows: only the file
  * columns behind the pruned `fields` are requested, and row groups that
  * lie wholly inside `skip` are skipped without being decoded. The
  * one-argument constructor reads with the running context's conf. */
class FluvioPartitionReader(p: FluvioInputPartition, conf: Configuration)
    extends PartitionReader[InternalRow] {

  def this(p: FluvioInputPartition) = this(p, FluvioDsv2.hadoopConf())

  private val file: ParquetFileReader = FluvioDsv2.open(p.path, conf)
  private val projection: MessageType = {
    val fileSchema = file.getFileMetaData.getSchema
    val cols = p.fields.collect {
      case "offset"    => p.offsetCol
      case "timestamp" => p.tsCol
      case "value"     => p.valueCol
    }.distinct
    // getFieldIndex throws for a column the file lacks: a loud failure
    new MessageType(fileSchema.getName,
      cols.map(c => fileSchema.getFields.get(fileSchema.getFieldIndex(c))): _*)
  }
  private val columnIO =
    if (projection.getFieldCount == 0) null
    else {
      file.setRequestedSchema(projection)
      new ColumnIOFactory().getColumnIO(projection, file.getFileMetaData.getSchema)
    }
  private val rowGroups = file.getRowGroups
  private var nextGroup = 0
  private var records: RecordReader[Group] = _
  private var leftInGroup = 0L
  private var toSkip = p.skip
  private var delivered = 0L
  private var current: Group = _
  private val fieldArr = p.fields.toArray
  private def indexOf(c: String): Int =
    if (projection.containsField(c)) projection.getFieldIndex(c) else -1
  private val offIdx = indexOf(p.offsetCol)
  private val tsIdx = indexOf(p.tsCol)
  private val valIdx = indexOf(p.valueCol)
  private val offIsInt32 = offIdx >= 0 &&
    projection.getType(offIdx).asPrimitiveType().getPrimitiveTypeName ==
      org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32
  // timestamp extractor (handles INT64 ms/µs/ns annotations AND the
  // legacy INT96 julian-day encoding Spark writes by default)
  private val tsMicrosOf: Group => Long =
    if (tsIdx < 0) null else resolveTsExtractor()

  /** Position on the next row group holding an undelivered row; whole
    * groups inside the skip are passed over undecoded. */
  private def openGroup(): Boolean = {
    while (leftInGroup == 0) {
      if (nextGroup >= rowGroups.size) return false
      val rows = rowGroups.get(nextGroup).getRowCount
      nextGroup += 1
      if (toSkip >= rows) {
        toSkip -= rows
        if (columnIO != null) file.skipNextRowGroup()
      } else {
        if (columnIO != null)
          records = columnIO.getRecordReader(file.readNextRowGroup(),
            new GroupRecordConverter(projection))
        leftInGroup = rows
        while (toSkip > 0) {
          if (records != null) records.read()
          toSkip -= 1; leftInGroup -= 1
        }
      }
    }
    true
  }

  override def next(): Boolean = {
    if (delivered >= p.take || !openGroup()) return false
    // no file column requested (a `partition`-only or count scan):
    // rows are counted from the footer, nothing is decoded
    current = if (records != null) records.read() else null
    leftInGroup -= 1
    delivered += 1
    true
  }

  private def resolveTsExtractor(): Group => Long = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val idx = tsIdx
    val prim = projection.getType(idx).asPrimitiveType()
    if (prim.getPrimitiveTypeName == PrimitiveTypeName.INT96) {
      // INT96: 8 bytes little-endian nanos-of-day + 4 bytes julian day
      (grp: Group) => {
        val buf = java.nio.ByteBuffer
          .wrap(grp.getInt96(idx, 0).getBytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nanosOfDay = buf.getLong
        val julianDay = buf.getInt
        (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
      }
    } else {
      val factor: Long => Long =
        prim.getLogicalTypeAnnotation match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            ts.getUnit match {
              case TimeUnit.MILLIS => v => v * 1000L
              case TimeUnit.MICROS => v => v
              case TimeUnit.NANOS  => v => v / 1000L
            }
          case _ => v => v
        }
      (grp: Group) => factor(grp.getLong(idx, 0))
    }
  }

  override def get(): InternalRow = {
    val g = current
    // offsets are dense by the log model — a null offset is corrupt data
    // and must fail loudly; timestamp/value are nullable in the advertised
    // schema, so null cells pass through as nulls (the example-API getters
    // throw on absent fields instead of returning null). Only the PRUNED
    // fields materialize: a `SELECT offset` stream never builds the value
    // string (SupportsPushDownRequiredColumns). With only `partition`
    // requested, nothing was decoded and `g` is null.
    val vals = new Array[Any](fieldArr.length)
    var i = 0
    while (i < vals.length) {
      vals(i) = fieldArr(i) match {
        case "partition" => p.partitionId
        case "offset" =>
          if (offIsInt32) g.getInteger(offIdx, 0).toLong else g.getLong(offIdx, 0)
        case "timestamp" =>
          if (g.getFieldRepetitionCount(tsIdx) == 0) null else tsMicrosOf(g)
        case "value" =>
          if (g.getFieldRepetitionCount(valIdx) == 0) null
          else UTF8String.fromBytes(g.getBinary(valIdx, 0).getBytes)
        case other =>
          throw new IllegalStateException(s"unknown pruned field `$other`")
      }
      i += 1
    }
    new GenericInternalRow(vals)
  }

  override def close(): Unit = file.close()
}
