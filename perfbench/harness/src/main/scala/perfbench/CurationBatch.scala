package perfbench

import com.fasterxml.jackson.databind.JsonNode

/** `curation_batch`: `SparkEntry.queries` entries run one at a time
  * through the noop sink, as graft.Bench runs them, in whole passes over
  * the entry list; a pass starts while at least half of it (by the last
  * pass's time) fits before the deadline, and at least one pass runs.
  * The (cold) warm-up pass writes every entry's rows to parquet for the
  * check against `SparkEntry.oracleSql`. */
object CurationBatch {
  def run(ctx: Ctx): Unit = {
    val entries = ctx.strings("entries")
    val dir = ctx.dataDir
    def build(name: String) = graft.SparkEntry.queries(name)(ctx.spark, dir)

    ctx.setupCycles(3)(_ => build(ctx.str("setup_entry"))
      .write.format("noop").mode("overwrite").save())
    ctx.mark("setup")

    // warm-up pass: materialize every entry for the result check
    val oracle = Json.obj()
    val warm = Json.obj()
    entries.foreach { e =>
      val t0 = System.nanoTime()
      build(e).write.mode("overwrite").parquet(s"${ctx.workDir}/results/$e")
      warm.put(e, (System.nanoTime() - t0) / 1e9)
      graft.SparkEntry.oracleSql.get(e).foreach(sql => oracle.put(e, sql))
    }
    ctx.out.set[JsonNode]("warm_s", warm)
    ctx.out.set[JsonNode]("oracle_sql", oracle)
    ctx.mark("warm")

    ctx.calibrate()
    ctx.startTrace()
    val passes = Json.arr()
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    var pass = 0
    var lastPassNs = 0L
    while (pass == 0 || System.nanoTime() + lastPassNs / 2 < deadline) {
      val p0 = System.nanoTime()
      val times = Json.obj()
      entries.zipWithIndex.foreach { case (e, i) =>
        // mid-run host calibration, between two entries of the first pass
        if (pass == 0 && i == entries.size / 2) ctx.calibrate()
        val group = s"entry-$e-p$pass"
        ctx.spark.sparkContext.setJobGroup(group, e, interruptOnCancel = false)
        val startMs = System.currentTimeMillis()
        val s0 = System.nanoTime()
        build(e).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - s0) / 1e9
        ctx.spark.sparkContext.clearJobGroup()
        times.put(e, dt)
        if (ctx.tracer != null) ctx.tracer.span(group, "", "op", startMs.toDouble, startMs + dt * 1e3)
      }
      passes.add(times)
      lastPassNs = System.nanoTime() - p0
      pass += 1
    }
    ctx.out.put("measured_s", (System.nanoTime() - t0) / 1e9)
    ctx.finishTrace()
    ctx.calibrate()
    ctx.mark("measured")
    ctx.out.set[JsonNode]("passes", passes)
  }
}
