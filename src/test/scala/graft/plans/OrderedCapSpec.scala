package graft.plans

import graft.SparkSpec
import graft.sources.{FluvioDuck, Tables}
import org.apache.spark.sql.functions._

/** OrderedCap must return exactly the rows of orderBy(key).limit(n) —
  * including across block boundaries — without a global sort. */
class OrderedCapSpec extends SparkSpec {
  import spark.implicits._

  private lazy val events = Tables.load(spark, sf, "events")
    .select(col("event_id").cast("long").as("offset"), col("props").as("value"))

  private def expected(n: Int): Seq[Long] =
    events.orderBy("offset").limit(n).select("offset")
      .collect().map(_.getLong(0)).toSeq.sorted

  private def capped(n: Long, blockSize: Long): Seq[Long] =
    OrderedCap.byKey(events, "offset", n, blockSize)
      .select("offset").collect().map(_.getLong(0)).toSeq.sorted

  private val TopK = "spark.sql.execution.topKSortFallbackThreshold"

  /** Run `body` with the top-k threshold lowered to 1, so every n > 0
    * takes the block plan (the session's 100000 would send all of this
    * spec's n values to TakeOrderedAndProject). */
  private def onBlockPlan[T](body: => T): T = {
    val was = spark.conf.get(TopK)
    spark.conf.set(TopK, "1")
    try body finally spark.conf.set(TopK, was)
  }

  test("matches orderBy+limit across n values and block boundaries") {
    // fixture: offsets 0..999 dense; blockSize 64 → boundary cases at
    // multiples, mid-block, n > total, n = 0; both cap plans
    for (n <- Seq(1, 5, 63, 64, 65, 128, 500, 999, 1000, 5000)) {
      assert(onBlockPlan(capped(n, 64)) == expected(n), s"block plan, n=$n")
      assert(capped(n, 64) == expected(n), s"top-k plan, n=$n")
    }
    assert(onBlockPlan(capped(0, 64)).isEmpty)
    assert(capped(0, 64).isEmpty)
  }

  test("works on sparse keys (post-filter offsets)") {
    val sparse = events.filter(col("offset") % 7 === 0)
    val want = sparse.orderBy("offset").limit(40)
      .select("offset").collect().map(_.getLong(0)).toSeq.sorted
    def got = OrderedCap.byKey(sparse, "offset", 40, 64)
      .select("offset").collect().map(_.getLong(0)).toSeq.sorted
    assert(onBlockPlan(got) == want)
    assert(got == want)
  }

  test("consume with a filter transform + --rows matches sort+limit semantics") {
    // filter-type chain goes through OrderedCap inside consume()
    val got = FluvioDuck.consume(spark,
      "events -B --rows 7 --smartmodule graft/filter-json-eq -e key=k -e value=7", sf)
      .select("offset").collect().map(_.getLong(0)).toSeq
    val all = FluvioDuck.consume(spark,
      "events -B --rows 999999 --smartmodule graft/filter-json-eq -e key=k -e value=7", sf)
      .select("offset").collect().map(_.getLong(0)).toSeq.sorted
    assert(got == all.take(7))
  }

  test("below the top-k threshold the cap is one TakeOrderedAndProject") {
    val plan = OrderedCap.byKey(events, "offset", 10, 64)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("GlobalLimit"), s"found GlobalLimit funnel:\n$plan")
    assert(!plan.contains("Window"), s"block plan below the threshold:\n$plan")
  }

  test("plan has no global single-partition sort of the data") {
    // at or above the top-k threshold: the block plan
    val plan = onBlockPlan(OrderedCap.byKey(events, "offset", 10, 64)
      .queryExecution.executedPlan.toString)
    assert(plan.contains("Window"), s"expected the block plan:\n$plan")
    // the only Sort nodes allowed are inside the window over the
    // metadata-sized block table / boundary block, never a global Sort
    // feeding a GlobalLimit
    assert(!plan.contains("GlobalLimit"), s"found GlobalLimit funnel:\n$plan")
  }
}
