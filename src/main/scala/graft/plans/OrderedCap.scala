package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** "First n rows in key order" without the global sort + single-partition
  * GlobalLimit funnel.
  *
  * The naive `orderBy(key).limit(n)` shuffles every surviving row through
  * one partition when n exceeds the top-k threshold — the classic scale
  * cliff for `--rows 100000000` over a 100 TB log. This instead:
  *
  *   1. buckets rows by coarse key block (`key div blockSize`);
  *   2. aggregates per-block counts (map-side combine, tiny shuffle) and
  *      takes a running total over the (metadata-sized, sorted) block
  *      table — the only single-partition step works on #blocks rows,
  *      not data rows;
  *   3. broadcasts the cutoff block + rows-still-needed, keeps every row
  *      of earlier blocks where they sit, and ranks ONLY the boundary
  *      block (bounded by blockSize) to take the remainder.
  *
  * Output is the exact same row set as `orderBy(key).limit(n)` (callers
  * re-apply any display ordering); cost is one extra counting pass
  * instead of a single-point sort.
  *
  * Below the session's `spark.sql.execution.topKSortFallbackThreshold`
  * the cap is plain `orderBy(key).limit(n)`, which Spark plans as
  * `TakeOrderedAndProject`: a per-partition top-n heap and one merge of
  * at most n rows per partition — no global sort, no GlobalLimit funnel,
  * and one job instead of the block plan's three scans. The block plan
  * is kept for n at or above the threshold, where Spark would fall back
  * to the sort + GlobalLimit funnel.
  *
  * Used for the `--rows` cap behind cardinality-changing transform chains,
  * where "count rows post-transform in offset order" is the required
  * semantics (reference: chunk-fill count,
  * `/root/reference/src/consume.rs:75-92`) and the offset-range rewrite
  * for map-only chains does not apply.
  */
object OrderedCap {

  def byKey(df: DataFrame, key: String, n: Long,
            blockSize: Long = 1L << 20): DataFrame = {
    require(blockSize > 0, "blockSize must be positive")
    if (n <= 0) return df.limit(0)
    val topK = df.sparkSession.conf
      .get(SQLConf.TOP_K_SORT_FALLBACK_THRESHOLD.key).toInt
    // Spark's own planning condition for TakeOrderedAndProject (limit <
    // threshold); the threshold never exceeds Int.MaxValue, so n fits
    if (n < topK) return df.orderBy(key).limit(n.toInt)
    val t = df.withColumn("__blk", floor(col(key) / blockSize))
    val counts = t.groupBy("__blk").agg(count(lit(1)).as("__cnt"))
    // constant partition key: the running total is over the
    // metadata-sized block table (one row per blockSize of key space),
    // deliberately single-partition
    val cum = counts.withColumn("__cum",
      sum("__cnt").over(Window.partitionBy(lit(0)).orderBy("__blk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // one row: first block where the running total reaches n (NULL = keep
    // everything) and the number of rows kept before it
    val info = cum.agg(
        min(when(col("__cum") >= n, col("__blk"))).as("__cutBlk"))
      .crossJoin(cum.select(col("__blk").as("__b"), col("__cum").as("__c")))
      .groupBy("__cutBlk")
      .agg(coalesce(max(when(col("__b") < col("__cutBlk"), col("__c"))), lit(0L))
        .as("__prevCum"))
    val withInfo = t.crossJoin(broadcast(info))
    val before = withInfo
      .filter(col("__cutBlk").isNull || col("__blk") < col("__cutBlk"))
    val boundary = withInfo
      .filter(col("__blk") === col("__cutBlk"))
      .withColumn("__rn",
        row_number().over(Window.partitionBy("__blk").orderBy(key)))
      .filter(col("__rn") <= lit(n) - col("__prevCum"))
      .drop("__rn")
    before.unionByName(boundary).drop("__blk", "__cutBlk", "__prevCum")
  }
}
