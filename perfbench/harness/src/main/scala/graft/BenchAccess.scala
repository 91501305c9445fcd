package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The parts of graft.Bench the benchmark harness reuses, so its runs
  * grade under Bench's session settings and calibration job rather than
  * a copy of them. */
object BenchAccess {
  def sessionWith(cpus: Int, extra: Map[String, String]): SparkSession =
    Bench.sessionWith(cpus.toString, extra)

  def calibrationDf(spark: SparkSession): DataFrame = Bench.calibrationDf(spark)

  /** Seconds to run `df` into the noop sink. */
  def timeNoop(df: DataFrame): Double = Bench.timeNoop(df)
}
