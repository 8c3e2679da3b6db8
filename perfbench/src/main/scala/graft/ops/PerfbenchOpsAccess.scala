package graft.ops

import org.apache.spark.sql.SparkSession

/** Benchmark access to the package-private snapshot witness, so a traced
  * run can compare the bytes a store holds with the bytes its latest
  * snapshot references. */
object PerfbenchOpsAccess {
  def liveBytes(spark: SparkSession, store: String): Long =
    StandingState.recordedWitness(spark, store, StandingState.latestSnapshot(spark, store))
      .files.values.flatten.map(_._2).sum
}
