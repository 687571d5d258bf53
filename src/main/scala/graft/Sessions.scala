package graft

import org.apache.spark.sql.SparkSession

/** One place to build the local SparkSession with the configs every
  * entry point (Verify, Bench, tests) needs — shuffle partitions sized
  * to the core count (not the 200 default), UTC, AQE on, and the
  * parquet nanos→long legacy flag needed by events.parquet (set here at
  * session build, not as a side effect of loading a table).
  */
object Sessions {
  def build(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // allow the planner to pick a SHUFFLED HASH join when one side's
      // ESTIMATED size fits a per-partition hash map (below
      // autoBroadcastJoinThreshold × shuffle partitions and 3× smaller
      // than the other side): sort-merge pays two full sorts that a
      // hash build skips. The trade-off is memory safety: the hash
      // build side does not spill, so a partition whose build side
      // outgrows executor memory (an under-estimated size, or a skewed
      // key AQE's skew split does not break up) fails with OOM where a
      // sort-merge join would have spilled and finished. SMJ is chosen
      // only when the size test fails at planning time; it is not a
      // runtime fallback. A strategy choice, never a semantics change.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
