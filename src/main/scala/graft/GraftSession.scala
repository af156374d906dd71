package graft

import org.apache.spark.sql.SparkSession

/** The local session every graft main runs in, and the state it drops
  * between timed or independent runs. */
object GraftSession {

  /** graft's extensions on `cpus` local cores with as many shuffle
    * partitions, no UI, UTC, and parquet TIMESTAMP(NANOS) read as longs
    * (`events.ts`; [[graft.sources.Tables]] converts it to micros). */
  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops every cached frame and persisted RDD (checkpoint blocks
    * included), so no run reads or pays for another's storage. */
  def clearState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
