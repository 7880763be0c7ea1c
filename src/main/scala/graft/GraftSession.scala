package graft

import org.apache.spark.sql.SparkSession

/** How every graft main and test suite launches and tidies its session. */
object GraftSession {
  /** `local[cores]` with as many shuffle partitions, UTC, no UI and the
    * [[SpillDefaults]] recipe. The settings land in the SparkConf of the
    * context this builder creates, so they need no `-D` flags. */
  def builder(cores: Int): SparkSession.Builder =
    SpillDefaults(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))

  /** Frees what a query left behind, blocking until the blocks are gone:
    * every persistent RDD, which includes the `localCheckpoint` blocks
    * the SQL cache never sees, and then the SQL cache itself. Callers run
    * it between keys, outside any timed region. */
  def sweep(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
  }
}
