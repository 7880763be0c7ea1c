package graft

import org.apache.spark.sql.SparkSession

/** Spill-encoding defaults: `zstd` shuffle/spill blocks plus compressed RDD
  * and checkpoint blocks. On the iterative Pregel keys at sf100 they shrink
  * per-round spill about 7× (8–16 bytes/edge; BASELINE.md). Every graft
  * session gets them through [[GraftSession.builder]]; RegistrySpec pins
  * the live session and context values.
  */
object SpillDefaults {
  val configs: Seq[(String, String)] = Seq(
    "spark.io.compression.codec" -> "zstd",
    "spark.rdd.compress"         -> "true",
    "spark.checkpoint.compress"  -> "true",
    // the 32 KB default buffer makes every small block pay zstd stream
    // setup (measured +19% on the full sf0.1 bench); 512 KB amortizes it
    // to noise at bench scale, at a few MB per executor
    "spark.io.compression.zstd.bufferSize" -> "512k")

  def apply(b: SparkSession.Builder): SparkSession.Builder =
    configs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}
