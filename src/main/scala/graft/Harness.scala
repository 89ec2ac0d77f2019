package graft

import graft.core.AdaptiveGate
import graft.pipeline.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one run path of the mains ([[Bench]], [[Verify]], [[Dev]]): the
  * shared session, query selection, and the scoped, gated execution of one
  * inventory query.
  */
object Harness {

  /** `local[$SPARK_GRAFT_CPUS]` (default 32) with one shuffle partition per
    * core, a UTC session time zone and no UI.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Every query when `names` is empty, otherwise the named ones; sorted by
    * name. An unknown name fails rather than silently running nothing.
    */
  def select(names: Seq[String]): Seq[String] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    (if (names.isEmpty) SparkEntry.queries.keys.toSeq else names.distinct).sorted
  }

  /** Build query `name` over `sfDir` and consume it with `sink`.
    *
    * The build and the sink share one checkpoint scope
    * ([[Dedup.withMaterialized]]), so the localCheckpoint blocks a
    * dedup/LSH/ANN query creates are released as soon as its result is
    * consumed; without it a sweep's checkpoints pile up in the block manager
    * and the tail of the pass pays their memory pressure (measured ~3x on
    * the heavy queries). The sink runs under [[AdaptiveGate]], so every main
    * consumes a query under the configuration the bench times. `gated =
    * false` is the ungated baseline of the `graft.Dev ab` comparison.
    */
  def runQuery[T](spark: SparkSession, name: String, sfDir: String, gated: Boolean = true)(
      sink: DataFrame => T): T =
    Dedup.withMaterialized {
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (gated) AdaptiveGate.withGatedExecution(df)(sink(df)) else sink(df)
    }
}
