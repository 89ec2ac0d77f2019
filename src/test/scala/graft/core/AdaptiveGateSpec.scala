package graft.core

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The input-size-derived execution gate (graft.core.AdaptiveGate): which
  * plans it classifies as static-sufficient, that gated execution restores
  * the session conf, and that gating never changes results.
  */
class AdaptiveGateSpec extends SparkTestBase {

  import scala.jdk.CollectionConverters._

  private def tinyFrame = {
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, i % 7, i * 1.5)).toDF("id", "k", "v")
  }

  test("small linear plan over a file scan is static-sufficient") {
    val dir = java.nio.file.Files.createTempDirectory("gate").toString
    tinyFrame.write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = spark.read.parquet(s"$dir/t.parquet")
      .groupBy("k").agg(sum("v").as("s")).orderBy("k")
    assert(AdaptiveGate.staticPlanSufficient(df))
  }

  test("a checkpoint leaf forces the adaptive path") {
    val ck = tinyFrame.localCheckpoint()
    try {
      val df = ck.groupBy("k").agg(sum("v").as("s"))
      assert(!AdaptiveGate.staticPlanSufficient(df))
    } finally ck.queryExecution.analyzed.collectLeaves().foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }

  test("a plan past the size threshold keeps AQE (scale-derived gate)") {
    val dir = java.nio.file.Files.createTempDirectory("gate").toString
    tinyFrame.write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = spark.read.parquet(s"$dir/t.parquet").filter(col("id") > 1)
    spark.conf.set("spark.graft.adaptive.smallPlanBytes", "1")
    try assert(!AdaptiveGate.staticPlanSufficient(df))
    finally spark.conf.unset("spark.graft.adaptive.smallPlanBytes")
  }

  test("nested generates scale the size estimate; siblings do not compound") {
    val dir = java.nio.file.Files.createTempDirectory("gate").toString
    tinyFrame.withColumn("arr", array(col("id"), col("id")))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val base = spark.read.parquet(s"$dir/t.parquet")
    val one = base.select(explode(col("arr")).as("e"))
    val sib = one.unionByName(base.select(explode(col("arr")).as("e")))
    val nested = base
      .select(explode(col("arr")).as("e"), col("arr"))
      .select(col("e"), explode(col("arr")).as("e2"))
    val leaf = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala.filter(_.toString.endsWith(".parquet")).map(
        p => java.nio.file.Files.size(p)).sum
    // threshold between 8x and 64x the leaf: depth-1 plans pass, depth-2 not
    spark.conf.set("spark.graft.adaptive.smallPlanBytes", (leaf * 32).toString)
    try {
      assert(AdaptiveGate.staticPlanSufficient(one))
      assert(AdaptiveGate.staticPlanSufficient(sib),
        "sibling explodes in union branches must not compound")
      assert(!AdaptiveGate.staticPlanSufficient(nested),
        "nested explodes must compound")
    } finally spark.conf.unset("spark.graft.adaptive.smallPlanBytes")
  }

  test("gated execution restores session conf and preserves results") {
    val dir = java.nio.file.Files.createTempDirectory("gate").toString
    tinyFrame.write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = spark.read.parquet(s"$dir/t.parquet")
      .groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n")).orderBy("k")
    val plain = df.collect().toSeq
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    var partsInside: String = null
    // df's QueryExecution was compiled (AQE on) by the collect above; a
    // fresh one built inside the gate is what a gated action really runs
    var gatedPlan: org.apache.spark.sql.execution.SparkPlan = null
    val gated = AdaptiveGate.withGatedExecution(df) {
      partsInside = spark.conf.get("spark.sql.shuffle.partitions")
      val fresh = org.apache.spark.sql.graftbridge.Bridge.reanalyze(df)
      val rows = fresh.collect().toSeq
      gatedPlan = fresh.queryExecution.executedPlan
      rows
    }
    assert(partsInside == "1", "gate must derive a single partition")
    assert(gatedPlan.find(
      _.isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec]).isEmpty,
      gatedPlan.toString)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == prevParts)
    assert(spark.conf.get("spark.sql.adaptive.enabled", "true") == "true")
    assert(gated == plain)
  }

  test("a malformed threshold fails naming its key and value") {
    spark.conf.set("spark.graft.adaptive.smallPlanBytes", "12MB-ish")
    try {
      val e = intercept[IllegalArgumentException](
        AdaptiveGate.staticPlanSufficient(tinyFrame.filter(col("id") > 1)))
      assert(e.getMessage.contains("spark.graft.adaptive.smallPlanBytes"), e.getMessage)
      assert(e.getMessage.contains("12MB-ish"), e.getMessage)
    } finally spark.conf.unset("spark.graft.adaptive.smallPlanBytes")
  }
}
