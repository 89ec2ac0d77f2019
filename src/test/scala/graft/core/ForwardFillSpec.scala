package graft.core

import graft.SparkTestBase
import org.apache.spark.SparkEnv
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

class ForwardFillSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  import spark.implicits._

  test("global fill matches reference semantics (core.py:1034-1072)") {
    val df = Seq(
      (1L, Some(1.0), Some("a")),
      (2L, None, None),
      (3L, Some(3.0), None),
      (4L, None, Some("d")),
      (5L, None, None)
    ).toDF("ts", "x", "s")
    val out = ForwardFill.global(df, Seq("x", "s"), Seq(col("ts")))
      .orderBy("ts").collect()
    assert(out.map(r => Option(r.get(1)).orNull).toSeq == Seq(1.0, 1.0, 3.0, 3.0, 3.0))
    assert(out.map(r => Option(r.get(2)).orNull).toSeq == Seq("a", "a", "a", "d", "d"))
  }

  test("leading nulls stay null") {
    val df  = Seq((1L, None), (2L, Some(2.0)), (3L, None)).toDF("ts", "x")
    val out = ForwardFill.global(df, Seq("x"), Seq(col("ts"))).orderBy("ts").collect()
    assert(out.map(r => Option(r.get(1)).orNull).toSeq == Seq(null, 2.0, 2.0))
  }

  test("partitioned two-phase fill is equivalent to global fill") {
    val rnd = new scala.util.Random(7)
    val data = (0 until 5000).map { i =>
      (i.toLong,
       if (rnd.nextDouble() < 0.7) None else Some(rnd.nextInt(100).toDouble),
       if (rnd.nextDouble() < 0.9) None else Some(s"v${rnd.nextInt(10)}"))
    }
    val df = data.toDF("ts", "x", "s").repartition(8)
    val g = ForwardFill.global(df, Seq("x", "s"), Seq(col("ts")))
      .orderBy("ts").collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
    val p = ForwardFill.partitioned(df, Seq("x", "s"), "ts")
      .orderBy("ts").collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
    assert(g.toSeq == p.toSeq)
  }

  test("null order keys: partitioned matches global (nulls-first leading bucket)") {
    val rnd = new scala.util.Random(13)
    val data = (0 until 2000).map { i =>
      (if (rnd.nextDouble() < 0.02) None else Some(i.toLong), // ~2% null ts
       if (rnd.nextDouble() < 0.5) None else Some(rnd.nextInt(100).toDouble),
       i.toLong) // tiebreak id keeps the order total among null ts
    }
    val df = data.toDF("ts", "x", "id").repartition(8)
    val g = ForwardFill.global(df, Seq("x"), Seq(col("ts"), col("id")))
      .orderBy(col("ts").asc_nulls_first, col("id"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)), r.getLong(2)))
    inEachMode {
      val filled = ForwardFill.partitioned(df, Seq("x"), "ts", tieCols = Seq(col("id")))
      assertSortPartitions(filled)
      val p = filled.orderBy(col("ts").asc_nulls_first, col("id"))
        .collect().map(r => (Option(r.get(0)), Option(r.get(1)), r.getLong(2)))
      assert(g.toSeq == p.toSeq)
    }
  }

  test("bursty distribution: range partitions stay balanced and fill stays exact") {
    // 90% of events inside 1% of the time span — uniform value-range
    // partitions would put ~90% of rows into 2-3 partitions (each one task).
    val rnd = new scala.util.Random(5)
    val data = (0 until 20000).map { i =>
      val ts = if (i < 18000) 1000000L + rnd.nextInt(10000)        // the burst
               else rnd.nextLong() % 1000000L + 1000000L           // the tail
      (math.abs(ts), if (rnd.nextDouble() < 0.6) None else Some(rnd.nextInt(50).toDouble), i.toLong)
    }
    val df = data.toDF("ts", "x", "id").repartition(8)

    withConf(aqeOff) {
      val filled = ForwardFill.partitioned(df, Seq("x"), "ts", tieCols = Seq(col("id")))
      val counts = partitionSizes(filled).sorted
      val median = counts(counts.size / 2)
      assert(counts.max <= 2 * math.max(median, 1),
        s"max partition ${counts.max} vs median $median (partitions=${counts.size})")

      val g = ForwardFill.global(df, Seq("x"), Seq(col("ts"), col("id")))
        .orderBy("ts", "id").collect().map(r => (r.getLong(0), Option(r.get(1)), r.getLong(2)))
      val p = filled
        .orderBy("ts", "id").collect().map(r => (r.getLong(0), Option(r.get(1)), r.getLong(2)))
      assert(g.toSeq == p.toSeq)
    }
  }

  test("NaN order keys bucket last, matching global sort order") {
    // Spark sorts NaN greater than every double: the partitioned fill must
    // place NaN-keyed rows in the LAST partition or their fills/carries diverge
    val data = (0 until 500).map { i =>
      val ts = if (i % 50 == 0) Double.NaN else i.toDouble
      (ts, if (i % 3 == 0) Some(i.toDouble) else None, i.toLong)
    }
    val df = data.toDF("ts", "x", "id").repartition(4)
    def render(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(2), Option(r.get(1)))).toSeq
    val g = render(ForwardFill.global(df, Seq("x"), Seq(col("ts"), col("id")))
      .orderBy(col("ts"), col("id")).collect())
    inEachMode {
      val filled = ForwardFill.partitioned(df, Seq("x"), "ts", tieCols = Seq(col("id")))
      assertSortPartitions(filled)
      assert(render(filled.orderBy(col("ts"), col("id")).collect()) == g)
    }
  }

  test("partitioned fill with long all-null stretches crossing buckets") {
    // Only the first row non-null: every partition after the first must carry it.
    val data = (0 until 1000).map(i => (i.toLong, if (i == 0) Some(42.0) else None))
    val df   = data.toDF("ts", "x").repartition(4)
    inEachMode {
      val filled = ForwardFill.partitioned(df, Seq("x"), "ts")
      assertSortPartitions(filled)
      val out = filled.orderBy("ts").collect()
      assert(out.length == 1000 && out.forall(_.getDouble(1) == 42.0))
    }
  }

  // ---- partition-boundary cases, each run with AQE on and off

  /** Run `body` with every sort spilling each 32 records, so sorted rows are
    * read back through a reused per-record buffer: a carried string or
    * struct that was not copied is overwritten by the rows after it (each
    * row's `note` of varying length rewrites that buffer's variable part).
    */
  private def withSortSpills[T](body: => T): T = {
    val key = "spark.shuffle.spill.numElementsForceSpillThreshold"
    val conf = SparkEnv.get.conf
    val prior = conf.getOption(key)
    conf.set(key, "32")
    try body finally prior.fold(conf.remove(key))(conf.set(key, _))
  }

  inBothModes("string and struct values carry across partition boundaries") {
    val data = (0 until 4000).map { i =>
      (i.toLong, "n" * (i % 41),
       if (i % 450 == 7) Some(s"s$i-${"x" * (i % 13)}") else None,
       if (i % 610 == 11) Some((i, s"q$i")) else None)
    }
    val df = data.toDF("ts", "note", "s", "st").repartition(5)
    val g = ForwardFill.global(df, Seq("s", "st"), Seq(col("ts")))
      .orderBy("ts").collect().toSeq
    withSortSpills {
      val filled = ForwardFill.partitioned(df, Seq("s", "st"), "ts")
      assertSortPartitions(filled)
      assert(filled.orderBy("ts").collect().toSeq == g)
    }
  }

  test("gated: the fill stays one partition, so a replay of it runs one job") {
    val df = (0 until 2000).map(i => (i.toLong, if (i % 7 == 0) Some(i.toDouble) else None))
      .toDF("ts", "x").repartition(5)
    withConf(Map("spark.sql.adaptive.enabled" -> "true")) {
      val filled = ForwardFill.partitioned(df, Seq("x"), "ts")
      assert(filled.queryExecution.toRdd.getNumPartitions == 1)
      var n = 0
      val (status, jobs) = jobsRun(graft.ops.Replay.replay(filled, "ts")((_, _) => n += 1))
      assert(status == graft.ops.Replay.Ok && n == 2000)
      assert(jobs == 1)
    }
  }

  inBothModes("leading all-null partitions and an all-null column") {
    val data = (0 until 2000).map { i =>
      (i.toLong, if (i >= 1300 && (i - 1300) % 97 == 0) Some(i.toDouble) else None,
       Option.empty[String])
    }
    val df = data.toDF("ts", "x", "z").repartition(5)
    val filled = ForwardFill.partitioned(df, Seq("x", "z"), "ts")
    assertSortPartitions(filled)
    val out = filled.orderBy("ts").collect()
    assert(out.toSeq ==
      ForwardFill.global(df, Seq("x", "z"), Seq(col("ts"))).orderBy("ts").collect().toSeq)
    assert(out.take(1300).forall(_.isNullAt(1)))
    assert(out.drop(1300).forall(!_.isNullAt(1)))
    assert(out.forall(_.isNullAt(2)))
  }

  inBothModes("empty input: no rows, same schema") {
    val literal = Seq.empty[(Long, Option[Double], Option[String])].toDF("ts", "x", "s")
    val filtered = spark.range(100).select(col("id").as("ts"),
      col("id").cast("double").as("x"), col("id").cast("string").as("s"))
      .filter(col("ts") < 0)
    for (df <- Seq(literal, filtered)) {
      val out = ForwardFill.partitioned(df, Seq("x", "s"), "ts")
      assert(out.schema == df.schema)
      assert(out.collect().isEmpty)
      assert(out.orderBy("ts").count() == 0)
    }
  }

  inBothModes("orderBy on the fill's own keys plans no exchange and no sort") {
    val df = (0 until 500).map(i => (i.toLong % 50, if (i % 9 == 0) Some(i) else None, i.toLong))
      .toDF("ts", "x", "id").repartition(3)
    val sorted = ForwardFill.partitioned(df, Seq("x"), "ts", Seq(col("id")))
      .orderBy(col("ts"), col("id"))
    sorted.collect()
    val plan = sorted.queryExecution.executedPlan
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty, plan.toString)
    assert(collect(plan) { case s: SortExec => s }.isEmpty, plan.toString)
  }

  inBothModes("two actions on one filled frame return identical rows") {
    val data = (0 until 1000).map { i =>
      (i.toLong / 3, if (i > 40 && i % 11 == 0) Some(s"v$i") else None, i.toLong)
    }
    val df = data.toDF("ts", "s", "id").repartition(4)
    val filled = ForwardFill.partitioned(df, Seq("s"), "ts", Seq(col("id")))
    val first = filled.collect().toSeq
    val second = filled.collect().toSeq
    val third = {
      import scala.jdk.CollectionConverters._
      filled.toLocalIterator().asScala.toSeq
    }
    assert(first == second)
    assert(first == third)
    assert(first == ForwardFill.global(df, Seq("s"), Seq(col("ts"), col("id")))
      .orderBy("ts", "id").collect().toSeq)
  }
}
