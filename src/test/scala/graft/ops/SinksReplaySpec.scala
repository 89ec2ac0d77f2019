package graft.ops

import graft.SparkTestBase

import java.nio.file.Files

/** K1-K5 sinks + replay callback coverage. */
class SinksReplaySpec extends SparkTestBase {

  import spark.implicits._

  private def df = (1 to 100).map(i => (i.toLong * 1000, s"v$i"))
    .toDF("__timestamp", "v")

  test("batched sink rotates files by maxRecordsPerFile (K1)") {
    val out = Files.createTempDirectory("graft_sink").toString + "/batched"
    Sinks.writeBatched(df.repartition(1), out, "parquet", maxRecordsPerFile = 30)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 4) // 100 rows / 30 per file
    assert(spark.read.parquet(out).count() == 100)
  }

  test("full sink writes a single csv file with header (K2)") {
    val out = Files.createTempDirectory("graft_sink").toString + "/full"
    Sinks.writeFull(df, out, "csv")
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 1)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == 100)
    assert(back.columns.toSeq == Seq("__timestamp", "v"))
  }

  test("gzip csv sink (K1 compression)") {
    val out = Files.createTempDirectory("graft_sink").toString + "/gz"
    Sinks.writeBatched(df, out, "csv", compression = Some("gzip"))
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv.gz"))
    assert(files.nonEmpty)
    assert(spark.read.option("header", "true").csv(out).count() == 100)
  }

  test("replay dispatches rows in order with timestamps (K4)") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val status = Replay.replay(df.orderBy("__timestamp")) { (ts, row) =>
      seen += ts
      assert(row.getAs[String]("v") == s"v${ts / 1000}")
    }
    assert(status == Replay.Ok)
    assert(seen.toSeq == (1 to 100).map(_.toLong * 1000))
  }

  test("replay cooperative stop returns ForceStop (core.py:123-132)") {
    val flag = new Replay.StopFlag
    var n = 0
    val status = Replay.replay(df.orderBy("__timestamp"), flag = flag) { (_, _) =>
      n += 1
      if (n == 10) flag.stop()
    }
    assert(status == Replay.ForceStop)
    assert(n == 10)
  }

  test("replay of a forward-filled fuse walks the range partitions in order") {
    import graft.core.{ForwardFill, Fuser}
    import graft.core.Fuser.{FuseOptions, RowIdCol, SourceIdCol, TimestampCol}
    import graft.sources.FrameSource
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(3)
    def source(name: String) = FrameSource(
      (0 until 1500).map { i =>
        (rnd.nextInt(20000).toLong, i.toLong,
         if (rnd.nextDouble() < 0.3) Some(rnd.nextInt(100).toDouble) else None,
         if (rnd.nextDouble() < 0.1) Some(s"$name$i") else None)
      }.toDF("ts", "seq", "price", "tag").repartition(3),
      name, "ts", secondarySortCol = Some("seq"))
    val sources = Seq(source("trades"), source("quotes"))

    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val prior = keys.map(spark.conf.get)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val filled = Fuser.fuseFrames(sources, FuseOptions(forwardFillData = true)).df
      assert(filled.queryExecution.toRdd.getNumPartitions == 8)
      val replayed = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
      var lastTs = Long.MinValue
      val status = Replay.replay(filled) { (ts, row) =>
        assert(ts >= lastTs, s"timestamp $ts after $lastTs")
        lastTs = ts
        replayed += row.toSeq
      }
      assert(status == Replay.Ok)

      val fused = Fuser.fuseFrames(sources, FuseOptions(keepRowId = true)).df
      val order = Seq(col(TimestampCol), col(SourceIdCol), col(RowIdCol))
      val fillCols = fused.columns.filterNot(Set(TimestampCol, SourceIdCol, RowIdCol)).toSeq
      val expected = ForwardFill.global(fused, fillCols, order)
        .orderBy(order: _*).drop(RowIdCol).collect().map(_.toSeq).toSeq
      assert(replayed.size == 3000)
      assert(replayed.toSeq == expected)
    } finally keys.zip(prior).foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("replay of a gated resample runs one job per grid slice") {
    // under the coalescing floor the resample sorts as one partition; a
    // grid of n rows is emitted as min(k, n / SliceRows) slices (k the
    // default parallelism), and toLocalIterator runs a job for each
    val events = (0 until 1000).map(i => (1600000000000L + i * 1000L, i.toDouble))
      .toDF("__timestamp", "price").repartition(3)
    withConf(Map("spark.sql.adaptive.enabled" -> "true")) {
      val k = spark.sparkContext.defaultParallelism
      for ((interval, slices) <- Seq("1s" -> 1, "10l" -> k)) withClue(s"$interval: ") {
        val out = Resampler.resample(events, interval)
        val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
        val (status, jobs) = jobsRun(Replay.replay(out)((ts, _) => seen += ts))
        assert(status == Replay.Ok)
        assert(seen.toSeq == out.collect().map(_.getLong(0)).toSeq)
        assert(jobs == slices)
      }
    }
  }
}
