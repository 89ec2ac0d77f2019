package graft.core

import graft.SparkTestBase
import graft.core.Fuser.{FuseOptions, SourceIdCol, TimestampCol}
import graft.sources.FrameSource
import org.apache.spark.sql.functions._

class FuserSpec extends SparkTestBase {

  import spark.implicits._

  private def trades = Seq(
    (1000L, 10.0, 1L), (3000L, 11.0, 2L), (5000L, 12.0, 3L)
  ).toDF("Timestamp", "Price", "Syn_id")

  private def spread = Seq(
    (2000L, 9.9, 10.1, 1L), (3000L, 10.9, 11.1, 2L), (6000L, 11.9, 12.1, 3L)
  ).toDF("Timestamp", "bid", "ask", "Syn_id")

  test("diagonal union + chronological order + provenance") {
    val res = Fuser.fuseFrames(Seq(
      FrameSource(trades, "trades", "Timestamp"),
      FrameSource(spread, "spread", "Timestamp")))
    val df = res.df
    assert(df.columns.contains(TimestampCol))
    assert(df.columns.contains(SourceIdCol))
    // Collision rename: Syn_id appears in both sources → suffixed.
    assert(df.columns.count(_.startsWith("Syn_id||")) == 2)
    val ts = df.select(TimestampCol).collect().map(_.getLong(0)).toSeq
    assert(ts == Seq(1000L, 2000L, 3000L, 3000L, 5000L, 6000L))
    // Equal timestamps tie-break by source id (stable, deterministic).
    val tie = df.filter(col(TimestampCol) === 3000L).select(SourceIdCol)
      .collect().map(_.getInt(0)).toSeq
    assert(tie == Seq(0, 1))
    // Null-filling: trades rows carry null bid/ask.
    val first = df.orderBy(col(TimestampCol)).first()
    assert(first.isNullAt(first.fieldIndex("bid")))
  }

  test("merge columns exempt from collision rename") {
    val res = Fuser.fuseFrames(
      Seq(FrameSource(trades, "trades", "Timestamp"),
          FrameSource(spread, "spread", "Timestamp")),
      FuseOptions(mergeColNames = Seq("Syn_id")))
    assert(res.df.columns.count(_ == "Syn_id") == 1)
    assert(res.renames.isEmpty)
  }

  test("time window filter clamps both ends") {
    val res = Fuser.fuseFrames(
      Seq(FrameSource(trades, "trades", "Timestamp"),
          FrameSource(spread, "spread", "Timestamp")),
      FuseOptions(procStart = Some(2000L), procEnd = Some(5000L)))
    val ts = res.df.select(TimestampCol).collect().map(_.getLong(0)).toSeq
    assert(ts == Seq(2000L, 3000L, 3000L, 5000L))
  }

  test("inverted time window fails fast (core.py:179-201)") {
    val e = intercept[IllegalArgumentException] {
      Fuser.fuseFrames(Seq(FrameSource(trades, "trades", "Timestamp")),
        FuseOptions(procStart = Some(5000L), procEnd = Some(2000L)))
    }
    assert(e.getMessage.contains("procstart"), e.getMessage)
  }

  test("ISO string bounds are coerced like the reference scalar rules") {
    val res = Fuser.fuseFrames(
      Seq(FrameSource(trades, "trades", "Timestamp")),
      FuseOptions(procStart = Some("1970-01-01T00:00:03Z")))
    assert(res.startTs.contains(3000L))
    assert(res.df.count() == 2)
  }

  test("timestamp conversion keeps original as __<col>") {
    val iso = Seq(
      ("2023-11-04T15:22:00.091Z", 1.0),
      ("2023-11-04T15:22:01.000Z", 2.0)
    ).toDF("str_iso_timestamp", "Price")
    val res = Fuser.fuseFrames(Seq(
      FrameSource(iso, "pq", "str_iso_timestamp",
        tsConvert = Some(c => unix_millis(to_timestamp(c))))))
    val df = res.df
    assert(df.columns.contains("__str_iso_timestamp"))
    val row = df.first()
    assert(row.getAs[Long](TimestampCol) == 1699111320091L)
    assert(row.getAs[String]("__str_iso_timestamp") == "2023-11-04T15:22:00.091Z")
  }

  test("remove_cols drops before fusing") {
    val res = Fuser.fuseFrames(Seq(
      FrameSource(trades, "trades", "Timestamp", removeCols = Seq("Syn_id"))))
    assert(!res.df.columns.exists(_.startsWith("Syn_id")))
  }

  test("engine-level forward fill fills real rows across sources") {
    val res = Fuser.fuseFrames(
      Seq(FrameSource(trades, "trades", "Timestamp"),
          FrameSource(spread, "spread", "Timestamp")),
      FuseOptions(forwardFillData = true, renameIdenticalCols = false,
        mergeColNames = Seq("Syn_id")))
    val rows = res.df.orderBy(col(TimestampCol), col(SourceIdCol)).collect()
    // The spread row at 2000 has null Price → filled from trades@1000 (10.0).
    val at2000 = rows.find(_.getLong(rows.head.fieldIndex(TimestampCol)) == 2000L).get
    assert(at2000.getAs[Double]("Price") == 10.0)
    // trades@5000 has null bid → filled from spread@3000 (10.9).
    val at5000 = rows.find(_.getLong(rows.head.fieldIndex(TimestampCol)) == 5000L).get
    assert(at5000.getAs[Double]("bid") == 10.9)
  }

  test("per-source rename map applied before fusing (P2)") {
    val res = Fuser.fuseFrames(Seq(
      FrameSource(trades, "trades", "Timestamp",
        renameCols = Map("Price" -> "Px"))))
    assert(res.df.columns.contains("Px") && !res.df.columns.contains("Price"))
  }

  test("dedupOverlaps collapses re-read rows per (source, row id) (P6)") {
    val overlapping = trades.union(trades.limit(2)) // simulate re-read span
    val res = Fuser.fuseFrames(
      Seq(FrameSource(overlapping, "trades", "Timestamp",
        secondarySortCol = Some("Syn_id"))),
      FuseOptions(dedupOverlaps = true))
    assert(res.df.count() == 3)
  }

  test("run report aggregates per-source stats (K5)") {
    val res = Fuser.fuseFrames(Seq(
      FrameSource(trades, "trades", "Timestamp"),
      FrameSource(spread, "spread", "Timestamp")))
    val stats = Fuser.runReport(res)
    assert(stats.map(s => (s.descriptor, s.rows, s.startTs, s.endTs)) == Seq(
      ("spread", 3L, 2000L, 6000L), ("trades", 3L, 1000L, 5000L)))
  }

  test("auto-converts native timestamp columns to epoch ms") {
    val df = Seq(java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))
      .toDF("ts").withColumn("v", lit(1))
    val res = Fuser.fuseFrames(Seq(FrameSource(df, "t", "ts")))
    assert(res.df.first().getAs[Long](TimestampCol) == 1577836800000L)
  }

  test("fused column names and order: every normalize step and the collision rename") {
    val iso = Seq(("2023-11-04T15:22:00.091Z", 1.0, 7L)).toDF("str_iso_timestamp", "Price", "Syn_id")
    val native = Seq((java.sql.Timestamp.valueOf("2020-01-01 00:00:00"), 2.0, "x"))
      .toDF("ts", "bid", "note")
    val sources = Seq(
      FrameSource(trades, "trades", "Timestamp", renameCols = Map("Price" -> "Px")),
      FrameSource(iso, "iso", "str_iso_timestamp",
        tsConvert = Some(c => unix_millis(to_timestamp(c)))),
      FrameSource(spread, "spread", "Timestamp", removeCols = Seq("ask"),
        secondarySortCol = Some("Syn_id")),
      FrameSource(native, "native", "ts"))
    val res = Fuser.fuseFrames(sources, FuseOptions(keepRowId = true))
    assert(res.df.columns.toSeq == Seq(TimestampCol, "Px", "Syn_id||trades", SourceIdCol,
      "__rowid", "Price", "Syn_id||iso", "__str_iso_timestamp", "bid||spread", "Syn_id||spread",
      "bid||native", "note"))
    assert(res.renames == Map("Syn_id" -> Seq("Syn_id||trades", "Syn_id||iso", "Syn_id||spread"),
      "bid" -> Seq("bid||spread", "bid||native")))
    // the parquet source's row id is attached before normalize, the CSV
    // source's after it
    val fused = (specs: Seq[graft.sources.SourceSpec]) =>
      Fuser.fuse(spark, specs, FuseOptions(keepRowId = true)).df.columns.toSeq
    assert(fused(pruneSpecs()) == Seq(TimestampCol, "price||p", "sym||p", "__rowid",
      SourceIdCol, "price||c", "sym||c"))
    assert(fused(pruneSpecs().reverse) == Seq(TimestampCol, "price||c", "sym||c", SourceIdCol,
      "__rowid", "price||p", "sym||p"))
  }

  test("parquet sources get a recompute-stable row id: identical order across actions") {
    // Intra-millisecond ties across two files: without a stable tiebreaker,
    // two actions on the same plan may disagree (M4 determinism).
    val d = java.nio.file.Files.createTempDirectory("graft_rowid").toString + "/src"
    Seq((1000L, "a1"), (1000L, "a2"), (2000L, "a3")).toDF("t", "v")
      .coalesce(1).write.parquet(d)
    Seq((1000L, "b1"), (2000L, "b2")).toDF("t", "v")
      .coalesce(1).write.mode("append").parquet(d)
    val spec = graft.sources.SourceSpec(path = d, format = "parquet",
      descriptor = "s", timestampCol = "t")
    def run() = Fuser.fuse(spark, Seq(spec),
      FuseOptions(keepRowId = true)).df.collect().toSeq
    val once  = run()
    val again = run()
    assert(once == again)
    // row ids are monotone within a file: high bits = sorted-file index,
    // low bits = physical row position.
    val ids = once.map(_.getAs[Long](Fuser.RowIdCol))
    assert(ids.distinct.length == ids.length)
    val byFile = ids.groupBy(_ >> 40)
    assert(byFile.size == 2, s"expected 2 file groups, got $byFile")
  }

  test("a forceSchema parquet source, whose projection hides `_metadata`, keeps the legacy row id") {
    val d = java.nio.file.Files.createTempDirectory("graft_force_rowid").resolve("src")
    writeParquetFile(Seq((1000L, 1L), (1000L, 2L)).toDF("t", "v"), d.resolve("f_1.parquet"))
    writeParquetFile(Seq((2000L, 3.5)).toDF("t", "v"), d.resolve("f_2.parquet"))
    val spec = graft.sources.SourceSpec(path = d.toString, format = "parquet",
      descriptor = "s", timestampCol = "t", fileSortRegex = Some("\\d+"), forceSchema = true,
      schema = Some(org.apache.spark.sql.types.StructType.fromDDL("t BIGINT, v DOUBLE")))
    val rows = Fuser.fuse(spark, Seq(spec), FuseOptions(keepRowId = true)).df.collect()
    assert(rows.map(_.getAs[Double]("v")).toSeq.sorted == Seq(1.0, 2.0, 3.5))
    val ids = rows.map(_.getAs[Long](Fuser.RowIdCol))
    assert(ids.distinct.length == 3)
  }

  // ---- source and file pruning (M5/M6) --------------------------------------
  // Two sources of three ordered day-files each: parquet `p` (pruned by its
  // footer statistics) and gzip CSV `c` (pruned by first rows). Both carry
  // `price` and `sym`, so those columns are collision-renamed.

  private val csvSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "ts BIGINT, price DOUBLE, sym STRING")

  private lazy val pruneRoot: String = {
    val root = java.nio.file.Files.createTempDirectory("graft_prune")
    Seq(1 -> Seq(1000L, 1500L, 2000L), 2 -> Seq(2000L, 2500L, 2900L), 3 -> Seq(3000L, 3500L))
      .foreach { case (d, ts) =>
        writeParquetFile(ts.map(t => (t, t / 100.0, s"p$t")).toDF("ts", "price", "sym"),
          root.resolve(s"p/p_$d.parquet"))
      }
    java.nio.file.Files.createDirectories(root.resolve("c"))
    Seq(1 -> Seq(1100L, 1600L, 2000L), 2 -> Seq(2000L, 2600L), 3 -> Seq(3100L, 3600L))
      .foreach { case (d, ts) =>
        val out = new java.util.zip.GZIPOutputStream(
          java.nio.file.Files.newOutputStream(root.resolve(s"c/c_$d.csv.gz")))
        out.write(("ts,price,sym\n" + ts.map(t => s"$t,${t / 100.0},c$t\n").mkString).getBytes("UTF-8"))
        out.close()
      }
    root.toString
  }

  private def pruneSpecs(
      regex: Option[String] = Some("\\d+"),
      conv: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = None) = Seq(
    graft.sources.SourceSpec(s"$pruneRoot/p", "parquet", "p", "ts",
      fileSortRegex = regex, tsConvert = conv),
    graft.sources.SourceSpec(s"$pruneRoot/c", "csv", "c", "ts", schema = Some(csvSchema),
      fileSortRegex = regex, tsConvert = conv))

  private def scanned(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getName).toSet

  private val allFiles = Set("p_1.parquet", "p_2.parquet", "p_3.parquet",
    "c_1.csv.gz", "c_2.csv.gz", "c_3.csv.gz")

  /** Fuse over [s, e] and check it against the fuse of every file filtered
    * to [s, e] afterwards: same columns, same rows in the same order.
    * Returns the windowed frame.
    */
  private def windowMatches(
      specs: Seq[graft.sources.SourceSpec], s: Long, e: Long,
      opts: FuseOptions = FuseOptions()): org.apache.spark.sql.DataFrame = {
    val win = Fuser.fuse(spark, specs, opts.copy(procStart = Some(s), procEnd = Some(e))).df
    val all = Fuser.fuse(spark, specs, opts).df.filter(col(TimestampCol).between(s, e))
    assert(win.columns.toSeq == all.columns.toSeq)
    // CSV row ids follow the scan layout, so the rows compare without ids
    val rows = (d: org.apache.spark.sql.DataFrame) => d.drop(Fuser.RowIdCol).collect().toSeq
    assert(rows(win) == rows(all))
    win
  }

  test("pruning: a window inside one file scans only that file of each source") {
    val df = windowMatches(pruneSpecs(), 1200L, 1700L)
    assert(scanned(df) == Set("p_1.parquet", "c_1.csv.gz"))
    assert(df.count() == 2)
  }

  test("pruning: a window starting at a file's first time keeps the file before it") {
    // p_1 and c_1 both end with a row at 2000, the first time of p_2 and c_2
    val df = windowMatches(pruneSpecs(), 2000L, 2400L)
    assert(scanned(df) == Set("p_1.parquet", "p_2.parquet", "c_1.csv.gz", "c_2.csv.gz"))
    assert(df.filter(col(TimestampCol) === 2000L).count() == 4)
  }

  test("pruning: a window outside every file raises NoValidFilesException") {
    val opts = FuseOptions(procStart = Some(0L), procEnd = Some(500L))
    intercept[graft.sources.NoValidFilesException](Fuser.fuse(spark, pruneSpecs(), opts))
    val status = graft.ops.Replay.withSources {
      Fuser.fuse(spark, pruneSpecs(), opts)
      graft.ops.Replay.Ok
    }
    assert(status == graft.ops.Replay.NoValidFilesToProcess)
  }

  test("pruning: a source with no file in the window keeps its renamed columns") {
    // [1000, 1050] holds p_1's first row; every CSV file starts later
    val res = Fuser.fuse(spark, pruneSpecs(),
      FuseOptions(procStart = Some(1000L), procEnd = Some(1050L)))
    assert(scanned(res.df) == Set("p_1.parquet"))
    assert(res.renames == Map("price" -> Seq("price||p", "price||c"), "sym" -> Seq("sym||p", "sym||c")))
    val df = windowMatches(pruneSpecs(), 1000L, 1050L)
    assert(df.columns.toSet.contains("sym||c"))
    assert(df.count() == 1)
  }

  test("pruning: none without fileSortRegex (CSV), under dedupOverlaps, or with tsConvert") {
    val csvFiles = Set("c_1.csv.gz", "c_2.csv.gz", "c_3.csv.gz")
    // without an order the CSV first rows bound nothing; parquet statistics
    // do not need one
    val unordered = windowMatches(pruneSpecs(regex = None), 1200L, 1700L)
    assert(scanned(unordered) == csvFiles + "p_1.parquet")
    val dedup = windowMatches(pruneSpecs(), 1200L, 1700L, FuseOptions(dedupOverlaps = true))
    assert(scanned(dedup) == allFiles)
    val converted = windowMatches(pruneSpecs(conv = Some(c => c)), 1200L, 1700L)
    assert(scanned(converted) == allFiles)
  }

  test("pruning: row ids index the full listing, not the scanned files") {
    // [2500, 3200] leaves p_1 out; p_2's ids must still carry file index 1
    val opts = FuseOptions(keepRowId = true)
    val df = windowMatches(pruneSpecs(), 2500L, 3200L, opts)
    assert(!scanned(df).contains("p_1.parquet"))
    val pq = (d: org.apache.spark.sql.DataFrame) =>
      d.filter(col(SourceIdCol) === 0).select(TimestampCol, Fuser.RowIdCol).collect().toSeq
    val all = Fuser.fuse(spark, pruneSpecs(), opts).df
      .filter(col(TimestampCol).between(2500L, 3200L))
    assert(pq(df) == pq(all))
    assert(pq(df).map(_.getLong(1) >> 40).toSet == Set(1L, 2L))
  }

  test("fuse over parquet sources runs no Spark job before its action") {
    val specs = Seq(
      graft.sources.SourceSpec(s"$pruneRoot/p", "parquet", "p", "ts", fileSortRegex = Some("\\d+")),
      graft.sources.SourceSpec(s"$pruneRoot/p", "parquet", "q", "ts"))
    for (opts <- Seq(FuseOptions(), FuseOptions(procStart = Some(1200L), procEnd = Some(2400L)))) {
      val (res, jobs) = jobsRun(Fuser.fuse(spark, specs, opts))
      assert(jobs == 0, s"$opts")
      assert(res.df.count() == (if (opts.procStart.isEmpty) 16 else 6))
    }
  }

  test("fuseFrames builds one Union: four frames are its four children") {
    val frames = Seq(trades, spread, trades.withColumn("extra", lit(1)), spread.drop("ask"))
    val res = Fuser.fuseFrames(frames.zipWithIndex.map { case (df, i) =>
      FrameSource(df, s"f$i", "Timestamp") })
    val unions = res.df.queryExecution.analyzed.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }
    assert(unions.map(_.children.length) == Seq(4))
    assert(res.df.count() == 12)
  }

  // ---- scan groups ------------------------------------------------------------

  private def writeCsv(file: java.nio.file.Path, text: String): Unit = {
    java.nio.file.Files.createDirectories(file.getParent)
    val raw = java.nio.file.Files.newOutputStream(file)
    val out = if (file.toString.endsWith(".gz")) new java.util.zip.GZIPOutputStream(raw) else raw
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private val fuseSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "ts BIGINT, symbol STRING, price DOUBLE, size INT")

  /** Rows of source `s` in file `d`: times `d`000 + 100·k + 10·s (no two
    * rows of one source share a time; some sources share times).
    */
  private def fuseRows(s: Int, d: Int, n: Int = 4) =
    (0 until n).map(k => (d * 1000L + 100L * k + 10L * (s % 2), s"S$s-$d-$k", s + d + k / 10.0, 10 * d + k))

  /** The benchmark's shape, two day-files each: parquet `s0`, `s1` and gzip
    * CSV `s2`, `s3` of one schema, and a parquet `late` of that schema whose
    * only file is after every window used here. The sources of each format
    * share a scan.
    */
  private lazy val groupRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_groups")
    for (s <- 0 to 3; d <- 1 to 2) {
      val rows = fuseRows(s, d)
      if (s < 2) writeParquetFile(rows.toDF("ts", "symbol", "price", "size"),
        root.resolve(s"s$s/s${s}_$d.parquet"))
      else writeCsv(root.resolve(s"s$s/s${s}_$d.csv.gz"),
        "ts,symbol,price,size\n" + rows.map(r => r.productIterator.mkString(",") + "\n").mkString)
    }
    writeParquetFile(fuseRows(4, 9).toDF("ts", "symbol", "price", "size"), root.resolve("late/late_9.parquet"))
    // one file each for the sources that read on their own
    writeCsv(root.resolve("reordered/r_1.csv"),
      "symbol,size,price,ts\n" + fuseRows(5, 1).map(r => s"${r._2},${r._4},${r._3},${r._1}\n").mkString)
    writeParquetFile(fuseRows(6, 2).map(r => (r._1, r._2, r._4)).toDF("ts", "symbol", "price"),
      root.resolve("forced/f_2.parquet"))
    writeParquetFile(fuseRows(7, 1).map(r => (java.time.Instant.ofEpochMilli(r._1).toString, r._3))
      .toDF("iso", "price"), root.resolve("converted/c_1.parquet"))
    writeCsv(root.resolve("capped/k_2.csv"),
      "ts,symbol,price,size\n" + fuseRows(8, 2).map(r => r.productIterator.mkString(",") + "\n").mkString)
    writeCsv(root.resolve("inferred/i_1.csv"),
      "ts,symbol,price\n" + fuseRows(9, 1).map(r => s"${r._1},${r._2},${r._3}\n").mkString)
    root
  }

  private def groupSpec(name: String, format: String = "parquet", descriptor: Option[String] = None) =
    graft.sources.SourceSpec(groupRoot.resolve(name).toString, format, descriptor.getOrElse(name), "ts",
      schema = if (format == "csv") Some(fuseSchema) else None, fileSortRegex = Some("\\d+"))

  /** The four benchmark-shaped sources, with a `removeCols` and a
    * `secondarySortCol` that leave them in their scans.
    */
  private def benchShaped = Seq(groupSpec("s0"), groupSpec("s1").copy(removeCols = Seq("size")),
    groupSpec("s2", "csv"), groupSpec("s3", "csv").copy(secondarySortCol = Some("size")))

  /** Sources that each read through a scan of their own. */
  private def ownScans = Seq(
    groupSpec("reordered", "csv"),
    groupSpec("forced").copy(forceSchema = true,
      schema = Some(org.apache.spark.sql.types.StructType.fromDDL("ts BIGINT, symbol STRING, price DOUBLE"))),
    groupSpec("converted").copy(timestampCol = "iso", tsConvert = Some(c => unix_millis(to_timestamp(c)))),
    groupSpec("capped", "csv").copy(numRows = Some(3)),
    groupSpec("inferred", "csv").copy(schema = None),
    groupSpec("s0", descriptor = Some("s0 again")))

  private val groupWindow = FuseOptions(procStart = Some(1200L), procEnd = Some(2250L))

  test("scan groups: the benchmark's four sources read through 2 scans, the window pushed to parquet") {
    val df = Fuser.fuse(spark, benchShaped, groupWindow).df
    val scans = fileScans(df)
    assert(scans.length == 2)
    val pq = scans.filter(_.relation.fileFormat.toString == "Parquet")
    assert(pq.length == 1)
    val pushed = pq.head.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(ts,1200)") && pushed.contains("LessThanOrEqual(ts,2250)"), pushed)
    assert(scans.map(_.relation.location.inputFiles.length).sum == 8)
    // `late`, with no file in the window, joins the parquet scan and adds none
    assert(fileScans(Fuser.fuse(spark, benchShaped :+ groupSpec("late"), groupWindow).df).length == 2)
  }

  test("scan groups: a source with its own read path gets one scan of its own") {
    ownScans.foreach { own =>
      withClue(own.descriptor) {
        assert(fileScans(Fuser.fuse(spark, benchShaped :+ own, groupWindow).df).length == 3)
      }
    }
  }

  test("scan groups: the fuse equals fuseFrames over each source loaded alone") {
    val specs = benchShaped ++ Seq(groupSpec("late")) ++ ownScans
    val alone = specs.map(s => FrameSource(graft.sources.SourceLoader.load(spark, s), s.descriptor,
      s.timestampCol, tsConvert = s.tsConvert, removeCols = s.removeCols,
      secondarySortCol = s.secondarySortCol))
    val windows = Seq(FuseOptions(), groupWindow)
    val modes = Seq(FuseOptions(), FuseOptions(forwardFillData = true), FuseOptions(dedupOverlaps = true))
    for (w <- windows; m <- modes) {
      val opts = m.copy(procStart = w.procStart, procEnd = w.procEnd)
      withClue(s"$opts: ") {
        val fused = Fuser.fuse(spark, specs, opts)
        val frames = Fuser.fuseFrames(alone, opts)
        // a filled frame reads its scans inside the fill's sort
        if (!opts.forwardFillData) assert(fileScans(fused.df).length == 8)
        assert(fused.df.schema.map(f => f.name -> f.dataType) == frames.df.schema.map(f => f.name -> f.dataType))
        assert(fused.renames == frames.renames)
        val rows = fused.df.collect().toSeq
        assert(rows == frames.df.collect().toSeq)
        assert(rows.length == (if (w.procStart.isEmpty) 63 else 37))
      }
    }
  }

  test("scan groups: sources in directories of identical file names, or a name with a space") {
    val root = java.nio.file.Files.createTempDirectory("graft_paths")
    val dirs = Seq("a", "b", "with space")
    for ((dir, s) <- dirs.zipWithIndex; d <- 1 to 2)
      writeParquetFile(fuseRows(s, d).toDF("ts", "symbol", "price", "size"), root.resolve(s"$dir/f_$d.parquet"))
    val specs = dirs.map(d => graft.sources.SourceSpec(root.resolve(d).toString, "parquet", d, "ts",
      fileSortRegex = Some("\\d+")))
    val res = Fuser.fuse(spark, specs, FuseOptions(keepRowId = true, mergeColNames = Seq("symbol")))
    assert(fileScans(res.df).length == 1)
    val rows = res.df.select(SourceIdCol, "symbol", Fuser.RowIdCol).collect()
    assert(rows.length == 24)
    rows.foreach { r =>
      // symbol S<source>-<day>-<k>: the source id, the file index and the
      // row position all come from the file the row was read from
      val Array(s, d, k) = r.getString(1).drop(1).split("-").map(_.toInt)
      assert(r.getInt(0) == s, r)
      assert(r.getLong(2) == ((d - 1).toLong << 40) + k, r)
    }
  }

  // ---- scans from the driver's listing and the unrun fill sort -------------

  test("forward fill under the coalescing floor: the fuse runs no job; one job per action") {
    val opts = groupWindow.copy(forwardFillData = true)
    val byMode = Seq.newBuilder[Seq[org.apache.spark.sql.Row]]
    inEachMode {
      val (res, jobs) = jobsRun(Fuser.fuse(spark, benchShaped, opts))
      val (rows, actionJobs) = jobsRun(res.df.collect().toSeq)
      if (gatedMode) {
        assert(jobs == 0, "the fill's sort runs in the first action's job")
        assert(actionJobs == 1)
      }
      assert(rows.length == Fuser.fuse(spark, benchShaped, groupWindow).df.count())
      byMode += rows
    }
    assert(byMode.result().distinct.length == 1, "every partition mode fills the same rows")
  }

  test("fuse scans read the driver's listing: inputFiles, size and rows as spark.read gives them") {
    import org.apache.spark.sql.execution.GraftExecution.ListedFileIndex
    val df = Fuser.fuse(spark, benchShaped, groupWindow).df
    val scans = fileScans(df)
    assert(scans.length == 2)
    assert(scans.forall(_.relation.location.isInstanceOf[ListedFileIndex]),
      scans.map(_.relation.location.getClass.getSimpleName))
    val viaReader = benchShaped.map { spec =>
      val listed = graft.sources.SourceLoader.loadListed(spark, spec, graft.sources.Span(1200L, 2250L))
      val read = listed.read.toOption.get
      val ours = read.scan(spark, listed.scanned)
      val theirs = spark.read.format(read.format).schema(read.schema).options(read.options)
        .load(listed.scanned.map(_.getPath.toString): _*)
      def relation(d: org.apache.spark.sql.DataFrame) = d.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
      }.get
      withClue(spec.descriptor) {
        assert(relation(theirs).asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.isInstanceOf[org.apache.spark.sql.execution.datasources.InMemoryFileIndex])
        assert(ours.inputFiles.sorted.toSeq == theirs.inputFiles.sorted.toSeq)
        assert(relation(ours).sizeInBytes == relation(theirs).sizeInBytes)
        assert(ours.schema == theirs.schema)
        // parquet scans also carry each row's position in its file
        val meta = col("_metadata.file_path") +: (if (read.format == "parquet") Seq(col("_metadata.row_index")) else Nil)
        val withMeta = (d: org.apache.spark.sql.DataFrame) =>
          d.select(col("*") +: meta: _*).collect().map(_.toString).sorted.toSeq
        assert(withMeta(ours) == withMeta(theirs))
        assert(AdaptiveGate.coalescesToOne(ours) == AdaptiveGate.coalescesToOne(theirs))
      }
      theirs
    }
    assert(df.inputFiles.sorted.toSeq == viaReader.flatMap(_.inputFiles).sorted)
  }

  test("a file deleted after the fuse fails the action and names the file") {
    val root = java.nio.file.Files.createTempDirectory("graft_deleted")
    for (d <- 1 to 2)
      writeParquetFile(fuseRows(0, d).toDF("ts", "symbol", "price", "size"), root.resolve(s"s/s_$d.parquet"))
    val spec = graft.sources.SourceSpec(root.resolve("s").toString, "parquet", "s", "ts")
    val gone = root.resolve("s/s_2.parquet")
    val filled = Fuser.fuse(spark, Seq(spec), FuseOptions(forwardFillData = true)).df
    val plain = Fuser.fuse(spark, Seq(spec), FuseOptions()).df
    java.nio.file.Files.delete(gone)
    for (df <- Seq(filled, plain)) {
      val e = intercept[org.apache.spark.SparkException](df.collect())
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(messages.exists(m => m != null && m.contains("s_2.parquet")), e.getMessage)
    }
  }

  test("a window on a stored timestamp is pushed to the parquet scan") {
    import java.time.Instant
    val s = Instant.parse("2024-01-01T00:00:00Z")
    val e = Instant.parse("2024-01-02T00:00:00Z")
    val at = Seq(s.minusNanos(1000), s, e.plusNanos(999000), e.plusMillis(1))
    val root = java.nio.file.Files.createTempDirectory("graft_stored_ts")
    val rows = at.zipWithIndex.map { case (t, i) => (java.sql.Timestamp.from(t), i) }.toDF("ts", "i")
    writeParquetFile(rows, root.resolve("ltz/t_1.parquet"))
    writeParquetFile(rows.withColumn("ts", col("ts").cast("timestamp_ntz")), root.resolve("ntz/t_1.parquet"))
    val opts = FuseOptions(procStart = Some(s.toEpochMilli), procEnd = Some(e.toEpochMilli))
    for ((dir, pushed) <- Seq("ltz" -> true, "ntz" -> false)) withClue(dir) {
      val df = Fuser.fuse(spark, Seq(graft.sources.SourceSpec(root.resolve(dir).toString, "parquet", dir, "ts")),
        opts).df
      assert(df.select("i").collect().map(_.getInt(0)).toSeq == Seq(1, 2))
      val filters = fileScans(df).map(_.metadata("PushedFilters")).mkString
      assert(filters.contains("GreaterThanOrEqual(ts,") == pushed, filters)
      assert(filters.contains("LessThan(ts,") == pushed, filters)
    }
  }
}
