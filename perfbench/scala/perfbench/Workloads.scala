package perfbench

import graft.SparkEntry
import graft.core.{AdaptiveGate, Fuser}
import graft.core.Fuser.{FuseOptions, RowIdCol, SourceIdCol, TimestampCol}
import graft.ops.{Replay, Resampler, Sinks}
import graft.ops.Resampler.ResampleOptions
import graft.pipeline.Dedup
import graft.sources.SourceSpec
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** What one timed operation reports besides its wall time. */
final case class OpResult(rows: Option[Long], firstEventMs: Option[Double],
    failures: Seq[String], counters: Map[String, Double] = Map.empty)

/** Everything a workload may read or write. */
final case class Paths(data: Path, out: Path, sweepData: Path, oracleCounts: Path)

/** One benchmark workload: a single closed-loop client issuing operations one
  * at a time. The program under test is reached only through its public
  * functions, each call wrapped in a span named after the program's layer.
  */
trait Workload {
  def name: String
  /** Generate (or reuse) the seeded inputs; not part of set-up time. */
  def prepare(spark: SparkSession): Unit
  /** Open the inputs on a fresh session (schemas, listings, footers). */
  def open(spark: SparkSession): Unit
  /** Untimed first pass: JIT, codegen and caches. */
  def warmup(spark: SparkSession, t: Tracer): Unit
  /** Label of timed operation `i` (operations are closed-loop, in order). */
  def label(i: Int): String
  def run(spark: SparkSession, t: Tracer, label: String): OpResult
  /** Operations run untimed after the window, only to be checked. */
  def extraLabels: Seq[String] = Nil
  /** Checks of one operation against what the listener saw it do. */
  def checkOp(label: String, stats: OpStats): Seq[String] = Nil
  /** Checks that need extra jobs, made once after the timed window; returns
    * (operations attempted, failures).
    */
  def finish(spark: SparkSession, t: Tracer): (Int, Seq[String]) = (0, Nil)
  /** Input files one operation reads (0 when not a file-source workload). */
  def inputFiles: Int = 0
  def inputBytes: Long = 0L
}

object Workload {
  def apply(name: String, seed: Long, cores: Int, paths: Paths): Workload = name match {
    case "fuse_resample" => new FuseResample(seed, paths)
    case "fuse_replay"   => new FuseReplay(seed, paths)
    case "dedup_scale"   => new DedupScale(seed, cores, paths)
    case "query_sweep"   => new QuerySweep(seed, paths)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Bytes of cached and checkpointed RDD blocks currently stored. */
  def storedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith(".")).map(Files.size).sum

  def dataFiles(p: Path): Int =
    if (!Files.exists(p)) 0
    else Files.walk(p).iterator().asScala.count { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_") &&
        (n.endsWith(".parquet") || n.endsWith(".csv.gz"))
    }
}

/** Shared inputs of the two fusion workloads: four day-partitioned sources,
  * two parquet and two gzip CSV, sharing column names.
  */
abstract class FuseBase(seed: Long, paths: Paths) extends Workload {
  val size = Gen.FuseSize(eventsPerSource = 10000, days = 7, symbols = 500)
  lazy val events: IndexedSeq[SourceEvents] = Gen.fuseEvents(seed, size)
  lazy val dir: Path = paths.data.resolve(s"fuse-${size.key}-seed$seed")

  def specs: Seq[SourceSpec] = Gen.FuseSources.map { case (name, format) =>
    SourceSpec(dir.resolve(name).toString, format = format, descriptor = name,
      timestampCol = "ts", schema = if (format == "csv") Some(Gen.FuseSchema) else None,
      fileSortRegex = Some("\\d{8}"))
  }

  def prepare(spark: SparkSession): Unit = {
    val total = events.map(_.length.toLong).sum
    Gen.cached(dir, Json.obj(
      "events" -> Json.num(total.toDouble),
      "min_ts" -> Json.num(events.map(_.ts.head).min.toDouble),
      "max_ts" -> Json.num(events.map(_.ts.last).max.toDouble))) { d =>
      Gen.writeFuse(d, size, events)
    }
  }

  def open(spark: SparkSession): Unit = Gen.FuseSources.foreach { case (name, format) =>
    val p = dir.resolve(name).toString
    if (format == "parquet") spark.read.parquet(p).schema
    else spark.read.option("header", "true").schema(Gen.FuseSchema).csv(p).schema
  }

  override def inputFiles: Int = Workload.dataFiles(dir)
  override def inputBytes: Long = Workload.dirBytes(dir)

  def priceCols(df: DataFrame): IndexedSeq[String] =
    Gen.FuseSources.map(s => s"price${Fuser.DefaultSeparator}${s._1}").toIndexedSeq
      .filter(df.columns.contains)
}

/** fuse -> resample to a fixed grid with forward-filled price -> batched
  * parquet sink: the paper's batch job.
  */
final class FuseResample(seed: Long, paths: Paths) extends FuseBase(seed, paths) {
  val name = "fuse_resample"
  val interval = "10s"
  val stepMs = 10000L
  val maxRecordsPerFile = 20000L
  lazy val outDir: Path = paths.out.resolve("fuse_resample-output")
  private var last: Option[DataFrame] = None

  def label(i: Int): String = "pass"

  private def pass(spark: SparkSession, t: Tracer): Long = {
    val fr = t.span("core.fuse") {
      Fuser.fuse(spark, specs, FuseOptions(keepRowId = true))
    }
    val out = t.span("ops.resample") {
      Resampler.resample(fr.df, interval, opts = ResampleOptions(
        ffillKeys = fr.remapFfillKeys(Seq("price")), tieCols = Seq(SourceIdCol, RowIdCol)))
    }
    t.span("ops.sink") {
      Sinks.writeBatched(out, outDir.toString, maxRecordsPerFile = maxRecordsPerFile)
    }
    last = Some(fr.df)
    events.map(_.length.toLong).sum
  }

  def warmup(spark: SparkSession, t: Tracer): Unit = (1 to 2).foreach(_ => pass(spark, t))

  override def checkOp(label: String, stats: OpStats): Seq[String] = {
    val grid = Checks.gridRows(events.map(_.ts.head).min, events.map(_.ts.last).max, stepMs)
    if (stats.outRows == grid) Nil else Seq(s"sink wrote ${stats.outRows} rows, grid has $grid")
  }

  def run(spark: SparkSession, t: Tracer, label: String): OpResult = {
    val rows = pass(spark, t)
    OpResult(Some(rows), None, Nil,
      Map("ops.sink_files" -> Workload.dataFiles(outDir).toDouble,
        "ops.sink_disk_bytes" -> Workload.dirBytes(outDir).toDouble))
  }

  override def finish(spark: SparkSession, t: Tracer): (Int, Seq[String]) = {
    val fused = last.map(_.count()).getOrElse(-1L)
    val out = spark.read.parquet(outDir.toString)
    val prices = priceCols(out)
    val unfilled = out.filter(prices.map(c => col(c).isNull).reduce(_ && _)).count()
    // a seeded sample of boundaries, recomputed from the generated events
    val minTs = events.map(_.ts.head).min
    val b0 = Math.floorDiv(minTs, stepMs) * stepMs + stepMs
    val grid = Checks.gridRows(minTs, events.map(_.ts.last).max, stepMs)
    val rnd = new java.util.SplittableRandom(seed ^ 0x5eedL)
    val sample = Seq.fill(200)(b0 + rnd.nextLong(grid) * stepMs).distinct
    val seen = out.filter(col(TimestampCol).isin(sample: _*))
      .select(col(TimestampCol) +: prices.map(col): _*).collect()
      .map(r => r.getLong(0) -> prices.indices.map(j =>
        if (r.isNullAt(j + 1)) None else Some(math.round(r.getDouble(j + 1) * 100)))).toMap
    (1, Checks.fuseResample(events, stepMs, fused, out.count(), unfilled, seen))
  }
}

/** fuse a one-day window with forward fill, then replay it row by row into a
  * handler: the reference's event-dispatch path.
  */
final class FuseReplay(seed: Long, paths: Paths) extends FuseBase(seed, paths) {
  val name = "fuse_replay"
  lazy val day: Int = 1 + (seed % (size.days - 2)).toInt.abs
  lazy val window: (Long, Long) = {
    val s = Gen.T0 + day * Gen.DayMs
    (s, s + Gen.DayMs - 1)
  }
  lazy val expected: (Long, Long) = Checks.replayExpected(events, window._1, window._2)
  /** Handler time in traced operations, nanoseconds. */
  private var handlerNs = 0L

  def label(i: Int): String = "pass"

  private def pass(spark: SparkSession, t: Tracer): OpResult = {
    val t0 = Clock.nowMs
    val fr = t.span("core.fuse") {
      Fuser.fuse(spark, specs, FuseOptions(procStart = Some(window._1),
        procEnd = Some(window._2), forwardFillData = true))
    }
    val df = fr.df
    val srcIdx = df.schema.fieldIndex(SourceIdCol)
    val priceIdx = priceCols(df).map(df.schema.fieldIndex)
    var rows = 0L
    var sum = 0L
    var lastTs = Long.MinValue
    var monotone = true
    var first = Double.NaN
    val timeHandler = t.detailed
    handlerNs = 0L
    val status = t.span("ops.replay") {
      Replay.replay(df) { (ts, row) =>
        val h0 = if (timeHandler) System.nanoTime() else 0L
        if (rows == 0) first = Clock.nowMs - t0
        if (ts < lastTs) monotone = false
        lastTs = ts
        rows += 1
        sum += Checks.rowChecksum(ts, row.getInt(srcIdx), priceIdx.map { j =>
          if (row.isNullAt(j)) None else Some(math.round(row.getDouble(j) * 100))
        })
        if (timeHandler) handlerNs += System.nanoTime() - h0
      }
    }
    val bad = (if (status != Replay.Ok) Seq(s"replay status $status") else Nil) ++
      Checks.fuseReplay(expected, rows, sum, monotone)
    OpResult(Some(rows), Some(first), bad,
      if (timeHandler) Map("ops.replay_handler_s" -> handlerNs / 1e9) else Map.empty)
  }

  def warmup(spark: SparkSession, t: Tracer): Unit = (1 to 2).foreach(_ => pass(spark, t))

  def run(spark: SparkSession, t: Tracer, label: String): OpResult = pass(spark, t)
}

/** The near-duplicate pipeline at volume: exact-Jaccard dedup, MinHash LSH
  * clustering and containment pairs over a corpus with planted duplicates.
  */
final class DedupScale(seed: Long, cores: Int, paths: Paths) extends Workload {
  val name = "dedup_scale"
  val size = Gen.DedupSize(docs = 10000, words = 50, vocab = 5000)
  lazy val dir: Path = paths.data.resolve(s"dedup-${size.key}-seed$seed")
  def corpusPath: String = dir.resolve("corpus").toString

  def prepare(spark: SparkSession): Unit =
    Gen.cached(dir, Json.obj(
      "docs" -> Json.num(size.docs.toDouble),
      "near_pairs" -> Json.num(size.nearPairs.toDouble),
      "containments" -> Json.num(size.containments.toDouble))) { d =>
      Gen.writeCorpus(d, Gen.corpus(seed, size), cores)
    }

  def open(spark: SparkSession): Unit = spark.read.parquet(corpusPath).schema

  override def inputFiles: Int = Workload.dataFiles(dir)
  override def inputBytes: Long = Workload.dirBytes(dir)

  def label(i: Int): String = "pass"

  /** One step: construct under a checkpoint scope, then run its final action. */
  private def step(spark: SparkSession, t: Tracer, ckpt: Array[Long])(
      build: => DataFrame): Long =
    Dedup.withMaterialized {
      val df = build
      if (t.detailed) ckpt(0) += Workload.storedBytes(spark)
      t.span("pipeline.action")(df.count())
    }

  private def pass(spark: SparkSession, t: Tracer): OpResult = {
    val docs = spark.read.parquet(corpusPath)
    val ckpt = Array(0L)
    val kept = step(spark, t, ckpt) {
      val pairs = t.span("pipeline.jaccardPairs")(Dedup.jaccardPairs(docs, "text", "doc_id"))
      t.span("pipeline.dedupByClusters")(Dedup.dedupByClusters(docs, pairs, "doc_id"))
    }
    val clustered = step(spark, t, ckpt) {
      val pairs = t.span("pipeline.minhashLshPairs") {
        Dedup.minhashLshPairs(docs, "text", "doc_id", verifyThreshold = 0.8)
      }
      t.span("pipeline.clusters")(Dedup.clusters(pairs))
    }
    val contained = step(spark, t, ckpt) {
      t.span("pipeline.containmentPairs")(Dedup.containmentPairs(docs, "text", "doc_id"))
    }
    OpResult(Some(size.docs.toLong), None, Checks.dedup(size, kept, clustered, contained),
      if (t.detailed) Map("pipeline.checkpoint_bytes" -> ckpt(0).toDouble) else Map.empty)
  }

  def warmup(spark: SparkSession, t: Tracer): Unit = pass(spark, t)

  def run(spark: SparkSession, t: Tracer, label: String): OpResult = pass(spark, t)
}

/** The query inventory: a fixed systematic slice of `SparkEntry.queries`
  * (every `Stride`-th name) timed in seeded order, each query run exactly as
  * the program's own bench runs it; plus a seeded chunk of the other queries
  * run untimed after the window, so every query's result is checked across
  * seeds.
  */
final class QuerySweep(seed: Long, paths: Paths) extends Workload {
  val name = "query_sweep"
  val Stride = 24
  val CoverageChunk = 4
  lazy val names: IndexedSeq[String] = SparkEntry.queries.keys.toIndexedSeq.sorted
  lazy val slice: IndexedSeq[String] = names.indices.filter(_ % Stride == 0).map(names)
  lazy val rest: IndexedSeq[String] = names.filterNot(slice.toSet)
  lazy val coverage: IndexedSeq[String] = {
    val chunks = rest.grouped(CoverageChunk).toIndexedSeq
    chunks((seed % chunks.length).toInt.abs)
  }
  lazy val oracle: Map[String, Long] = OracleCounts.read(paths.oracleCounts)
  def sfDir: String = paths.sweepData.toString
  private val rnd = new scala.util.Random(seed)
  private var order: IndexedSeq[String] = IndexedSeq.empty
  /** Checkpoint blocks a traced query's construction left stored. */
  private var checkpointBytes = 0L
  /** Gate decision per traced query execution. */
  val gateStatic = scala.collection.mutable.ArrayBuffer.empty[Boolean]

  def prepare(spark: SparkSession): Unit = {
    val missing = names.filterNot(oracle.contains)
    require(missing.isEmpty, s"no oracle count for ${missing.mkString(", ")}")
  }

  /** The program's own bench warm-up: open every table once. */
  def open(spark: SparkSession): Unit = {
    Seq("lineitem", "orders", "customer", "nation", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").limit(100).write.format("noop").mode("overwrite").save()
    }
    graft.Queries.events(spark, sfDir).limit(100).write.format("noop").mode("overwrite").save()
  }

  def label(i: Int): String = {
    val k = i % slice.length
    if (k == 0) order = rnd.shuffle(slice)
    order(k)
  }

  /** One query, exactly as the program's bench runs it: construct under a
    * checkpoint scope, then a gated noop write. The write carries an
    * observation that counts its rows in the same job. Returns the count.
    */
  def query(spark: SparkSession, t: Tracer, q: String): Long = {
    val fn = SparkEntry.queries(q)
    Dedup.withMaterialized {
      val df = t.span("queries.build")(fn(spark, sfDir))
      if (t.detailed) {
        checkpointBytes = Workload.storedBytes(spark)
        gateStatic += t.span("core.gate")(AdaptiveGate.staticPlanSufficient(df))
      }
      val rows = Observation(s"rows-$q")
      t.span("queries.action") {
        AdaptiveGate.withGatedExecution(df) {
          df.observe(rows, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
        }
      }
      rows.get("n").asInstanceOf[Long]
    }
  }

  def warmup(spark: SparkSession, t: Tracer): Unit = rnd.shuffle(slice).foreach(query(spark, t, _))

  def run(spark: SparkSession, t: Tracer, label: String): OpResult = {
    checkpointBytes = 0L
    val bad = Checks.queryCount(label, query(spark, t, label), oracle.get(label))
    OpResult(None, None, bad,
      if (t.detailed) Map("pipeline.checkpoint_bytes" -> checkpointBytes.toDouble) else Map.empty)
  }

  override def extraLabels: Seq[String] = coverage
}

object OracleCounts {
  /** `{"q_name": rows, ...}`, one entry per line, as the regeneration script writes it. */
  def read(p: Path): Map[String, Long] = {
    val entry = "\"([^\"]+)\"\\s*:\\s*(\\d+)".r
    entry.findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> m.group(2).toLong).toMap
  }
}
