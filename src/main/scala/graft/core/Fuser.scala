package graft.core

import graft.sources.{FrameSource, NoValidFilesException, SourceLoader, SourceSpec, Span}
import graft.time.EpochTime
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, TimestampType, TimestampNTZType}

/** The fusion engine: merge N heterogeneous time-series sources into one
  * globally time-ordered stream.
  *
  * Where the reference hand-rolls a chunked k-way merge scheduler
  * (`_replay_merge_via_file_multi_polars`, core.py:353-637, ~330 LoC of file
  * cursors, overlap tests and slice loops), the Spark plan is declarative:
  *
  * {{{ union(scans.map(_.filter(window).select(normalized columns))).orderBy(ts, ties) }}}
  *
  * where `scans` holds one file scan per read shape of `fuse`'s sources (a
  * row's source told apart by its file path) and one frame per
  * `fuseFrames` source.
  *
  * The reference's source and file pruning (core.py:145-213, 790-810)
  * happens before Spark sees a file: `fuse` bounds each file from metadata
  * read on the driver (parquet footer statistics, the first rows of
  * `fileSortRegex`-ordered CSV files) and hands Spark only the files that
  * may hold rows in the window. The window filter then drops the remaining
  * out-of-window rows. The global `orderBy` compiles to a RangePartitioning
  * exchange + per-partition external sort — a k-way merge distributed
  * across executors, with spilling, which is exactly what the reference's
  * chunk scheduler approximates on one machine.
  */
object Fuser {

  /** Internal canonical event-time column, epoch milliseconds (reference core.py:74). */
  val TimestampCol = "__timestamp"

  /** Internal provenance column: integer source id (reference core.py:134-143). */
  val SourceIdCol = "exsym_lookup"

  /** Internal per-source monotone row id used as the final sort tiebreaker so
    * the fused order is total and deterministic (SURVEY §7.4 hard part 1).
    */
  val RowIdCol = "__rowid"

  /** Default separator for collision renames (reference core.py:43-45). */
  val DefaultSeparator = "||"

  case class FuseOptions(
      procStart: Option[Any] = None,
      procEnd: Option[Any] = None,
      renameIdenticalCols: Boolean = true,
      separator: String = DefaultSeparator,
      mergeColNames: Seq[String] = Nil,
      forwardFillData: Boolean = false,
      removeInternalCols: Boolean = false,
      /** Keep the per-source row-id tiebreaker column (`__rowid`) in the
        * output so downstream order-sensitive transforms (e.g. resampling
        * with intra-millisecond ties) can reuse the exact fuse order.
        */
      keepRowId: Boolean = false,
      /** Drop rows whose (source, secondary-sort id) repeats — the engine
        * guarantee behind the reference's re-read watermark (P6,
        * core.py:446-453): if the input files themselves contain overlapping
        * spans, each per-source row id is still emitted once.
        */
      dedupOverlaps: Boolean = false)

  case class FuseResult(
      df: DataFrame,
      renames: Map[String, Seq[String]],  // original -> all renamed forms (collision pass)
      sourceIds: Map[String, Int],        // descriptor -> exsym id
      startTs: Option[Long],
      endTs: Option[Long]) {

    /** Rewrite a user column list (e.g. resample `ffillKeys`) to the
      * post-rename column names: a key that collided expands to every
      * `<key><sep><descriptor>` form, others pass through — the engine-level
      * analog of the reference's `modify_transformations`
      * (classes.py:648-664), so callers never reverse-engineer the rename
      * policy.
      */
    def remapFfillKeys(keys: Seq[String]): Seq[String] =
      keys.flatMap(k => renames.getOrElse(k, Seq(k)))
  }

  /** Per-source replay stats (K5, the reference's run-report at
    * core.py:874-914).
    */
  case class SourceStats(descriptor: String, rows: Long, startTs: Long, endTs: Long)

  /** One aggregation pass over the fused stream → per-source row counts and
    * time bounds. Requires the provenance column (removeInternalCols=false).
    */
  def runReport(result: FuseResult): Seq[SourceStats] = {
    import org.apache.spark.sql.functions.{count, max, min, lit}
    val byId = result.sourceIds.map(_.swap)
    result.df.groupBy(col(SourceIdCol))
      .agg(count(lit(1)).as("rows"), min(col(TimestampCol)).as("start"),
           max(col(TimestampCol)).as("end"))
      .collect()
      .map(r => SourceStats(byId(r.getInt(0)), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_.descriptor).toSeq
  }

  /** Load + fuse path-based sources. Each source is planned from file
    * metadata read once on the driver: parquet schemas come from footers
    * (no schema-inference job), and with a window only the files that may
    * hold a row in it are scanned (see `SourceLoader.loadListed`). A source
    * with no file in the window scans nothing but keeps its schema, so the
    * fused columns and renames do not depend on the window; if no source
    * has one, this raises `NoValidFilesException` (the reference's
    * `NOVALIDFILESTOPROCESS`). Under `dedupOverlaps` every file is read,
    * since which duplicate survives may depend on out-of-window rows.
    *
    * Sources are read in scan groups: sources whose files are read the
    * same way (equal `SourceLoader.FileRead`s), with the same raw timestamp
    * column, no `tsConvert` and no file in common, share one scan over all
    * their kept files, and each row's source id comes from its
    * `_metadata.file_path`. A source with its own read path (see
    * `SourceLoader`) is a group of one. So the fuse plans one file scan per
    * read shape, not one per source.
    *
    * The call runs no Spark job when the fused input is under the
    * coalescing floor (`AdaptiveGate.coalescesToOne`), with forward fill or
    * without: the fill's one-partition sort runs in the result's first
    * action (see `SortedScan`). A larger input's fill runs its range sort's
    * jobs here.
    *
    * Parquet sources without a declared `secondarySortCol` get a
    * recompute-stable file-order row id (see `SourceLoader.parquetRowId`)
    * so the fused tie order is deterministic across actions and task
    * retries. It indexes the full ordered listing, not the scanned files, so
    * ids do not depend on the window.
    */
  def fuse(spark: SparkSession, specs: Seq[SourceSpec], opts: FuseOptions): FuseResult = {
    val (startTs, endTs) = window(opts)
    val span =
      if (opts.dedupOverlaps) Span.All
      else Span(startTs.getOrElse(Long.MinValue), endTs.getOrElse(Long.MaxValue))
    val listed = specs.map(SourceLoader.loadListed(spark, _, span))
    if (listed.forall(_.outOfWindow))
      throw new NoValidFilesException(
        s"no file of ${specs.map(_.descriptor).mkString(", ")} holds rows in the window " +
          s"[${startTs.getOrElse("open")}, ${endTs.getOrElse("open")}]")
    val parts = scanGroups(specs, listed).map { ids =>
      val member = (i: Int) => {
        val s = specs(i)
        val fileRowId = s.format == "parquet" && s.secondarySortCol.isEmpty && listed(i).read.isRight
        Member(i, s.descriptor, s.timestampCol, s.tsConvert, s.removeCols, Map.empty,
          s.secondarySortCol, fileRowId)
      }
      listed(ids.head).read match {
        case Left(df) => Part(df, Seq(member(ids.head)))
        case Right(read) =>
          val members = ids.map(member)
          val rowId = if (!members.exists(_.fileRowId)) None
            else Some(SourceLoader.parquetRowId(ids.map(i => specs(i).path -> listed(i).files)))
          val df = read.scan(spark, ids.flatMap(listed(_).scanned))
          val byPath = if (ids.size == 1) None else Some(SourceLoader.byFile(
            ids.flatMap(i => listed(i).scanned.map(_.getPath.toString -> i)), ids.map(specs(_).path).mkString(", ")))
          // the reader's columns, in each source's own order
          Part(df, members, byPath, rowId, Some(read.columns))
      }
    }
    fuseParts(parts, opts)
  }

  /** Source indices grouped by the scan that reads them, in source order: a
    * source joins the first earlier group it can share a scan with.
    */
  private def scanGroups(specs: Seq[SourceSpec], listed: Seq[SourceLoader.Listed]): Seq[Seq[Int]] =
    specs.indices.foldLeft(Vector.empty[Vector[Int]]) { (groups, i) =>
      val shares = (j: Int) => (listed(i).read, listed(j).read) match {
        case (Right(a), Right(b)) =>
          a.sharesScanWith(b) && specs(i).timestampCol == specs(j).timestampCol &&
            specs(i).tsConvert.isEmpty && specs(j).tsConvert.isEmpty &&
            !listed(i).files.exists(listed(j).files.toSet)
        case _ => false
      }
      groups.indexWhere(_.forall(shares)) match {
        case -1 => groups :+ Vector(i)
        case g  => groups.updated(g, groups(g) :+ i)
      }
    }

  /** The fuse window's epoch-ms bounds, both inclusive. */
  private def window(opts: FuseOptions): (Option[Long], Option[Long]) = {
    val startTs = opts.procStart.map(EpochTime.toEpochMillis)
    val endTs   = opts.procEnd.map(EpochTime.toEpochMillis)
    for (s <- startTs; e <- endTs)
      require(s < e, s"procstart ($s) must be before procend ($e) — reference core.py:179-201")
    (startTs, endTs)
  }

  /** One source as the fuse normalizes it. `id` is its provenance id;
    * `fileRowId` says its row id is `SourceLoader.parquetRowId`.
    */
  private final case class Member(
      id: Int,
      descriptor: String,
      timestampCol: String,
      tsConvert: Option[Column => Column],
      removeCols: Seq[String],
      renameCols: Map[String, String],
      secondarySortCol: Option[String],
      fileRowId: Boolean)

  /** One input of the fused union: a frame and the sources it holds.
    * `byPath` gives a row's source id where the frame holds several sources;
    * `fileRowId` is the parquet row id of the members that use it;
    * `columns` the members' column order where the frame's own differs (a
    * shared CSV scan reads in file order).
    */
  private final case class Part(
      df: DataFrame,
      members: Seq[Member],
      byPath: Option[Column] = None,
      fileRowId: Option[Column] = None,
      columns: Option[Seq[String]] = None) {

    private def fresh(name: String): String =
      Iterator.iterate(name)(_ + "_").find(n => !df.columns.exists(_.equalsIgnoreCase(n))).get

    private val srcName = fresh("__src")
    private val rowIdName = fresh("__fileRowId")

    /** `byPath` and `fileRowId`, computed once per row below the select that
      * reads them (the source id in every `when(src === i, …)`).
      */
    def lets: Seq[Column] = byPath.map(_.as(srcName)).toSeq ++ fileRowId.map(_.as(rowIdName))

    val src: Column = if (byPath.isEmpty) lit(members.head.id) else col(srcName)

    def rowId: Column = col(rowIdName)
  }

  /** What a normalized column holds, in terms of the part's frame. Equal
    * values are the same column, so a column that every member of a shared
    * scan holds the same way is projected once, not per source.
    */
  private sealed trait Norm
  private final case class Raw(name: String, dataType: DataType) extends Norm
  /** `unix_millis` of a timestamp, stored with or without a zone. */
  private final case class Millis(of: Norm) extends Norm
  private final case class AsLong(of: Norm) extends Norm
  /** A `tsConvert`ed timestamp. */
  private final case class Converted(of: Norm, f: Column => Column) extends Norm
  private case object Src extends Norm
  private case object FileRowId extends Norm
  private case object ScanRowId extends Norm

  private def typeOf(n: Norm): DataType = n match {
    case Raw(_, t) => t
    case Src       => IntegerType
    case _         => LongType
  }

  private def asLong(n: Norm): Norm = if (typeOf(n) == LongType) n else AsLong(n)

  private def column(n: Norm, p: Part): Column = n match {
    case Raw(c, _)       => SourceLoader.column(c)
    case Millis(x)       => unix_millis(column(x, p).cast(TimestampType))
    case AsLong(x)       => column(x, p).cast(LongType)
    case Converted(x, f) => f(column(x, p)).cast(LongType)
    case Src             => p.src
    case FileRowId       => p.rowId
    case ScanRowId       => monotonically_increasing_id()
  }

  /** Normalize one source: drop columns (P1), rename (P2), convert the
    * timestamp column to `__timestamp` epoch-ms Long (P2/P4), stamp
    * provenance (P3) and a deterministic per-source row id. Returns the
    * source's columns in order, as the steps name and place them: a new
    * column is appended, a replaced one keeps its place.
    */
  private def normalize(m: Member, fields: Seq[(String, DataType)], same: (String, String) => Boolean)
      : Seq[(String, Norm)] = {
    def put(cols: Seq[(String, Norm)], name: String, n: Norm): Seq[(String, Norm)] =
      if (cols.exists(c => same(c._1, name))) cols.map(c => if (same(c._1, name)) c._1 -> n else c)
      else cols :+ (name -> n)
    def of(cols: Seq[(String, Norm)], name: String): Norm =
      cols.collectFirst { case (c, n) if same(c, name) => n }.getOrElse(throw new IllegalArgumentException(
        s"source ${m.descriptor} has no column $name: ${cols.map(_._1).mkString(", ")}"))

    var cols = fields.map { case (c, t) => c -> (Raw(c, t): Norm) }
    if (m.fileRowId) cols = put(cols, RowIdCol, FileRowId)
    cols = cols.filterNot(c => m.removeCols.exists(same(_, c._1)))
    // Per-source user renames (P2, reference core.py:969-970).
    cols = cols.map { case (c, n) =>
      m.renameCols.collectFirst { case (from, to) if same(from, c) => to }.getOrElse(c) -> n }

    val ts = m.timestampCol
    val raw = of(cols, ts)
    cols = m.tsConvert match {
      // Preserve the original column as `__<col>` (reference core.py:942-945).
      case Some(f) => put(put(cols, s"__$ts", raw), ts, Converted(raw, f))
      case None => typeOf(raw) match {
        case TimestampType | TimestampNTZType => put(cols, ts, Millis(raw))
        case _                                => put(cols, ts, asLong(raw))
      }
    }
    // Tiebreak id preference: user-declared monotone id > a `__rowid`
    // (the parquet file-order id, stable across retries, or one the caller
    // attached) > monotonically_increasing_id. The last is deterministic
    // only when the frame's partition layout is (scan-only lineage, no
    // upstream shuffle); order-exact pipelines should declare
    // `secondarySortCol` or fuse via `Fuser.fuse` over parquet sources.
    val rowId = m.secondarySortCol.map(c => asLong(of(cols, c)))
      .orElse(cols.collectFirst { case (c, n) if same(c, RowIdCol) => asLong(n) })
      .getOrElse(ScanRowId)
    cols = cols.map { case (c, n) => (if (same(c, ts)) TimestampCol else c) -> n }
    put(put(cols, SourceIdCol, Src), RowIdCol, rowId)
  }

  /** The window as a filter on a part's frame, on its raw timestamp column
    * where one is stored: a parquet scan then takes it as a pushed filter.
    * `unix_millis` floors a timestamp's microseconds, so on a stored
    * `TimestampType` the window [s, e] is [s ms, (e + 1) ms); a bound that
    * every timestamp meets is left out. A `TIMESTAMP_NTZ` column is filtered
    * by its converted value: the restatement would shift by the session zone.
    */
  private def windowFilter(ts: Norm, p: Part, start: Option[Long], end: Option[Long]): Option[Column] = {
    val bounds = ts match {
      case Millis(Raw(c, TimestampType)) =>
        val stored = SourceLoader.column(c)
        start.filter(_ > Math.floorDiv(Long.MinValue, 1000L)).map(s => stored >= timestamp_millis(lit(s))) ++
          end.filter(_ < Long.MaxValue / 1000L).map(e => stored < timestamp_millis(lit(e + 1)))
      case _ =>
        val ms = column(ts, p)
        start.map(ms >= _) ++ end.map(ms <= _)
    }
    bounds.reduceOption(_ && _)
  }

  /** Fuse DataFrame sources (the core API). */
  def fuseFrames(sources: Seq[FrameSource], opts: FuseOptions = FuseOptions()): FuseResult = {
    require(sources.nonEmpty, "at least one source required")
    fuseParts(sources.zipWithIndex.map { case (s, i) =>
      Part(s.df, Seq(Member(i, s.descriptor, s.timestampCol, s.tsConvert, s.removeCols, s.renameCols,
        s.secondarySortCol, fileRowId = false)))
    }, opts)
  }

  /** Fuse the parts' sources: one `select` per part, in which each union
    * column is its sources' normalized column (`when(src === i, …)` where
    * the sources of a part differ), and one `Union` of the selects, whose
    * columns line up in the order a fold of `unionByName(allowMissingColumns)`
    * over the sources would give them.
    */
  private def fuseParts(parts: Seq[Part], opts: FuseOptions): FuseResult = {
    val members = parts.flatMap(_.members).sortBy(_.id)
    // duplicate descriptors would make collision renames collide AGAIN
    // (both rename to `col||desc` and merge back) and corrupt sourceIds
    require(members.map(_.descriptor).distinct.length == members.length,
      s"source descriptors must be unique: ${members.map(_.descriptor).mkString(", ")}")
    val spark = parts.head.df.sparkSession
    val same: (String, String) => Boolean =
      if (spark.conf.get("spark.sql.caseSensitive", "false").toBoolean) _ == _ else _.equalsIgnoreCase(_)

    val fields = parts.flatMap { p =>
      val schema = p.df.schema
      val cols = p.columns.getOrElse(schema.fieldNames.toSeq).map(c => c -> schema(c).dataType)
      p.members.map(m => m.id -> cols)
    }.toMap
    var normalized = members.map(m => m.id -> normalize(m, fields(m.id), same)).toMap

    // Collision rename (§1.4, reference core.py:297-318): a non-merge column
    // name appearing in more than one source becomes `<col><sep><descriptor>`.
    var renames = Map.empty[String, Seq[String]]
    if (opts.renameIdenticalCols) {
      // `__`-prefixed columns are engine-internal (preserved originals,
      // provenance, tiebreaks) and merge by name like the timestamp column:
      // the reference's rename plan is computed from the pre-conversion
      // header probe and never sees them (core.py:297-318 vs core.py:942-945).
      val exempt = (c: String) =>
        c.startsWith("__") || c == SourceIdCol || opts.mergeColNames.contains(c)
      val colCounts = members.flatMap(m => normalized(m.id).map(_._1)).filterNot(exempt)
        .groupBy(identity).map { case (c, xs) => c -> xs.length }
      val colliding = colCounts.filter(_._2 > 1).keySet
      normalized = members.map { m =>
        m.id -> normalized(m.id).map { case (c, n) =>
          if (!colliding(c)) c -> n else {
            val newName = s"$c${opts.separator}${m.descriptor}"
            renames += (c -> (renames.getOrElse(c, Seq.empty) :+ newName))
            newName -> n
          }
        }
      }.toMap
    }

    // Diagonal concat (M3, reference core.py:284-295): align by name,
    // null-fill missing columns.
    val columns = members.foldLeft(Vector.empty[String]) { (acc, m) =>
      acc ++ normalized(m.id).map(_._1).filterNot(c => acc.exists(same(_, c)))
    }
    // Time-window filter (P5). `fuse` scans only the files that meet the
    // window (M5/M6); this drops the rows outside it, below each part's
    // select. Under `dedupOverlaps` it runs after the dedup instead.
    val (startTs, endTs) = window(opts)
    val selects = parts.map { p =>
      val norms = p.members.map(m => m.id -> normalized(m.id))
      val windowed = if (opts.dedupOverlaps) None else {
        val ts = norms.map(_._2.collectFirst { case (TimestampCol, n) => n }.get).distinct
        require(ts.length == 1, s"one scan's sources differ in event time: $ts")
        windowFilter(ts.head, p, startTs, endTs)
      }
      val cols = columns.map { c =>
        val held = norms.flatMap { case (id, ns) => ns.collectFirst { case (n, v) if same(n, c) => id -> v } }
        val value =
          if (held.isEmpty) lit(null)
          else if (held.length == norms.length && held.map(_._2).distinct.length == 1) column(held.head._2, p)
          else held.tail.foldLeft(when(p.src === held.head._1, column(held.head._2, p))) {
            case (w, (id, v)) => w.when(p.src === id, column(v, p))
          }
        value.as(c)
      }
      Bridge.Select(p.df, windowed, p.lets, cols)
    }
    var fused = Bridge.unionOfSelects(selects)

    // Re-read watermark analog (P6): overlapping input spans collapse to one
    // row per (source, row id).
    if (opts.dedupOverlaps) {
      fused = fused.dropDuplicates(SourceIdCol, RowIdCol)
      val ts = col(TimestampCol)
      (startTs.map(ts >= _) ++ endTs.map(ts <= _)).reduceOption(_ && _).foreach(w => fused = fused.filter(w))
    }

    // Global chronological order with deterministic tiebreak (M4). With
    // engine-level forward fill of real rows (W1, reference core.py:481-482)
    // the fill runs that sort itself and declares it, so the orderBy after
    // it plans no exchange and no sort.
    if (opts.forwardFillData) {
      val fillCols = columns.filterNot(Set(TimestampCol, SourceIdCol, RowIdCol))
      fused = ForwardFill.partitioned(fused, fillCols, TimestampCol,
        Seq(col(SourceIdCol), col(RowIdCol)))
    }
    fused = fused.orderBy(col(TimestampCol), col(SourceIdCol), col(RowIdCol))

    if (opts.removeInternalCols)
      fused = fused.drop(SourceIdCol, RowIdCol)
    else if (!opts.keepRowId)
      fused = fused.drop(RowIdCol)

    FuseResult(fused, renames, members.map(m => m.descriptor -> m.id).toMap, startTs, endTs)
  }
}
