package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.GraftExecution
import org.apache.spark.sql.execution.datasources.parquet.GraftFooters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.{BufferedReader, FileNotFoundException, InputStreamReader}
import java.nio.charset.StandardCharsets
import scala.reflect.ClassTag

/** Raised when a source directory holds no loadable data files — callers can
  * map it to the reference's `NOVALIDFILESTOPROCESS` replay status
  * (classes.py:690-705) via `Replay.withSources`.
  */
final class NoValidFilesException(what: String)
  extends RuntimeException(s"no valid files to process: $what")

/** Plans and loads a [[SourceSpec]].
  *
  * Spark-first reimagining of the reference's `CSVSrc`/`ParquetSrc`
  * (datasources.py:215-440): one file scan over the source's file list
  * replaces the per-file loop; Hadoop codecs replace the gzip magic-byte
  * sniffing. File enumeration order (datasources.py:189-212) is irrelevant to
  * correctness here because the fused stream is globally sorted.
  *
  * Planning a source ([[loadListed]]) yields its files and how to read
  * them: a [[FileRead]] (format, read schema, reader options) for a plain
  * file scan, or a frame of its own for a source that needs a per-file read
  * path (`forceSchema`, a CSV or JSON `numRows`, a partitioned layout, an
  * inferred CSV or JSON schema). `Fuser.fuse` reads the kept files of all
  * sources with equal `FileRead`s through one scan, telling their rows
  * apart by `_metadata.file_path` ([[byFile]]); [[load]] reads one source
  * alone. A `FileRead`'s scan is built from the `FileStatus`es of the
  * source's one listing (`GraftExecution.fileScan`), not through
  * `spark.read`: no data source lookup, and the files are not listed again.
  *
  * Driver-side work is bounded by the FILE COUNT, never row count: the
  * listing, the CSV header-and-first-row probes and the parquet footer
  * reads match the reference's own per-file planning cost
  * (core.py:738-783) and stay trivial for the "directory of daily/hourly
  * files" layout both engines target. The footers give parquet sources
  * their schema without Spark's schema-inference job, and, with a fuse
  * window, they and the CSV first rows bound each file so that only files
  * in the window are scanned (the reference's M5/M6). A 100k-file source
  * would want a distributed listing — out of scope, as documented in the
  * reference too.
  */
object SourceLoader {

  /** Map a friendly type-name (the reference's python-type table,
    * classes.py:95-100) to a Spark type.
    */
  def friendlyType(name: String): DataType = name.toLowerCase match {
    case "int" | "long" | "bigint"  => LongType
    case "float" | "double"         => DoubleType
    case "str" | "string"           => StringType
    case "bool" | "boolean"         => BooleanType
    case "datetime" | "timestamp"   => TimestampType
    case other                      => throw new IllegalArgumentException(s"Unknown type: $other")
  }

  /** Enumerate a source's data files (S6/S7), as paths in path order.
    * Errors mirror the reference's compression scan (`_check_compression`,
    * datasources.py:320-337): zip is unsupported, and one directory must not
    * mix plain and gzip CSV. An empty or missing directory raises
    * [[NoValidFilesException]].
    */
  def listSourceFiles(spark: SparkSession, path: String, format: String): Seq[String] =
    listSourceStatuses(spark, path, format).map(_.getPath.toString)

  /** [[listSourceFiles]], as the `FileStatus`es of the one listing of
    * `path`: a directory (or a file, which lists as itself) is listed once;
    * a glob, or a path that does not exist, goes through `globStatus`.
    */
  private[graft] def listSourceStatuses(spark: SparkSession, path: String, format: String)
      : Seq[FileStatus] = {
    val p  = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses =
      try fs.listStatus(p)
      catch { case _: FileNotFoundException => Option(fs.globStatus(p)).getOrElse(Array.empty) }
    val files = statuses.filter(_.isFile).toSeq
    def named(suffixes: String*): Seq[FileStatus] =
      files.filter(f => suffixes.exists(f.getPath.getName.endsWith))
    val kept = format match {
      case "parquet" =>
        val pq = named(".parquet")
        if (pq.isEmpty) throw new NoValidFilesException(s"$path (no .parquet files)")
        pq
      case "csv" =>
        if (named(".zip").nonEmpty)
          throw new IllegalArgumentException(
            s"zip-compressed sources are not supported: $path (reference datasources.py:330-333)")
        val plain = named(".csv")
        val gz    = named(".csv.gz")
        if (plain.nonEmpty && gz.nonEmpty)
          throw new IllegalArgumentException(
            s"source dir mixes .csv and .csv.gz files: $path (reference datasources.py:320-337)")
        val all = plain ++ gz
        if (all.isEmpty) throw new NoValidFilesException(s"$path (no .csv/.csv.gz files)")
        all
      case "jsonl" =>
        // beyond-reference format (the LLM-corpus staple); gz transparent
        // via Hadoop codecs, plain/gz mixing allowed (no reference rule to
        // honor here)
        val jl = named(".jsonl", ".jsonl.gz", ".json")
        if (jl.isEmpty) throw new NoValidFilesException(s"$path (no .jsonl/.jsonl.gz/.json files)")
        jl
      case other => throw new IllegalArgumentException(s"Unknown source format: $other")
    }
    kept.sortBy(_.getPath.toString)
  }

  /** Read one file's actual first line (gzip-aware via the Hadoop codec
    * factory — the reference's magic-byte sniff, core.py:738-783) and split it
    * as a CSV header. Quoted fields are unquoted; separators inside quotes are
    * not supported in the header row (neither engine needs them).
    */
  def actualCsvHeader(spark: SparkSession, file: String, sep: Char = ','): Seq[String] =
    csvHead(spark, new CompressionCodecFactory(spark.sparkContext.hadoopConfiguration), file, sep)._1

  /** [[actualCsvHeader]], plus the file's first data row (the first line
    * after the header that is not blank, as Spark's CSV reader skips blank
    * lines), from the same open. `codecs` is shared by a source's files.
    */
  private def csvHead(spark: SparkSession, codecs: CompressionCodecFactory, file: String, sep: Char)
      : (Seq[String], Option[String]) = {
    val path  = new Path(file)
    val fs    = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val codec = Option(codecs.getCodec(path))
    val raw   = fs.open(path)
    val in    = codec.map(_.createInputStream(raw)).getOrElse(raw)
    val rd    = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    try {
      val line = Option(rd.readLine()).getOrElse(
        throw new NoValidFilesException(s"$file is empty"))
      // strip a UTF-8 BOM (Excel exports); limit -1 keeps trailing empty
      // fields so a trailing separator fails loudly instead of mis-zipping.
      // The separator is regex-quoted: split() takes a regex, so '|' or '.'
      // separators would otherwise split on every character.
      val header = line.stripPrefix("\uFEFF")
        .split(java.util.regex.Pattern.quote(sep.toString), -1).toSeq
        .map(_.trim.stripPrefix("\"").stripSuffix("\""))
      (header, Iterator.continually(rd.readLine()).takeWhile(_ != null).find(_.trim.nonEmpty))
    } finally rd.close()
  }

  /** Real P7 header validation (reference `_check_transform_headers_on_load`,
    * core.py:949-980): every file's ACTUAL header must carry exactly the
    * declared column names, and all files must agree on order (Spark binds a
    * CSV schema positionally, so a silently reordered file would misbind
    * columns — fail fast instead). Returns the on-disk column order and each
    * file's first data row, read in the same open.
    */
  def validateHeaders(
      spark: SparkSession,
      files: Seq[String],
      declared: Option[Seq[String]]): (Seq[String], Seq[Option[String]]) = {
    val codecs = new CompressionCodecFactory(spark.sparkContext.hadoopConfiguration)
    val heads = files.map(csvHead(spark, codecs, _, ','))
    val first = heads.head._1
    require(first.distinct.length == first.length,
      s"source header has duplicate column names: ${first.mkString(",")}")
    files.zip(heads).tail.foreach { case (f, (h, _)) =>
      require(h == first,
        s"file $f header (${h.mkString(",")}) differs from ${files.head} (${first.mkString(",")})")
    }
    declared.foreach { want =>
      require(first.length == want.length && first.toSet == want.toSet,
        s"source header (${first.mkString(",")}) does not match declared schema " +
          s"(${want.mkString(",")})")
    }
    (first, heads.map(_._2))
  }

  /** Zip a positional type list against the header names → StructType. */
  def zipPositional(header: Seq[String], types: Seq[DataType]): StructType = {
    require(header.length == types.length,
      s"positional types (${types.length}) do not match header width (${header.length})")
    StructType(header.zip(types).map { case (n, t) => StructField(n, t, nullable = true) })
  }

  /** Load one source directory as a DataFrame. `spec.numRows` caps rows
    * PER FILE (the reference's probe/sampling semantics, datasources.py:230
    * — each file contributes its first `num_rows` rows), not globally.
    */
  def load(spark: SparkSession, spec: SourceSpec): DataFrame = {
    val listed = loadListed(spark, spec)
    listed.read.fold(identity, _.frame(spark, listed.scanned))
  }

  /** How a plain file scan reads a source's files: the format, the read
    * schema (a CSV's in its files' column order), the reader options and a
    * per-file row cap (a parquet `numRows`, a `_metadata.row_index`
    * filter). `columns` is the source's column order. Sources whose reads
    * agree on all but `columns` ([[sharesScanWith]]) read each file the
    * same way, so one scan can serve them all.
    */
  private[graft] final case class FileRead(
      format: String,
      schema: StructType,
      options: Map[String, String],
      rowCap: Option[Int],
      columns: Seq[String]) {

    def sharesScanWith(o: FileRead): Boolean =
      format == o.format && schema == o.schema && options == o.options && rowCap == o.rowCap

    /** One scan of `files`, in the reader's column order: the relation
      * `spark.read.format(format).schema(schema).options(options).load`
      * resolves to, built from the driver's listing with no data source
      * lookup and no second listing (`GraftExecution.fileScan`).
      */
    def scan(spark: SparkSession, files: Seq[FileStatus]): DataFrame = {
      val df = GraftExecution.fileScan(spark, format, files, schema, options)
      rowCap.fold(df)(n => df.filter(col("_metadata.row_index") < n))
    }

    /** [[scan]], in the source's column order. */
    def frame(spark: SparkSession, files: Seq[FileStatus]): DataFrame = {
      val df = scan(spark, files)
      if (schema.fieldNames.toSeq == columns) df else df.select(columns.map(column): _*)
    }
  }

  /** The column named `name`, read literally (no dots or backticks parsed). */
  private[graft] def column(name: String): Column = col(s"`${name.replace("`", "``")}`")

  /** A planned source: its ordered file list from the one listing of the
    * source, the listed statuses of the files of that list to scan, and how
    * to read them: a [[FileRead]], or the source's own frame where it needs
    * a per-file read path or schema inference. Both lists are empty for a
    * partitioned parquet layout, which Spark's partition discovery reads
    * instead.
    */
  private[graft] final case class Listed(
      files: Seq[String], scanned: Seq[FileStatus], read: Either[DataFrame, FileRead]) {

    /** True when the listing has files but none can hold a row in the window. */
    def outOfWindow: Boolean = files.nonEmpty && scanned.isEmpty
  }

  /** [[load]], planned against an epoch-ms event-time `window` (both ends
    * inclusive). Only files whose metadata says they may hold a row in the
    * window are kept for the scan; see [[FileSpans]] for what bounds a file.
    * A source with no file in the window reads empty and keeps its schema.
    * The window itself is not applied: the caller filters the rows.
    */
  private[graft] def loadListed(
      spark: SparkSession, spec: SourceSpec, window: Span = Span.All): Listed = {
    val listed = scala.util.Try(listSourceStatuses(spark, spec.path, spec.format))
    if (spec.format == "parquet" && spec.schema.isEmpty && !spec.forceSchema &&
        listed.isFailure && hasSubdirs(spark, spec.path))
      // Partitioned/nested layout (e.g. date=.../part-*.parquet): delegate to
      // Spark's partition discovery; per-file validation and the file-order
      // row id don't apply here.
      Listed(Nil, Nil, Left(perFileCap(spark.read.parquet(spec.path), spec)))
    else {
      val status = listed.get.map(f => f.getPath.toString -> f).toMap
      val files = specFiles(spec, listed.get.map(_.getPath.toString))
      // a converted timestamp's window says nothing about the raw column
      val (read, scanned) = readFiles(spark, spec, files, status,
        if (spec.tsConvert.isDefined) Span.All else window)
      Listed(files, scanned.map(status), read)
    }
  }

  /** Per-file row cap for parquet scans: `_metadata.row_index` is the row's
    * physical position in its file, so one metadata filter expresses
    * first-n-per-file without any per-file plan unions.
    */
  private def perFileCap(df: DataFrame, spec: SourceSpec): DataFrame =
    spec.numRows.map(n => df.filter(col("_metadata.row_index") < n)).getOrElse(df)

  /** The spec's file list: the listing, narrowed by `fileSortRegex` when set
    * (files without a sort key are excluded from processing entirely, like
    * the reference's `sort_data` — never loaded with an undefined order).
    */
  private def specFiles(spec: SourceSpec, listed: Seq[String]): Seq[String] =
    spec.fileSortRegex match {
      case Some(r) =>
        val ordered = orderFiles(listed, r, spec.fileSortIdx)
        if (ordered.isEmpty)
          throw new NoValidFilesException(s"${spec.path} (no files match $r)")
        ordered
      case None => listed
    }

  /** True when `path` is a directory containing subdirectories (a partitioned
    * / nested parquet layout that directory listing can't flatten).
    */
  private def hasSubdirs(spark: SparkSession, path: String): Boolean = {
    val p  = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.listStatus(p).exists(_.isDirectory)
    catch { case _: FileNotFoundException => false }
  }

  /** How to read `files` (in order, each listed as `status`) as the spec's
    * frame, and those of them that may hold a row in `window`, the files to
    * scan.
    */
  private def readFiles(
      spark: SparkSession,
      spec: SourceSpec,
      files: Seq[String],
      status: String => FileStatus,
      window: Span): (Either[DataFrame, FileRead], Seq[String]) = spec.format match {
    case "parquet" =>
      // Schemas come from footers read on the driver, never from Spark's
      // inference job; the same footers bound the files when pruning.
      val pruning = window != Span.All
      val forced = if (spec.forceSchema) spec.schema else None
      val schemaFiles = GraftFooters.schemaFiles(spark, files)
      val footerFiles = if (pruning || forced.isDefined) files else schemaFiles
      val footers = footerFiles.zip(GraftFooters.read(spark, footerFiles)).toMap
      def fileSchema(f: String): Option[StructType] =
        footers(f).map(GraftFooters.fileSchema(spark, f, _))
      val schema = forced.getOrElse(
        GraftFooters.inferSchema(spark, schemaFiles.map(f => f -> footers(f))))
      val kept = if (!pruning) files else {
        val zone = DateTimeUtils.getZoneId(spark.conf.get("spark.sql.session.timeZone"))
        val readType = schema.find(_.name == spec.timestampCol).map(_.dataType)
        files.filter { f =>
          // a file whose own type differs is cast on load: keep it
          val spans = for {
            t      <- readType
            footer <- footers(f)
            if fileSchema(f).flatMap(_.find(_.name == spec.timestampCol)).map(_.dataType).contains(t)
            s      <- FileSpans.parquet(footer, spec.timestampCol, t, zone)
          } yield s
          spans.forall(_.exists(_.meets(window)))
        }
      }
      val read = forced match {
        case Some(s) =>
          // Cast to the declared schema (reference datasources.py:394-395).
          // Files in one source directory may drift (e.g. an all-null column
          // written int64 in one file, double in another) — the directory
          // read would fail on the physical-type mismatch, so read per file
          // with each file's own footer schema, cast, and union by name.
          // Sources have few files; the per-file plan union is cheap and the
          // scans still run distributed.
          def castTo(df: DataFrame): DataFrame =
            df.select(s.fields.map(f => column(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
          Left(if (kept.isEmpty) castTo(spark.read.schema(s).parquet())
          else kept.map { f =>
            val one = castTo(spark.read.schema(fileSchema(f).getOrElse(s)).parquet(f))
            spec.numRows.map(one.limit).getOrElse(one)
          }.reduce(_.unionByName(_)))
        case None => Right(FileRead("parquet", schema, Map.empty, spec.numRows, schema.fieldNames.toSeq))
      }
      (read, kept)
    case "csv" =>
      // PERMISSIVE mode gives per-cell null fallback for malformed typed
      // values — subsuming the reference's whole-file re-infer retry
      // (datasources.py:253-263) without ever masking a validation error.
      val options = Map("header" -> spec.hasHeader.toString, "mode" -> "PERMISSIVE")
      val heads: Option[(Seq[String], Seq[Option[String]])] =
        if (spec.hasHeader)
          Some(validateHeaders(spark, files, spec.schema.map(_.fieldNames.toSeq)))
        else None
      val actual = heads.map(_._1)
      val resolved: Option[StructType] = spec.schema.orElse {
        spec.positionalTypes.map { ts =>
          zipPositional(actual.getOrElse(
            throw new IllegalArgumentException(
              "positional types require a header row to zip against")), ts)
        }
      }
      // Bound each file by its first data row only where that row's time is
      // exactly the loaded one (a declared Long), and only under the
      // chronological contract of `fileSortRegex`.
      val kept = heads match {
        case Some((hdr, firstRows)) if window != Span.All && spec.fileSortRegex.isDefined &&
            resolved.exists(_.find(_.name == spec.timestampCol).exists(_.dataType == LongType)) =>
          val idx = hdr.indexOf(spec.timestampCol)
          val spans = FileSpans.csv(firstRows.map(_.flatMap(FileSpans.csvLong(_, idx, hdr.length))))
          files.zip(spans).collect { case (f, sp) if sp.meets(window) => f }
        case _ => files
      }
      // Bind the schema in the FILE's column order (Spark binds CSV schemas
      // positionally); the frame projects back to declared order — the
      // by-name binding the reference gets from Polars dtype dicts
      // (classes.py:133-171).
      val declared = resolved.map { s =>
        val byName = s.fields.map(f => f.name -> f).toMap
        FileRead("csv", actual.fold(s)(hdr => StructType(hdr.map(byName(_)))), options, None,
          s.fieldNames.toSeq)
      }
      // No declared types: infer (reference warns, classes.py:137-143).
      def readCsv(fs: Seq[String]): DataFrame = declared.fold(
        spark.read.options(options).option("inferSchema", "true").csv(fs: _*))(_.frame(spark, fs.map(status)))
      val read = (declared, spec.numRows) match {
        case (Some(r), None) => Right(r)
        // per-file cap: CSV has no physical row index, so read each file
        // separately under the SAME bound schema and union the capped heads
        // (numRows is a probe-style knob — small n, few files)
        case (_, Some(n)) if kept.nonEmpty => Left(kept.map(f => readCsv(Seq(f)).limit(n)).reduce(_.unionByName(_)))
        case _ => Left(readCsv(kept))
      }
      (read, kept)
    case "jsonl" =>
      // JSON lines (beyond-reference): fields bind BY NAME, so none of the
      // CSV positional machinery applies. A declared schema both prunes the
      // parse (Jackson skips unrequested fields) and pins types; without
      // one, Spark samples the files to infer. PERMISSIVE mirrors the CSV
      // branch: malformed lines null out instead of failing the job.
      val options = Map("mode" -> "PERMISSIVE")
      def readJson(fs: Seq[String]): DataFrame = spec.schema.fold(
        spark.read.options(options).json(fs: _*))(spark.read.options(options).schema(_).json(fs: _*))
      val read = (spec.schema, spec.numRows) match {
        case (Some(s), None) => Right(FileRead("json", s, options, None, s.fieldNames.toSeq))
        case (_, Some(n))    => Left(files.map(f => readJson(Seq(f)).limit(n)).reduce(_.unionByName(_)))
        case (None, None)    => Left(readJson(files))
      }
      (read, files)
    case other => throw new IllegalArgumentException(s"Unknown source format: $other")
  }

  /** Order files chronologically by an integer extracted from the filename —
    * the reference's `sort_data` (datasources.py:189-212): all matches of
    * `regex` against the file NAME are collected and match `idx` parsed as
    * the integer sort key. Files without a match at `idx` are skipped
    * (reference: IndexError → pass).
    */
  def orderFiles(files: Seq[String], regex: String, idx: Int = 0): Seq[String] = {
    val r = regex.r
    files.flatMap { f =>
      val ms = r.findAllIn(new Path(f).getName).toSeq
      if (ms.isDefinedAt(idx)) scala.util.Try(ms(idx).toLong).toOption.map(f -> _)
      else None
    }.sortBy(_._2).map(_._1)
  }

  /** Deterministic per-source row id for parquet sources: the file's index
    * in its source's ordered listing in the high bits, `_metadata.row_index`
    * (the physical row position in its file) in the low 40 bits. Both inputs
    * are functions of the files alone, so the id is stable across task
    * retries, plan re-optimization and repeated actions — unlike
    * `monotonically_increasing_id`, whose value depends on runtime partition
    * layout. It is also monotone in (file order, row order), reproducing the
    * reference's concat order (core.py:467-470) as a sort tiebreaker.
    * `listings` holds each source's path and its ordered file list as
    * [[loadListed]] returns it, for every source of one scan; files are
    * keyed by full path (see [[byFile]]).
    */
  def parquetRowId(listings: Seq[(String, Seq[String])]): Column = {
    val fileIdx = byFile(
      listings.flatMap { case (_, files) => files.zipWithIndex.map { case (f, i) => f -> i.toLong } },
      listings.map(_._1).mkString(", "))
    fileIdx * lit(1L << 40) + col("_metadata.row_index")
  }

  /** The value `values` gives the file each scanned row comes from, looked
    * up by `_metadata.file_path`, the file's full path as Spark URL-encodes
    * it. A scanned file missing from `values` (added between list and scan)
    * fails fast: a silent null would quietly demote what the value stands
    * for (a source id, a stable tiebreak). `what` names the sources in the
    * error.
    */
  private[graft] def byFile[T: ClassTag](values: Seq[(String, T)], what: String): Column = {
    val path = col("_metadata.file_path")
    val v = element_at(map_from_arrays(lit(values.map(f => new Path(f._1).toUri.toString).toArray),
      lit(values.map(_._2).toArray)), path)
    when(v.isNull, raise_error(concat(lit(s"scanned file not in the listing of $what: "), path)))
      .otherwise(v)
  }

  /** Per-source global start/end event time (S8, reference
    * classes.py:182-196): one `agg(min,max)` aggregation job over `df`, in
    * place of the reference's manual head/tail file probes (core.py:738-872,
    * datasources.py:266-318). Fuse-time file pruning does not use it; it
    * reads file metadata on the driver instead (see [[FileSpans]]).
    */
  def timeBounds(df: DataFrame, tsCol: String): (Long, Long) = {
    val row = df.agg(min(col(tsCol)), max(col(tsCol))).head()
    if (row.isNullAt(0))
      throw new NoValidFilesException("source has no rows in the requested window")
    (row.getLong(0), row.getLong(1))
  }
}
