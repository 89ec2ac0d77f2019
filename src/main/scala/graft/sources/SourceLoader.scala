package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.{BufferedReader, InputStreamReader}
import java.net.URI
import java.nio.charset.StandardCharsets

/** Raised when a source directory holds no loadable data files — callers can
  * map it to the reference's `NOVALIDFILESTOPROCESS` replay status
  * (classes.py:690-705) via `Replay.withSources`.
  */
final class NoValidFilesException(what: String)
  extends RuntimeException(s"no valid files to process: $what")

/** Loads a [[SourceSpec]] into a DataFrame.
  *
  * Spark-first reimagining of the reference's `CSVSrc`/`ParquetSrc`
  * (datasources.py:215-440): one `spark.read` over the source's file list
  * replaces the per-file loop; Hadoop codecs replace the gzip magic-byte
  * sniffing. File enumeration order (datasources.py:189-212) is irrelevant to
  * correctness here because the fused stream is globally sorted;
  * `input_file_name()` is available for provenance diagnostics.
  *
  * Driver-side work is bounded by the FILE COUNT, never row count: the
  * listing and the one-line header probes match the reference's own
  * per-file planning cost (core.py:738-783) and stay trivial for the
  * "directory of daily/hourly files" layout both engines target. A
  * 100k-file source would want a distributed listing — out of scope, as
  * documented in the reference too.
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

  /** Enumerate a source's data files (S6/S7). Errors mirror the reference's
    * compression scan (`_check_compression`, datasources.py:320-337): zip is
    * unsupported, and one directory must not mix plain and gzip CSV. An empty
    * or missing directory raises [[NoValidFilesException]].
    */
  def listSourceFiles(spark: SparkSession, path: String, format: String): Seq[String] = {
    val fs = FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)
    val p  = new Path(path)
    val statuses =
      if (fs.exists(p) && fs.getFileStatus(p).isDirectory) fs.listStatus(p)
      else Option(fs.globStatus(p)).getOrElse(Array.empty)
    val files = statuses.filter(_.isFile).map(_.getPath).toSeq
    val names = files.map(_.getName)
    format match {
      case "parquet" =>
        val pq = files.filter(_.getName.endsWith(".parquet"))
        if (pq.isEmpty) throw new NoValidFilesException(s"$path (no .parquet files)")
        pq.map(_.toString).sorted
      case "csv" =>
        if (names.exists(_.endsWith(".zip")))
          throw new IllegalArgumentException(
            s"zip-compressed sources are not supported: $path (reference datasources.py:330-333)")
        val plain = files.filter(_.getName.endsWith(".csv"))
        val gz    = files.filter(_.getName.endsWith(".csv.gz"))
        if (plain.nonEmpty && gz.nonEmpty)
          throw new IllegalArgumentException(
            s"source dir mixes .csv and .csv.gz files: $path (reference datasources.py:320-337)")
        val all = plain ++ gz
        if (all.isEmpty) throw new NoValidFilesException(s"$path (no .csv/.csv.gz files)")
        all.map(_.toString).sorted
      case "jsonl" =>
        // beyond-reference format (the LLM-corpus staple); gz transparent
        // via Hadoop codecs, plain/gz mixing allowed (no reference rule to
        // honor here)
        val jl = files.filter(f => f.getName.endsWith(".jsonl") ||
          f.getName.endsWith(".jsonl.gz") || f.getName.endsWith(".json"))
        if (jl.isEmpty) throw new NoValidFilesException(s"$path (no .jsonl/.jsonl.gz/.json files)")
        jl.map(_.toString).sorted
      case other => throw new IllegalArgumentException(s"Unknown source format: $other")
    }
  }

  /** Read one file's actual first line (gzip-aware via the Hadoop codec
    * factory — the reference's magic-byte sniff, core.py:738-783) and split it
    * as a CSV header. Quoted fields are unquoted; separators inside quotes are
    * not supported in the header row (neither engine needs them).
    */
  def actualCsvHeader(spark: SparkSession, file: String, sep: Char = ','): Seq[String] = {
    val conf  = spark.sparkContext.hadoopConfiguration
    val fs    = FileSystem.get(new URI(file), conf)
    val path  = new Path(file)
    val codec = Option(new CompressionCodecFactory(conf).getCodec(path))
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
      line.stripPrefix("\uFEFF")
        .split(java.util.regex.Pattern.quote(sep.toString), -1).toSeq
        .map(_.trim.stripPrefix("\"").stripSuffix("\""))
    } finally rd.close()
  }

  /** Real P7 header validation (reference `_check_transform_headers_on_load`,
    * core.py:949-980): every file's ACTUAL header must carry exactly the
    * declared column names, and all files must agree on order (Spark binds a
    * CSV schema positionally, so a silently reordered file would misbind
    * columns — fail fast instead). Returns the on-disk column order.
    */
  def validateHeaders(
      spark: SparkSession,
      files: Seq[String],
      declared: Option[Seq[String]]): Seq[String] = {
    val first = actualCsvHeader(spark, files.head)
    require(first.distinct.length == first.length,
      s"source header has duplicate column names: ${first.mkString(",")}")
    files.tail.foreach { f =>
      val h = actualCsvHeader(spark, f)
      require(h == first,
        s"file $f header (${h.mkString(",")}) differs from ${files.head} (${first.mkString(",")})")
    }
    declared.foreach { want =>
      require(first.length == want.length && first.toSet == want.toSet,
        s"source header (${first.mkString(",")}) does not match declared schema " +
          s"(${want.mkString(",")})")
    }
    first
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
  def load(spark: SparkSession, spec: SourceSpec): DataFrame = loadFull(spark, spec)

  /** Per-file row cap for parquet scans: `_metadata.row_index` is the row's
    * physical position in its file, so one metadata filter expresses
    * first-n-per-file without any per-file plan unions.
    */
  private def perFileCap(df: DataFrame, spec: SourceSpec): DataFrame =
    spec.numRows.map(n => df.filter(col("_metadata.row_index") < n)).getOrElse(df)

  /** The spec's file list: listed, and narrowed by `fileSortRegex` when set
    * (files without a sort key are excluded from processing entirely, like
    * the reference's `sort_data` — never loaded with an undefined order).
    */
  private def specFiles(spark: SparkSession, spec: SourceSpec): Seq[String] = {
    val listed = listSourceFiles(spark, spec.path, spec.format)
    spec.fileSortRegex match {
      case Some(r) =>
        val ordered = orderFiles(listed, r, spec.fileSortIdx)
        if (ordered.isEmpty)
          throw new NoValidFilesException(s"${spec.path} (no files match $r)")
        ordered
      case None => listed
    }
  }

  /** True when `path` is a directory containing subdirectories (a partitioned
    * / nested parquet layout that directory listing can't flatten).
    */
  private def hasSubdirs(spark: SparkSession, path: String): Boolean = {
    val fs = FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)
    val p  = new Path(path)
    fs.exists(p) && fs.getFileStatus(p).isDirectory &&
      fs.listStatus(p).exists(_.isDirectory)
  }

  private def loadFull(spark: SparkSession, spec: SourceSpec): DataFrame = spec.format match {
    case "parquet" if spec.schema.isEmpty && !spec.forceSchema &&
        scala.util.Try(listSourceFiles(spark, spec.path, "parquet")).isFailure &&
        hasSubdirs(spark, spec.path) =>
      // Partitioned/nested layout (e.g. date=.../part-*.parquet): delegate to
      // Spark's partition discovery; per-file validation and the file-order
      // row id don't apply here.
      perFileCap(spark.read.parquet(spec.path), spec)
    case "parquet" =>
      val files = specFiles(spark, spec)
      spec.schema match {
        case Some(s) if spec.forceSchema =>
          // Cast to the declared schema (reference datasources.py:394-395).
          // Files in one source directory may drift (e.g. an all-null column
          // written int64 in one file, double in another) — the directory
          // read would fail on the physical-type mismatch, so read per file
          // with each file's own footer schema, cast, and union by name.
          // Sources have few files; the per-file plan union is cheap and the
          // scans still run distributed.
          def castTo(df: DataFrame): DataFrame =
            df.select(s.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
          files.map { f =>
            val one = castTo(spark.read.parquet(f))
            spec.numRows.map(one.limit).getOrElse(one)
          }.reduce(_.unionByName(_))
        case _ => perFileCap(spark.read.parquet(files: _*), spec)
      }
    case "csv" =>
      val files = specFiles(spark, spec)
      // PERMISSIVE mode gives per-cell null fallback for malformed typed
      // values — subsuming the reference's whole-file re-infer retry
      // (datasources.py:253-263) without ever masking a validation error.
      val base = spark.read
        .option("header", spec.hasHeader.toString)
        .option("mode", "PERMISSIVE")
      val actual: Option[Seq[String]] =
        if (spec.hasHeader)
          Some(validateHeaders(spark, files, spec.schema.map(_.fieldNames.toSeq)))
        else None
      val resolved: Option[StructType] = spec.schema.orElse {
        spec.positionalTypes.map { ts =>
          zipPositional(actual.getOrElse(
            throw new IllegalArgumentException(
              "positional types require a header row to zip against")), ts)
        }
      }
      def readCsv(fs: Seq[String]): DataFrame = resolved match {
        case Some(s) =>
          actual match {
            case Some(hdr) =>
              // Bind the schema in the FILE's column order (Spark binds CSV
              // schemas positionally), then project back to declared order —
              // the by-name binding the reference gets from Polars dtype
              // dicts (classes.py:133-171).
              val byName = s.fields.map(f => f.name -> f).toMap
              base.schema(StructType(hdr.map(byName(_)))).csv(fs: _*)
                .select(s.fieldNames.map(col).toSeq: _*)
            case None =>
              base.schema(s).csv(fs: _*)
          }
        case None =>
          // No declared types: infer (reference warns, classes.py:137-143).
          base.option("inferSchema", "true").csv(fs: _*)
      }
      spec.numRows match {
        // per-file cap: CSV has no physical row index, so read each file
        // separately under the SAME bound schema and union the capped heads
        // (numRows is a probe-style knob — small n, few files)
        case Some(n) => files.map(f => readCsv(Seq(f)).limit(n)).reduce(_.unionByName(_))
        case None    => readCsv(files)
      }
    case "jsonl" =>
      // JSON lines (beyond-reference): fields bind BY NAME, so none of the
      // CSV positional machinery applies. A declared schema both prunes the
      // parse (Jackson skips unrequested fields) and pins types; without
      // one, Spark samples the files to infer. PERMISSIVE mirrors the CSV
      // branch: malformed lines null out instead of failing the job.
      val files = specFiles(spark, spec)
      val base = spark.read.option("mode", "PERMISSIVE")
      val read = spec.schema match {
        case Some(s) => base.schema(s).json(files: _*)
        case None    => base.json(files: _*)
      }
      spec.numRows match {
        case Some(n) => files.map(f =>
          (spec.schema match {
            case Some(s) => base.schema(s).json(f)
            case None    => base.json(f)
          }).limit(n)).reduce(_.unionByName(_))
        case None => read
      }
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

  /** Deterministic per-source row id for parquet sources: sorted-file index
    * in the high bits, `_metadata.row_index` (the physical row position in
    * its file) in the low 40 bits. Both inputs are functions of the files
    * alone, so the id is stable across task retries, plan re-optimization and
    * repeated actions — unlike `monotonically_increasing_id`, whose value
    * depends on runtime partition layout. It is also monotone in (file order,
    * row order), reproducing the reference's concat order
    * (core.py:467-470) as a sort tiebreaker. Files are keyed by name
    * (unique within a source directory).
    */
  def parquetRowId(
      spark: SparkSession,
      path: String,
      fileSortRegex: Option[String] = None,
      fileSortIdx: Int = 0): org.apache.spark.sql.Column = {
    val listed = listSourceFiles(spark, path, "parquet")
    val files  = fileSortRegex.map(orderFiles(listed, _, fileSortIdx)).getOrElse(listed)
    val idx: Map[String, Long] = files.zipWithIndex.map { case (f, i) =>
      new Path(f).getName -> i.toLong
    }.toMap
    // A scanned file missing from the listing (added between list and scan,
    // or duplicate basenames across glob dirs) must fail fast — a silent
    // null id would quietly demote the stable-tiebreak guarantee.
    val fileIdx = element_at(typedLit(idx), col("_metadata.file_name"))
    val checked = when(fileIdx.isNull,
      raise_error(concat(
        lit(s"parquetRowId: scanned file not in the listing of $path: "),
        col("_metadata.file_name")))).otherwise(fileIdx)
    checked * lit(1L << 40) + col("_metadata.row_index")
  }

  /** Per-source global start/end event time (S8, reference
    * classes.py:182-196): one `agg(min,max)` — served from parquet footer
    * stats when available, instead of the reference's manual head/tail file
    * probes (core.py:738-872, datasources.py:266-318).
    */
  def timeBounds(df: DataFrame, tsCol: String): (Long, Long) = {
    val row = df.agg(min(col(tsCol)), max(col(tsCol))).head()
    if (row.isNullAt(0))
      throw new NoValidFilesException("source has no rows in the requested window")
    (row.getLong(0), row.getLong(1))
  }
}
