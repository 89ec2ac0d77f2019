package graft.sources

import graft.SparkTestBase
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.execution.datasources.parquet.{GraftFooters, ParquetUtils}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import java.net.URI

import java.nio.file.{Files, Paths}

/** S1-S8 coverage: CSV/gzip scans, positional type zipping, inference
  * fallback, header validation, time-bounds discovery. Reference behavior:
  * datasources.py:215-440, classes.py:125-196.
  */
class SourceLoaderSpec extends SparkTestBase {

  private lazy val dir = {
    val d = Files.createTempDirectory("graft_csv").toString
    Files.writeString(Paths.get(d, "part-1.csv"),
      "Timestamp,Price,Note\n1000,1.5,a\n2000,2.5,b\n")
    Files.writeString(Paths.get(d, "part-2.csv"),
      "Timestamp,Price,Note\n3000,3.5,c\n4000,,d\n")
    d
  }

  test("positional type list zipped against header (classes.py:125-131)") {
    val spec = SourceSpec(path = dir, format = "csv", descriptor = "t",
      timestampCol = "Timestamp",
      positionalTypes = Some(Seq(LongType, DoubleType, StringType)))
    val df = SourceLoader.load(spark, spec)
    assert(df.schema.map(f => (f.name, f.dataType)) ==
      Seq(("Timestamp", LongType), ("Price", DoubleType), ("Note", StringType)))
    assert(df.count() == 4)
    // empty numeric field → null (reference's empty-CRC behavior)
    assert(df.filter(df("Price").isNull).count() == 1)
  }

  test("schema inference when no types declared (classes.py:137-143)") {
    val spec = SourceSpec(path = dir, format = "csv", descriptor = "t",
      timestampCol = "Timestamp")
    val df = SourceLoader.load(spark, spec)
    assert(df.schema("Timestamp").dataType == IntegerType ||
           df.schema("Timestamp").dataType == LongType)
    assert(df.count() == 4)
  }

  test("gzip csv read transparently (datasources.py:320-337)") {
    val gzDir = Files.createTempDirectory("graft_gz").toString
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$gzDir/data.csv.gz"))
    out.write("Timestamp,V\n5000,x\n6000,y\n".getBytes)
    out.close()
    val df = SourceLoader.load(spark, SourceSpec(path = gzDir, format = "csv",
      descriptor = "gz", timestampCol = "Timestamp",
      positionalTypes = Some(Seq(LongType, StringType))))
    assert(df.count() == 2)
  }

  test("time bounds via min/max aggregate (S8, classes.py:182-196)") {
    val spec = SourceSpec(path = dir, format = "csv", descriptor = "t",
      timestampCol = "Timestamp",
      positionalTypes = Some(Seq(LongType, DoubleType, StringType)))
    val (lo, hi) = SourceLoader.timeBounds(SourceLoader.load(spark, spec), "Timestamp")
    assert(lo == 1000L && hi == 4000L)
  }

  test("parquet forced schema cast (datasources.py:394-395)") {
    val pqDir = Files.createTempDirectory("graft_pq").toString + "/t"
    import spark.implicits._
    Seq((1000L, 1), (2000L, 2)).toDF("Timestamp", "V").write.parquet(pqDir)
    val schema = StructType(Seq(StructField("Timestamp", LongType),
      StructField("V", DoubleType)))
    val df = SourceLoader.load(spark, SourceSpec(path = pqDir, descriptor = "p",
      timestampCol = "Timestamp", schema = Some(schema), forceSchema = true))
    assert(df.schema("V").dataType == DoubleType)
  }

  test("positional type length mismatch fails fast (P7)") {
    intercept[IllegalArgumentException] {
      SourceLoader.zipPositional(Seq("a", "b"), Seq(LongType))
    }
  }

  test("wrong on-disk header fails loudly, not silent nulls (P7, core.py:949-980)") {
    val bad = Files.createTempDirectory("graft_badhdr").toString
    Files.writeString(Paths.get(bad, "part-1.csv"),
      "Timestamp,Cost,Note\n1000,1.5,a\n") // declared column is Price, not Cost
    val spec = SourceSpec(path = bad, format = "csv", descriptor = "t",
      timestampCol = "Timestamp",
      schema = Some(StructType(Seq(StructField("Timestamp", LongType),
        StructField("Price", DoubleType), StructField("Note", StringType)))))
    val e = intercept[IllegalArgumentException](SourceLoader.load(spark, spec))
    assert(e.getMessage.contains("Cost"), e.getMessage)
  }

  test("reordered on-disk header binds by name, not position") {
    val re = Files.createTempDirectory("graft_reorder").toString
    Files.writeString(Paths.get(re, "part-1.csv"),
      "Price,Timestamp,Note\n1.5,1000,a\n") // declared order differs
    val spec = SourceSpec(path = re, format = "csv", descriptor = "t",
      timestampCol = "Timestamp",
      schema = Some(StructType(Seq(StructField("Timestamp", LongType),
        StructField("Price", DoubleType), StructField("Note", StringType)))))
    val df = SourceLoader.load(spark, spec)
    assert(df.columns.toSeq == Seq("Timestamp", "Price", "Note"))
    val r = df.head()
    assert(r.getLong(0) == 1000L && r.getDouble(1) == 1.5)
  }

  test("files disagreeing on header order fail fast (Spark binds positionally)") {
    val mix = Files.createTempDirectory("graft_hdrmix").toString
    Files.writeString(Paths.get(mix, "a.csv"), "Timestamp,Price\n1000,1.5\n")
    Files.writeString(Paths.get(mix, "b.csv"), "Price,Timestamp\n2.5,2000\n")
    val e = intercept[IllegalArgumentException] {
      SourceLoader.load(spark, SourceSpec(path = mix, format = "csv",
        descriptor = "t", timestampCol = "Timestamp",
        positionalTypes = Some(Seq(LongType, DoubleType))))
    }
    assert(e.getMessage.contains("differs"), e.getMessage)
  }

  test("mixed .csv and .csv.gz in one dir errors (S7, datasources.py:320-337)") {
    val mixed = Files.createTempDirectory("graft_mixed").toString
    Files.writeString(Paths.get(mixed, "a.csv"), "T,V\n1,2\n")
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$mixed/b.csv.gz"))
    out.write("T,V\n3,4\n".getBytes); out.close()
    val e = intercept[IllegalArgumentException] {
      SourceLoader.listSourceFiles(spark, mixed, "csv")
    }
    assert(e.getMessage.contains("mixes"), e.getMessage)
  }

  test("listing: a directory, a single file and a glob list their files; a missing path or a zip fails") {
    val files = Seq(s"$dir/part-1.csv", s"$dir/part-2.csv").map(f => new Path(f).toUri.toString)
    val uris = (p: String) => SourceLoader.listSourceFiles(spark, p, "csv").map(new Path(_).toUri.toString)
    assert(uris(dir).map(_.stripPrefix("file:")) == files.map(_.stripPrefix("file:")))
    assert(uris(s"$dir/part-2.csv").map(_.stripPrefix("file:")) == files.drop(1).map(_.stripPrefix("file:")))
    assert(uris(s"$dir/part-*.csv").map(_.stripPrefix("file:")) == files.map(_.stripPrefix("file:")))
    intercept[NoValidFilesException](SourceLoader.listSourceFiles(spark, s"$dir/missing", "csv"))
    val zipped = Files.createTempDirectory("graft_zip").toString
    Files.writeString(Paths.get(zipped, "a.csv"), "T,V\n1,2\n")
    Files.write(Paths.get(zipped, "b.zip"), Array[Byte](80, 75, 5, 6))
    val e = intercept[IllegalArgumentException](SourceLoader.listSourceFiles(spark, zipped, "csv"))
    assert(e.getMessage.contains("zip-compressed"), e.getMessage)
  }

  test("empty source dir surfaces NOVALIDFILESTOPROCESS (classes.py:690-705)") {
    val empty = Files.createTempDirectory("graft_empty").toString
    intercept[NoValidFilesException] {
      SourceLoader.load(spark, SourceSpec(path = empty, format = "csv",
        descriptor = "t", timestampCol = "T"))
    }
    val status = graft.ops.Replay.withSources {
      SourceLoader.load(spark, SourceSpec(path = empty, descriptor = "t",
        timestampCol = "T"))
      graft.ops.Replay.Ok
    }
    assert(status == graft.ops.Replay.NoValidFilesToProcess)
  }

  test("numRows caps rows PER FILE (datasources.py:230,369)") {
    // 2 files x 2 rows; numRows = 1 takes each file's FIRST row (reference
    // per-file head semantics, not a global limit)
    val spec = SourceSpec(path = dir, format = "csv", descriptor = "t",
      timestampCol = "Timestamp",
      positionalTypes = Some(Seq(LongType, DoubleType, StringType)),
      numRows = Some(1))
    val rows = SourceLoader.load(spark, spec).collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(1000L, 3000L))
    // a cap above any file's row count changes nothing
    assert(SourceLoader.load(spark, spec.copy(numRows = Some(5))).count() == 4)
  }

  test("regex file ordering by extracted integer (S6, datasources.py:189-212)") {
    val fs = Seq("day-10.parquet", "day-2.parquet", "day-1.parquet", "README")
    assert(SourceLoader.orderFiles(fs, "\\d+") ==
      Seq("day-1.parquet", "day-2.parquet", "day-10.parquet"))
    // idx selects which match is the key: data-1-of-20 style names
    val multi = Seq("f-1-part3.parquet", "f-2-part1.parquet")
    assert(SourceLoader.orderFiles(multi, "\\d+", 1) ==
      Seq("f-2-part1.parquet", "f-1-part3.parquet"))
  }

  test("BOM-prefixed header validates cleanly") {
    val d = Files.createTempDirectory("graft_bom").toString
    Files.write(Paths.get(d, "a.csv"),
      ("﻿" + "Timestamp,Price\n1000,1.5\n").getBytes("UTF-8"))
    val df = SourceLoader.load(spark, SourceSpec(path = d, format = "csv",
      descriptor = "t", timestampCol = "Timestamp",
      positionalTypes = Some(Seq(LongType, DoubleType))))
    assert(df.columns.toSeq == Seq("Timestamp", "Price"))
    assert(df.count() == 1)
  }

  test("trailing separator in header fails loudly, not by mis-zipping") {
    val d = Files.createTempDirectory("graft_trail").toString
    Files.writeString(Paths.get(d, "a.csv"), "Timestamp,Price,\n1000,1.5,x\n")
    val e = intercept[IllegalArgumentException] {
      SourceLoader.load(spark, SourceSpec(path = d, format = "csv",
        descriptor = "t", timestampCol = "Timestamp",
        positionalTypes = Some(Seq(LongType, DoubleType))))
    }
    assert(e.getMessage.contains("positional types"), e.getMessage)
  }

  test("duplicate header names fail fast") {
    val d = Files.createTempDirectory("graft_duphdr").toString
    Files.writeString(Paths.get(d, "a.csv"), "a,a,b\n1,2,3\n")
    val e = intercept[IllegalArgumentException] {
      SourceLoader.load(spark, SourceSpec(path = d, format = "csv",
        descriptor = "t", timestampCol = "a",
        schema = Some(StructType(Seq(StructField("a", LongType),
          StructField("b", LongType), StructField("b", LongType))))))
    }
    assert(e.getMessage.contains("duplicate"), e.getMessage)
  }

  test("partitioned parquet layout falls back to partition discovery") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_part").toString + "/src"
    Seq((1000L, "x", 1), (2000L, "y", 2)).toDF("Timestamp", "V", "part")
      .write.partitionBy("part").parquet(d)
    val df = SourceLoader.load(spark, SourceSpec(path = d, descriptor = "p",
      timestampCol = "Timestamp"))
    assert(df.count() == 2)
    assert(df.columns.contains("part"))
  }

  test("fileSortRegex excludes non-matching files from processing") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_regex").toString + "/src"
    Seq((1000L, 1.0)).toDF("t", "v").coalesce(1).write.parquet(d)
    // add a decoy parquet file with no digits in its name
    val fs = new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(fs.toPath, Paths.get(d, "decoy.parquet"))
    val spec = SourceSpec(path = d, descriptor = "p", timestampCol = "t",
      fileSortRegex = Some("\\d+"))
    // only the part-NNNN file (1 row); the decoy is excluded entirely
    assert(SourceLoader.load(spark, spec).count() == 1)
  }

  test("jsonl source: declared schema, gz transparency, by-name binding") {
    val d = Files.createTempDirectory("graft_jsonl").toString
    Files.writeString(Paths.get(d, "part-1.jsonl"),
      """{"ts":1000,"text":"alpha","score":1.5}
        |{"text":"beta","ts":2000,"score":2.5}
        |""".stripMargin) // field order varies per line: binds by name
    // second file gzipped
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(Paths.get(d, "part-2.jsonl.gz").toFile))
    gz.write("""{"ts":3000,"text":"gamma","score":3.5}""".getBytes("UTF-8"))
    gz.close()

    val schema = StructType(Seq(StructField("ts", LongType),
      StructField("text", StringType), StructField("score", DoubleType)))
    val df = SourceLoader.load(spark, SourceSpec(path = d, format = "jsonl",
      descriptor = "docs", timestampCol = "ts", schema = Some(schema)))
    assert(df.schema == schema)
    assert(df.count() == 3)
    assert(df.orderBy("ts").collect().map(_.getString(1)).toSeq ==
      Seq("alpha", "beta", "gamma"))

    // inference without a declared schema still reads all rows
    val inferred = SourceLoader.load(spark, SourceSpec(path = d,
      format = "jsonl", descriptor = "docs", timestampCol = "ts"))
    assert(inferred.count() == 3)

    // empty dir is the standard NOVALIDFILES path
    val empty = Files.createTempDirectory("graft_jsonl_empty").toString
    intercept[NoValidFilesException](SourceLoader.load(spark,
      SourceSpec(path = empty, format = "jsonl", descriptor = "d", timestampCol = "ts")))
  }

  test("jsonl source fuses through FrameSource like any other input") {
    val d = Files.createTempDirectory("graft_jsonl_fuse").toString
    Files.writeString(Paths.get(d, "a.jsonl"),
      """{"ts":5,"v":"x"}
        |{"ts":1,"v":"y"}
        |""".stripMargin)
    val df = SourceLoader.load(spark, SourceSpec(path = d, format = "jsonl",
      descriptor = "j", timestampCol = "ts",
      schema = Some(StructType(Seq(StructField("ts", LongType),
        StructField("v", StringType))))))
    val fused = graft.core.Fuser.fuseFrames(
      Seq(FrameSource(df, "jdocs", "ts"))).df
    assert(fused.select(graft.core.Fuser.TimestampCol).collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 5L))
  }

  test("friendly type mapping (classes.py:95-100)") {
    assert(SourceLoader.friendlyType("int") == LongType)
    assert(SourceLoader.friendlyType("float") == DoubleType)
    assert(SourceLoader.friendlyType("str") == StringType)
    assert(SourceLoader.friendlyType("bool") == BooleanType)
    assert(SourceLoader.friendlyType("datetime") == TimestampType)
    intercept[IllegalArgumentException](SourceLoader.friendlyType("complex"))
  }

  // ---- parquet schemas from driver-side footers --------------------------

  /** The schema a parquet source loads with equals what `spark.read.parquet`
    * infers over the same files, both as the raw inferred schema (Spark's
    * own inference, which runs a job) and as the loaded frame's schema.
    */
  private def assertSchemaParity(dir: String): Unit = {
    val files = SourceLoader.listSourceFiles(spark, dir, "parquet")
    val touched = GraftFooters.schemaFiles(spark, files)
    val fromFooters = GraftFooters.inferSchema(spark, touched.zip(GraftFooters.read(spark, touched)))
    val fs = FileSystem.get(new URI(dir), spark.sparkContext.hadoopConfiguration)
    val inferred = ParquetUtils.inferSchema(spark, Map.empty,
      files.map(f => fs.getFileStatus(new Path(f)))).get
    assert(fromFooters == inferred)
    assert(SourceLoader.load(spark, SourceSpec(dir, descriptor = "s", timestampCol = "ts")).schema ==
      spark.read.parquet(files: _*).schema)
  }

  /** One parquet file written by parquet-mr from a message-type schema, so
    * `required` fields stay non-nullable.
    */
  private def writeMessage(file: java.nio.file.Path, schema: String, rows: Seq[Seq[Any]]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val mt = org.apache.parquet.schema.MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(new org.apache.parquet.io.LocalOutputFile(file))
      .withType(mt).build()
    val groups = new SimpleGroupFactory(mt)
    try rows.foreach { r =>
      val g = groups.newGroup()
      r.zipWithIndex.foreach {
        case (v: Long, i)   => g.add(i, v)
        case (v: Double, i) => g.add(i, v)
        case (v: String, i) => g.add(i, v)
        case (null, _)      => ()
        case (v, _)         => throw new IllegalArgumentException(s"unsupported value $v")
      }
      w.write(g)
    } finally w.close()
  }

  test("footer schema matches inference: a plain source") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_schema_plain").resolve("src")
    writeParquetFile(Seq((1000L, 1.5, "a")).toDF("ts", "price", "sym"), d.resolve("day_1.parquet"))
    writeParquetFile(Seq((2000L, 2.5, "b")).toDF("ts", "price", "sym"), d.resolve("day_2.parquet"))
    assertSchemaParity(d.toString)
  }

  test("footer schema matches inference: a second file adds a nullable column, with and without mergeSchema") {
    val d = Files.createTempDirectory("graft_schema_grow").resolve("src")
    Files.createDirectories(d)
    writeMessage(d.resolve("a.parquet"),
      "message m { required int64 ts; required double price; }", Seq(Seq[Any](1000L, 1.5)))
    writeMessage(d.resolve("b.parquet"),
      "message m { required int64 ts; required double price; optional binary note (UTF8); }",
      Seq(Seq[Any](2000L, 2.5, "x"), Seq[Any](3000L, 3.5, null)))
    assertSchemaParity(d.toString)
    withConf(Map("spark.sql.parquet.mergeSchema" -> "true")) {
      assertSchemaParity(d.toString)
      val df = SourceLoader.load(spark, SourceSpec(d.toString, descriptor = "s", timestampCol = "ts"))
      assert(df.columns.toSeq == Seq("ts", "price", "note"))
      assert(df.orderBy("ts").collect().map(r => Option(r.getString(2))).toSeq ==
        Seq(None, Some("x"), None))
    }
  }

  test("footer schema matches inference: Spark row metadata with a TimestampNTZ column") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_schema_ntz").resolve("src")
    val t = java.time.LocalDateTime.parse("2024-03-01T12:00:00")
    writeParquetFile(Seq((1000L, t, BigDecimal("1.25"))).toDF("ts", "at", "amount"),
      d.resolve("day_1.parquet"))
    val footer = GraftFooters.read(spark, SourceLoader.listSourceFiles(spark, d.toString, "parquet")).head.get
    assert(footer.getFileMetaData.getKeyValueMetaData.containsKey(
      "org.apache.spark.sql.parquet.row.metadata"))
    assertSchemaParity(d.toString)
    assert(SourceLoader.load(spark, SourceSpec(d.toString, descriptor = "s", timestampCol = "ts"))
      .schema("at").dataType == TimestampNTZType)
  }

  test("forceSchema parquet: per-file footer schemas, no job before the first action") {
    import spark.implicits._
    // `v` drifts: int64, double, int32 across the three files
    val d = Files.createTempDirectory("graft_force_drift").resolve("src")
    writeParquetFile(Seq((1000L, 1L), (1500L, 2L)).toDF("ts", "v"), d.resolve("f_1.parquet"))
    writeParquetFile(Seq((2000L, 2.5)).toDF("ts", "v"), d.resolve("f_2.parquet"))
    writeParquetFile(Seq((3000L, 7)).toDF("ts", "v"), d.resolve("f_3.parquet"))
    val schema = StructType(Seq(StructField("ts", LongType), StructField("v", DoubleType)))
    val spec = SourceSpec(d.toString, descriptor = "p", timestampCol = "ts",
      schema = Some(schema), forceSchema = true, fileSortRegex = Some("\\d+"))
    val (df, jobs) = jobsRun(SourceLoader.load(spark, spec))
    assert(jobs == 0)
    // the rows each file gives when Spark infers its schema
    val expected = SourceLoader.listSourceFiles(spark, d.toString, "parquet").map { f =>
      spark.read.parquet(f).select(col("ts"), col("v").cast(DoubleType).as("v"))
    }.reduce(_.unionByName(_))
    assert(df.schema == expected.schema)
    assert(df.orderBy("ts").collect().toSeq == expected.orderBy("ts").collect().toSeq)
  }
}
