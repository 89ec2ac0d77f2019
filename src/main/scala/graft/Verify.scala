package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // optional extra args: restrict the dump to these queries (local
    // iteration only — the driver always passes exactly two args)
    Harness.select(args.drop(2).toSeq).foreach { name =>
      // Remove any previous dump FIRST: a query that fails mid-run must
      // leave no stale parquet behind, or a rerun into the same outDir
      // would let the parity gate silently pass on last run's results.
      val dest = Paths.get(s"$outDir/$name")
      if (Files.exists(dest)) {
        import scala.jdk.CollectionConverters._
        Files.walk(dest).iterator().asScala.toSeq.reverse
          .foreach(p => Files.deleteIfExists(p))
      }
      // the bench's run path, so the dumped results are produced under the
      // exact configuration the bench times and the parity gate covers the
      // gated plans too
      try Harness.runQuery(spark, name, sfDir)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Oracles may re-derive one query from another query's dump (e.g. IVF
    // cells from exported centroids): resolve the placeholder to THIS run's
    // dump directory so the driver's DuckDB reads the matching artifacts.
    val outAbs = Paths.get(outDir).toAbsolutePath.toString
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__VERIFY_OUT__", outAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
