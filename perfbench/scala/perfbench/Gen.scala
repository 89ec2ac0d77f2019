package perfbench

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types._

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream
import scala.jdk.CollectionConverters._

/** One source's events, ascending by `ts` with no repeated timestamp. */
final class SourceEvents(val ts: Array[Long], val symbol: Array[Int],
    val priceCents: Array[Long], val size: Array[Int]) {
  def length: Int = ts.length
}

/** Seeded input generators. They use only JVM code and the parquet library
  * Spark ships, never the program under test, and every file they write is a
  * pure function of (seed, size): the cache under the data root is keyed by
  * both.
  */
object Gen {

  val DayMs = 86400000L
  /** 2024-01-01T00:00:00Z. */
  val T0 = 1704067200000L

  // ---------------------------------------------------------------- fusion

  final case class FuseSize(eventsPerSource: Int, days: Int, symbols: Int) {
    def key: String = s"e$eventsPerSource-d$days-s$symbols"
  }

  /** Source i: name, on-disk format. Two parquet and two gzip CSV sources. */
  val FuseSources: Seq[(String, String)] =
    Seq("s0" -> "parquet", "s1" -> "parquet", "s2" -> "csv", "s3" -> "csv")

  val FuseSchema: StructType = StructType(Seq(
    StructField("ts", LongType), StructField("symbol", StringType),
    StructField("price", DoubleType), StructField("size", IntegerType)))

  def symbolName(i: Int): String = f"S$i%03d"

  def dayName(d: Int): String = {
    val date = LocalDate.of(2024, 1, 1).plusDays(d.toLong)
    f"${date.getYear}%04d${date.getMonthValue}%02d${date.getDayOfMonth}%02d"
  }

  /** Per source: `eventsPerSource` events spread over `days` days. Each day's
    * events are stratified into equal slots (one event per slot), so a
    * source's timestamps are strictly increasing; sources may share one.
    */
  def fuseEvents(seed: Long, size: FuseSize): IndexedSeq[SourceEvents] =
    FuseSources.indices.map { s =>
      val rnd = new SplittableRandom(seed * 1000003L + s)
      val n = size.eventsPerSource
      val ts = new Array[Long](n)
      val sym = new Array[Int](n)
      val price = new Array[Long](n)
      val qty = new Array[Int](n)
      var p = 10000L + rnd.nextInt(5000)
      var i = 0
      for (d <- 0 until size.days) {
        val nd = n / size.days + (if (d == size.days - 1) n % size.days else 0)
        val slot = DayMs / nd
        for (k <- 0 until nd) {
          ts(i) = T0 + d * DayMs + k * slot + rnd.nextLong(slot)
          sym(i) = rnd.nextInt(size.symbols)
          p = math.max(100L, p + rnd.nextInt(11) - 5)
          price(i) = p
          qty(i) = 1 + rnd.nextInt(1000)
          i += 1
        }
      }
      new SourceEvents(ts, sym, price, qty)
    }

  /** Write the fusion sources under `dir`: `<src>/<src>_<yyyymmdd>.<ext>`, one
    * chronological file per day.
    */
  def writeFuse(dir: Path, size: FuseSize, events: IndexedSeq[SourceEvents]): Unit =
    FuseSources.zip(events).foreach { case ((name, format), ev) =>
      val srcDir = dir.resolve(name)
      Files.createDirectories(srcDir)
      val dayOf = (t: Long) => ((t - T0) / DayMs).toInt
      for (d <- 0 until size.days) {
        val idx = (0 until ev.length).filter(i => dayOf(ev.ts(i)) == d)
        val file = srcDir.resolve(s"${name}_${dayName(d)}.${if (format == "csv") "csv.gz" else "parquet"}")
        if (format == "parquet")
          writeParquet(file, "message fuse { required int64 ts; required binary symbol (UTF8); " +
            "required double price; required int32 size; }", idx) { (g, i) =>
            g.add("ts", ev.ts(i))
            g.add("symbol", symbolName(ev.symbol(i)))
            g.add("price", ev.priceCents(i) / 100.0)
            g.add("size", ev.size(i))
          }
        else {
          val out = new BufferedWriter(new OutputStreamWriter(
            new GZIPOutputStream(Files.newOutputStream(file)), StandardCharsets.UTF_8))
          try {
            out.write("ts,symbol,price,size\n")
            idx.foreach { i =>
              val c = ev.priceCents(i)
              out.write(s"${ev.ts(i)},${symbolName(ev.symbol(i))},${c / 100}.${f"${c % 100}%02d"},${ev.size(i)}\n")
            }
          } finally out.close()
        }
      }
    }

  /** One snappy parquet file of `rows`, each filled into a record of `schema`. */
  def writeParquet[T](file: Path, schema: String, rows: Iterable[T])(fill: (Group, T) => Unit): Unit = {
    val mt = MessageTypeParser.parseMessageType(schema)
    val groups = new SimpleGroupFactory(mt)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(file)).withType(mt)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      fill(g, r)
      w.write(g)
    } finally w.close()
  }

  // ----------------------------------------------------------------- dedup

  final case class DedupSize(docs: Int, words: Int, vocab: Int) {
    def key: String = s"n$docs-w$words-v$vocab"
    /** Planted near-duplicate pairs: ids 100b+1 and 100b+3 copy ids 100b and
      * 100b+2 with the last word replaced (2% of docs).
      */
    def nearPairs: Int = (0 until docs).count(d => d % 100 == 1 || d % 100 == 3)
    /** Planted containments: id 100b+4 has doc 100b+5 appended (1% of docs). */
    def containments: Int = (0 until docs).count(d => d % 100 == 4 && d + 1 < docs)
  }

  /** Seeded corpus: `docs` documents of `words` words over a `vocab`-word
    * vocabulary, with the planted structure [[DedupSize]] describes.
    */
  def corpus(seed: Long, size: DedupSize): IndexedSeq[String] = {
    val rnd = new SplittableRandom(seed)
    val base = IndexedSeq.fill(size.docs)(Array.fill(size.words)(rnd.nextInt(size.vocab)))
    def text(ws: Array[Int]): String = ws.map(w => s"w$w").mkString(" ")
    base.indices.map { d =>
      d % 100 match {
        case 1 | 3 =>
          val ws = base(d - 1).clone()
          ws(ws.length - 1) = (ws.last + 1 + rnd.nextInt(size.vocab - 1)) % size.vocab
          text(ws)
        case 4 if d + 1 < size.docs => text(base(d)) + " " + text(base(d + 1))
        case _ => text(base(d))
      }
    }
  }

  /** The corpus as `parts` parquet files of (doc_id, text). */
  def writeCorpus(dir: Path, texts: IndexedSeq[String], parts: Int): Unit = {
    val out = dir.resolve("corpus")
    Files.createDirectories(out)
    texts.indices.grouped((texts.length + parts - 1) / parts).zipWithIndex.foreach { case (ids, p) =>
      writeParquet(out.resolve(f"part-$p%03d.parquet"),
        "message corpus { required int64 doc_id; required binary text (UTF8); }", ids) { (g, i) =>
        g.add("doc_id", i.toLong)
        g.add("text", texts(i))
      }
    }
  }

  // ----------------------------------------------------------------- cache

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** Run `write` into `dir` unless a completed copy is cached there, and
    * record the closed-form expectations next to it.
    */
  def cached(dir: Path, expected: Json)(write: Path => Unit): Unit =
    if (!Files.exists(dir.resolve("DONE"))) {
      deleteTree(dir)
      Files.createDirectories(dir)
      write(dir)
      Files.writeString(dir.resolve("expected.json"), expected.render + "\n")
      Files.writeString(dir.resolve("DONE"), "")
    }
}
