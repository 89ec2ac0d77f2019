package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.Path
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark entry point, started by `perfbench/run.py`:
  *
  * {{{ perfbench.Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *       --data DIR --out DIR --sweep-data DIR --oracle-counts FILE }}}
  *
  * Prints one JSON result as its last stdout line and writes every raw value
  * to a file under `--out`. Everything else goes to stderr.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, paths: Paths)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("cores").toInt, Paths(Path.of(get("data")), Path.of(get("out")),
        Path.of(get("sweep-data")), Path.of(get("oracle-counts"))))
  }

  /** Largest heap occupancy after a collection, while `armed`. */
  final class HeapWatch extends NotificationListener {
    @volatile var armed = false
    @volatile var peak = 0L
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (armed && n.getType == "com.sun.management.gc.notification") {
        val info = n.getUserData.asInstanceOf[CompositeData]
        val after = info.get("gcInfo").asInstanceOf[CompositeData].get("memoryUsageAfterGc")
          .asInstanceOf[javax.management.openmbean.TabularData]
        val used = after.values().asScala.map { v =>
          v.asInstanceOf[CompositeData].get("value").asInstanceOf[CompositeData]
            .get("used").asInstanceOf[Long]
        }.sum
        if (used > peak) peak = used
      }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", a.paths.out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.paths.out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark.sparkContext, a.trace)
    val ready = Clock.nowMs
    val w = Workload(a.workload, a.seed, a.cores, a.paths)
    val failures = mutable.ArrayBuffer.empty[String]
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val heap = new HeapWatch
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    var session = spark
    val phase = mutable.LinkedHashMap.empty[String, Double]
    try {
      // inputs: generated once per (seed, size) and cached; not set-up time
      val g0 = Clock.nowMs
      w.prepare(spark)
      phase("gen_s") = (Clock.nowMs - g0) / 1000
      // set-up: open the inputs on a fresh session three times (median), then
      // the workload's untimed warm-up on the last session
      val opens = (1 to 3).map { _ =>
        val t0 = Clock.nowMs
        session = spark.newSession()
        w.open(session)
        Clock.nowMs - t0
      }
      val w0 = Clock.nowMs
      w.warmup(session, tracer)
      val warm = Clock.nowMs - w0
      phase("session_s") = (ready - jvmStart) / 1000
      phase("open_s") = Stats.median(opens) / 1000
      phase("warmup_s") = warm / 1000
      phase("setup_s") = phase("session_s") + phase("open_s") + phase("warmup_s")
      System.gc()

      // timed window: one closed-loop client, the next operation starts when
      // the previous one finishes. A traced run executes every operation
      // twice, traced and untraced in alternating order, to measure overhead.
      val windowStart = Clock.nowMs
      var i = 0
      def runOne(label: String, traced: Boolean, timed: Boolean): Unit = {
        val id = ops.length
        tracer.detailed = traced
        heap.armed = timed
        val c0 = cpu.getProcessCpuTime
        val t0 = Clock.nowMs
        val res =
          try tracer.op(id, label)(w.run(session, tracer, label))
          catch { case e: Throwable =>
            System.err.println(s"[perfbench] ${w.name} $label failed: $e")
            OpResult(None, None, Seq(s"$label threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
          }
        val t1 = Clock.nowMs
        val c1 = cpu.getProcessCpuTime
        heap.armed = false
        tracer.detailed = false
        ops += OpRec(id, label, t0, t1, traced, timed, res, (c1 - c0) / 1e9)
        System.gc()
      }
      while ((Clock.nowMs - windowStart) < a.seconds * 1000 || ops.count(_.timed) < 3) {
        val label = w.label(i)
        if (a.trace) {
          val order = if (i % 2 == 0) Seq(true, false) else Seq(false, true)
          order.foreach(tr => runOne(label, tr, timed = true))
        } else runOne(label, traced = false, timed = true)
        i += 1
      }
      phase("window_s") = (Clock.nowMs - windowStart) / 1000
      w.extraLabels.foreach(l => runOne(l, traced = a.trace, timed = false))

      // checks: per operation (listener data), then the workload's own
      tracer.drain()
      val layers = new Layers(tracer.listener, tracer.spans.toSeq, a.cores)
      val opBad = ops.toSeq.map(op => op.result.failures ++ w.checkOp(op.label, layers.opStats(op.id)))
      ops.zip(opBad).foreach { case (op, bad) =>
        if (bad.nonEmpty) failures += s"op ${op.id} (${op.label}): ${bad.mkString("; ")}"
      }
      val (extra, bad) =
        try w.finish(session, tracer)
        catch { case e: Throwable => (1, Seq(s"final checks threw $e")) }
      failures ++= bad.map(b => s"final: $b")
      val failed = opBad.count(_.nonEmpty) + (if (bad.nonEmpty) 1 else 0)

      Report.emit(a, w, ops.toSeq, layers, tracer, phase.toMap, heap.peak,
        ops.length + extra, failed, failures.toSeq)
    } catch { case e: Throwable =>
      System.err.println(s"[perfbench] ${a.workload} aborted: $e")
      e.printStackTrace()
      Report.aborted(math.max(1, ops.length), s"$e")
    } finally {
      spark.stop()
    }
  }
}
