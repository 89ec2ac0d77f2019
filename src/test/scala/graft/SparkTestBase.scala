package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session, forked sbt test). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkTestBase.session

  /** Skip (not fail) when the driver-generated fixtures are absent. */
  def assumeTestData(dir: String): Unit =
    assume(new java.io.File(dir).isDirectory, s"fixture dir $dir not present")

  /** Run `body` with the session confs in `conf` set, restoring them after. */
  def withConf[T](conf: Map[String, String])(body: => T): T = {
    val prior = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Adaptive execution off, 8 shuffle partitions. */
  val aqeOff: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "false", "spark.sql.shuffle.partitions" -> "8")

  /** Adaptive execution on and 8 shuffle partitions. */
  private val aqeOn: Map[String, String] = Map("spark.sql.adaptive.enabled" -> "true",
    "spark.sql.shuffle.partitions" -> "8")

  /** The modes a partition-boundary case runs in. "AQE on" pins the
    * adaptive gate's threshold to zero, so `SortedScan` range-sorts a small
    * input as it does a large one, and sets a coalescing floor of one byte,
    * so the coalesced reads of the sort still hold several partitions. In
    * the gated mode the gate and the floor are at their defaults, and a
    * small input is sorted as one partition.
    */
  val partitionModes: Seq[(String, Map[String, String])] = Seq(
    "AQE on" -> (aqeOn ++ Map("spark.graft.adaptive.smallPlanBytes" -> "0",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1")),
    "AQE off, 8 partitions" -> aqeOff,
    "gated, one partition" -> aqeOn)

  /** True under the session conf of the gated partition mode. */
  def gatedMode: Boolean =
    spark.conf.get("spark.sql.adaptive.enabled") == "true" &&
      spark.conf.getOption("spark.graft.adaptive.smallPlanBytes").isEmpty

  /** A small `SortedScan` result has exactly one partition in the gated
    * mode, and more than one partition holding rows in the range modes.
    */
  def assertSortPartitions(df: DataFrame): Unit =
    if (gatedMode) assert(partitionSizes(df).length == 1)
    else assert(partitionSizes(df).count(_ > 0) > 1)

  /** One test per partition mode, named `name [mode]`. */
  def inBothModes(name: String)(body: => Unit): Unit =
    partitionModes.foreach { case (mode, conf) => test(s"$name [$mode]")(withConf(conf)(body)) }

  /** Rows per partition of `df`, in partition order. */
  def partitionSizes(df: DataFrame): Seq[Int] =
    df.queryExecution.toRdd.mapPartitions(it => Iterator.single(it.size)).collect().toSeq

  /** Run `body` once in each partition mode, inside one test. */
  def inEachMode(body: => Unit): Unit =
    partitionModes.foreach { case (mode, conf) => withClue(s"[$mode] ")(withConf(conf)(body)) }

  /** Run `body` and count the Spark jobs it starts (by a job group set for
    * it). A marker job run afterwards flushes the listener bus, which
    * delivers events in order.
    */
  def jobsRun[T](body: => T): (T, Int) = {
    val (out, jobs, _) = jobsAndInputRecords(body)
    (out, jobs)
  }

  /** [[jobsRun]], also counting the input records the tasks of those jobs
    * read (listener task metrics: the rows a scan delivers).
    */
  def jobsAndInputRecords[T](body: => T): (T, Int, Long) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageCompleted, SparkListenerStageSubmitted}
    val sc = spark.sparkContext
    val group = s"jobs-run-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val records = new java.util.concurrent.atomic.AtomicLong
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    def inGroup(props: java.util.Properties): Option[String] =
      Option(props).map(_.getProperty("spark.jobGroup.id"))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        inGroup(e.properties).foreach { g =>
          if (g == group) jobs.incrementAndGet()
          else if (g == s"$group-flush") flushed.countDown()
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (inGroup(e.properties).contains(group)) stages.add(e.stageInfo.stageId)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stages.contains(e.stageInfo.stageId))
          records.addAndGet(e.stageInfo.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-flush", "flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not flush")
      (out, jobs.get, records.get)
    } finally sc.removeSparkListener(listener)
  }

  /** The file scans of `df`'s executed plan, adaptive execution unwrapped. */
  def fileScans(df: DataFrame): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }

  /** Write `df` as the one parquet file `file` (a Spark write to a scratch
    * directory, whose single part file is moved into place).
    */
  def writeParquetFile(df: DataFrame, file: java.nio.file.Path): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_pqfile").resolve("out")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.createDirectories(file.getParent)
    java.nio.file.Files.move(part.toPath, file)
  }

  /** Run `body` against a genuinely new SparkSession built with
    * GraftExtensions (extensions only apply at build time), restoring the
    * shared session afterwards and never stopping the shared context.
    */
  def withExtensionsSession[T](body: SparkSession => T): T = {
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[2]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      body(s)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prior.foreach(SparkSession.setDefaultSession)
    }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
