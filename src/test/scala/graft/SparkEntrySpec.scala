package graft

/** The driver's smoke contract: entry() returns rows on a plain session. */
class SparkEntrySpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("entry runs end-to-end on sf0.001 and returns rows") {
    assumeTestData(dir)
    val df = SparkEntry.entry(spark)
    assert(df.columns.contains(core.Fuser.TimestampCol))
    assert(df.count() > 0)
  }

  test("every query name has an oracle") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet).isEmpty)
  }

  test("query names in the registry are unique") {
    val names = SparkEntry.queryDefs.map(_.name)
    assert(names.diff(names.distinct).isEmpty, "duplicate query names")
    assert(SparkEntry.queries.size == names.size)
  }

  test("Harness.runQuery matches a plain collect and releases its checkpoints") {
    assumeTestData(dir)
    def cachedRdds = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    // a forward-filled frame is an RDD leaf too, but not a checkpoint
    def hasCheckpointLeaf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectLeaves().exists {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.isCheckpointed
        case _ => false
      }
    for ((q, checkpointed) <- Seq("q_ffill" -> false, "q_dedup_clusters" -> true)) {
      val plain = pipeline.Dedup.withMaterialized(
        SparkEntry.queries(q)(spark, dir).collect().map(_.toString).sorted.toSeq)
      val before = cachedRdds
      val viaHarness = Harness.runQuery(spark, q, dir) { df =>
        assert(hasCheckpointLeaf(df) == checkpointed, s"$q checkpoint leaf")
        if (checkpointed) assert(cachedRdds.diff(before).nonEmpty, s"$q stored no checkpoint")
        df.collect().map(_.toString).sorted.toSeq
      }
      assert(viaHarness.nonEmpty && viaHarness == plain, q)
      assert(cachedRdds.diff(before).isEmpty, s"$q left RDD blocks behind")
    }
  }

  test("all queries run non-empty at sf0.001") {
    assumeTestData(dir)
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(n > 0, s"$name returned no rows at sf0.001")
    }
  }
}
