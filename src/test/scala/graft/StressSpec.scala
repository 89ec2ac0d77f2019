package graft

/** The stages of [[Stress]] at a small `n`, in every partition mode, so
  * their closed-form row counts run on both `SortedScan` paths: the gated
  * one-partition sort and the range sort.
  */
class StressSpec extends SparkTestBase {

  test("Stress: the paper's path meets its closed forms in every partition mode") {
    inEachMode(Stress.run(spark, 20000L))
  }
}
