package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.{FormattedMode, LogicalRDD}
import org.apache.spark.sql.graftbridge.Bridge

/** Dev runner on the bench's run path ([[Harness.runQuery]]): the queries
  * named (all when none are), in the bench session, over
  * `SPARK_GRAFT_SF_DIR`.
  *
  * {{{
  * sbt "runMain graft.Dev ab <reps> [query ...]"    # gated vs ungated, interleaved
  * sbt "runMain graft.Dev plan <outDir> [query ...]" # <outDir>/<query>.txt
  * sbt "runMain graft.Dev stats [query ...]"         # logical-plan shape, one line each
  * }}}
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name the scale-factor directory"))
    args.toList match {
      case "ab" :: reps :: names => withSession(ab(_, sfDir, reps.toInt, names))
      case "plan" :: outDir :: names => withSession(plan(_, sfDir, outDir, names))
      case "stats" :: names => withSession(stats(_, sfDir, names))
      case _ => sys.error("usage: graft.Dev ab <reps> | plan <outDir> | stats [query ...]")
    }
  }

  private def withSession(body: SparkSession => Unit): Unit = {
    val spark = Harness.session()
    try body(spark) finally spark.stop()
  }

  /** The gated run path against the same path ungated, interleaved in one
    * JVM (the same-window A/B protocol): one discarded warm-up, then `reps`
    * gated/ungated pairs; min per side.
    */
  private def ab(spark: SparkSession, sfDir: String, reps: Int,
      names: Seq[String]): Unit =
    Harness.select(names).foreach { name =>
      def run(gated: Boolean): Double = {
        val t0 = System.nanoTime()
        Harness.runQuery(spark, name, sfDir, gated)(
          _.write.format("noop").mode("overwrite").save())
        val s = (System.nanoTime() - t0) / 1e9
        System.gc()
        s
      }
      run(gated = true)
      val pairs = (1 to reps).map(_ => (run(gated = true), run(gated = false)))
      val (gated, ungated) = pairs.unzip
      def raw(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString(",")
      println(f"$name%-24s gated=${gated.min}%.3f ungated=${ungated.min}%.3f " +
        f"ratio=${gated.min / ungated.min}%.2f  rawGated=${raw(gated)} rawUngated=${raw(ungated)}")
    }

  /** The formatted physical plan each query's gated action runs. The gate
    * sets session conf around its body and an action builds a fresh
    * QueryExecution under it; `Bridge.reanalyze` is that rebuild.
    */
  private def plan(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    Harness.select(names).foreach { name =>
      try {
        val text = Harness.runQuery(spark, name, sfDir)(
          df => Bridge.reanalyze(df).queryExecution.explainString(FormattedMode))
        Files.writeString(Paths.get(outDir, s"$name.txt"), text)
        System.err.println(s"[dev] wrote $name")
      } catch { case e: Throwable => System.err.println(s"[dev] $name FAILED: $e") }
    }
  }

  /** Logical-plan shape per query: leaves and their estimated bytes, joins,
    * generates, checkpoint leaves, windows and aggregates.
    */
  private def stats(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit =
    Harness.select(names).foreach { name =>
      try println(Harness.runQuery(spark, name, sfDir) { df =>
        var joins, gens, rdds, windows, aggs, leaves = 0
        var bytes = BigInt(0)
        df.queryExecution.analyzed.foreach {
          case _: Join => joins += 1
          case _: Generate => gens += 1
          case l: LogicalRDD => rdds += 1; leaves += 1; bytes += l.stats.sizeInBytes
          case _: Window => windows += 1
          case _: Aggregate => aggs += 1
          case l: LeafNode => leaves += 1; bytes += l.stats.sizeInBytes
          case _ =>
        }
        f"$name%-24s leaves=$leaves%2d bytes=$bytes%12d joins=$joins%2d gens=$gens%2d " +
          f"ckptRdds=$rdds%2d windows=$windows%2d aggs=$aggs%2d"
      })
      catch { case e: Throwable => println(s"$name FAILED: $e") }
    }
}
