package graft.ops

import org.apache.spark.sql.{DataFrame, Row}

import java.util.concurrent.atomic.AtomicBoolean

/** Row-by-row replay into a driver-side callback — the reference's
  * event-dispatch boundary (`handler.process(ts, msg)`, core.py:487-513;
  * `distribute_to_event_handlers`, classes.py:280-286).
  *
  * In Spark the resample/fill pipeline stays columnar (see [[Resampler]]);
  * replay exists only for users who genuinely need ordered per-event
  * callbacks (e.g. feeding an event-driven backtester). `toLocalIterator`
  * streams one partition at a time to the driver, so memory is bounded by a
  * partition, and the cooperative stop flag mirrors the reference's
  * `continueprocessing` / FORCESTOP (core.py:123-132, 503-508).
  */
object Replay {

  sealed trait Status
  case object Ok        extends Status
  case object ForceStop extends Status
  /** No loadable files in any source (reference `NOVALIDFILESTOPROCESS`,
    * classes.py:690-705).
    */
  case object NoValidFilesToProcess extends Status

  /** Run a load-and-replay body, mapping an empty-source failure to the
    * reference's `NOVALIDFILESTOPROCESS` status instead of an exception —
    * the reference returns this status from `start_tsf` rather than raising
    * (classes.py:690-705).
    */
  def withSources(body: => Status): Status =
    try body
    catch { case _: graft.sources.NoValidFilesException => NoValidFilesToProcess }

  final class StopFlag {
    private val stopped = new AtomicBoolean(false)
    def stop(): Unit    = stopped.set(true)
    def isStopped: Boolean = stopped.get()
  }

  /** Replay `df` (already ordered) into `process(ts, row)`. Returns the final
    * status. `tsCol` must be epoch-ms Long. Runs one job per partition of
    * `df`: one for a [[graft.core.ForwardFill]] result under the coalescing
    * floor, whose two stages are the fill's sort (its map stage, which
    * scans the sources, ran in no earlier job) and the walk of its one
    * partition; but one per grid slice for a [[Resampler.resample]] result
    * there (up to the default parallelism), each re-reading the resample's
    * sort.
    */
  def replay(
      df: DataFrame,
      tsCol: String = graft.core.Fuser.TimestampCol,
      flag: StopFlag = new StopFlag)(process: (Long, Row) => Unit): Status = {
    val tsIdx = df.schema.fieldIndex(tsCol)
    val it    = df.toLocalIterator()
    while (it.hasNext) {
      if (flag.isStopped) return ForceStop
      val row = it.next()
      process(row.getLong(tsIdx), row)
    }
    Ok
  }
}
