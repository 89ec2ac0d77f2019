package perfbench

/** Output checks. Each takes what the program produced plus what the
  * generator knows, and returns the failed conditions (empty when correct).
  * Expectations are derived from the generated events alone, never from the
  * program under test.
  */
object Checks {

  // ---------------------------------------------------------- fuse_resample

  /** Grid size of a resample with tail flush: boundaries are
    * `b0 + k*step` with `b0` the first step multiple strictly after the first
    * event, every boundary at or before the last event, plus one after it.
    */
  def gridRows(minTs: Long, maxTs: Long, stepMs: Long): Long = {
    val b0 = Math.floorDiv(minTs, stepMs) * stepMs + stepMs
    Math.floorDiv(maxTs - b0, stepMs) + 2
  }

  /** The event a boundary reports: the last one strictly before it, in
    * (timestamp, source index) order. Returns (source, price in cents).
    */
  def lastBefore(events: IndexedSeq[SourceEvents], boundary: Long): Option[(Int, Long)] = {
    var best: Option[(Long, Int, Long)] = None
    events.zipWithIndex.foreach { case (ev, s) =>
      // index of the first event at or after the boundary
      var lo = 0
      var hi = ev.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ev.ts(mid) < boundary) lo = mid + 1 else hi = mid
      }
      if (lo > 0) {
        val cand = (ev.ts(lo - 1), s, ev.priceCents(lo - 1))
        if (best.forall(b => cand._1 > b._1 || (cand._1 == b._1 && cand._2 > b._2)))
          best = Some(cand)
      }
    }
    best.map(b => (b._2, b._3))
  }

  /** `sampled`: boundary -> the row's per-source price columns in cents. */
  def fuseResample(events: IndexedSeq[SourceEvents], stepMs: Long, fusedRows: Long,
      gridRowsSeen: Long, unfilledRows: Long,
      sampled: Map[Long, IndexedSeq[Option[Long]]]): Seq[String] = {
    val total = events.map(_.length.toLong).sum
    val minTs = events.map(_.ts.head).min
    val maxTs = events.map(_.ts.last).max
    val grid = gridRows(minTs, maxTs, stepMs)
    val bad = Seq.newBuilder[String]
    if (fusedRows != total) bad += s"fused rows $fusedRows != source rows $total"
    if (gridRowsSeen != grid) bad += s"grid rows $gridRowsSeen != closed form $grid"
    if (unfilledRows > 1) bad += s"$unfilledRows rows with no price (at most 1 allowed)"
    if (sampled.isEmpty) bad += "no sampled boundary found in the output"
    sampled.toSeq.sortBy(_._1).foreach { case (b, seen) =>
      val want = lastBefore(events, b) match {
        case Some((s, c)) => events.indices.map(i => if (i == s) Some(c) else None)
        case None => events.indices.map(_ => None)
      }
      if (seen != want) bad += s"boundary $b: prices $seen, expected $want"
    }
    bad.result()
  }

  // ------------------------------------------------------------ fuse_replay

  /** What a replay of the window [start, end] with forward fill must deliver:
    * (row count, checksum). The checksum is order-insensitive: a sum over
    * rows of the timestamp, the source id and every source's (forward-filled)
    * price in cents, so it also pins the fill.
    */
  def replayExpected(events: IndexedSeq[SourceEvents], start: Long, end: Long): (Long, Long) = {
    val merged = events.zipWithIndex.flatMap { case (ev, s) =>
      (0 until ev.length).iterator.filter(i => ev.ts(i) >= start && ev.ts(i) <= end)
        .map(i => (ev.ts(i), s, ev.priceCents(i)))
    }.sortBy(e => (e._1, e._2))
    val last = Array.fill[Option[Long]](events.length)(None)
    var sum = 0L
    merged.foreach { case (ts, s, c) =>
      last(s) = Some(c)
      sum += rowChecksum(ts, s, last.toIndexedSeq)
    }
    (merged.length.toLong, sum)
  }

  def rowChecksum(ts: Long, source: Int, pricesCents: IndexedSeq[Option[Long]]): Long =
    ts * 31L + source + pricesCents.zipWithIndex.map { case (p, i) =>
      p.getOrElse(0L) * (i + 7L)
    }.sum

  def fuseReplay(expected: (Long, Long), rows: Long, checksum: Long,
      monotone: Boolean): Seq[String] = {
    val bad = Seq.newBuilder[String]
    if (rows != expected._1) bad += s"replayed $rows rows, direct count ${expected._1}"
    if (!monotone) bad += "timestamps decreased during replay"
    if (checksum != expected._2) bad += s"checksum $checksum != expected ${expected._2}"
    bad.result()
  }

  // ------------------------------------------------------------ dedup_scale

  def dedup(size: Gen.DedupSize, kept: Long, minhashClustered: Long,
      containment: Long): Seq[String] = {
    val bad = Seq.newBuilder[String]
    val keep = size.docs.toLong - size.nearPairs
    if (kept != keep) bad += s"kept $kept docs, expected ${size.docs} - ${size.nearPairs} = $keep"
    if (minhashClustered < 2L * size.nearPairs)
      bad += s"minhash clusters cover $minhashClustered ids < ${2 * size.nearPairs} planted"
    val planted = size.containments + 2L * size.nearPairs
    if (containment < planted) bad += s"containment pairs $containment < $planted planted"
    bad.result()
  }

  // ------------------------------------------------------------ query_sweep

  def queryCount(name: String, rows: Long, oracle: Option[Long]): Seq[String] = oracle match {
    case None => Seq(s"$name: no oracle count recorded")
    case Some(o) if o != rows => Seq(s"$name: $rows rows, oracle $o")
    case _ => Nil
  }
}
