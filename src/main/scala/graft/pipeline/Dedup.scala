package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, n-gram Jaccard, MinHash+LSH and SimHash.
  *
  * Scale shapes:
  *  - exact: one hash-groupBy (map-side combined) on a digest of the text —
  *    never shuffles full documents, only (digest, id).
  *  - n-gram Jaccard: explode shingles → self-join on shingle → count shared.
  *    The shingle join is the classic inverted-index plan; hot shingles are
  *    the skew risk, so `jaccardPairs` takes a document-frequency cap that
  *    drops stop-shingles before the join (standard trick, keeps AQE happy).
  *  - MinHash+LSH: signature = per-band min of digest; candidates share a
  *    (band, bucket) key → the join is on tiny fixed-width keys.
  *  - SimHash: 64-bit signature via bit-voting; near-dups = equal signatures
  *    (or banded signature pieces for Hamming distance > 0).
  *
  * All digests are md5-based (deterministic, identical across engines) so
  * correctness oracles can reproduce signatures bit-for-bit.
  */
object Dedup {

  /** Materialize a narrow intermediate once before a self-join.
    *
    * AQE does not reuse the identical exchanges of a self-join's two sides
    * (measured: the signature/shingle lineage is descended once per side),
    * so the expensive upstream of every banded dedup join would run twice.
    * An EAGER localCheckpoint runs the lineage exactly once and replaces it
    * with the materialized partitions; lazy persist would not be enough —
    * the two map stages of a shuffle join launch concurrently and would
    * both compute the not-yet-cached partitions. The checkpointed tables
    * are narrow (ids + fixed-width hashes, never document text), so the
    * stored footprint is a small fraction of the input even at corpus
    * scale. Trade-off: local checkpoints are not lineage-recoverable on
    * executor loss — the job re-runs instead, the standard batch trade.
    *
    * Lifecycle: the checkpointed blocks live until the JVM exits (fine for
    * one-shot batch jobs). A long-lived session issuing many dedup/ANN
    * queries should bracket each query + its consuming action in
    * [[withMaterialized]], which unpersists every checkpoint created inside
    * the bracket on exit.
    */
  private[graft] def materializeOnce(df: DataFrame): DataFrame = {
    val out   = df.localCheckpoint()
    val stack = scopeStack.get()
    if (!stack.isEmpty) stack.peek() += out
    out
  }

  /** [[materializeOnce]] for ITERATIVE loop state (the Graph fixpoints):
    * additionally strips the checkpoint's propagated origin statistics.
    * A loop whose round output has two consumers (a self-join, or feeding
    * both the next candidate join and the change probe) SQUARES the
    * carried `sizeInBytes` estimate every round — the BigInt's digit
    * count doubles per round and the driver ends up multiplying
    * million-digit numbers at plan time (see
    * [[org.apache.spark.sql.graftbridge.Bridge.dropOriginStats]] for the
    * measured pathology). One-shot checkpoints should keep
    * [[materializeOnce]] — their real statistics feed broadcast planning.
    */
  private[graft] def materializeOnceLoop(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.Bridge.dropOriginStats(materializeOnce(df))

  /** [[materializeOnce]] for a frame an iterative operator will JOIN on
    * `keys` every round: explicit-count `repartition(n, keys)` (an
    * explicit count is never AQE-coalesced, so the physical layout is
    * exactly `hashpartitioning(keys, n)`), checkpoint, then STAMP the
    * resulting `LogicalRDD` with that partitioning — under AQE the
    * checkpoint otherwise reports `UnknownPartitioning` and every round
    * re-exchanges a table that is already laid out (measured: the
    * components loop re-shuffled its 3M-row symmetrized edge table every
    * round). Origin stats are dropped (the stamp rebuilds the node), so
    * this is loop-safe like [[materializeOnceLoop]]; loop code places its
    * own size-gated broadcast hints.
    */
  private[graft] def materializeOnceKeyed(
      df: DataFrame, keys: Seq[String], numPartitions: Int): DataFrame =
    org.apache.spark.sql.graftbridge.Bridge.stampHashPartitioning(
      materializeOnce(df.repartition(numPartitions, keys.map(col): _*)),
      keys, numPartitions)

  /** Open checkpoint scopes on this thread (innermost first); checkpoints
    * register to the innermost scope only — a nested bracket releases its
    * own checkpoints without touching the outer scope's.
    */
  private val scopeStack =
    ThreadLocal.withInitial[java.util.ArrayDeque[scala.collection.mutable.Buffer[DataFrame]]](
      () => new java.util.ArrayDeque())

  /** Bracket for long-lived sessions: every checkpoint [[materializeOnce]]
    * creates inside `body` (on this thread) is unpersisted when the bracket
    * exits, so repeated dedup/ANN queries don't leak storage. The bracket
    * must enclose the CONSUMING ACTION too — a local checkpoint has no
    * lineage to recompute from, so a frame escaping the bracket lazily
    * cannot be evaluated after its blocks are dropped.
    */
  def withMaterialized[T](body: => T): T = {
    val stack = scopeStack.get()
    val scope = scala.collection.mutable.Buffer.empty[DataFrame]
    stack.push(scope)
    try body
    finally {
      stack.pop()
      scope.foreach { df =>
        df.queryExecution.analyzed.collectLeaves().foreach {
          case r: org.apache.spark.sql.execution.LogicalRDD =>
            r.rdd.unpersist(blocking = false)
          case _ =>
        }
      }
    }
  }

  /** Exact dedup: keep the lowest-id row per distinct text digest.
    * Returns (idCol, digest, dupCount).
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("digest"))
      .groupBy(col("digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact dedup applied: one representative row per distinct text. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = exactGroups(df, textCol, idCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Incremental ingest dedup: rows of `newDocs` whose `textCol` does NOT
    * already appear in `prior` — the every-day shape of appending a new
    * batch to an existing corpus.
    *
    * Why not a plain anti-join: when `prior` is far past broadcast size
    * (the 100 TB corpus), an anti-join shuffles the ENTIRE new batch
    * against it. Instead a Bloom artifact over the prior texts splits the
    * batch map-side: probe-negative rows are DEFINITIVELY new (the no-
    * false-negative guarantee) and skip the join entirely; only probe-
    * positive suspects — true dupes plus ~`fpp` false positives — reach
    * the exact anti-join that settles them. The join's left input shrinks
    * from |batch| to |dupes| + fpp·|batch| regardless of corpus size.
    *
    * The two result branches each descend `newDocs` (narrow, pruned);
    * persist the batch first if its scan is expensive. Exactness does not
    * depend on the filter: a saturated Bloom only grows the suspect side.
    */
  def newAgainstPrior(
      newDocs: DataFrame,
      textCol: String,
      prior: DataFrame,
      priorTextCol: String,
      expectedPriorDistinct: Long,
      fpp: Double = 0.01): DataFrame = {
    val priorTexts = prior.select(col(priorTextCol).as(textCol)).distinct()
    val bloom = Sketches.bloomBuild(priorTexts, textCol, expectedPriorDistinct, fpp)
    val probed = Sketches.bloomProbe(newDocs, textCol, bloom, outCol = "__maybe")
    val definitelyNew = probed.filter(!col("__maybe")).drop("__maybe")
    val settledNew = probed.filter(col("__maybe")).drop("__maybe")
      .join(priorTexts, Seq(textCol), "left_anti")
    definitelyNew.unionByName(settledNew)
  }

  /** Distinct word n-gram shingles per doc: (id, shingle). String-valued —
    * for consumers that OUTPUT shingles (ngram frequency reports); the
    * join/count paths use [[explodedShingleHashes]].
    */
  def explodedShingles(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.select(col(idCol),
        explode(array_distinct(TextAnalysis.shingles(col(textCol), n))).as("shingle"))

  /** Distinct word n-gram shingle HASHES per doc: (id, shingle: long),
    * `shingle = xxhash64(shingle string)` computed by the
    * [[graft.functions.ShingleHashes]] byte-scan kernel — bit-identical
    * values to `xxhash64` over [[explodedShingles]]'s strings, with no
    * shingle string ever allocated. Every join/count consumer was already
    * on hashed keys (the ~2^-40-per-pair collision stance documented at
    * [[jaccardPairs]]); this moves the hashing before the explode.
    */
  def explodedShingleHashes(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.select(col(idCol),
        explode(array_distinct(
          graft.functions.ShingleHashes.shingleHashes(col(textCol), n))).as("shingle"))

  /** Near-duplicate pairs by exact n-gram Jaccard similarity >= `threshold`.
    * `maxShingleDf` drops shingles appearing in more than that many docs
    * (stop-shingle skew guard); pass Int.MaxValue for exact semantics.
    * Output: (id_a, id_b, jaccard) with id_a < id_b.
    */
  def jaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxShingleDf: Int = Int.MaxValue): DataFrame = {
    // Join on a 64-bit hash of the shingle, not the string: narrower shuffle
    // and cheaper equality. Collision probability at corpus scale is ~2^-40+
    // per pair and only perturbs a count by 1 — far below any threshold.
    val sh = explodedShingleHashes(df, textCol, idCol, n)
    val filteredLineage =
      if (maxShingleDf == Int.MaxValue) sh
      else {
        // df cap as a count window over the shingle partitioning rather than
        // a groupBy + anti-join: the regex-heavy shingle lineage is descended
        // once, and the self-join below shuffles on the same key, so the
        // window's exchange is the join's exchange (ReusedExchange). A hot
        // shingle does serialize its own rows into one window task, but that
        // is O(df) counting — the guard's job is to stop the O(df²) join
        // blowup, and df-linear work per key is what any groupBy pays too.
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))
        sh.withColumn("__df", count(lit(1)).over(w))
          .filter(col("__df") <= maxShingleDf).drop("__df")
      }
    // The filtered inverted index feeds three consumers (sizes + both join
    // sides): materialize the regex-heavy shingle lineage exactly once.
    val filtered = materializeOnce(filteredLineage)
    // Sizes from the SAME filtered universe as the shared counts — mixing
    // filtered numerators with unfiltered denominators would systematically
    // underestimate similarity for docs containing capped shingles.
    val sizes = filtered.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))

    val a = filtered.select(col(idCol).as("id_a"), col("shingle"))
    val b = filtered.select(col(idCol).as("id_b"), col("shingle"))
    val shared = a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))

    shared
      .join(sizes.select(col(idCol).as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("n_a") + col("n_b") - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Corpus snapshot diff: per id, whether a document was `added`,
    * `removed`, `changed` (same id, different content digest) or `same`
    * between two snapshots — the audit table every scheduled re-crawl /
    * re-export pipeline publishes before promoting a snapshot (count
    * deltas catch a silently truncated export or an upstream rewrite
    * faster than any content metric).
    *
    * Scale shape: both sides reduce to (id, md5) projections first — the
    * full outer join carries 16-byte digests, never documents — one
    * id-keyed shuffle, output one row per id in either snapshot.
    */
  def snapshotDiff(
      before: DataFrame,
      after: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val a = before.select(col(idCol), md5(col(textCol)).as("__da"))
    val b = after.select(col(idCol), md5(col(textCol)).as("__db"))
    a.join(b, Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("__db").isNull, lit("removed"))
          .when(col("__da").isNull, lit("added"))
          .when(col("__da") === col("__db"), lit("same"))
          .otherwise(lit("changed")))
      .select(col(idCol), col("status"))
  }

  /** Asymmetric near-dup by n-gram CONTAINMENT (Broder's resemblance
    * companion): `C(A→B) = |A∩B| / |A|` — "how much of A lives inside B".
    * Jaccard misses the short-doc-inside-long-doc case (the union term
    * dilutes it); containment is the standard detector for quoted/embedded
    * duplication in crawl corpora. Output: one DIRECTED row
    * (id_a, id_b, containment) per ordered pair with `containment` =
    * shared/|A| ≥ threshold, id_a ≠ id_b, rounded for the cross-engine
    * compare (a ratio of exact integer counts).
    *
    * Scale shape: identical to [[jaccardPairs]] — one materialized hashed
    * inverted index feeds sizes and both join sides; the unordered shared
    * counts fan into the two directions AFTER aggregation, so the join
    * work is not doubled. Same `maxShingleDf` skew guard.
    */
  def containmentPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.9,
      maxShingleDf: Int = Int.MaxValue,
      roundTo: Int = 6): DataFrame = {
    val sh = explodedShingleHashes(df, textCol, idCol, n)
    val filteredLineage =
      if (maxShingleDf == Int.MaxValue) sh
      else {
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))
        sh.withColumn("__df", count(lit(1)).over(w))
          .filter(col("__df") <= maxShingleDf).drop("__df")
      }
    val filtered = materializeOnce(filteredLineage)
    val sizes = filtered.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val a = filtered.select(col(idCol).as("id_a"), col("shingle"))
    val b = filtered.select(col(idCol).as("id_b"), col("shingle"))
    // materialized: the union below fans this frame into two branches, and
    // without a checkpoint the dominant shingle self-join + pair aggregation
    // lineage would re-execute once per direction. (A 2-struct explode that
    // emits both directions in one pass — making this single-consumer and
    // checkpoint-free — was measured in r16 and LOST 3 of 4 interleaved
    // rounds: the final ORDER BY's range sampler re-executes its
    // now-unmaterialized child, eating the saved job. See
    // OPTIMIZATION_r16.md.)
    val shared = materializeOnce(a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col(idCol).as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("n_sh").as("n_b")), Seq("id_b")))
    // both directions from the one aggregated pair row
    val dirs = shared.select(col("id_a"), col("id_b"), col("shared"), col("n_a"))
      .union(shared.select(col("id_b").as("id_a"), col("id_a").as("id_b"),
        col("shared"), col("n_b").as("n_a")))
    dirs
      .withColumn("containment",
        round(col("shared").cast("double") / col("n_a").cast("double"), roundTo))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** MinHash signatures as a table: ONE narrow byte-scan kernel per doc
    * ([[graft.functions.MinHashSig]] — hash function i =
    * `xxhash64(i, shingle)`, the identical chained-seed family, pinned
    * bit-equal by MinHashSigSpec). Output: (idCol, __mh0..__mh{n-1}),
    * docs with < n words dropped — the same rows the pre-r10
    * explode→groupBy formulation produced, WITHOUT its per-shingle
    * string allocation, its (shingle × numHashes) aggregate updates, or
    * its corpus-wide doc-keyed shuffle: the signature is now a per-row
    * expression and LSH banding runs straight off the scan.
    */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
      n: Int, numHashes: Int): DataFrame = {
    val sig = graft.functions.MinHashSig.minHashSig(col(textCol), n, numHashes)
    df.select(col(idCol), sig.as("__sig"))
      .filter(col("__sig").isNotNull)
      .select(col(idCol) +:
        (0 until numHashes).map(i => col("__sig").getItem(i).as(s"__mh$i")): _*)
  }

  /** LSH candidate pairs: split the signature into `bands` bands of `rowsPerBand`
    * hashes; docs sharing any band bucket become candidates; candidates are
    * verified with exact Jaccard (computed on just the candidate pairs via
    * `array_intersect`, not a full-corpus shingle join) when
    * `verifyThreshold` > 0.
    */
  def minhashLshPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 2,
      verifyThreshold: Double = 0.0): DataFrame = {
    val numHashes = bands * rowsPerBand
    // One row per doc of fixed-width hashes: materialize so the shingle
    // explode + minhash aggregation runs once, not once per join side.
    val sigDf = materializeOnce(minhashSignatures(df, textCol, idCol, n, numHashes))

    val banded = bandBuckets(sigDf, idCol, bands, rowsPerBand)

    val l = banded.select(col(idCol).as("id_a"), col("band"), col("bucket"))
    val r = banded.select(col(idCol).as("id_b"), col("band"), col("bucket"))
    val cands = l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    if (verifyThreshold <= 0.0) cands
    else {
      // Verify only the candidates: the candidate pair list is materialized
      // (it feeds the id semi-join AND the pair spine), then shingle sets
      // are computed ONLY for docs appearing in some candidate pair (a
      // left-semi join pushes the candidate id set into the scan) and
      // materialized once so both pair sides attach from the same table.
      // The regex shingle pass here is candidate-bounded, not corpus-sized.
      val candIds = materializeOnce(cands)
      val ids = candIds.select(col("id_a").as(idCol))
        .union(candIds.select(col("id_b").as(idCol))).distinct()
      val shingled = materializeOnce(
        df.join(ids, Seq(idCol), "left_semi").select(col(idCol),
          array_distinct(graft.functions.ShingleHashes.shingleHashes(
            col(textCol), n)).as("__sh")))
      val aSh = shingled.select(col(idCol).as("id_a"), col("__sh").as("__sh_a"))
      val bSh = shingled.select(col(idCol).as("id_b"), col("__sh").as("__sh_b"))
      candIds.join(aSh, Seq("id_a")).join(bSh, Seq("id_b"))
        .withColumn("__shared", size(array_intersect(col("__sh_a"), col("__sh_b"))))
        .withColumn("jaccard", col("__shared").cast("double") /
          (size(col("__sh_a")) + size(col("__sh_b")) - col("__shared")).cast("double"))
        .filter(col("jaccard") >= verifyThreshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }
  }

  /** (id, band, bucket) rows from a signature table: band `b`'s bucket is a
    * 64-bit hash of its `rowsPerBand` consecutive minhashes — the narrow
    * equijoin key every LSH consumer shuffles on.
    */
  private def bandBuckets(sigDf: DataFrame, idCol: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    sigDf.select(col(idCol),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand)
            .map(i => col(s"__mh$i")): _*).as("bucket"))
      }: _*)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bucket"))

  /** Incremental NEAR-dup: pairs (id_new, id_prior, jaccard) where a row of
    * `newDocs` is a near-duplicate (n-gram Jaccard >= `verifyThreshold`) of
    * a document already in the corpus — the fuzzy sibling of
    * [[newAgainstPrior]], and the shape that makes minhash signatures worth
    * PERSISTING ([[minhashSignatures]] written to parquet once per ingest).
    *
    * Scale shape: the prior corpus is never re-shingled and never re-read
    * in bulk. Its side of the LSH band join is `priorSigs` — the fixed-width
    * signature artifact (a few hundred bytes/doc regardless of document
    * size). Only the NEW batch is shingled and hashed; candidates come from
    * the (band, bucket) equijoin of new-batch buckets against artifact
    * buckets; the exact-Jaccard verify then touches prior TEXT only for the
    * candidate ids (a left-semi join prunes the prior scan to those rows —
    * id-indexed retrieval, not a corpus pass). Work scales with
    * |batch| + |candidates|, independent of corpus size.
    *
    * `priorSigs` must come from [[minhashSignatures]] with the same `n` and
    * `bands * rowsPerBand` hashes (schema: idCol, __mh0..__mh{k-1}); its id
    * column must be disjoint from the new batch's ids.
    */
  def nearDupsAgainstPrior(
      newDocs: DataFrame,
      priorSigs: DataFrame,
      priorDocs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 2,
      verifyThreshold: Double = 0.8): DataFrame = {
    val numHashes = bands * rowsPerBand
    // single consumer (the band join's new side) — no checkpoint: the
    // signature lineage executes exactly once either way, and skipping the
    // materialization job saves a driver-synchronized round trip. Frames
    // with ≥2 consumers (cands below) keep theirs.
    val newSigs = minhashSignatures(newDocs, textCol, idCol, n, numHashes)
    val newBanded   = bandBuckets(newSigs, idCol, bands, rowsPerBand)
      .select(col(idCol).as("id_new"), col("band"), col("bucket"))
    val priorBanded = bandBuckets(priorSigs, idCol, bands, rowsPerBand)
      .select(col(idCol).as("id_prior"), col("band"), col("bucket"))
    val cands = materializeOnce(
      newBanded.join(priorBanded, Seq("band", "bucket"))
        .select("id_new", "id_prior").distinct())

    // Exact verify, candidate-bounded on BOTH sides: each corpus is scanned
    // only for ids that appear in some candidate pair. Each side feeds the
    // final join exactly once — lazy, no checkpoint (the shingle kernel
    // runs once per side regardless; only `cands`, read three times, needs
    // the materialization).
    def candSide(docs: DataFrame, keep: DataFrame, outId: String) =
      docs.join(keep.select(col(outId).as(idCol)).distinct(), Seq(idCol), "left_semi")
        .select(col(idCol).as(outId),
          array_distinct(graft.functions.ShingleHashes.shingleHashes(
            col(textCol), n)).as(s"__sh_$outId"))
    val newSh   = candSide(newDocs, cands, "id_new")
    val priorSh = candSide(priorDocs, cands, "id_prior")
    cands.join(newSh, Seq("id_new")).join(priorSh, Seq("id_prior"))
      .withColumn("__shared", size(array_intersect(col("__sh_id_new"), col("__sh_id_prior"))))
      .withColumn("jaccard", col("__shared").cast("double") /
        (size(col("__sh_id_new")) + size(col("__sh_id_prior")) - col("__shared")).cast("double"))
      .filter(col("jaccard") >= verifyThreshold)
      .select(col("id_new"), col("id_prior"), col("jaccard"))
  }

  /** Per-document duplicate-shingle fraction — the "how much of this document
    * already exists elsewhere in the corpus" quality signal (the duplicate
    * n-gram fraction used by production LLM-corpus pipelines): for each
    * document, the fraction of its distinct n-gram shingles whose corpus
    * document frequency exceeds 1.
    *
    * Scale shape: one shuffle on the shingle hash (window count — the same
    * exchange a groupBy would pay, reused in place of a count+join
    * re-descent) and one map-side-combined groupBy on the doc id. No
    * self-join: this is the LINEAR-cost duplication profile, the screening
    * pass that decides which corpus slices are worth a pairwise dedup at
    * all. Output: (id, n_shingles, n_dup_shingles, dup_fraction).
    */
  def dupShingleFraction(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3): DataFrame = {
    val sh = explodedShingleHashes(df, textCol, idCol, n)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))
    sh.withColumn("__df", count(lit(1)).over(w))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
           sum((col("__df") > 1).cast("long")).as("n_dup_shingles"))
      .withColumn("dup_fraction",
        col("n_dup_shingles").cast("double") / col("n_shingles").cast("double"))
  }

  /** Longest shared contiguous word-n-gram run for each CANDIDATE pair —
    * the span diagnostic behind substring-level dedup (Lee et al. 2022's
    * "Deduplicating Training Data Makes Language Models Better" removes
    * long verbatim spans, not whole docs): a high-Jaccard pair with a short
    * longest run is topical overlap; a long run is verbatim copying.
    *
    * Positional shingles of both docs of a pair are matched by content,
    * then consecutive matches are grouped with the classic islands trick —
    * matches on one alignment diagonal (`pos_a - pos_b`) with consecutive
    * `pos_a` form one run (`pos_a - row_number()` is constant inside it).
    * Output: (id_a, id_b, n_matched, longest_run) — run lengths count
    * shingles; a run of r shingles spans r + n - 1 words. Pairs with no
    * shared shingle drop out (inner join).
    *
    * Scale shape: never all-pairs — the candidate pair set (from LSH /
    * Jaccard / an artifact) gates everything. The small pair list
    * broadcast-prunes the positional index down to candidate docs, the
    * content match shuffles on (doc, shingle-hash), and the islands are
    * per-(pair, diagonal) windows — key-partitioned, bounded by document
    * length. Shingle positions are rematerialized only for candidate docs.
    */
  def sharedSpans(
      df: DataFrame,
      textCol: String,
      idCol: String,
      pairs: DataFrame,
      n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = df.select(col(idCol),
      posexplode(graft.functions.ShingleHashes.shingleHashes(col(textCol), n))
        .as(Seq("pos", "sh")))
    val p = materializeOnce(pairs.select(col("id_a"), col("id_b")))
    val a = pos.select(col(idCol).as("id_a"), col("pos").as("pos_a"), col("sh"))
    val b = pos.select(col(idCol).as("id_b"), col("pos").as("pos_b"), col("sh"))
    // Prune BOTH positional indexes to candidate docs with broadcast joins
    // BEFORE the content-match shuffle — without the semi-join the b side
    // would shuffle every document's positions on (id, shingle) just to
    // drop the non-candidates at the join.
    val bPruned = b.join(broadcast(p.select(col("id_b")).distinct()),
      Seq("id_b"), "leftsemi")
    val matched = broadcast(p).join(a, Seq("id_a")).join(bPruned, Seq("id_b", "sh"))
      .withColumn("__diag", col("pos_a") - col("pos_b"))
    val wd = Window.partitionBy(col("id_a"), col("id_b"), col("__diag"))
      .orderBy(col("pos_a"))
    matched
      .withColumn("__grp", col("pos_a") - row_number().over(wd))
      .groupBy(col("id_a"), col("id_b"), col("__diag"), col("__grp"))
      .agg(count(lit(1)).as("__run"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("__run")).as("n_matched"), max(col("__run")).as("longest_run"))
  }

  /** Embedding-cosine near-duplicate document pairs: join the document table
    * to its embedding table and pair documents whose vectors exceed the
    * cosine threshold. `exact = false` (default) routes through the sign-LSH
    * bucketed path — the 100 TB shape; `exact = true` is the O(n²)
    * verification path for bounded corpora. Returns (id_a, id_b, cosine)
    * with document ids.
    */
  def embeddingNearDups(
      docs: DataFrame,
      embeddings: DataFrame,
      docIdCol: String,
      vecIdCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      exact: Boolean = false,
      /** LSH bucket bits; None sizes them from the live corpus count via
        * `Similarity.lshBitsFor` (bits must grow with log₂(n) or candidate
        * pairs go quadratic — one bounded count() job).
        */
      bitsPerTable: Option[Int] = None,
      tables: Int = 4): DataFrame = {
    // left-semi keeps only embeddings with a live document row — narrow join
    val live = embeddings.join(
      docs.select(col(docIdCol).as(vecIdCol)), Seq(vecIdCol), "left_semi")
    if (exact) Similarity.thresholdPairs(live, vecIdCol, vecCol, threshold)
    else {
      val bits = bitsPerTable.getOrElse(Similarity.lshBitsFor(live.count()))
      Similarity.lshPairs(live, vecIdCol, vecCol, dim, threshold,
        bitsPerTable = bits, tables = tables)
    }
  }

  /** 64-bit SimHash per document: each word token votes its md5 bit pattern;
    * the signature takes the sign of each bit's vote sum.
    *
    * Plan shape: explode tokens → one md5 per token → a single hash
    * aggregation with 64 conditional sums (bit b of the token hash, +1/-1) —
    * map-side combined, whole-stage-codegen'd, one pass over the data. The
    * signature is the signed 64-bit long carrying the 64 vote-sign bits
    * (render unsigned via `Long.toUnsignedString` if needed — a signed
    * BIGINT survives every engine's type system unchanged, where an
    * unsigned decimal(20,0) rendering does not). Output: (idCol, simhash).
    */
  def simhashDf(df: DataFrame, textCol: String, idCol: String): DataFrame =
    simhashLongDf(df, textCol, idCol)

  /** Signed-long SimHash signature — the canonical form ([[simhashDf]]
    * delegates here); bit operations and cross-engine comparison both want
    * the signed BIGINT.
    *
    * The per-token vote hash is the first 64 bits of `md5(token)`, split
    * into two 32-bit halves (`conv` of 8 hex chars each — fits a signed
    * long). md5 — not an engine-seeded xxhash — so the ENTIRE signature is
    * reproducible in any engine and the DuckDB oracle checks it bit-for-bit
    * ([[graft.Queries.simhashSql]] regenerates the same arithmetic).
    */
  def simhashLongDf(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(TextAnalysis.words(col(textCol))).as("__tok"))
      .withColumn("__m", md5(col("__tok")))
      .withColumn("__h1", conv(substring(col("__m"), 1, 8), 16, 10).cast("long"))
      .withColumn("__h2", conv(substring(col("__m"), 9, 8), 16, 10).cast("long"))
    val voteAggs = (0 until 64).map { b =>
      val (h, bit) = if (b < 32) (col("__h1"), b) else (col("__h2"), b - 32)
      sum(when(shiftright(h, bit).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
        .as(s"__v$b")
    }
    val votes = toks.groupBy(col(idCol)).agg(voteAggs.head, voteAggs.tail: _*)
    val sig = (0 until 64).map { b =>
      when(col(s"__v$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    votes.select(col(idCol), sig.as("simhash"))
  }

  /** SimHash near-dup pairs within `maxHamming` bits: the signature is split
    * into `maxHamming + 1` bands — two signatures within that distance must
    * share at least one band untouched (pigeonhole), so candidates come from
    * a band-bucket equijoin on narrow (band, bits) keys, then one
    * `bit_count(xor)` verifies each candidate. Never all-pairs; the same
    * banded shape as MinHash LSH. Output: (id_a, id_b, hamming).
    */
  def simhashNearDups(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingNearDups(simhashLongDf(df, textCol, idCol), idCol, "simhash",
      maxHamming)

  /** Banded-Hamming near-dup pairs over ANY precomputed 64-bit signature
    * column (SimHash text signatures, image dHash/pHash, audio
    * fingerprints): the pigeonhole banding + verify join factored out of
    * [[simhashNearDups]] so every Hamming-space modality shares one
    * scale-shaped candidate generator. `sigs` is (id, signature) — it is
    * materialized here because both join sides read it. Output:
    * (id_a, id_b, hamming).
    */
  /** (id, sig, band, bits) banding of a 64-bit signature table: the
    * signature split into `maxHamming + 1` bands (pigeonhole — two
    * signatures within the distance share at least one untouched band).
    * The shared candidate generator under [[hammingNearDups]] and
    * [[hammingNearDupsAgainstPrior]].
    */
  private def hammingBands(sigs: DataFrame, idCol: String,
      maxHamming: Int): DataFrame = {
    val bands = maxHamming + 1
    val width = 64 / bands // uneven tail bits join the last band
    sigs.select(col(idCol), col("simhash"),
      explode(array((0 until bands).map { i =>
        val shifted = shiftrightunsigned(col("simhash"), i * width)
        val bits =
          if (i == bands - 1) shifted // last band runs to bit 63
          else shifted.bitwiseAND(lit((1L << width) - 1))
        struct(lit(i).as("band"), bits.as("bits"))
      }: _*)).as("bb"))
      .select(col(idCol), col("simhash"), col("bb.band"), col("bb.bits"))
  }

  def hammingNearDups(
      sigsIn: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, s"maxHamming out of range: $maxHamming")
    // (id, signature) only: materialize so whatever produced the signature
    // (token explode + 64-sum votes, an image decode pass) runs once, not
    // once per join side.
    val sigs = materializeOnce(
      sigsIn.select(col(idCol), col(sigCol).as("simhash")))
    val banded = hammingBands(sigs, idCol, maxHamming)

    // shuffle_hash (not broadcast): a corpus-sized broadcast of one banded
    // side is the real scale risk — pin a shuffled join. (The signature
    // aggregation itself is already materialized above, so neither side
    // recomputes it regardless of join strategy.)
    val a = banded.select(col(idCol).as("id_a"), col("simhash").as("__sa"),
      col("band"), col("bits")).hint("shuffle_hash")
    val b = banded.select(col(idCol).as("id_b"), col("simhash").as("__sb"),
      col("band"), col("bits")).hint("shuffle_hash")
    a.join(b, Seq("band", "bits"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("__sa").bitwiseXOR(col("__sb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .distinct()
  }

  /** Incremental Hamming near-dup: (id_new, id_prior, hamming) pairs where
    * a NEW row's 64-bit signature sits within `maxHamming` bits of a
    * signature already in the PERSISTED artifact — the
    * [[nearDupsAgainstPrior]] shape for Hamming-space modalities (image
    * dHash, SimHash). The prior corpus is never re-decoded and never
    * re-read in bulk: its side of the band join is the 8-byte-per-row
    * signature artifact, and the verify is one `bit_count(xor)` on the
    * carried signatures (no payload retrieval at all — the signature IS
    * the verifier, unlike MinHash where exact Jaccard needs the text).
    * Work scales with |batch| + |candidates|, independent of corpus size.
    * `priorSigs` schema: (idCol, sigCol); ids disjoint from the new batch.
    */
  def hammingNearDupsAgainstPrior(
      newSigsIn: DataFrame,
      priorSigs: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, s"maxHamming out of range: $maxHamming")
    // single consumer (the band join's new side) — lazy, no checkpoint;
    // unlike [[hammingNearDups]] there is no self-join here, so the
    // signature lineage (an image decode, a token vote) runs once anyway
    val newSigs = newSigsIn.select(col(idCol), col(sigCol).as("simhash"))
    val newBanded = hammingBands(newSigs, idCol, maxHamming)
      .select(col(idCol).as("id_new"), col("simhash").as("__sn"),
        col("band"), col("bits"))
    val priorBanded = hammingBands(
        priorSigs.select(col(idCol), col(sigCol).as("simhash")),
        idCol, maxHamming)
      .select(col(idCol).as("id_prior"), col("simhash").as("__sp"),
        col("band"), col("bits"))
    newBanded.join(priorBanded, Seq("band", "bits"))
      .withColumn("hamming",
        bit_count(col("__sn").bitwiseXOR(col("__sp"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_new", "id_prior", "hamming")
      .distinct()
  }

  /** Benchmark-contamination check: for every corpus document, count the
    * distinct word `n`-gram shingles it shares with each benchmark/eval
    * document, keeping pairs with at least `minShared` shared shingles.
    * The standard decontamination pass run before training: any corpus
    * document overlapping an eval set by enough n-grams is quarantined.
    *
    * Scale shape: the benchmark side is tiny relative to the corpus (eval
    * suites are thousands of documents, the corpus is billions), so its
    * exploded shingle postings are BROADCAST — the corpus-side shingle
    * explode then joins map-side with NO shuffle of corpus data at all; the
    * only shuffle is the (corpus_id, bench_id) pair count, whose cardinality
    * is bounded by real overlaps, not corpus size. Corpus shingles are
    * deduplicated per document (`array_distinct`) before the join so a
    * boilerplate-heavy document can't fan out on a repeated shingle.
    *
    * Output: `(id, bench_id, n_shared)` — one row per contaminated
    * (corpus, benchmark) pair.
    */
  def contaminationPairs(corpus: DataFrame, bench: DataFrame,
                         textCol: String, idCol: String, benchIdCol: String,
                         n: Int, minShared: Long = 1L): DataFrame = {
    def postings(df: DataFrame, id: String, outId: String) = df
      .select(col(id).as(outId),
        explode(array_distinct(graft.functions.ShingleHashes.shingleHashes(
          col(textCol), n))).as("shingle"))
    val benchPost  = postings(bench, benchIdCol, "bench_id")
    val corpusPost = postings(corpus, idCol, "__cid")
    corpusPost
      .join(broadcast(benchPost), Seq("shingle"))
      .groupBy(col("__cid"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("__cid").as(idCol), col("bench_id"), col("n_shared"))
  }

  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Connected-component cluster ids over a near-dup pair set: every id
    * that appears in a pair with two non-null endpoints gets `cluster_id`
    * = the SMALLEST id reachable through the pair graph — the step that
    * turns pairwise near-dup verdicts ([[jaccardPairs]],
    * [[minhashLshPairs]], [[simhashNearDups]],
    * [[graft.pipeline.Similarity.lshPairs]]) into dedup decisions. Ids
    * with no pair are absent here (their cluster is trivially themselves);
    * [[dedupByClusters]] handles them. Pairs with a null (or uncastable)
    * endpoint are dropped — no pair, no row, identical on both regimes.
    *
    * Algorithm: hash-min label propagation with POINTER JUMPING from the
    * third round on — each round every node adopts the minimum label in
    * its closed neighborhood; once a graph has survived two rounds
    * without converging (i.e. it is genuinely deep, not the common
    * shallow near-dup clique), each subsequent round also shortcuts every
    * node to its label's label (`l := l(l)`, the classic Shiloach–Vishkin
    * halving step). Labels only ever decrease toward each component's
    * minimum id, so the jump preserves the fixpoint while doubling how
    * far information travels per round: deep graphs converge in
    * O(log diameter) driver-synchronized rounds, not O(diameter) — and
    * shallow graphs (dup groups are cliques, done in 2 rounds) never pay
    * the jump's extra per-round join (measured ~1.5x a round on the
    * 2-clique stress fixture). `maxIters` is a safety valve and
    * non-convergence throws rather than returning partial labels.
    *
    * Scale shape: per round, one (dst-keyed) equi-join of the edge table
    * against the label table + a min-aggregate, plus (jump rounds only)
    * one id-keyed self-join of the label table — all hash-partitioned,
    * map-side combined, O(E + V) per round. The edge and label tables
    * hold only ids (never text or vectors), are materialized once per
    * round ([[materializeOnce]]), and superseded rounds release their
    * blocks immediately, so peak storage is 2 label tables + the edges.
    *
    * SIZE-GATED one-pass path (the [[graft.ops.Graph.connectedComponents]]
    * shape brought home to the dedup family): below `unionFindNodeLimit`
    * nodes the whole problem fits the [[graft.functions.PairComponents]]
    * union-find aggregate — components in ONE map-side-combinable
    * aggregation, zero driver-synchronized rounds, any diameter. The pair
    * set is checkpointed FIRST (near-dup pair lineages — shingle joins,
    * banded LSH — are the expensive part; the probe must not re-run
    * them), then one approx_count_distinct over the checkpoint decides
    * the regime (a resource decision needs no exactness; same gate value
    * and memory math as Graph: ~16-32 B/id in the merged buffer, ≈32 MB
    * at the 2²⁰ default). Union-by-min roots every component at its
    * minimum member, so the output CONTRACT — every paired id labeled
    * with the smallest reachable id — is identical on both paths
    * (spec-pinned against the loop on randomized graphs).
    */
  def clusters(
      pairs: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b",
      maxIters: Int = 25,
      broadcastNodeLimit: Long = 65536,
      unionFindNodeLimit: Long = 1L << 20): DataFrame = {
    // Null-endpoint pairs are dropped BEFORE the regime split (after the
    // cast, so an uncastable id counts as null too): the two paths used to
    // disagree on them — PairComponents skips a null edge entirely while
    // the propagation loop seeded the non-null side with itself — making
    // the output regime-dependent, against the identical-on-both-paths
    // contract. No near-dup pair producer emits null endpoints; a caller
    // feeding them gets the one defensible reading (no pair, no row).
    val half = materializeOnce(pairs.select(col(idACol).cast("long").as("src"),
      col(idBCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull))
    val nApprox = half
      .select(explode(array(col("src"), col("dst"))).as("id"))
      .agg(approx_count_distinct(col("id")).as("n")).head().getLong(0)
    if (nApprox <= unionFindNodeLimit) {
      return half
        .agg(graft.functions.PairComponents.pairComponents(
          col("src"), col("dst")).as("__cs"))
        .select(explode(col("__cs")).as("__c"))
        .select(col("__c.id").as("id"), col("__c.comp").as("cluster_id"))
    }
    val edges = materializeOnce(
      half.union(half.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    var labels = materializeOnceLoop(
      edges.select(col("src").as("id")).distinct()
        .withColumn("cluster_id", col("id")))
    // the loop checkpoints carry NO origin stats (the squaring hazard —
    // see materializeOnceLoop), so the planner would never auto-broadcast
    // the label table again: hint it explicitly while the node count is
    // under the gate (one count on the already-materialized frame)
    val hint = labels.count() <= broadcastNodeLimit
    def bc(df: DataFrame): DataFrame = if (hint) broadcast(df) else df
    var changed = 1L
    var iters   = 0
    while (changed > 0 && iters < maxIters) {
      val neighborMin = edges
        .join(bc(labels.select(col("id").as("dst"), col("cluster_id").as("__nl"))),
          Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("__nl")).as("__nmin"))
      // propagation step: min over the closed 1-hop neighborhood
      val propPlan = labels.join(bc(neighborMin), Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("__nmin"), col("cluster_id")))
            .as("cluster_id"),
          col("cluster_id").as("__old"))
      val next =
        if (iters < 2) {
          // shallow-graph fast path: one materialization, no jump join
          materializeOnceLoop(propPlan.select(col("id"), col("cluster_id"),
            (col("__old") > col("cluster_id")).cast("long").as("__chg")))
        } else {
          // deep graph: jump step — adopt the label OF the label. Every
          // label value is a node id (labels start as ids and only take
          // mins of other labels), so the lookup always resolves;
          // `coalesce` is belt-and-braces.
          val prop = materializeOnceLoop(propPlan)
          val jumped = materializeOnceLoop(
            prop
              .join(bc(prop.select(col("id").as("__jid"), col("cluster_id").as("__jl"))),
                col("cluster_id") === col("__jid"), "left")
              .select(col("id"),
                coalesce(col("__jl"), col("cluster_id")).as("cluster_id"),
                (col("__old") > coalesce(col("__jl"), col("cluster_id")))
                  .cast("long").as("__chg")))
          releaseCheckpoint(prop)
          jumped
        }
      changed = next.agg(coalesce(sum(col("__chg")), lit(0L))).head().getLong(0)
      releaseCheckpoint(labels)
      labels = next.drop("__chg")
      iters += 1
    }
    require(changed == 0L,
      s"label propagation did not converge in $maxIters rounds " +
        "(pathologically deep pair graph — raise maxIters)")
    labels
  }

  /** Near-dup dedup materialization: keep the smallest-id representative
    * of every [[clusters]] component plus every unpaired document. One
    * anti-join of the corpus against the non-representative ids — the
    * cluster table is pair-bounded, far smaller than the corpus.
    */
  def dedupByClusters(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String,
      idACol: String = "id_a",
      idBCol: String = "id_b"): DataFrame = {
    val drop = clusters(pairs, idACol, idBCol)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }
}
