package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `bpe_token_count(text)` → `struct<n_words, n_bpe_tokens: bigint>` —
  * tokenize every whitespace word of a document against a TRAINED BPE
  * merge table in one pass, with the merge ranks riding along as a flat
  * codegen reference object (the [[Bm25Score]]/[[RankBucket]] pattern).
  *
  * This is the PRODUCTION-MERGE-COUNT encode face: the column-expression
  * path ([[graft.pipeline.Bpe.applyMerges]]) builds an nMerges-deep
  * nested `replace` chain — exactly right for the 12-merge cross-engine
  * oracle, but a 32k-merge vocabulary would blow the codegen method-size
  * cliff and pay 32k string scans per word. Here each word consults only
  * the merges whose pairs actually OCCUR in it (a hash probe per
  * adjacent pair), so cost scales with the word, not the vocabulary.
  *
  * ALLOCATION-FREE inner loop: a BPE merge of adjacent symbols always
  * yields a CONTIGUOUS slice of the original word, so symbols live as
  * (start, end) char spans and a pair lookup hashes the two spans
  * directly against a flat open-addressing table (no substring, no
  * concat, no boxing) — the same one-scan discipline as [[TokenStats]].
  *
  * Semantics are BIT-IDENTICAL to the replace chain (spec-pinned):
  * merges apply in STRICT rank order, each as one greedy disjoint
  * left-to-right pass — so a pair formed by a later merge whose rank
  * already passed does NOT fuse (`replace` for that rank already ran).
  * The rank walk is a sorted set of the ranks present, and a merge at
  * rank r only schedules newly-formed pairs with rank > r. Symbols are
  * Unicode CODEPOINTS ([[graft.pipeline.Bpe.wordRepr]]'s `"(.)"` splits
  * by codepoint), so multi-byte text tokenizes identically on both
  * paths.
  */
case class BpeTokenCount(child: Expression, model: BpeTokenCount.MergeModel)
  extends UnaryExpression {

  override def dataType: DataType = BpeTokenCount.Shape
  override def nullable: Boolean  = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_token_count requires string, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    BpeTokenCount.evalCounts(input.asInstanceOf[UTF8String], model)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMerges", model,
      "graft.functions.BpeTokenCount$MergeModel")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.BpeTokenCount.evalCounts($c, $ref);
       """.stripMargin
    })
  }

  // content equality over the merge table (CSE must not conflate two
  // different vocabularies — the NearestCell contract)
  override def equals(other: Any): Boolean = other match {
    case BpeTokenCount(c, m) => c == child && m.contentEquals(model)
    case _ => false
  }
  override def hashCode(): Int = 31 * child.hashCode() + model.contentHash

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}

object BpeTokenCount {

  val Shape: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_bpe_tokens", LongType, nullable = false)))

  /** Flat open-addressing merge table keyed by the (l, r) CHAR CONTENT:
    * slot i holds l ++ r in `keys(i)` with the split at `lLens(i)` and
    * the merge rank in `ranks(i)`. Lookups hash two char spans directly,
    * so the per-pair probe allocates nothing.
    */
  final class MergeModel(
      val keys: Array[Array[Char]],
      val lLens: Array[Int],
      val ranks: Array[Int],
      val mask: Int) extends Serializable {
    def contentEquals(o: MergeModel): Boolean =
      mask == o.mask && java.util.Arrays.equals(lLens, o.lLens) &&
        java.util.Arrays.equals(ranks, o.ranks) &&
        keys.length == o.keys.length &&
        keys.indices.forall(i => java.util.Arrays.equals(keys(i), o.keys(i)))
    def contentHash: Int = {
      var h = mask
      var i = 0
      while (i < keys.length) {
        if (keys(i) != null) h = h * 31 + java.util.Arrays.hashCode(keys(i))
        i += 1
      }
      h
    }
  }

  @inline private def spanHash(s: CharSequence, from: Int, until: Int): Int = {
    var h = 1
    var i = from
    while (i < until) { h = h * 31 + s.charAt(i); i += 1 }
    h
  }

  @inline private def mix(hl: Int, hr: Int): Int = {
    val h = hl * 0x9e3779b1 + hr
    h ^ (h >>> 16)
  }

  def model(merges: Seq[graft.pipeline.Bpe.Merge]): MergeModel = {
    val cap = Integer.highestOneBit(math.max(16, merges.length * 2) * 2 - 1) << 1
    val mask = cap - 1
    val keys = new Array[Array[Char]](cap)
    val lLens = new Array[Int](cap)
    val ranks = new Array[Int](cap)
    merges.foreach { m =>
      val key = (m.l + m.r).toCharArray
      val hl = spanHash(m.l, 0, m.l.length)
      val hr = spanHash(m.r, 0, m.r.length)
      var slot = mix(hl, hr) & mask
      while (keys(slot) != null) slot = (slot + 1) & mask
      keys(slot) = key; lLens(slot) = m.l.length; ranks(slot) = m.rank
    }
    new MergeModel(keys, lLens, ranks, mask)
  }

  /** Rank of the merge for the adjacent spans [s1,e1) [s2,e2) of `s`
    * whose content hashes are `hl`/`hr`, or -1. Pure probes — no
    * allocation.
    */
  private def lookup(m: MergeModel, s: String,
      s1: Int, e1: Int, s2: Int, e2: Int, hl: Int, hr: Int): Int = {
    var slot = mix(hl, hr) & m.mask
    val lLen = e1 - s1
    val total = lLen + (e2 - s2)
    while (true) {
      val key = m.keys(slot)
      if (key == null) return -1
      if (key.length == total && m.lLens(slot) == lLen && {
        var i = 0
        var ok = true
        while (ok && i < lLen) { ok = key(i) == s.charAt(s1 + i); i += 1 }
        i = 0
        while (ok && i < total - lLen) {
          ok = key(lLen + i) == s.charAt(s2 + i); i += 1
        }
        ok
      }) return m.ranks(slot)
      slot = (slot + 1) & m.mask
    }
    -1
  }

  @inline private def isAsciiSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r'

  /** Static kernel invoked from generated code — named away from the
    * expression's own `eval(InternalRow)`: an instance method of the same
    * name SUPPRESSES the Scala static forwarder, and Janino then cannot
    * resolve the companion call (once caught by a `graft.Stress` volume
    * run as a codegen compile fallback, now pinned by `CodegenCompileSpec`;
    * the [[TokenStats.evalTokenStats]] naming convention exists for
    * exactly this reason). */
  def evalCounts(text: UTF8String,
      model: MergeModel): org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val s = text.toString
    val len = s.length
    var nWords = 0L
    var nTokens = 0L
    // reusable per-word buffers sized to the longest word seen so far
    var starts = new Array[Int](32)
    var ends   = new Array[Int](32)
    var hashes = new Array[Int](32)
    var rankBuf = new Array[Int](32)
    var i = 0
    while (i < len) {
      while (i < len && isAsciiSpace(s.charAt(i))) i += 1
      if (i < len) {
        val ws = i
        while (i < len && !isAsciiSpace(s.charAt(i))) i += 1
        nWords += 1
        if (i - ws > starts.length) {
          starts = new Array[Int](i - ws); ends = new Array[Int](i - ws)
          hashes = new Array[Int](i - ws); rankBuf = new Array[Int](i - ws)
        }
        nTokens += wordTokens(s, ws, i, model, starts, ends, hashes, rankBuf)
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWords, nTokens))
  }

  /** Tokenize one word slice: strict-rank-order BPE over its codepoint
    * spans, returning the surviving symbol count. Span content hashes
    * are cached per symbol; pending ranks live in a sorted int buffer
    * (ascending, unique — a rank popped at r can never re-enter, since
    * re-scheduling only admits ranks > r).
    */
  private def wordTokens(s: String, from: Int, until: Int, m: MergeModel,
      starts: Array[Int], ends: Array[Int], hashes: Array[Int],
      rankBuf0: Array[Int]): Long = {
    var n = 0
    var i = from
    while (i < until) {
      val w = Character.charCount(s.codePointAt(i))
      starts(n) = i; ends(n) = i + w
      hashes(n) = spanHash(s, i, i + w)
      n += 1
      i += w
    }
    if (n <= 1) return n.toLong
    var rankBuf = rankBuf0
    var nr = 0
    def push(rk: Int): Unit = {
      var lo = 0
      var hi = nr
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (rankBuf(mid) < rk) lo = mid + 1 else hi = mid
      }
      if (lo < nr && rankBuf(lo) == rk) return
      if (nr == rankBuf.length)
        rankBuf = java.util.Arrays.copyOf(rankBuf, nr * 2)
      var t = nr
      while (t > lo) { rankBuf(t) = rankBuf(t - 1); t -= 1 }
      rankBuf(lo) = rk; nr += 1
    }
    var j = 0
    while (j + 1 < n) {
      val rk = lookup(m, s, starts(j), ends(j), starts(j + 1), ends(j + 1),
        hashes(j), hashes(j + 1))
      if (rk >= 0) push(rk)
      j += 1
    }
    if (nr == 0) return n.toLong
    var next = 0 // index of the next pending rank (buffer stays sorted)
    while (next < nr) {
      val r = rankBuf(next); next += 1
      // one greedy disjoint left-to-right pass merging this rank's pair
      var o = 0
      var k = 0
      var mergedAny = false
      while (k < n) {
        if (k + 1 < n &&
            lookup(m, s, starts(k), ends(k), starts(k + 1), ends(k + 1),
              hashes(k), hashes(k + 1)) == r) {
          starts(o) = starts(k); ends(o) = ends(k + 1)
          hashes(o) = spanHash(s, starts(o), ends(o))
          o += 1; k += 2
          mergedAny = true
        } else {
          starts(o) = starts(k); ends(o) = ends(k); hashes(o) = hashes(k)
          o += 1; k += 1
        }
      }
      if (mergedAny) {
        n = o
        // newly formed adjacencies: schedule only ranks STRICTLY after r.
        // push() keeps the buffer sorted; entries before `next` are all
        // ≤ r and rk > r, so insertions never land behind the cursor.
        var q = 0
        while (q + 1 < n) {
          val rk = lookup(m, s, starts(q), ends(q), starts(q + 1), ends(q + 1),
            hashes(q), hashes(q + 1))
          if (rk > r) push(rk)
          q += 1
        }
      }
    }
    n.toLong
  }

  /** Column API. */
  def bpeTokenCount(c: Column, merges: Seq[graft.pipeline.Bpe.Merge]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      BpeTokenCount(org.apache.spark.sql.graftbridge.Bridge.expression(c),
        model(merges)))
}
