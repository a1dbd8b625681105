package graft.search

/** Block-max WAND top-k over one shard's posting lists.
  *
  * Safe-pruning analog of the reference's two-stage candidate pruning
  * (cheap bound first, expensive score second —
  * /root/reference/src/energymaps.rs:738-767) applied to BM25: per-list
  * global upper bounds drive pivot selection (WAND), per-block upper
  * bounds drive shallow advances (BMW), and the result is provably the
  * same top-k as brute-force scoring.
  *
  * Tie-break contract (matches the reference's stable sort,
  * /root/reference/src/core.rs:785): order by score DESC, docId ASC.
  * Pruning with `ubSum <= θ` is safe for ties because docIds are
  * processed in increasing order — an equal-scored later doc loses the
  * tie-break against every doc already in the heap.
  */
object Wand {

  final case class Hit(docId: Long, score: Double)

  /** The one cursor class the kernels run on: a decode-once
    * [[graft.index.DecodedCursor]], so every cursor call in the loops
    * below is a static call on one final class.
    */
  type Cursor = graft.index.DecodedCursor

  /** Primitive top-k heap: parallel score/id arrays, worst-at-root
    * (worst = smaller score, larger docId on ties), no element
    * allocation until [[drain]]. The kernel runs ~10⁶ heap lifecycles
    * per 32k-query batch rep; the former PriorityQueue[Hit] allocated a
    * Hit per evaluated doc and paid a boxed Ordering call per sift
    * comparison.
    */
  final class HitHeap {
    private var scores = new Array[Double](16)
    private var ids = new Array[Long](16)
    var size = 0

    def clear(): Unit = size = 0
    @inline def headScore: Double = scores(0)
    @inline def headId: Long = ids(0)

    /** a strictly worse than b under (score DESC, docId ASC) ranking. */
    @inline private def worse(sa: Double, da: Long, sb: Double, db: Long): Boolean =
      sa < sb || (sa == sb && da > db)

    def push(s: Double, d: Long): Unit = {
      if (size == scores.length) {
        scores = java.util.Arrays.copyOf(scores, size * 2)
        ids = java.util.Arrays.copyOf(ids, size * 2)
      }
      var i = size
      size += 1
      while (i > 0 && {
        val p = (i - 1) >> 1
        worse(s, d, scores(p), ids(p))
      }) {
        val p = (i - 1) >> 1
        scores(i) = scores(p); ids(i) = ids(p)
        i = p
      }
      scores(i) = s; ids(i) = d
    }

    /** Replace the worst element (root) and restore the heap. */
    def replaceHead(s: Double, d: Long): Unit = {
      var i = 0
      while (true) {
        val l = 2 * i + 1
        if (l >= size) { scores(i) = s; ids(i) = d; return }
        val r = l + 1
        val c = if (r < size && worse(scores(r), ids(r), scores(l), ids(l))) r else l
        if (worse(scores(c), ids(c), s, d)) {
          scores(i) = scores(c); ids(i) = ids(c)
          i = c
        } else { scores(i) = s; ids(i) = d; return }
      }
    }

    /** Best-first (score DESC, docId ASC) contents; empties the heap. */
    def drain(): Array[Hit] = {
      val out = new Array[Hit](size)
      var i = size - 1
      while (i >= 0) {
        out(i) = Hit(ids(0), scores(0))
        size -= 1
        if (size > 0) {
          val s = scores(size); val d = ids(size)
          replaceHead(s, d)
        }
        i -= 1
      }
      out
    }
  }

  /** Reusable per-task scratch for the batch paths: one heap + scratch
    * arrays shared by every query a task evaluates, instead of fresh
    * allocations per (query, shard) — the 32k-query batch runs ~10⁶
    * WAND evaluations per rep, where per-call allocation was measured
    * GC pressure.
    */
  final class Workspace {
    private[search] val heap = new HitHeap
    private[search] var cursors = new Array[Cursor](16)
    private[search] var contrib = new Array[Double](16)
    private[search] var used = new Array[Boolean](16)
    private[search] def ensure(n: Int): Unit = if (contrib.length < n) {
      val cap = java.lang.Integer.highestOneBit(math.max(n - 1, 8)) << 1
      cursors = new Array[Cursor](cap)
      contrib = new Array[Double](cap)
      used = new Array[Boolean](cap)
    }
  }

  def topK(cursors0: scala.collection.Seq[Cursor], k: Int): Array[Hit] =
    run(cursors0, k, null)

  /** Batch-path variant with caller-owned scratch. */
  def topK(cursors0: scala.collection.Seq[Cursor], k: Int, ws: Workspace): Array[Hit] =
    run(cursors0, k, ws)

  private def drain(heap: HitHeap): Array[Hit] = heap.drain()

  /** Per-shard top-k by the BLENDED score
    * s(d) = α·(bm25(d)/ubNorm) + (1−α)·(1 − min(|λq − λ(d)|, 1)),
    * pruned WAND-style directly on the blended threshold — the kernel of
    * every blended path (distributed single and batch, serving replica).
    * Exactness: every fully-evaluated doc gets its EXACT blended score,
    * summed in cursor creation order like [[topK]]; a doc is only skipped
    * when its blended upper bound ub(d) = α·(Σ maxScores/ubNorm) +
    * (1−α)·1 is ≤ the current k-th best blended score θ — and since
    * docIds arrive ascending, an equal-scored later doc loses the
    * (score DESC, docId ASC) tie-break, so `≤` pruning is safe. IEEE
    * safety: x ≤ x' ⇒ fl(α·fl(x/u)) ≤ fl(α·fl(x'/u)) and rounding is
    * monotone under addition of ordered terms, so the computed bound
    * dominates every achievable computed score.
    *
    * The effective threshold deflation is the ACTUAL prox gap of the
    * running k-th blended doc, not the worst case (prox 0): when
    * candidates sit near λq the kernel prunes like pure WAND.
    */
  def blendedTopK(cursors0: scala.collection.Seq[Cursor], k: Int, alpha: Double,
      ubNorm: Double, lq: Double, lambdaOf: Long => Double,
      ws: Workspace): Array[Hit] = {
    val heap = if (ws == null) new HitHeap else { ws.heap.clear(); ws.heap }
    val nOrd = cursors0.size
    if (ws != null) ws.ensure(nOrd)
    val cursors = if (ws == null) new Array[Cursor](nOrd) else ws.cursors
    var n = 0
    var oi = 0
    cursors0.foreach { c =>
      c.ord = oi; oi += 1
      if (!c.exhausted) { cursors(n) = c; n += 1 }
    }
    val contrib = if (ws == null) new Array[Double](nOrd) else ws.contrib
    val used = if (ws == null) new Array[Boolean](nOrd) else ws.used
    val oneMinusAlpha = 1.0 - alpha

    def theta: Double = if (heap.size < k) Double.NegativeInfinity else heap.headScore
    // blended upper bound of a raw-BM25 upper bound (same expression
    // shape as the exact score with prox at its max 1.0)
    @inline def blendUb(rawUb: Double): Double = alpha * (rawUb / ubNorm) + oneMinusAlpha
    @inline def prunable(rawUbSum: Double): Boolean = blendUb(rawUbSum) <= theta
    // largest raw limit L with blendUb(L) ≤ θ usable for the strict-<
    // metadata block scan (monotonicity makes every x < L safe); the
    // inverse transform can land 1-2 ulps high — nudge down, else give
    // up the extension (0.0 ⇒ no block qualifies)
    def rawLimit(th: Double): Double = {
      if (alpha <= 0.0 || th.isNegInfinity) return Double.NegativeInfinity
      var l = (th - oneMinusAlpha) / alpha * ubNorm
      var t = 0
      while (t < 4 && l > 0.0 && blendUb(l) > th) { l = Math.nextDown(l); t += 1 }
      if (l.isNaN || blendUb(l) > th) 0.0 else l
    }

    @inline def offer(s: Double, d: Long): Unit = {
      if (heap.size < k) heap.push(s, d)
      else if (s > heap.headScore || (s == heap.headScore && d < heap.headId))
        heap.replaceHead(s, d)
    }

    var done = false
    while (n > 0 && !done) {
      java.util.Arrays.sort(cursors, 0, n, byDocId)
      var acc = 0.0
      var p = 0
      var found = -1
      while (p < n && found < 0) {
        acc += cursors(p).maxScore
        if (heap.size < k || !prunable(acc)) found = p
        p += 1
      }
      if (found < 0) done = true
      else {
        val pivotDoc = cursors(found).docId
        while (found + 1 < n && cursors(found + 1).docId == pivotDoc) found += 1

        if (cursors(0).docId == pivotDoc) {
          var bmSum = 0.0
          var i = 0
          while (i <= found) {
            cursors(i).advanceTo(pivotDoc)
            if (!cursors(i).exhausted && cursors(i).docId <= cursors(i).blockLastDocId)
              bmSum += cursors(i).blockMaxScore
            i += 1
          }
          if (heap.size == k && prunable(bmSum)) {
            var boundary = Long.MaxValue
            i = 0
            while (i <= found) {
              val c = cursors(i)
              if (!c.exhausted && c.docId == pivotDoc && c.blockLastDocId < boundary)
                boundary = c.blockLastDocId
              i += 1
            }
            if (found == 0 && !cursors(0).exhausted && cursors(0).docId == pivotDoc)
              boundary = math.max(boundary, cursors(0).boundaryWithMaxBelow(rawLimit(theta)))
            if (found + 1 < n)
              boundary = math.min(boundary, cursors(found + 1).docId - 1)
            if (boundary == Long.MaxValue || boundary < pivotDoc) boundary = pivotDoc
            i = 0
            while (i <= found) {
              val c = cursors(i)
              if (!c.exhausted && c.docId <= boundary) c.advanceTo(boundary + 1)
              i += 1
            }
          } else {
            var i = 0
            while (i < n && !cursors(i).exhausted && {
              cursors(i).advanceTo(pivotDoc)
              !cursors(i).exhausted && cursors(i).docId == pivotDoc
            }) {
              contrib(cursors(i).ord) = cursors(i).score
              used(cursors(i).ord) = true
              cursors(i).next()
              i += 1
            }
            var raw = 0.0
            var j = 0
            while (j < nOrd) {
              if (used(j)) { raw += contrib(j); used(j) = false }
              j += 1
            }
            // EXACT blended score — one operation order for every
            // blended path and for the gates' DuckDB oracles
            val lam = lambdaOf(pivotDoc)
            val s = alpha * (raw / ubNorm) +
              oneMinusAlpha * (1.0 - math.min(math.abs(lq - lam), 1.0))
            offer(s, pivotDoc)
          }
        } else {
          var i = 0
          while (i < found) { cursors(i).advanceTo(pivotDoc); i += 1 }
        }
        var w = 0
        var i = 0
        while (i < n) {
          if (!cursors(i).exhausted) { cursors(w) = cursors(i); w += 1 }
          i += 1
        }
        n = w
      }
    }
    drain(heap)
  }

  /** docId-ascending cursor order; static comparator (no closure/boxing
    * allocation in the hot loop).
    */
  private val byDocId: java.util.Comparator[Cursor] = new java.util.Comparator[Cursor] {
    def compare(a: Cursor, b: Cursor): Int = java.lang.Long.compare(a.docId, b.docId)
  }

  /** The BM25 WAND driver: exact top-k, pruning on ubSum <= theta (ties
    * are safe because docIds arrive ascending and lose the docId
    * tie-break). Returns the heap's best-first top-k.
    *
    * Hot-loop discipline (this runs per (query, shard) in the batch
    * path): cursor array compacted IN PLACE as lists exhaust, static
    * comparator sort over the active range, contribution scratch arrays
    * allocated once per call - the loop allocates nothing (primitive
    * heap; Hits materialize only at drain).
    */
  private def run(cursors0: scala.collection.Seq[Cursor], k: Int, ws: Workspace): Array[Hit] = {
    val heap = if (ws == null) new HitHeap else { ws.heap.clear(); ws.heap }
    val nOrd = cursors0.size
    if (ws != null) ws.ensure(nOrd)
    val cursors = if (ws == null) new Array[Cursor](nOrd) else ws.cursors
    var n = 0
    var oi = 0
    cursors0.foreach { c =>
      c.ord = oi; oi += 1
      if (!c.exhausted) { cursors(n) = c; n += 1 }
    }
    // scratch (used[] flags are cleared in the summation loop, so a
    // reused workspace array is all-false between calls by invariant)
    val contrib = if (ws == null) new Array[Double](nOrd) else ws.contrib
    val used = if (ws == null) new Array[Boolean](nOrd) else ws.used

    def theta: Double = if (heap.size < k) Double.NegativeInfinity else heap.headScore

    @inline def prunable(ubSum: Double): Boolean = ubSum <= theta

    @inline def offer(s: Double, d: Long): Unit = {
      if (heap.size < k) heap.push(s, d)
      else if (s > heap.headScore || (s == heap.headScore && d < heap.headId))
        heap.replaceHead(s, d)
    }

    var done = false
    while (n > 0 && !done) {
      java.util.Arrays.sort(cursors, 0, n, byDocId)
      // pivot: smallest prefix whose sum of maxScores can still matter
      var acc = 0.0
      var p = 0
      var found = -1
      while (p < n && found < 0) {
        acc += cursors(p).maxScore
        if (heap.size < k || !prunable(acc)) found = p
        p += 1
      }
      if (found < 0) done = true // nothing left can reach theta
      else {
        val pivotDoc = cursors(found).docId
        // extend the prefix over every cursor already at pivotDoc, so the
        // block-max sum below upper-bounds pivotDoc's true score
        while (found + 1 < n && cursors(found + 1).docId == pivotDoc) found += 1

        if (cursors(0).docId == pivotDoc) {
          // block-max refinement: sum of per-block UBs at pivotDoc
          var bmSum = 0.0
          var i = 0
          while (i <= found) {
            cursors(i).advanceTo(pivotDoc)
            if (!cursors(i).exhausted && cursors(i).docId <= cursors(i).blockLastDocId)
              bmSum += cursors(i).blockMaxScore
            i += 1
          }
          if (heap.size == k && prunable(bmSum)) {
            // shallow advance: skip to just past the nearest block
            // boundary among the pivot prefix - but never past the first
            // non-prefix cursor's docId, whose lists could still score
            // the skipped docs
            var boundary = Long.MaxValue
            i = 0
            while (i <= found) {
              val c = cursors(i)
              if (!c.exhausted && c.docId == pivotDoc && c.blockLastDocId < boundary)
                boundary = c.blockLastDocId
              i += 1
            }
            // single-cursor prefix (the hot single-term case): extend
            // across ALL consecutive blocks whose max stays under the
            // threshold - metadata-only scan, the skipped
            // blocks are never decoded
            if (found == 0 && !cursors(0).exhausted && cursors(0).docId == pivotDoc)
              boundary = math.max(boundary, cursors(0).boundaryWithMaxBelow(theta))
            if (found + 1 < n)
              boundary = math.min(boundary, cursors(found + 1).docId - 1)
            if (boundary == Long.MaxValue || boundary < pivotDoc) boundary = pivotDoc
            i = 0
            while (i <= found) {
              val c = cursors(i)
              if (!c.exhausted && c.docId <= boundary) c.advanceTo(boundary + 1)
              i += 1
            }
          } else {
            // full evaluation of pivotDoc: gather contributions, then sum
            // in cursor creation order (term order) so the score is
            // bit-deterministic independent of cursor sort history
            var i = 0
            while (i < n && !cursors(i).exhausted && {
              cursors(i).advanceTo(pivotDoc)
              !cursors(i).exhausted && cursors(i).docId == pivotDoc
            }) {
              contrib(cursors(i).ord) = cursors(i).score
              used(cursors(i).ord) = true
              cursors(i).next()
              i += 1
            }
            var s = 0.0
            var j = 0
            while (j < nOrd) {
              if (used(j)) { s += contrib(j); used(j) = false }
              j += 1
            }
            offer(s, pivotDoc)
          }
        } else {
          // advance all pre-pivot cursors to pivotDoc
          var i = 0
          while (i < found) { cursors(i).advanceTo(pivotDoc); i += 1 }
        }
        // in-place compaction of exhausted cursors (no array per round)
        var w = 0
        var i = 0
        while (i < n) {
          if (!cursors(i).exhausted) { cursors(w) = cursors(i); w += 1 }
          i += 1
        }
        n = w
      }
    }
    drain(heap)
  }
}
