package graft.index

import scala.collection.mutable.ArrayBuffer
import graft.search.BM25

/** One compressed posting list for (term, shard).
  *
  * Docs are sharded by contiguous docId range (shard = docId / docsPerShard)
  * — the explicit skew handling demanded by the north rule: a hot term's
  * postings split evenly across ALL shards, so no single task ever owns a
  * full Zipf-head list, and the "global inverted index" for a term is the
  * concatenation of its shard lists in shard order (sort-merge-combine of
  * runs that are already docId-disjoint and ordered).
  *
  * Layout per list (block size [[PostingFormat.BlockSize]]):
  *  - `docBytes`: per block, FOR bit-packed (1-byte width header) deltas of
  *    strictly-increasing docIds;
  *  - `tfBytes`: per block, LEB128 varints of tf;
  *  - doc lengths do NOT travel in the list (v5): they live in the
  *    shard-local [[LensStore]] side array — one Array[Int] per doc-shard,
  *    loaded once per shard task/replica — instead of being re-carried and
  *    re-decoded on every posting (the dl varint stream was ~⅓ of decode
  *    payload on a measured DRAM-bandwidth-bound path);
  *  - `blockLastDoc`: max docId per block → block skipping in `advanceTo`;
  *  - `blockMaxPartial`: per-block max of the idf-free BM25 partial
  *    (k1+1)·tf / (tf + k1·(1−b+b·dl/avgdl)) → block-max WAND upper bounds
  *    (computed at encode time, when dls are still at hand).
  */
case class PostingList(
    term: String,
    shard: Int,
    df: Long,
    docBytes: Array[Byte],
    tfBytes: Array[Byte],
    blockLen: Array[Int],
    blockLastDoc: Array[Long],
    blockDocOff: Array[Int],
    blockTfOff: Array[Int],
    blockMaxPartial: Array[Double],
    maxPartial: Double,
    /** The corpus avgdl this list's block-max bounds were ENCODED with.
      * Appending epochs moves the live avgdl; since the BM25 partial is
      * increasing in avgdl (and its ratio is bounded by the avgdl
      * ratio — see [[PostingFormat.boundFactor]]), bounds stay safe
      * when scaled by max(1, avgdlNow / encAvgdl). Exact per-posting
      * scores are always recomputed with the live avgdl at query time.
      */
    encAvgdl: Double
)

/** Process-wide posting-decode counters: blocks and compressed payload
  * bytes decoded by [[PostingFormat.decodeAll]] (every query path decodes
  * through it, once per list it reads), plus the payload-byte account
  * behind the v5 dl-sidecar change. LongAdder: safe under local-mode
  * executor threads; negligible write cost.
  */
object PostingStats {
  val blocksDecoded = new java.util.concurrent.atomic.LongAdder
  /** Compressed payload bytes consumed by block decodes (doc + tf). */
  val bytesDecoded = new java.util.concurrent.atomic.LongAdder
  def reset(): Unit = { blocksDecoded.reset(); bytesDecoded.reset() }
  def decoded(): Long = blocksDecoded.sum()
  def bytes(): Long = bytesDecoded.sum()
}

object PostingFormat {
  val BlockSize = 128
  /** log2(BlockSize), derived (not hardcoded) so position→block mapping
    * in DecodedCursor can never drift from the encoder's block size.
    */
  val BlockShift: Int = {
    require(Integer.bitCount(BlockSize) == 1, "BlockSize must be a power of two")
    Integer.numberOfTrailingZeros(BlockSize)
  }

  /** Encode one (term, shard) list from docId-sorted postings. `dls` are
    * consumed for the block-max bounds only — they are NOT stored (the
    * LensStore side array serves them at decode time).
    */
  def encode(term: String, shard: Int,
      docIds: Array[Long], tfs: Array[Long], dls: Array[Long],
      params: BM25.Params, avgdl: Double): PostingList = {
    val n = docIds.length
    require(n > 0, "empty posting list")
    val nBlocks = (n + BlockSize - 1) / BlockSize
    val docOut = new ArrayBuffer[Byte](n * 2)
    val tfOut = new ArrayBuffer[Byte](n)
    val bLen = new Array[Int](nBlocks)
    val bLast = new Array[Long](nBlocks)
    val bDocOff = new Array[Int](nBlocks)
    val bTfOff = new Array[Int](nBlocks)
    val bMax = new Array[Double](nBlocks)
    var maxPartial = 0.0
    var b = 0
    while (b < nBlocks) {
      val start = b * BlockSize
      val end = math.min(start + BlockSize, n)
      val len = end - start
      bLen(b) = len
      bLast(b) = docIds(end - 1)
      bDocOff(b) = docOut.length
      bTfOff(b) = tfOut.length
      // deltas within block, first relative to previous block's last (or 0)
      val deltas = new Array[Long](len)
      var prev = if (start == 0) 0L else docIds(start - 1)
      var i = 0
      while (i < len) {
        val d = docIds(start + i) - prev
        require(d > 0 || (start + i == 0 && d >= 0), s"non-increasing docId at ${start + i}")
        deltas(i) = d
        prev = docIds(start + i)
        i += 1
      }
      Codec.forEncodeBlock(deltas, docOut)
      var blockMax = 0.0
      i = 0
      while (i < len) {
        val tf = tfs(start + i)
        val dl = dls(start + i)
        Codec.writeVarLong(tf, tfOut)
        val p = partial(tf.toDouble, dl.toDouble, params, avgdl)
        if (p > blockMax) blockMax = p
        i += 1
      }
      bMax(b) = blockMax
      if (blockMax > maxPartial) maxPartial = blockMax
      b += 1
    }
    PostingList(term, shard, n.toLong, docOut.toArray, tfOut.toArray,
      bLen, bLast, bDocOff, bTfOff, bMax, maxPartial, avgdl)
  }

  /** Safe multiplier turning bounds encoded at `encAvgdl` into upper
    * bounds at the live `avgdlNow`: partial(tf, dl, avgdl) is increasing
    * in avgdl and partial(a₂)/partial(a₁) ≤ a₂/a₁ for a₂ > a₁ (because
    * (c+x)/(c+y) ≤ x/y for c ≥ 0, x ≥ y with x = k1·b·dl/a₁,
    * y = k1·b·dl/a₂, c = tf + k1(1−b)).
    */
  @inline def boundFactor(encAvgdl: Double, avgdlNow: Double): Double =
    if (avgdlNow > encAvgdl && encAvgdl > 0.0) avgdlNow / encAvgdl else 1.0

  /** idf-free BM25 partial score of one posting. */
  @inline def partial(tf: Double, dl: Double, p: BM25.Params, avgdl: Double): Double =
    tf * (p.k1 + 1.0) / (tf + p.k1 * (1.0 - p.b + p.b * dl / avgdl))

  /** Decode the whole list (tests / exact replay). Returns (docIds, tfs);
    * doc lengths come from the shard lens array.
    */
  def decodeAll(pl: PostingList): (Array[Long], Array[Long]) = {
    val n = pl.df.toInt
    val docIds = new Array[Long](n)
    val tfs = new Array[Long](n)
    var pos = 0
    var b = 0
    PostingStats.blocksDecoded.add(pl.blockLen.length.toLong)
    PostingStats.bytesDecoded.add(pl.docBytes.length.toLong + pl.tfBytes.length.toLong)
    while (b < pl.blockLen.length) {
      val len = pl.blockLen(b)
      val (deltas, _) = Codec.forDecodeBlock(pl.docBytes, pl.blockDocOff(b), len)
      var prev = if (pos == 0) 0L else docIds(pos - 1)
      val (tfv, _) = Codec.decodeVarInts(pl.tfBytes, len, pl.blockTfOff(b))
      var i = 0
      while (i < len) {
        prev += deltas(i)
        docIds(pos) = prev
        tfs(pos) = tfv(i)
        pos += 1; i += 1
      }
      b += 1
    }
    (docIds, tfs)
  }
}

/** Fully-decoded posting list: decode ONCE, then share across many
  * queries (the per-shard query program / the in-memory serving tier). Positions map
  * to blocks by `pos >> BlockShift` (all blocks are exactly BlockSize
  * except the last), so block-max metadata keeps working without
  * re-decoding.
  * `partials` precomputes the idf-free BM25 partial per posting — a
  * query's contribution is just `idf × partials(pos)`.
  */
final class DecodedList(
    val term: String,
    val shard: Int,
    val docIds: Array[Long],
    val partials: Array[Double],
    val blockLastDoc: Array[Long],
    val blockMaxPartial: Array[Double],
    val maxPartial: Double) extends Serializable

object DecodedList {
  /** `lens` is the shard's doc-length window (LensStore/LensHandle) and
    * `base` its first docId (shard × docsPerShard); index = docId − base.
    */
  def from(pl: PostingList, params: BM25.Params, avgdl: Double,
      lens: Array[Int], base: Long): DecodedList = {
    val (ids, tfs) = PostingFormat.decodeAll(pl)
    val partials = new Array[Double](ids.length)
    var i = 0
    while (i < ids.length) {
      val dl = lens((ids(i) - base).toInt)
      partials(i) = PostingFormat.partial(tfs(i).toDouble, dl.toDouble, params, avgdl)
      i += 1
    }
    // exact partials above use the LIVE avgdl; the encoded block-max
    // bounds are lifted by the safe factor when the corpus grew since
    // this list was written (appended epochs)
    val bf = PostingFormat.boundFactor(pl.encAvgdl, avgdl)
    val bMax = if (bf == 1.0) pl.blockMaxPartial else pl.blockMaxPartial.map(_ * bf)
    new DecodedList(pl.term, pl.shard, ids, partials, pl.blockLastDoc,
      bMax, pl.maxPartial * bf)
  }
}

/** Zero-decode cursor over a shared DecodedList — the one cursor class
  * the WAND kernels run on (`Wand.Cursor`), on every distributed path
  * and in the serving replicas. O(1) construction AND O(1) [[reset]] —
  * the shard program builds one cursor per (term, shard) list per task
  * and resets it before every query instead of allocating ~sets × terms
  * cursors per shard (measured GC pressure on the 32k-query batch).
  */
final class DecodedCursor(dl: DecodedList, val idf: Double) {
  /** Creation-order index; WAND sums per-doc contributions in this order
    * so scores are bit-deterministic regardless of cursor sort history.
    */
  var ord: Int = 0
  private val n = dl.docIds.length
  private var pos = 0

  /** Rewind for reuse by the next query (batch path). */
  def reset(): Unit = { pos = 0; ord = 0 }

  val maxScore: Double = idf * dl.maxPartial
  def exhausted: Boolean = pos >= n
  def docId: Long = dl.docIds(pos)
  def score: Double = idf * dl.partials(pos)
  def blockMaxScore: Double = idf * dl.blockMaxPartial(pos >> PostingFormat.BlockShift)
  def blockLastDocId: Long = dl.blockLastDoc(pos >> PostingFormat.BlockShift)

  /** Cross-block shallow-advance boundary (BMW): last docId of the
    * maximal run of consecutive blocks, starting at the current one,
    * whose blockMaxScore stays < limit — scanned over block METADATA
    * only. Callers must have already established that the current block
    * is prunable.
    */
  def boundaryWithMaxBelow(limit: Double): Long = {
    var b = pos >> PostingFormat.BlockShift
    val nB = dl.blockLastDoc.length
    while (b + 1 < nB && idf * dl.blockMaxPartial(b + 1) < limit) b += 1
    dl.blockLastDoc(b)
  }

  def next(): Unit = pos += 1

  def advanceTo(target: Long): Unit = {
    if (pos >= n || dl.docIds(pos) >= target) return
    // galloping then binary search — fast for short and long jumps alike
    var lo = pos
    var step = 1
    var hi = pos + 1
    while (hi < n && dl.docIds(hi) < target) { lo = hi; step <<= 1; hi = math.min(pos + step, n) }
    // invariant: docIds(lo) < target; docIds(hi) >= target or hi == n
    while (lo + 1 < hi) {
      val mid = (lo + hi) >>> 1
      if (dl.docIds(mid) < target) lo = mid else hi = mid
    }
    pos = hi
  }
}
