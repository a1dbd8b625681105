package graft.search

import graft.index.DecodedCursor

/** In-memory BLENDED serving tier: the λ-aware analog of
  * [[LocalSearcher]] — answers α·BM25̂ + (1−α)·λ-proximity top-k with no
  * Spark job, directly comparable to the reference's in-process blended
  * criterion numbers (/root/reference/benches/base_index_bench.json:
  * 8.65 ms per α=0.9 top-3 query). Driver-side only.
  *
  * A replica holds its shard range's pre-decoded posting lists (via the
  * wrapped LocalSearcher) plus the SAME range's λ slice — per-doc λ for
  * shard s covers docIds [s·docsPerShard, (s+1)·docsPerShard), so the
  * λ slice is exactly the doc-shard layout the posting slice already
  * follows. idf/ub statistics stay global: the wrapped searcher loads
  * them with its postings for every term its slice holds, bounded by
  * the same `rowBudget` (see LocalSearcher.fromIndex), so replica
  * results still merge exactly (same argument as
  * LocalSearcher.mergeTopK). A full-range replica serves with no Spark
  * job; a slice replica asks the index's termInfo memo only for query
  * terms outside its slice.
  *
  * Query path = the distributed LambdaIndex.blendedTopK semantics: per
  * shard, the blended-WAND kernel [[Wand.blendedTopK]] prunes directly
  * on the blended threshold α·BM25/ubNorm + (1−α)·proximity, with λ
  * looked up per surviving doc (0.0 when absent — same as the
  * distributed left-join + fill); shard top-ks merge by (score DESC,
  * docId ASC). Rank-identity to the distributed path is asserted in
  * LambdaPipelineSpec.
  */
final class LocalBlended(
    val searcher: LocalSearcher,
    val lambdas: java.util.HashMap[Long, java.lang.Double],
    val queryLambda: Map[String, Int] => Double,
    val tokenize: String => Array[String]) {

  def topK(qText: String, k: Int, alpha: Double): Array[Wand.Hit] = {
    val toks = tokenize(qText)
    val counts = toks.toSeq.groupBy(identity).map { case (t, xs) => t -> xs.size }
    val lq = queryLambda(counts)
    // terms filter + ubNorm come from GLOBAL stats (termInfoFn covers
    // the whole index) — NOT from this replica's slice-local byTerm: a
    // term absent from this shard range must still contribute to the
    // normalizer, or replicas score on different scales and the fan-out
    // merge stops being exact
    val info = searcher.termInfoFn(toks.distinct.toSeq)
    topKCanonical(toks.distinct.filter(info.contains).sorted.toSeq, lq, info, k, alpha)
  }

  /** Batched serving: the canonical-set dedup of the distributed
    * blendedTopKBatch applied driver-side — tokenize, λq, global-stat
    * lookup (ONE termInfoFn call for the whole batch), and the blended
    * WAND run once per DISTINCT (indexed term set, λq), then fan
    * back out to every query id. ≡ sequential topK calls (asserted in
    * LambdaPipelineSpec); throughput follows distinct canonical sets,
    * not batch size.
    */
  def topKBatch(queries: Seq[(Int, String)], k: Int,
      alpha: Double): Seq[(Int, Array[Wand.Hit])] = {
    val prep = queries.map { case (qid, text) =>
      val toks = tokenize(text)
      val counts = toks.toSeq.groupBy(identity).map { case (t, xs) => t -> xs.size }
      (qid, toks.distinct.sorted.toSeq, queryLambda(counts))
    }
    val info = searcher.termInfoFn(prep.flatMap(_._2).distinct)
    val canon = prep.map { case (qid, ts, lq) => (qid, (ts.filter(info.contains), lq)) }
    // canonicals evaluate in parallel across the replica's cores —
    // each evaluation reads only immutable decoded lists / the λ map
    // and builds its own cursors, so results are deterministic per key
    import scala.collection.parallel.CollectionConverters._
    val results: Map[(Seq[String], Double), Array[Wand.Hit]] =
      canon.map(_._2).distinct.par.map { case key @ (ts, lq) =>
        key -> topKCanonical(ts, lq, info, k, alpha)
      }.seq.toMap
    canon.map { case (qid, key) => qid -> results(key) }
  }

  /** One canonical (sorted indexed term set, λq) evaluated over this
    * replica's slice: per-shard blended-WAND kernel (pruned directly on
    * the blended threshold — [[Wand.blendedTopK]], the kernel of the
    * distributed blended paths too), exact heap merge. Scores and
    * tie-breaks are identical to the distributed paths'.
    */
  private def topKCanonical(terms: Seq[String], lq: Double,
      info: Map[String, (Double, Double)], k: Int, alpha: Double): Array[Wand.Hit] = {
    if (terms.isEmpty) return Array.empty
    val k1p1 = searcher.params.k1 + 1.0
    val ubNorm = math.max(terms.map(info(_)._1 * k1p1).sum, 1e-12)
    val lambdaOf: Long => Double = { d =>
      val l = lambdas.get(d)
      if (l == null) 0.0 else l.doubleValue()
    }
    // primitive shard-merge walk over the term-sorted, shard-sorted list
    // arrays — same visit order as the former groupBy/sortBy (see
    // LocalSearcher.evalCanonical)
    val arrays = terms.map(t =>
      searcher.byTerm.getOrElse(t, Array.empty[graft.index.DecodedList])).toArray
    val idfs = terms.map(t => info(t)._1).toArray
    val pos = new Array[Int](arrays.length)
    val ws = new Wand.Workspace // one heap + scratch for all shards of this query
    val cbuf = new scala.collection.mutable.ArrayBuffer[Wand.Cursor]()
    val merge = new Wand.HitHeap // global top-k across shards
    var done = false
    while (!done) {
      var shard = Int.MaxValue
      var i = 0
      while (i < arrays.length) {
        if (pos(i) < arrays(i).length && arrays(i)(pos(i)).shard < shard)
          shard = arrays(i)(pos(i)).shard
        i += 1
      }
      if (shard == Int.MaxValue) done = true
      else {
        cbuf.clear()
        i = 0
        while (i < arrays.length) {
          while (pos(i) < arrays(i).length && arrays(i)(pos(i)).shard == shard) {
            cbuf += new DecodedCursor(arrays(i)(pos(i)), idfs(i))
            pos(i) += 1
          }
          i += 1
        }
        Wand.blendedTopK(cbuf, k, alpha, ubNorm, lq, lambdaOf, ws).foreach { hit =>
          if (merge.size < k) merge.push(hit.score, hit.docId)
          else if (hit.score > merge.headScore ||
            (hit.score == merge.headScore && hit.docId < merge.headId))
            merge.replaceHead(hit.score, hit.docId)
        }
      }
    }
    merge.drain()
  }
}

object LocalBlended {

  /** Collect a replica: posting lists, the global (idf, ub) of every
    * term they hold, and the λ slice for [shardLo, shardHi] (pushed-
    * filter scans), plus the λ-index query-side closure (vocab + CSR
    * already live on the driver in LambdaIndex). docsPerShard comes from
    * the index meta so the λ slice matches the posting slice exactly.
    *
    * SCALE CONTRACT: replicas are slice-scoped — the full-range default
    * collects the whole posting set AND the whole λ table, fine only for
    * tests/small corpora. The collects are budget-guarded (the posting
    * side and its term stats inside LocalSearcher.fromIndex, the λ side
    * here) and `onOversize` fires before an uncollectable slice is
    * attempted.
    */
  def fromIndexes(index: graft.index.InvertedIndex,
      lam: graft.lambda.LambdaIndex,
      shardLo: Int = 0, shardHi: Int = Int.MaxValue,
      rowBudget: Long = LocalSearcher.DefaultReplicaRowBudget,
      onOversize: String => Unit = m => System.err.println(s"[graft] WARN $m")): LocalBlended = {
    import org.apache.spark.sql.functions.col
    val searcher = LocalSearcher.fromIndex(index, shardLo, shardHi, rowBudget, onOversize)
    val dps = index.meta("docsPerShard").toLong
    val lamMap = new java.util.HashMap[Long, java.lang.Double]()
    val lamDf =
      if (shardLo == 0 && shardHi == Int.MaxValue) lam.lambdas
      else lam.lambdas.filter(
        col("doc_id") >= shardLo.toLong * dps &&
          col("doc_id") < (shardHi.toLong + 1L) * dps)
    val lamRows = lamDf.count()
    if (lamRows > rowBudget)
      onOversize(s"blended replica would collect $lamRows lambda rows " +
        s"(budget $rowBudget) for shard range [$shardLo, $shardHi] — " +
        "replicas are slice-scoped at scale; pass an explicit shard range")
    lamDf.collect().foreach(r => lamMap.put(r.getLong(0), r.getDouble(1)))
    val tokMode = index.meta.getOrElse("tokenizer", "code")
    val fn: String => Array[String] =
      if (tokMode == "simple") graft.tokenize.CodeTokenizer.simpleTokens
      else graft.tokenize.CodeTokenizer.codeTokens
    val lb = new LocalBlended(searcher, lamMap, lam.queryLambda, fn)
    // bounded JIT warm-up of the BLENDED kernel before the replica takes
    // traffic (same rationale as LocalSearcher.warmKernel; the wrapped
    // searcher already warmed the pure-BM25 path)
    val warmTerms = searcher.byTerm.keysIterator.take(24).toVector
    if (warmTerms.nonEmpty) {
      val wq = (0 until 48).map { i =>
        (i, warmTerms(i % warmTerms.size) + " " +
          warmTerms((i * 5 + 1) % warmTerms.size))
      }
      val deadline = System.nanoTime() + 400_000_000L // ≤ 0.4 s
      var r = 0
      while (r < 24 && System.nanoTime() < deadline) { lb.topKBatch(wq, 10, 0.9); r += 1 }
    }
    lb
  }
}
