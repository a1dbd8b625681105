package graft.search

import graft.index.InvertedIndex

/** In-memory serving mode: the whole compressed index (or a hot shard
  * subset) collected once, then block-max WAND runs without any Spark
  * job — millisecond-latency single queries, directly comparable to the
  * reference's in-process criterion benches
  * (/root/reference/benches/base_index_bench.json: 8–19 ms per top-3
  * query). The distributed path (InvertedIndex.wandTopK/wandTopKBatch)
  * remains the scale path; this is the low-latency serving tier a search
  * cluster would run per replica over its shard range. Driver-side only.
  *
  * Term statistics load with the replica: (idf, ub) for every term of
  * its shard slice, collected once at [[LocalSearcher.fromIndex]] and
  * bounded by the same `rowBudget` as the postings (at most one stats
  * row per held list). `termInfoFn` answers held terms from that map,
  * so a query never starts a Spark job for its stats.
  */
final class LocalSearcher(
    val byTerm: Map[String, Array[graft.index.DecodedList]],
    val termInfoFn: Seq[String] => Map[String, (Double, Double)],
    val nDocs: Long,
    val avgdl: Double,
    val params: BM25.Params) {

  /** Exact top-k (score DESC, docId ASC) over pre-decoded lists: O(1)
    * cursor setup per (query, term, shard); WAND per shard, shard top-ks
    * merged. idf comes from GLOBAL stats (termInfoFn), so a shard-range
    * replica scores identically to the full searcher and fan-out merges
    * stay exact.
    */
  def topK(qTerms: Seq[String], k: Int): Array[Wand.Hit] = {
    val terms = qTerms.distinct.filter(byTerm.contains).sorted
    if (terms.isEmpty) return Array.empty
    val idfMap = termInfoFn(terms).map { case (t, (i, _)) => t -> i }
    evalCanonical(terms, idfMap, k)
  }

  /** Batched serving: one termInfoFn lookup for the whole batch, then one
    * WAND evaluation per DISTINCT canonical term set, run in parallel
    * across the replica's cores (each evaluation reads only immutable
    * decoded lists and builds its own cursors). ≡ sequential topK calls
    * (asserted in IndexSpec); throughput follows distinct sets, not
    * batch size.
    */
  def topKBatch(queries: Seq[(Int, Seq[String])], k: Int): Seq[(Int, Array[Wand.Hit])] = {
    val prep = queries.map { case (qid, ts) =>
      (qid, ts.distinct.filter(byTerm.contains).sorted)
    }
    val idfMap = termInfoFn(prep.flatMap(_._2).distinct)
      .map { case (t, (i, _)) => t -> i }
    import scala.collection.parallel.CollectionConverters._
    val results: Map[Seq[String], Array[Wand.Hit]] =
      prep.map(_._2).distinct.par.map { ts =>
        ts -> (if (ts.isEmpty) Array.empty[Wand.Hit] else evalCanonical(ts, idfMap, k))
      }.seq.toMap
    prep.map { case (qid, ts) => qid -> results(ts) }
  }

  private def evalCanonical(terms: Seq[String], idfMap: Map[String, Double],
      k: Int): Array[Wand.Hit] = {
    // per-term list arrays are shard-sorted (fromIndex), and `terms` is
    // sorted — a primitive index-walk merge visits shards ascending and
    // gathers each shard's lists in term order, exactly the former
    // groupBy(_.shard) + sortBy(_._1) + per-shard sortBy(_.term) (the
    // per-canonical Map/Seq churn was measured serving warm-up cost)
    val arrays = terms.map(byTerm(_)).toArray
    // a term can be decoded in this replica yet missing from the
    // termstats loaded with it (stale/partially rebuilt stats): degrade
    // to the df=0 idf instead of throwing — same graceful contract the
    // pre-memo idf() helper had
    val idfs = terms.map(t => idfMap.getOrElse(t, BM25.idf(nDocs.toDouble, 0.0))).toArray
    val pos = new Array[Int](arrays.length)
    val ws = new Wand.Workspace // one heap + scratch for all shards of this query
    val cbuf = new scala.collection.mutable.ArrayBuffer[Wand.Cursor]()
    val out = new scala.collection.mutable.ArrayBuffer[Wand.Hit]()
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
            cbuf += new graft.index.DecodedCursor(arrays(i)(pos(i)), idfs(i))
            pos(i) += 1
          }
          i += 1
        }
        out ++= Wand.topK(cbuf, k, ws)
      }
    }
    val all = out.toArray
    scala.util.Sorting.stableSort(all,
      (a: Wand.Hit, b: Wand.Hit) => a.score > b.score || (a.score == b.score && a.docId < b.docId))
    all.take(k)
  }
}

object LocalSearcher {

  /** Postings a replica may collect before [[fromIndex]] warns. A replica
    * is SLICE-SCOPED at scale: the full-range default exists for tests
    * and small corpora only — at 10¹²-doc scale the whole index is not
    * collectable and a serving tier must pass an explicit shard range.
    */
  val DefaultReplicaRowBudget: Long = 20_000_000L

  /** Collect an index — or just the doc-shard slice [shardLo, shardHi]
    * a serving replica owns — into memory (one Spark job) and pre-decode
    * every list; queries never touch compressed bytes again.
    *
    * The shard predicate pushes to the postings parquet scan (shard is a
    * sorted column → row-group pruning), so a replica reads ONLY its
    * slice from storage. idf statistics (termstats, nDocs, avgdl) stay
    * GLOBAL regardless of the slice, so replica scores are identical to
    * the full searcher's and a fan-out tier can merge replica top-ks by
    * (score DESC, docId ASC) exactly. The (idf, ub) of every term the
    * slice holds loads here, in one more read of termstats: the whole
    * table when the range covers every shard, else a left-semi join
    * against the slice's terms. A full-range replica then treats any
    * other term as absent from the index; a slice replica asks the
    * index's termInfo memo for terms it does not hold (the blended
    * normalizer needs their global stats — see LocalBlended.topK).
    *
    * SCALE CONTRACT: replicas are slice-scoped. The full-range default
    * silently collects the ENTIRE posting set — fine for tests, a
    * scale-killer on a big index — so the slice's posting count is
    * checked (one tiny pushed-filter aggregate) against `rowBudget`
    * BEFORE the collect and `onOversize` fires when it exceeds it. The
    * stats map holds at most one row per held list, so the same check
    * bounds it.
    */
  def fromIndex(index: InvertedIndex, shardLo: Int = 0,
      shardHi: Int = Int.MaxValue,
      rowBudget: Long = DefaultReplicaRowBudget,
      onOversize: String => Unit = m => System.err.println(s"[graft] WARN $m")): LocalSearcher = {
    import org.apache.spark.sql.functions.{col, sum}
    val p = index.bm25
    val ad = index.avgdl
    val slice = index.postings
      .filter(col("shard") >= shardLo && col("shard") <= shardHi)
    val totalPostings = slice.agg(sum(col("df"))).collect()(0) match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    if (totalPostings > rowBudget)
      onOversize(s"serving replica would collect $totalPostings postings " +
        s"(budget $rowBudget) for shard range [$shardLo, $shardHi] of ${index.dir} — " +
        "replicas are slice-scoped at scale; pass an explicit shard range")
    val lh = index.lensHandle
    val lists = slice.collect().map { pl =>
      // replica-side decode: the shard's lens window loads once per shard
      // (LensStore cache) and is shared by every list of that shard
      graft.index.DecodedList.from(pl, p, ad, lh.forShard(pl.shard),
        pl.shard.toLong * lh.docsPerShard)
    }
    val byTerm = lists.groupBy(_.term).map { case (t, ls) => t -> ls.sortBy(_.shard) }
    val fullRange = shardLo <= 0 && shardHi >= (index.nDocs - 1) / index.docsPerShard
    val held = index.collectTermInfo(
      if (fullRange) index.termStats
      else index.termStats.join(slice.select("term"), Seq("term"), "left_semi"))
    val termInfoFn: Seq[String] => Map[String, (Double, Double)] = { ts =>
      // a full-range replica holds every indexed term: any other is absent
      val (mine, others) = ts.distinct.partition(t => fullRange || byTerm.contains(t))
      mine.flatMap(t => held.get(t).map(t -> _)).toMap ++
        (if (others.isEmpty) Map.empty else index.termInfo(others))
    }
    val searcher = new LocalSearcher(byTerm, termInfoFn, index.nDocs, index.avgdl, index.bm25)
    warmKernel(searcher)
    searcher
  }

  /** Bounded construction-time JIT warm-up: a serving replica runs its
    * query kernel to steady state BEFORE taking traffic (the standard
    * serving practice; measured on this box the cold kernel serves
    * ~7.5k q/s and climbs to ~12k as C2 finishes — a replica that skips
    * this serves its first seconds of traffic at half speed). Results
    * are discarded; the only side effect is compiled code (the warm
    * terms are held terms, whose stats loaded with the replica).
    */
  private def warmKernel(s: LocalSearcher): Unit = {
    val warmTerms = s.byTerm.keysIterator.take(32).toVector
    if (warmTerms.isEmpty) return
    // single- and multi-term sets: both kernel regimes compile
    val wq = (0 until 96).map { i =>
      val t1 = warmTerms(i % warmTerms.size)
      if (i % 3 == 0) (i, Seq(t1))
      else (i, Seq(t1, warmTerms((i * 7 + 3) % warmTerms.size)))
    }
    val deadline = System.nanoTime() + 400_000_000L // ≤ 0.4 s
    var r = 0
    while (r < 24 && System.nanoTime() < deadline) { s.topKBatch(wq, 10); r += 1 }
  }

  /** Merge per-replica top-ks (each already (score DESC, docId ASC)
    * sorted) into the global top-k — the serving fan-out's reduce step.
    */
  def mergeTopK(parts: Seq[Array[Wand.Hit]], k: Int): Array[Wand.Hit] = {
    val all = parts.flatten.toArray
    scala.util.Sorting.stableSort(all,
      (a: Wand.Hit, b: Wand.Hit) => a.score > b.score || (a.score == b.score && a.docId < b.docId))
    all.take(k)
  }
}
