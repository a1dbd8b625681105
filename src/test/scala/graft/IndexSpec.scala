package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, Stage}
import graft.search.BM25
import java.nio.file.{Files, Paths}

/** End-to-end inverted-index tests over the synthesized code corpus:
  * build → WAND top-k rank-identical to exhaustive BM25 → resume.
  */
class IndexSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  val nFiles = 600L
  lazy val tmp: String = Files.createTempDirectory("graft-index").toString
  lazy val index = IndexBuilder.build(
    spark, CodeCorpus.generate(spark, nFiles, 42L, 8), s"$tmp/idx",
    corpusFp = s"synthetic:42:$nFiles",
    IndexBuilder.Params(docsPerShard = 128L, numParts = 8))

  /** Exhaustive BM25 straight from the docs table (independent path —
    * tokens recomputed, not read from the index).
    */
  def oracleTopK(qTerms: Seq[String], k: Int) = {
    val docs = index.docs.select(col("docId").as("doc_id"), col("content"))
    import spark.implicits._
    val toks = docs.as[(Long, String)]
      .flatMap { case (id, c) => graft.tokenize.CodeTokenizer.codeTokens(c).map(t => (id, t)) }
      .toDF("doc_id", "term")
    BM25.scoreExact(BM25.termFreq(toks), BM25.docLengths(toks), qTerms, k, roundTo = -1)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  def wand(qTerms: Seq[String], k: Int) =
    index.wandTopK(qTerms, k).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("build completes with per-stage lineage") {
    index // force
    for (s <- Seq("docs", "doclens", "postings", "termstats")) {
      assert(Files.exists(Paths.get(s"$tmp/idx/$s/_SUCCESS_STAGE")), s)
      assert(Files.exists(Paths.get(s"$tmp/idx/$s/_lineage.json")), s)
    }
    assert(index.nDocs == nFiles)
    assert(index.avgdl > 10)
  }

  test("hot-term postings split across (nearly) all doc shards — no skewed task") {
    import spark.implicits._
    val nShards = math.ceil(nFiles / 128.0).toInt
    val hotShards = index.postings.filter($"term" === "get")
      .select("shard").distinct().count()
    assert(hotShards >= (nShards * 9) / 10,
      s"hottest term in $hotShards of $nShards shards")
    // and each shard-list is bounded by the shard size (no single task
    // ever owns the full Zipf-head list)
    val maxDf = index.postings.filter($"term" === "get")
      .agg(org.apache.spark.sql.functions.max($"df")).collect()(0).getLong(0)
    assert(maxDf <= 128)
  }

  test("wandTopKBatch (decode-once) returns exactly the per-query wandTopK results") {
    val queries = Seq(
      0 -> Seq("get"),
      1 -> Seq("data", "index", "merge"),
      2 -> Seq("lambda", "energy"),
      3 -> Seq("nosuchterm"))
    val batch = index.wandTopKBatch(queries, 10).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    for ((qid, terms) <- queries) {
      val single = index.wandTopK(terms, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = batch.getOrElse(qid, Array.empty).sortBy(x => (-x._3, x._2))
        .map(x => (x._2, x._3)).toSeq
      assert(b.map(_._1) == single.map(_._1), s"qid=$qid: $b vs $single")
      b.zip(single).foreach { case ((_, x), (_, y)) => assert(math.abs(x - y) < 1e-9) }
    }
  }

  test("LocalSearcher (in-memory serving) matches the distributed WAND path") {
    val local = graft.search.LocalSearcher.fromIndex(index)
    for (q <- Seq(Seq("get"), Seq("data", "index", "merge"), Seq("nosuch"))) {
      val a = local.topK(q, 10).map(h => (h.docId, h.score)).toSeq
      val b = index.wandTopK(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a.map(_._1) == b.map(_._1), s"q=$q: $a vs $b")
      a.zip(b).foreach { case ((_, x), (_, y)) => assert(math.abs(x - y) < 1e-9) }
    }
  }

  test("LocalSearcher.topKBatch ≡ sequential topK calls (canonical dedup, parallel eval)") {
    val local = graft.search.LocalSearcher.fromIndex(index)
    val queries = Seq(
      0 -> Seq("get"),
      1 -> Seq("data", "index", "merge"),
      2 -> Seq("get"), // repeat
      3 -> Seq("merge", "data", "index"), // same set, different order
      4 -> Seq("nosuchterm"),
      5 -> Seq("lambda", "energy"))
    val batch = local.topKBatch(queries, 10).toMap
    assert(batch.keySet == queries.map(_._1).toSet)
    for ((qid, ts) <- queries) {
      val single = local.topK(ts, 10).map(h => (h.docId, h.score)).toSeq
      val b = batch(qid).map(h => (h.docId, h.score)).toSeq
      assert(b == single, s"qid=$qid: $b vs $single")
    }
  }

  test("shard-range replicas: merged half-range top-ks ≡ full searcher") {
    // 600 docs / 128 per shard → shards 0..4; split replicas [0,2] | [3,max]
    val full = graft.search.LocalSearcher.fromIndex(index)
    val lo = graft.search.LocalSearcher.fromIndex(index, shardLo = 0, shardHi = 2)
    val hi = graft.search.LocalSearcher.fromIndex(index, shardLo = 3)
    // each replica holds ONLY its slice
    assert(lo.byTerm.values.flatten.forall(_.shard <= 2))
    assert(hi.byTerm.values.flatten.forall(_.shard >= 3))
    assert(lo.byTerm.values.flatten.nonEmpty && hi.byTerm.values.flatten.nonEmpty)
    for (q <- Seq(Seq("get"), Seq("data", "index", "merge"),
        Seq(CodeCorpus.needleToken(42L, 17L)).flatMap(t =>
          graft.tokenize.CodeTokenizer.codeTokens(t).toSeq))) {
      val merged = graft.search.LocalSearcher
        .mergeTopK(Seq(lo.topK(q, 10), hi.topK(q, 10)), 10)
        .map(h => (h.docId, h.score)).toSeq
      val whole = full.topK(q, 10).map(h => (h.docId, h.score)).toSeq
      assert(merged == whole, s"q=$q: $merged vs $whole")
    }
    // stale stats: a term the slice replica decodes but that the termstats
    // table lacks takes the df = 0 idf instead of throwing
    val gone = lo.byTerm.keys.toSeq.sorted.find(t => !hi.byTerm.contains(t)).get
    val staleDir = s"$tmp/stale-stats"
    copyTree(Paths.get(s"$tmp/idx"), Paths.get(staleDir))
    spark.read.parquet(s"$tmp/idx/termstats").filter(col("term") =!= gone)
      .write.mode("overwrite").parquet(s"$staleDir/termstats")
    val staleIx = new graft.index.InvertedIndex(spark, staleDir)
    val stale = graft.search.LocalSearcher.fromIndex(staleIx, shardLo = 0, shardHi = 2)
    assert(stale.byTerm.contains(gone) && stale.termInfoFn(Seq(gone)).isEmpty)
    val idf0 = BM25.idf(staleIx.nDocs.toDouble, 0.0)
    val idf = lo.termInfoFn(Seq(gone))(gone)._1
    val got = stale.topK(Seq(gone), 10).map(h => (h.docId, h.score)).toSeq
    val want = lo.topK(Seq(gone), 10).map(h => (h.docId, h.score * idf0 / idf)).toSeq
    assert(got.nonEmpty && got.map(_._1) == want.map(_._1), s"$got vs $want")
    got.zip(want).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9) }
    assert(stale.topK(Seq(gone, "get"), 10).nonEmpty)
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach(p => Files.copy(p, to.resolve(from.relativize(p))))
    finally walk.close()
  }

  test("append epoch ≡ full rebuild: identical (path, score) ranking; bounds stay exact") {
    import spark.implicits._
    val p = IndexBuilder.Params(docsPerShard = 128L, numParts = 8)
    val full = IndexBuilder.build(spark, CodeCorpus.generate(spark, 900L, 42L, 8),
      s"$tmp/full900", corpusFp = "synthetic:42:900", p)
    val base = IndexBuilder.build(spark, CodeCorpus.generate(spark, 600L, 42L, 8),
      s"$tmp/appidx", corpusFp = "synthetic:42:600", p)
    assert(base.nDocs == 600 && base.epochs == 1)
    val extra = spark.createDataset((600L until 900L).map(id => CodeCorpus.file(42L, id)))
    val appended = IndexBuilder.append(spark, extra, s"$tmp/appidx", appendFp = "e1:600-900", p)
    assert(appended.nDocs == 900 && appended.epochs == 2)
    assert(math.abs(appended.avgdl - full.avgdl) < 1e-9)
    // docIds differ between the two builds (global vs per-epoch sort), so
    // compare by document PATH with scores
    def tops(ix: graft.index.InvertedIndex, q: Seq[String]): Seq[(String, Double)] = {
      val hits = ix.wandTopK(q, 10).withColumnRenamed("doc_id", "docId")
      hits.join(ix.docs.select(col("docId"), col("path")), "docId")
        .orderBy(col("score").desc, col("path").asc)
        .select("path", "score").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
    }
    val needle = CodeCorpus.needleToken(42L, 700L)
    val queries = Seq(Seq("get"), Seq("data", "index", "merge"),
      graft.tokenize.CodeTokenizer.codeTokens(needle).toSeq)
    for (q <- queries) {
      val a = tops(full, q)
      val b = tops(appended, q)
      assert(a.map(_._1) == b.map(_._1), s"q=$q: $a vs $b")
      a.zip(b).foreach { case ((_, x), (_, y)) => assert(math.abs(x - y) < 1e-9) }
      // appended-index WAND (with cross-epoch bound factors) ≡ exhaustive
      val w = appended.wandTopK(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val e = appended.exactTopK(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(w.map(_._1) == e.map(_._1), s"q=$q WAND vs exact: $w vs $e")
      w.zip(e).foreach { case ((_, x), (_, y)) => assert(math.abs(x - y) < 1e-9) }
    }
    // committed-epoch idempotency: same payload fingerprint → no-op
    val again = IndexBuilder.append(spark, extra, s"$tmp/appidx", appendFp = "e1:600-900", p)
    assert(again.nDocs == 900 && again.epochs == 2)

    // ---- batch path over the appended index ---------------------------
    // base 600 docs at 128/shard → the boundary shard 4 holds lists from
    // BOTH the base build (docs 512-599) and the epoch (600-639): the
    // batch decode-once grouping must keep one cursor PER LIST (a
    // term-keyed map would silently drop one and never score its docs)
    val dupLists = appended.postings.groupBy(col("term"), col("shard"))
      .count().filter(col("count") > 1).count()
    assert(dupLists > 0, "precondition: boundary shard must hold same-(term,shard) lists")
    val batch = appended.wandTopKBatch(queries.zipWithIndex.map(_.swap), 10).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    for ((q, qid) <- queries.zipWithIndex) {
      val single = appended.wandTopK(q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = batch.getOrElse(qid, Array.empty).sortBy(x => (-x._3, x._2))
        .map(x => (x._2, x._3)).toSeq
      assert(b.map(_._1) == single.map(_._1), s"appended batch qid=$qid: $b vs $single")
      b.zip(single).foreach { case ((_, x), (_, y)) => assert(math.abs(x - y) < 1e-9) }
    }
  }

  test("append crash before the final meta commit: retry (same or different payload) is exact") {
    import spark.implicits._
    val p = IndexBuilder.Params(docsPerShard = 128L, numParts = 8)
    val dir = s"$tmp/crashidx"
    IndexBuilder.build(spark, CodeCorpus.generate(spark, 600L, 42L, 8), dir,
      corpusFp = "synthetic:42:600", p)
    val metaBefore = Files.readString(Paths.get(s"$dir/meta.props"))
    val extra = spark.createDataset((600L until 900L).map(id => CodeCorpus.file(42L, id)))
    val ix1 = IndexBuilder.append(spark, extra, dir, appendFp = "e1:crash", p)
    val (wantN, wantAvg) = (ix1.nDocs, ix1.avgdl)
    val top = ix1.wandTopK(Seq("get", "data"), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // simulate the crash window: every stage (incl. termstats) committed,
    // but the final global-meta commit never happened — global stats must
    // be re-DERIVED, not re-accumulated (the r2 double-count hazard)
    Files.writeString(Paths.get(s"$dir/meta.props"), metaBefore)
    val ix2 = IndexBuilder.append(spark, extra, dir, appendFp = "e1:crash", p)
    assert(ix2.nDocs == wantN && ix2.epochs == 2)
    assert(math.abs(ix2.avgdl - wantAvg) < 1e-12)
    val top2 = ix2.wandTopK(Seq("get", "data"), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top2 == top)
    // crash again, then retry with a DIFFERENT payload: the orphaned
    // epoch attempt must be fully replaced (no wedged require, no
    // double-counted docs, no stale termstats)
    Files.writeString(Paths.get(s"$dir/meta.props"), metaBefore)
    val extraB = spark.createDataset((0L until 250L).map(id => CodeCorpus.file(77L, id)))
    val ix3 = IndexBuilder.append(spark, extraB, dir, appendFp = "e1:retryB", p)
    assert(ix3.nDocs == 850 && ix3.epochs == 2)
    for (q <- Seq(Seq("get"), Seq("data", "index", "merge"))) {
      val w = ix3.wandTopK(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val e = ix3.exactTopK(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(w == e, s"q=$q after different-payload retry: $w vs $e")
    }
  }

  test("append with LONGER docs (avgdl grows): stale block-max bounds stay safe") {
    import spark.implicits._
    val p = IndexBuilder.Params(docsPerShard = 64L, numParts = 4)
    val baseIx = IndexBuilder.build(spark, CodeCorpus.generate(spark, 300L, 7L, 4),
      s"$tmp/growidx", corpusFp = "synthetic:7:300", p)
    val baseAvgdl = baseIx.avgdl
    // appended docs ~8× longer than the base corpus average → live avgdl
    // rises well above every base list's encAvgdl → boundFactor > 1 paths
    val rnd = new scala.util.Random(9)
    val stems = CodeCorpus.Stems
    val long = spark.createDataset((0 until 150).map { i =>
      val body = (0 until 3000).map(_ => stems(rnd.nextInt(stems.length))).mkString(" ")
      graft.corpus.SourceFile(s"repo-long", f"long/$i%04d.txt", "c0", "txt", s"get data $body")
    })
    val ix = IndexBuilder.append(spark, long, s"$tmp/growidx", appendFp = "e1:long", p)
    assert(ix.avgdl > 1.5 * baseAvgdl, s"avgdl should grow: $baseAvgdl -> ${ix.avgdl}")
    for (q <- Seq(Seq("get"), Seq("get", "data"), Seq("data", "index"))) {
      val w = ix.wandTopK(q, 15).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val e = ix.exactTopK(q, 15).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(w.map(_._1) == e.map(_._1), s"q=$q: bounds unsafe after avgdl growth: $w vs $e")
      w.zip(e).foreach { case ((_, x), (_, y)) => assert(math.abs(x - y) < 1e-9) }
    }
  }

  test("docIds are dense and unique 0..N-1") {
    // validates the pmod(hash(keys), P) == HashPartitioning partition-id
    // identity that the no-shuffle counting pass relies on
    val ids = index.docs.select("docId").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until nFiles).toSeq)
  }

  test("sha256 invariant holds on the docs stage") {
    val bad = index.docs
      .filter(sha2(col("content"), 256) =!= col("sha256")).count()
    assert(bad == 0)
  }

  test("WAND top-k rank-identical to exhaustive BM25 (hot, medium, needle, multi-term)") {
    val needle = CodeCorpus.needleToken(42L, 17L)
    val queries = Seq(
      Seq("get"), // hottest stem
      Seq("spectral", "centroid"), // tail stems
      Seq("needle", graft.tokenize.CodeTokenizer.codeTokens(needle)(1)), // needle subtokens
      Seq("data", "index", "merge"), // multi-term medium
      Seq("get", "value", "data", "scan", "nosuchterm"))
    for (q <- queries; k <- Seq(3, 8, 10)) {
      val want = oracleTopK(q, k)
      val got = wand(q, k)
      assert(got.map(_._1) == want.map(_._1), s"q=$q k=$k: $got vs $want")
      got.zip(want).foreach { case ((_, gs), (_, ws)) => assert(math.abs(gs - ws) < 1e-9) }
    }
  }

  test("needle subtoken query retrieves exactly its file") {
    val needle = CodeCorpus.needleToken(42L, 23L)
    val hex = graft.tokenize.CodeTokenizer.codeTokens(needle)(1) // the hex part
    val got = wand(Seq(hex), 3)
    assert(got.size >= 1)
    val top = index.docs.filter(col("docId") === got.head._1).collect()(0)
    assert(top.getAs[String]("content").contains(needle))
  }

  test("exactTopK (decode path) agrees with wandTopK") {
    for (q <- Seq(Seq("get", "set"), Seq("lambda", "energy", "graph"))) {
      val a = index.exactTopK(q, 10).collect().map(_.getLong(0)).toSeq
      val b = wand(q, 10).map(_._1)
      assert(a == b, s"q=$q")
    }
  }

  test("rebuild with same fingerprint skips all stages") {
    index // force first build
    val fp = Stage.fingerprintOf(s"synthetic:42:$nFiles",
      IndexBuilder.Params(docsPerShard = 128L, numParts = 8).fingerprint)
    for (s <- Seq("docs", "doclens", "postings"))
      assert(Stage.isComplete(s"$tmp/idx/$s", fp), s)
    // termstats is epoch-scoped (recomputed when epochs are appended)
    assert(Stage.isComplete(s"$tmp/idx/termstats",
      Stage.fingerprintOf("termstats", fp, "epochs", "1")), "termstats")
    val r = Stage.run(s"$tmp/idx/docs", "docs", fp) { fail("must not recompute"); 0L }
    assert(r.skipped)
  }

  test("resume recomputes only an interrupted stage") {
    index // force
    // simulate a mid-build crash: termstats incomplete
    Files.delete(Paths.get(s"$tmp/idx/termstats/_SUCCESS_STAGE"))
    val docsLineage = Files.readString(Paths.get(s"$tmp/idx/docs/_lineage.json"))
    val idx2 = IndexBuilder.build(
      spark, sys.error("corpus must not be regenerated on resume"), s"$tmp/idx",
      corpusFp = s"synthetic:42:$nFiles",
      IndexBuilder.Params(docsPerShard = 128L, numParts = 8))
    assert(Files.exists(Paths.get(s"$tmp/idx/termstats/_SUCCESS_STAGE")))
    // docs stage untouched (lineage identical), and queries still work
    assert(Files.readString(Paths.get(s"$tmp/idx/docs/_lineage.json")) == docsLineage)
    assert(idx2.wandTopK(Seq("get"), 3).count() == 3)
    // the rewrite replaced termstats' part files: a handle opened before
    // it re-resolves its cached frame instead of reading deleted files
    assert(index.termStats.count() == idx2.termStats.count())
  }

  test("bucketed merge: identical results; interrupted merge resumes mid-merge") {
    val t3 = Files.createTempDirectory("graft-idx-bkt").toString
    val params = IndexBuilder.Params(docsPerShard = 128L, numParts = 8, mergeBuckets = 4)
    val idxB = IndexBuilder.build(spark, CodeCorpus.generate(spark, nFiles, 42L, 8),
      s"$t3/idx", corpusFp = s"synthetic:42:$nFiles", params)
    // same query results as the unbucketed index
    for (q <- Seq(Seq("get"), Seq("data", "index", "merge"))) {
      val a = idxB.wandTopK(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = index.wandTopK(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a == b, s"q=$q")
    }
    // simulate a crash between bucket commits: bucket 2 incomplete
    Files.delete(Paths.get(s"$t3/idx/postings/bucket=2/_SUCCESS_STAGE"))
    val b1Lineage = Files.readString(Paths.get(s"$t3/idx/postings/bucket=1/_lineage.json"))
    val idx2 = IndexBuilder.build(spark, sys.error("no corpus regen on mid-merge resume"),
      s"$t3/idx", corpusFp = s"synthetic:42:$nFiles", params)
    assert(Files.exists(Paths.get(s"$t3/idx/postings/bucket=2/_SUCCESS_STAGE")))
    // untouched buckets kept their lineage byte-for-byte
    assert(Files.readString(Paths.get(s"$t3/idx/postings/bucket=1/_lineage.json")) == b1Lineage)
    assert(idx2.wandTopK(Seq("get"), 3).count() == 3)
    // the rewrite replaced termstats' part files: a handle opened before
    // it re-resolves its cached frame instead of reading deleted files
    assert(index.termStats.count() == idx2.termStats.count())
  }

  test("term-bucketed postings layout: identical results; single-term queries prune partitions") {
    val t4 = Files.createTempDirectory("graft-idx-tb").toString
    val params = IndexBuilder.Params(docsPerShard = 128L, numParts = 8, termBuckets = 8)
    val idxT = IndexBuilder.build(spark, CodeCorpus.generate(spark, nFiles, 42L, 8),
      s"$t4/idx", corpusFp = s"synthetic:42:$nFiles", params)
    // tbucket=<b>/ partition dirs exist on disk
    val parts = new java.io.File(s"$t4/idx/postings").listFiles()
      .filter(_.getName.startsWith("tbucket="))
    assert(parts.nonEmpty && parts.length <= 8, s"got ${parts.length} tbucket dirs")
    // identical ranking vs the flat layout for every query class
    val needleHex = graft.tokenize.CodeTokenizer.codeTokens(CodeCorpus.needleToken(42L, 17L))(1)
    for (q <- Seq(Seq("get"), Seq("data", "index", "merge"), Seq(needleHex))) {
      val a = idxT.wandTopK(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = index.wandTopK(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a == b, s"q=$q: $a vs $b")
    }
    // the bucket predicate must reach the scan as PartitionFilters (files
    // outside the query terms' buckets are never opened), with the term
    // predicate still pushed for row-group pruning inside the bucket
    val hits = idxT.postingsFor(Seq("get"))
    val scan = hits.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*tbucket".r
    assert(pf.findFirstIn(scan).isDefined, s"no tbucket PartitionFilters in:\n$scan")
    assert(scan.contains("PushedFilters") && scan.contains("term"), scan)
    // files-opened accounting: pruning reduces the single-term query to
    // its one bucket directory's files
    def partFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(partFiles)
      else if (f.getName.startsWith("part-")) Seq(f) else Seq.empty
    val total = partFiles(new java.io.File(s"$t4/idx/postings")).size
    val inBucket = partFiles(new java.io.File(
      s"$t4/idx/postings/tbucket=${IndexBuilder.termBucketOf("get", 8)}")).size
    assert(inBucket < total, s"pruned bucket has $inBucket of $total files — no reduction")
    // an appended epoch keeps the bucketed layout and stays exact
    import spark.implicits._
    val extra = spark.createDataset((nFiles until nFiles + 100L).map(id => CodeCorpus.file(42L, id)))
    val app = IndexBuilder.append(spark, extra, s"$t4/idx", appendFp = "e1:tb", params)
    assert(new java.io.File(s"$t4/idx/epochs/e1/postings").listFiles()
      .exists(_.getName.startsWith("tbucket=")))
    for (q <- Seq(Seq("get"), Seq("data", "index", "merge"))) {
      val w = app.wandTopK(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val e = app.exactTopK(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(w == e, s"q=$q appended bucketed: $w vs $e")
    }
  }

  test("termBucketOf ≡ Spark crc32 pmod for arbitrary terms (write/query cross-side contract)") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val terms = ((0 until 500).map { _ =>
      val len = 1 + rnd.nextInt(24)
      new String((0 until len).map { _ =>
        rnd.nextInt(4) match {
          case 0 => ('a' + rnd.nextInt(26)).toChar
          case 1 => ('0' + rnd.nextInt(10)).toChar
          case 2 => '_'
          case _ => (0x100 + rnd.nextInt(0x2000)).toChar // non-ASCII BMP, no surrogates
        }
      }.toArray)
    } :+ "" :+ "get" :+ "λ_término").distinct
    for (b <- Seq(2, 8, 64, 4096)) {
      val viaSpark = terms.toDF("term")
        .withColumn("tb", pmod(crc32(col("term").cast("binary")), lit(b.toLong)).cast("int"))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      terms.foreach { t =>
        assert(viaSpark(t) == graft.index.IndexBuilder.termBucketOf(t, b),
          s"term=$t buckets=$b: write side ${viaSpark(t)} vs query side ${graft.index.IndexBuilder.termBucketOf(t, b)}")
      }
    }
  }

  test("replica collect is budget-guarded: full-range over-budget warns, sliced fits") {
    val warnings = scala.collection.mutable.Buffer[String]()
    // tiny budget: the full-range default must trip the guard…
    graft.search.LocalSearcher.fromIndex(index, rowBudget = 10L,
      onOversize = warnings += _)
    assert(warnings.size == 1 && warnings.head.contains("slice-scoped"))
    // …while a real slice under budget stays silent (and the default
    // budget doesn't fire on this corpus either)
    warnings.clear()
    graft.search.LocalSearcher.fromIndex(index, shardLo = 0, shardHi = 0,
      rowBudget = 1000000L, onOversize = warnings += _)
    graft.search.LocalSearcher.fromIndex(index, onOversize = warnings += _)
    assert(warnings.isEmpty)
  }

  test("docId assignment is deterministic across rebuilds") {
    val t2 = Files.createTempDirectory("graft-index2").toString
    val idx2 = IndexBuilder.build(
      spark, CodeCorpus.generate(spark, nFiles, 42L, 3), s"$t2/idx",
      corpusFp = s"synthetic:42:$nFiles",
      IndexBuilder.Params(docsPerShard = 128L, numParts = 8))
    val a = index.docs.select("docId", "repo", "path", "commit").collect()
      .map(_.toSeq).sortBy(_.toString)
    val b = idx2.docs.select("docId", "repo", "path", "commit").collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(a.toSeq == b.toSeq)
  }
}
