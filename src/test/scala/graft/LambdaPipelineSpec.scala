package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.corpus.CodeCorpus
import graft.index.IndexBuilder
import graft.lambda.{LambdaPipeline, TauMode}
import java.nio.file.Files

/** λτ pipeline over the code corpus: build, determinism, blend search. */
class LambdaPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  val nFiles = 400L
  lazy val tmp: String = Files.createTempDirectory("graft-lp").toString
  lazy val index = IndexBuilder.build(
    spark, CodeCorpus.generate(spark, nFiles, 42L, 6), s"$tmp/idx",
    corpusFp = s"synthetic:42:$nFiles",
    IndexBuilder.Params(docsPerShard = 128L, numParts = 6))
  lazy val cfg = LambdaPipeline.Config(vocabSize = 256, maxClusters = 16, seed = 42L)
  lazy val li = LambdaPipeline.build(spark, index, s"$tmp/lam", cfg)

  test("pipeline builds: one lambda per doc, all in [0,1]") {
    val l = li.lambdas
    assert(l.count() == nFiles)
    assert(l.filter(col("lambda") < 0.0 || col("lambda") > 1.0).count() == 0)
    // λ must discriminate: not all values identical
    assert(l.select(countDistinct(col("lambda"))).collect()(0).getLong(0) > 10)
  }

  test("term graph is a valid Laplacian") {
    assert(li.csr.n == 256)
    assert(li.csr.laplacianViolations(1e-8).isEmpty)
    assert(li.csr.nnz > li.csr.n) // has actual edges, not just the diagonal
  }

  test("rebuild into a fresh dir is bit-identical (determinism)") {
    val li2 = LambdaPipeline.build(spark, index,
      Files.createTempDirectory("graft-lp2").toString, cfg)
    val a = li.lambdas.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = li2.lambdas.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.toSeq == b.toSeq)
  }

  test("queryLambda: deterministic, nonzero for in-vocab queries, 0 for OOV") {
    val l1 = li.queryLambda(Map("get" -> 1, "data" -> 2))
    val l2 = li.queryLambda(Map("get" -> 1, "data" -> 2))
    assert(l1 == l2)
    assert(l1 > 0.0 && l1 <= 1.0)
    assert(li.queryLambda(Map("zz_not_a_term_zz" -> 1)) == 0.0)
  }

  test("alpha=1 blended ranking == pure BM25 (WAND) ranking") {
    for (q <- Seq("get value data", "merge sort batch", "lambda energy")) {
      val blend = li.blendedTopK(index, q, 10, alpha = 1.0)
        .collect().map(_.getLong(0)).toSeq
      val wand = index.wandTopK(graft.tokenize.CodeTokenizer.codeTokens(q).distinct.toSeq, 10)
        .collect().map(_.getLong(0)).toSeq
      assert(blend == wand, s"q=$q: $blend vs $wand")
    }
  }

  test("alpha<1 changes the ranking (lambda signal is live) and stays bounded") {
    val q = "get value data index"
    val a1 = li.blendedTopK(index, q, 20, alpha = 1.0).collect().map(_.getLong(0)).toSeq
    val a07 = li.blendedTopK(index, q, 20, alpha = 0.7).collect()
    val ids07 = a07.map(_.getLong(0)).toSeq
    assert(a07.forall(r => r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0 + 1e-9))
    // scores descending with docId tie-break
    val scores = a07.map(_.getDouble(1)).toSeq
    assert(scores == scores.sortBy(-(_: Double)))
    // the λ component should reorder at least something on a 20-deep list
    assert(a1 != ids07, "expected λ re-ranking to differ from pure BM25")
  }

  test("blendedTopK plan is fully distributed: no driver-collected band at any alpha") {
    // r2's candidate path collected the WAND band to the driver and
    // re-injected it as a LocalRelation/LocalTableScan — the scale
    // killer. The blended single is now the same one-set shard program
    // as wandTopK: λ is read in-task from the side arrays, so its plan
    // has no join, never scans the λ table, and shuffles exactly as
    // often as wandTopK on the same terms.
    val q = "get value data"
    val terms = graft.tokenize.CodeTokenizer.codeTokens(q).distinct.toSeq
    def exchanges(plan: String) = "Exchange".r.findAllIn(plan).size
    val wandExchanges = exchanges(index.wandTopK(terms, 10).queryExecution.executedPlan.toString)
    assert(wandExchanges > 0)
    for (alpha <- Seq(1.0, 0.7, 0.3, 0.0)) {
      val top = li.blendedTopK(index, q, 10, alpha)
      val optimized = top.queryExecution.optimizedPlan.toString
      val physical = top.queryExecution.executedPlan.toString
      assert(!optimized.contains("LocalRelation"), s"alpha=$alpha:\n$optimized")
      assert(!physical.contains("LocalTableScan"), s"alpha=$alpha:\n$physical")
      assert(!physical.contains("Join"), s"alpha=$alpha:\n$physical")
      assert(!physical.contains(s"${li.dir}/lambdas"), s"alpha=$alpha:\n$physical")
      assert(exchanges(physical) == wandExchanges, s"alpha=$alpha:\n$physical")
    }
  }

  test("blendedTopK with warm term stats starts no more Spark jobs than wandTopK") {
    val q = "get value data"
    val terms = graft.tokenize.CodeTokenizer.codeTokens(q).distinct.toSeq
    // warms the term-stat memo and the λ vocab/CSR
    li.blendedTopK(index, q, 10, 0.9).collect()
    val (_, wandJobs) = JobCounter.jobsIn(spark)(index.wandTopK(terms, 10).collect())
    val (_, blendJobs) = JobCounter.jobsIn(spark)(li.blendedTopK(index, q, 10, 0.9).collect())
    assert(blendJobs <= wandJobs, s"blendedTopK ran $blendJobs jobs, wandTopK $wandJobs")
  }

  test("blendedTopK ≡ brute-force blend over exhaustive scores (alpha 0.7 and 0.3)") {
    val q = "get value data index"
    val terms = graft.tokenize.CodeTokenizer.codeTokens(q).distinct.toSeq
    val lam = li.lambdas.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val bm25 = index.scoreAllMatching(terms).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val info = index.termInfo(terms)
    val ubNorm = info.values.map(_._1 * (index.bm25.k1 + 1.0)).sum.max(1e-12)
    for (alpha <- Seq(0.7, 0.3)) {
      val lq = li.queryLambda(terms.map(_ -> 1).toMap)
      val want = bm25.map { case (id, s) =>
        val prox = 1.0 - math.min(math.abs(lq - lam.getOrElse(id, 0.0)), 1.0)
        (id, alpha * s / ubNorm + (1 - alpha) * prox)
      }.sortBy { case (id, s) => (-s, id) }.take(10).toSeq
      val got = li.blendedTopK(index, q, 10, alpha).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.map(_._1) == want.map(_._1), s"alpha=$alpha: $got vs $want")
      got.zip(want).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9) }
    }
  }

  test("blendedTopKBatch ≡ per-query blendedTopK at alpha 1.0 / 0.7 / 0.3") {
    val queries = Seq(
      0 -> "get value data",
      1 -> "merge sort batch",
      2 -> "lambda energy",
      3 -> "zz_not_a_term_zz")
    for (alpha <- Seq(1.0, 0.7, 0.3)) {
      val batch = li.blendedTopKBatch(index, queries, 10, alpha).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .groupBy(_._1)
      for ((qid, text) <- queries) {
        val single = li.blendedTopK(index, text, 10, alpha).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val b = batch.getOrElse(qid, Array.empty).sortBy(_._4)
          .map(x => (x._2, x._3)).toSeq
        assert(b.map(_._1) == single.map(_._1), s"alpha=$alpha qid=$qid: $b vs $single")
        b.zip(single).foreach { case ((_, x), (_, y)) =>
          assert(math.abs(x - y) < 1e-9, s"alpha=$alpha qid=$qid") }
      }
    }
  }

  test("LocalBlended serving ≡ distributed blendedTopK; half-range replicas merge exactly") {
    val lb = graft.search.LocalBlended.fromIndexes(index, li)
    for (alpha <- Seq(1.0, 0.9, 0.7); q <- Seq("get value data", "lambda energy")) {
      val a = lb.topK(q, 10, alpha).map(h => (h.docId, h.score)).toSeq
      val b = li.blendedTopK(index, q, 10, alpha).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a.map(_._1) == b.map(_._1), s"alpha=$alpha q=$q: $a vs $b")
      a.zip(b).foreach { case ((_, x), (_, y)) => assert(math.abs(x - y) < 1e-9) }
    }
    // shard-scoped replicas (400 docs / 128 per shard → shards 0..3):
    // merged half-range top-ks ≡ the full replica's — exact because each
    // doc-shard's top-k holds the global top-k restricted to that shard,
    // and idf/ub/λq stats stay global
    val lo = graft.search.LocalBlended.fromIndexes(index, li, 0, 1)
    val hi = graft.search.LocalBlended.fromIndexes(index, li, 2, Int.MaxValue)
    assert(!lo.lambdas.isEmpty && !hi.lambdas.isEmpty)
    // the third query carries a needle term that exists ONLY in the hi
    // replica's shard range (doc 390 → shard 3): the lo replica must
    // still normalize by the GLOBAL ubNorm (slice-local term filtering
    // would inflate its scores and break merge exactness)
    val needleHex = graft.tokenize.CodeTokenizer
      .codeTokens(CodeCorpus.needleToken(42L, 390L))(1)
    for (q <- Seq("get value data", "merge sort batch", s"get value $needleHex")) {
      val merged = graft.search.LocalSearcher
        .mergeTopK(Seq(lo.topK(q, 10, 0.9), hi.topK(q, 10, 0.9)), 10)
        .map(h => (h.docId, h.score)).toSeq
      val whole = lb.topK(q, 10, 0.9).map(h => (h.docId, h.score)).toSeq
      assert(merged == whole, s"q=$q: $merged vs $whole")
      val dist = li.blendedTopK(index, q, 10, alpha = 0.9).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(merged.map(_._1) == dist.map(_._1), s"q=$q: $merged vs distributed $dist")
      merged.zip(dist).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9) }
    }
  }

  test("LocalBlended.topKBatch ≡ sequential topK calls (canonical-set dedup)") {
    val lb = graft.search.LocalBlended.fromIndexes(index, li)
    val queries = Seq(
      0 -> "get value data",
      1 -> "merge sort batch",
      2 -> "get value data", // exact repeat: dedup must not change results
      3 -> "data get value", // same canonical set, different token order
      4 -> "zz_not_a_term_zz", // fully OOV → empty result
      5 -> "lambda energy")
    for (alpha <- Seq(1.0, 0.9, 0.7)) {
      val batch = lb.topKBatch(queries, 10, alpha).toMap
      assert(batch.keySet == queries.map(_._1).toSet)
      for ((qid, text) <- queries) {
        val single = lb.topK(text, 10, alpha).map(h => (h.docId, h.score)).toSeq
        val b = batch(qid).map(h => (h.docId, h.score)).toSeq
        assert(b == single, s"alpha=$alpha qid=$qid: $b vs $single")
      }
    }
  }

  test("full-range replicas serve with zero Spark jobs, results ≡ the distributed paths") {
    // a fresh handle: its termInfo memo is empty, so a per-query stat
    // lookup on it would start a job. The queries use needle terms no
    // other query in this suite uses, plus a term absent from the index.
    val ix = new graft.index.InvertedIndex(spark, s"$tmp/idx")
    val lb = graft.search.LocalBlended.fromIndexes(ix, li)
    val ls = lb.searcher
    def needle(id: Long) = graft.tokenize.CodeTokenizer.codeTokens(CodeCorpus.needleToken(42L, id))(1)
    val texts = Seq(needle(11L), s"${needle(201L)} get data", "zzabsentzz",
      s"zzabsentzz ${needle(333L)} value")
    val queries = texts.map(t => graft.tokenize.CodeTokenizer.codeTokens(t).distinct.toSeq)
    assert(!ix.termInfo(Seq("zzabsentzz")).contains("zzabsentzz"), "precondition: term is absent")
    val ((bm25, bm25Batch, blended, blendedBatch), jobs) = JobCounter.jobsIn(spark) {
      (queries.map(ls.topK(_, 10)), ls.topKBatch(queries.zipWithIndex.map(_.swap), 10).toMap,
        texts.map(lb.topK(_, 10, 0.9)), lb.topKBatch(texts.zipWithIndex.map(_.swap), 10, 0.9).toMap)
    }
    assert(jobs == 0, s"replica queries started $jobs Spark job(s)")
    def pairs(hs: Array[graft.search.Wand.Hit]) = hs.map(h => (h.docId, h.score)).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    for ((q, i) <- queries.zipWithIndex) {
      val want = rows(ix.wandTopK(q, 10))
      assert(pairs(bm25(i)) == want, s"q=$q topK vs wandTopK")
      assert(pairs(bm25Batch(i)) == want, s"q=$q topKBatch vs wandTopK")
      assert(pairs(bm25(i)) == rows(ix.exactTopK(q, 10)), s"q=$q topK vs exactTopK")
    }
    assert(bm25(2).isEmpty && blended(2).isEmpty, "absent term must match nothing")
    for ((text, i) <- texts.zipWithIndex) {
      val want = rows(li.blendedTopK(ix, text, 10, alpha = 0.9))
      for ((got, path) <- Seq(pairs(blended(i)) -> "topK", pairs(blendedBatch(i)) -> "topKBatch")) {
        assert(got.map(_._1) == want.map(_._1), s"text=$text blended $path: $got vs $want")
        got.zip(want).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9) }
      }
    }
  }

  test("zero-in-vocab docs: λ fill-in is 0 and blend rank ≡ pure BM25 (pinned)") {
    import spark.implicits._
    val t = Files.createTempDirectory("graft-lp-oov").toString
    // 60 normal docs + 3 docs built ONLY from terms outside the pruned
    // vocabulary (df ≤ 3 « the top-32 cutoff)
    val docs = (0L until 60L).map { id =>
      val f = CodeCorpus.file(7L, id)
      graft.index.DocIds.Doc(id, f.repo, f.path, f.commit, f.lang, f.content)
    } ++ Seq(
      graft.index.DocIds.Doc(60L, "r", "a", "c", "scala", "zzshared zzonly60"),
      graft.index.DocIds.Doc(61L, "r", "b", "c", "scala", "zzshared zzshared zzonly61 zzonly61b"),
      graft.index.DocIds.Doc(62L, "r", "c", "c", "scala",
        "zzshared zzonly62 zzonly62b zzonly62c zzonly62d"))
    val p = IndexBuilder.Params(docsPerShard = 16L, numParts = 4)
    val idx = IndexBuilder.buildFromDocs(spark, spark.createDataset(docs), s"$t/idx",
      corpusFp = "oov:7:63", p)
    val lo = LambdaPipeline.build(spark, idx, s"$t/lam",
      LambdaPipeline.Config(vocabSize = 32, maxClusters = 8, seed = 42L))
    assert(lo.vocab.keySet.intersect(Set("zzshared", "zzonly60", "zzonly61")).isEmpty)
    // zero in-vocab terms → the docterms vocab join drops these docs →
    // NO λ row (the side arrays' 0.0 fill is their only λ)
    val ids = lo.lambdas.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(Seq(60L, 61L, 62L).forall(id => !ids.contains(id)), s"expected no λ rows, got $ids")
    // a query matching ONLY λ-less docs: prox is the constant
    // 1 − min(|lq − 0|, 1) for every candidate, so the blended rank must
    // equal the pure BM25 rank at every α — and the scores must be the
    // exact λ=0 fill-in blend
    for (alpha <- Seq(0.9, 0.5, 0.2)) {
      val blend = lo.blendedTopK(idx, "zzshared", 10, alpha).collect()
      val wand = idx.wandTopK(Seq("zzshared"), 10).collect().map(_.getLong(0)).toSeq
      assert(blend.map(_.getLong(0)).toSeq == wand, s"alpha=$alpha")
      val info = idx.termInfo(Seq("zzshared"))
      val ubNorm = info.values.map(_._1 * (idx.bm25.k1 + 1.0)).sum.max(1e-12)
      val lq = lo.queryLambda(Map("zzshared" -> 1)) // OOV query → λq = 0
      val exact = idx.scoreAllMatching(Seq("zzshared")).collect()
        .map(r => (r.getLong(0), alpha * r.getDouble(1) / ubNorm +
          (1 - alpha) * (1.0 - math.min(math.abs(lq), 1.0))))
        .sortBy { case (id2, s) => (-s, id2) }.take(10).toSeq
      val got = blend.map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.map(_._1) == exact.map(_._1), s"alpha=$alpha: $got vs $exact")
      got.zip(exact).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-12) }
    }
  }

  test("λ pipeline covers appended epochs: every epoch doc gets a λ; blend stays exact") {
    import spark.implicits._
    val p = IndexBuilder.Params(docsPerShard = 128L, numParts = 6)
    val t = Files.createTempDirectory("graft-lp-app").toString
    val base = IndexBuilder.build(spark, CodeCorpus.generate(spark, 300L, 5L, 6),
      s"$t/idx", corpusFp = "synthetic:5:300", p)
    val metaBase = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$t/idx/meta.props"))
    val li1 = LambdaPipeline.build(spark, base, s"$t/lam", cfg)
    assert(li1.lambdas.count() == 300)
    val extra = spark.createDataset((300L until 450L).map(id => CodeCorpus.file(5L, id)))
    val appended = IndexBuilder.append(spark, extra, s"$t/idx", appendFp = "e1:300-450", p)
    // the epoch bump invalidates the staged λ artifacts (fp carries the
    // epoch count) and the rebuild covers base + epoch termfreq
    val li2 = LambdaPipeline.build(spark, appended, s"$t/lam", cfg)
    assert(li2.lambdas.count() == 450)
    val ids = li2.lambdas.select("doc_id").collect().map(_.getLong(0)).toSet
    assert((300L until 450L).forall(ids.contains), "appended docs missing λ")
    // blended search over the appended index ≡ brute-force blend
    val q = "get value data"
    val terms = graft.tokenize.CodeTokenizer.codeTokens(q).distinct.toSeq
    val lam = li2.lambdas.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val info = appended.termInfo(terms)
    val ubNorm = info.values.map(_._1 * (appended.bm25.k1 + 1.0)).sum.max(1e-12)
    val lq = li2.queryLambda(terms.map(_ -> 1).toMap)
    val want = appended.scoreAllMatching(terms).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .map { case (id, s) =>
        val prox = 1.0 - math.min(math.abs(lq - lam.getOrElse(id, 0.0)), 1.0)
        (id, 0.7 * s / ubNorm + 0.3 * prox)
      }.sortBy { case (id, s) => (-s, id) }.take(10).toSeq
    val got = li2.blendedTopK(appended, q, 10, alpha = 0.7).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(_._1) == want.map(_._1), s"$got vs $want")
    got.zip(want).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9) }
    // a DIFFERENT epoch payload at the SAME epoch count must invalidate
    // the staged λ (the fp chains per-epoch payload fingerprints, not
    // just the count) — simulate the pre-commit crash + variant retry
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$t/idx/meta.props"), metaBase)
    val extraB = spark.createDataset((0L until 200L).map(id => CodeCorpus.file(99L, id)))
    val appendedB = IndexBuilder.append(spark, extraB, s"$t/idx", appendFp = "e1:variantB", p)
    assert(appendedB.nDocs == 500 && appendedB.epochs == 2)
    val li3 = LambdaPipeline.build(spark, appendedB, s"$t/lam", cfg)
    assert(li3.lambdas.count() == 500, "staged λ must rebuild for the variant epoch payload")
  }

  test("appendEpochs: frozen-graph incremental λ — old rows untouched, new docs exact, resumable") {
    import spark.implicits._
    val p = IndexBuilder.Params(docsPerShard = 128L, numParts = 6)
    val t = Files.createTempDirectory("graft-lp-inc").toString
    val base = IndexBuilder.build(spark, CodeCorpus.generate(spark, 300L, 11L, 6),
      s"$t/idx", corpusFp = "synthetic:11:300", p)
    val li0 = LambdaPipeline.build(spark, base, s"$t/lam", cfg)
    val before = li0.lambdas.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val extra = spark.createDataset((300L until 420L).map(id => CodeCorpus.file(11L, id)))
    val appended = IndexBuilder.append(spark, extra, s"$t/idx", appendFp = "e1:inc", p)
    val li = LambdaPipeline.appendEpochs(spark, appended, s"$t/lam")
    val after = li.lambdas.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(after.size == 420)
    // frozen graph ⇒ every base λ row BYTE-identical (per-doc λ depends
    // only on the doc's own vector + the pinned CSR)
    before.foreach { case (id, l) => assert(after(id) == l, s"doc $id λ changed") }
    // appended docs: λ ∈ [0,1] and exact vs the INDEPENDENT driver-side
    // sparse evaluator (queryLambda = same formula over the same frozen
    // graph, computed without the Aggregator)
    val tfq = IndexBuilder.explodeTermFreq(spark.read.parquet(appended.termFreqPaths.last))
      .select($"doc_id", $"term", $"tf").as[(Long, String, Long)].collect()
      .groupBy(_._1)
    for (id <- Seq(300L, 350L, 419L)) {
      val counts = tfq(id).map { case (_, t2, n) => t2 -> n.toInt }.toMap
      val want = li.queryLambda(counts)
      assert(math.abs(after(id) - want) < 1e-12, s"doc $id: ${after(id)} vs $want")
      assert(after(id) >= 0.0 && after(id) <= 1.0)
    }
    // α=1 blend over base+epoch with the incremental λ table ≡ pure BM25
    val q = "get value data"
    val blend = li.blendedTopK(appended, q, 10, alpha = 1.0).collect().map(_.getLong(0)).toSeq
    val wand = appended.wandTopK(
      graft.tokenize.CodeTokenizer.codeTokens(q).distinct.toSeq, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(blend == wand)
    // α<1 blend uses the union λ table without driver-side collects:
    // the incremental rows must participate (some appended doc carries
    // a nonzero λ)
    assert((300L until 420L).exists(id => after(id) > 0.0))
    // resume: a second call is a no-op (per-epoch stage fingerprints)
    val t0 = System.nanoTime()
    LambdaPipeline.appendEpochs(spark, appended, s"$t/lam")
    assert((System.nanoTime() - t0) / 1e6 < 5000, "re-append must skip the staged epoch")
    // a STALE index handle (meta cached before the append) re-running
    // build skips every stage (same fingerprint) — it must NOT destroy
    // the incremental chain (same-generation resume leaves props alone)
    val viaStale = LambdaPipeline.build(spark, base, s"$t/lam", cfg)
    assert(viaStale.lambdas.count() == 420,
      "stale-handle build resume must preserve incremental λ epochs")
    // a FULL rebuild over the grown index covers everything and clears
    // the incremental dirs (graph re-derived — the rebuild-graph policy)
    val liFull = LambdaPipeline.build(spark, appended, s"$t/lam", cfg)
    assert(liFull.lambdas.count() == 420)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$t/lam/lambdas_e1")),
      "full rebuild must clear stale incremental λ dirs")
  }

  test("append refuses a meta without base-only stats once epochs exist (no double-count)") {
    import spark.implicits._
    val p = IndexBuilder.Params(docsPerShard = 128L, numParts = 4)
    val t = Files.createTempDirectory("graft-prev4").toString
    IndexBuilder.build(spark, CodeCorpus.generate(spark, 200L, 3L, 4),
      s"$t/idx", corpusFp = "synthetic:3:200", p)
    val e1 = spark.createDataset((0L until 100L).map(id => CodeCorpus.file(4L, id)))
    IndexBuilder.append(spark, e1, s"$t/idx", appendFp = "e1:a", p)
    // strip the base-only stats (a pre-scheme meta shape): a further
    // append must refuse instead of double-counting epoch docs
    val m = IndexBuilder.readMeta(s"$t/idx/meta.props")
    IndexBuilder.writeMeta(s"$t/idx/meta.props", m - "nDocs0" - "totalTokens0")
    val e2 = spark.createDataset((0L until 50L).map(id => CodeCorpus.file(6L, id)))
    val ex = intercept[IllegalArgumentException] {
      IndexBuilder.append(spark, e2, s"$t/idx", appendFp = "e2:b", p)
    }
    assert(ex.getMessage.contains("nDocs0"))
  }

  test("range search is one-sided: everything with lambda >= lq - eps") {
    val lq = 0.5
    val eps = 0.1
    val got = li.rangeSearch(lq, eps)
    val expected = li.lambdas.filter(col("lambda") >= lq - eps)
    assert(got.count() == expected.count())
    // docs with λ far ABOVE lq are included (the quirk)
    val above = li.lambdas.filter(col("lambda") > lq + eps).count()
    if (above > 0) {
      val gotAbove = got.filter(col("lambda") > lq + eps).count()
      assert(gotAbove == above)
    }
  }

  test("SQL UDAF: lambda_tau over SQL == the typed pipeline's lambdas") {
    li.registerSqlUdaf(spark, "lambda_tau_test")
    spark.read.parquet(s"$tmp/lam/docterms").createOrReplaceTempView("docterms_v")
    val viaSql = spark.sql(
      """SELECT docId AS doc_id, lambda_tau_test(docId, termIdx, weight) AS lambda
        |FROM docterms_v GROUP BY docId""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val viaPipeline = li.lambdas.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(viaSql.size == viaPipeline.size)
    viaPipeline.foreach { case (id, l) =>
      assert(math.abs(viaSql(id) - l) < 1e-12, s"doc $id: ${viaSql(id)} vs $l")
    }
  }

  test("SQL tokenizer functions match the Scala tokenizer") {
    graft.tokenize.CodeTokenizer.registerSql(spark)
    import spark.implicits._
    val got = spark.sql(
      "SELECT code_tokens('def getValueIndex(data_key: Int)') AS t").collect()(0).getSeq[String](0)
    assert(got == graft.tokenize.CodeTokenizer.codeTokens("def getValueIndex(data_key: Int)").toSeq)
    val got2 = spark.sql("SELECT simple_tokens('Hello, World-42!') AS t").collect()(0).getSeq[String](0)
    assert(got2 == Seq("hello", "world", "42"))
  }

  test("rangeByScore: ordered (lambda, doc_id) paging within the band") {
    val all = li.lambdas.collect()
      .map(r => (r.getDouble(1), r.getLong(0))).sorted
    val page = li.rangeByScore(0.0, 1.0, offset = 3, count = 5).collect()
      .map(r => (r.getDouble(1), r.getLong(0))).toSeq
    assert(page == all.slice(3, 8).toSeq)
  }

  test("resume: λ stages skip on rebuild with same fingerprint") {
    li // force
    val t0 = System.nanoTime()
    val li3 = LambdaPipeline.build(spark, index, s"$tmp/lam", cfg)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(ms < 5000, s"resume should skip all stages, took $ms ms")
    assert(li3.lambdas.count() == nFiles)
  }
}
