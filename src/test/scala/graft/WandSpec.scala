package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.search.{ScoredDoc, TopKAgg}
import graft.index.{DecodedCursor, DecodedList, PostingFormat, PostingList}
import graft.search.{BM25, Wand}
import scala.util.Random

/** Local (no Spark) tests: posting-list encode/decode round-trip, cursor
  * skipping, and block-max WAND == brute-force top-k on randomized
  * corpora (the WAND-never-changes-the-top-k assertion of SURVEY.md §7.2
  * phase 5), all on the decode-once [[DecodedCursor]] the kernels run on.
  */
class WandSpec extends AnyFunSuite {
  val rnd = new Random(7)
  val params = BM25.Params()

  /** Random corpus: docId -> (term -> tf), plus doc lengths. */
  def randomCorpus(nDocs: Int, nTerms: Int, density: Double): (Map[Long, Map[String, Long]], Map[Long, Long]) = {
    val docs = (0L until nDocs.toLong).map { d =>
      val terms = (0 until nTerms).flatMap { t =>
        if (rnd.nextDouble() < density) Some(s"t$t" -> (1L + rnd.nextInt(5).toLong)) else None
      }.toMap
      d -> terms
    }.toMap
    val dls = docs.map { case (d, ts) => d -> math.max(1L, ts.values.sum) }
    (docs, dls)
  }

  def buildLists(docs: Map[Long, Map[String, Long]], dls: Map[Long, Long], avgdl: Double) = {
    val byTerm = docs.toSeq
      .flatMap { case (d, ts) => ts.map { case (t, tf) => (t, d, tf) } }
      .groupBy(_._1)
    byTerm.map { case (t, xs) =>
      val sorted = xs.sortBy(_._2)
      t -> PostingFormat.encode(t, 0,
        sorted.map(_._2).toArray, sorted.map(_._3).toArray,
        sorted.map(x => dls(x._2)).toArray, params, avgdl)
    }
  }

  /** Dense doc-length window for base 0 (tests keep every list in one
    * shard window) — the v5 LensStore side-array shape.
    */
  def lensOf(dls: Map[Long, Long]): Array[Int] = {
    val arr = new Array[Int]((dls.keys.max + 1).toInt)
    dls.foreach { case (d, l) => arr(d.toInt) = l.toInt }
    arr
  }

  def lensOf(ids: Array[Long], dls: Array[Long]): Array[Int] = {
    val arr = new Array[Int]((ids.max + 1).toInt)
    ids.indices.foreach(i => arr(ids(i).toInt) = dls(i).toInt)
    arr
  }

  /** Decode-once cursors over `lists` in sorted-term order — the
    * evaluation order of the per-shard query program — for one shard
    * window at base 0.
    */
  def cursorsOf(lists: Seq[PostingList], idf: Map[String, Double], avgdl: Double,
      lens: Array[Int]): Seq[DecodedCursor] =
    lists.sortBy(_.term)
      .map(pl => new DecodedCursor(DecodedList.from(pl, params, avgdl, lens, 0L), idf(pl.term)))

  def bruteTopK(docs: Map[Long, Map[String, Long]], dls: Map[Long, Long],
      idf: Map[String, Double], avgdl: Double, q: Seq[String], k: Int): Seq[(Long, Double)] = {
    docs.toSeq.flatMap { case (d, ts) =>
      val contribs = q.sorted.flatMap(t => ts.get(t).map(tf =>
        idf(t) * PostingFormat.partial(tf.toDouble, dls(d).toDouble, params, avgdl)))
      if (contribs.isEmpty) None else Some(d -> contribs.sum)
    }.sortBy { case (d, s) => (-s, d) }.take(k)
  }

  test("posting list encode/decode round-trip incl. multi-block lists") {
    for (_ <- 1 to 20) {
      val n = 1 + rnd.nextInt(700) // crosses the 128-doc block size
      val ids = Array.fill(n)(1L + rnd.nextInt(50).toLong).scanLeft(-1L)(_ + _).tail.map(_ + 1)
      val tfs = Array.fill(n)(1L + rnd.nextInt(9).toLong)
      val dls = Array.fill(n)(5L + rnd.nextInt(200).toLong)
      val pl = PostingFormat.encode("x", 3, ids, tfs, dls, params, 50.0)
      assert(pl.df == n)
      val (i2, t2) = PostingFormat.decodeAll(pl)
      assert(i2.toSeq == ids.toSeq && t2.toSeq == tfs.toSeq)
      // block-max invariant: every partial <= its block max <= maxPartial
      val nb = pl.blockLen.length
      assert(nb == (n + 127) / 128)
      for (b <- 0 until nb; i <- 0 until pl.blockLen(b)) {
        val pos = b * 128 + i
        val p = PostingFormat.partial(tfs(pos).toDouble, dls(pos).toDouble, params, 50.0)
        assert(p <= pl.blockMaxPartial(b) + 1e-15)
        assert(pl.blockMaxPartial(b) <= pl.maxPartial + 1e-15)
      }
    }
  }

  test("cursor advanceTo skips blocks correctly") {
    val n = 1000
    val ids = (0 until n).map(i => i.toLong * 3 + 1).toArray // 1, 4, 7, ...
    val tfs = Array.fill(n)(1L)
    val dls = Array.fill(n)(10L)
    val pl = PostingFormat.encode("x", 0, ids, tfs, dls, params, 10.0)
    val c = cursorsOf(Seq(pl), Map("x" -> 1.0), 10.0, lensOf(ids, dls)).head
    c.advanceTo(500)
    assert(c.docId == 502) // first id >= 500: 502 = 3*167+1 (position 167, block 1)
    assert(c.blockLastDocId == ids(255))
    c.advanceTo(2998)
    assert(c.docId == 2998) // position 999, the last (partial) block
    assert(c.blockLastDocId == ids.last)
    assert(c.blockMaxScore == pl.blockMaxPartial(7))
    c.advanceTo(ids.last + 10)
    assert(c.exhausted)
  }

  test("cursor sequential next() visits every posting") {
    val ids = (1L to 300L).toArray
    val pl = PostingFormat.encode("x", 0, ids, ids.map(_ => 1L), ids.map(_ => 10L), params, 10.0)
    val c = cursorsOf(Seq(pl), Map("x" -> 1.0), 10.0, lensOf(ids, ids.map(_ => 10L))).head
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    while (!c.exhausted) { seen += c.docId; c.next() }
    assert(seen.toSeq == ids.toSeq)
  }

  test("block-max WAND == brute force on adversarial tie-heavy corpora") {
    // many docs with IDENTICAL term profiles → massed score ties: the
    // docId tie-break and the <=θ pruning-with-ties logic get exercised
    for (trial <- 1 to 10) {
      val nDocs = 400
      val profiles = Array.fill(5)((0 until 4).flatMap { t =>
        if (rnd.nextDouble() < 0.6) Some(s"t$t" -> (1L + rnd.nextInt(3))) else None
      }.toMap)
      val docs = (0L until nDocs.toLong).map(d => d -> profiles((d % 5).toInt)).toMap
      val dls = docs.map { case (d, ts) => d -> math.max(1L, ts.values.sum) }
      val avgdl = dls.values.sum.toDouble / dls.size
      val lists = buildLists(docs, dls, avgdl)
      if (lists.nonEmpty) {
        val idf = lists.map { case (t, pl) => t -> BM25.idf(nDocs.toDouble, pl.df.toDouble) }
        val q = lists.keys.toSeq.sorted.take(2)
        for (k <- Seq(3, 17)) {
          val want = bruteTopK(docs, dls, idf, avgdl, q, k)
          val got = Wand.topK(cursorsOf(q.flatMap(lists.get), idf, avgdl, lensOf(dls)), k)
            .map(h => (h.docId, h.score)).toSeq
          assert(got.map(_._1) == want.map(_._1), s"trial=$trial k=$k: $got vs $want")
        }
      }
    }
  }

  test("block-max WAND == brute force on random corpora (rank + score)") {
    for (trial <- 1 to 30) {
      val nDocs = 50 + rnd.nextInt(900)
      val nTerms = 3 + rnd.nextInt(10)
      val (docs, dls) = randomCorpus(nDocs, nTerms, 0.05 + rnd.nextDouble() * 0.3)
      val avgdl = dls.values.sum.toDouble / dls.size
      val lists = buildLists(docs, dls, avgdl)
      val n = nDocs.toDouble
      val dfm = lists.map { case (t, pl) => t -> pl.df.toDouble }
      val idf = dfm.map { case (t, df) => t -> BM25.idf(n, df) }
      val qSize = 1 + rnd.nextInt(4)
      val q = rnd.shuffle(lists.keys.toList).take(qSize)
      for (k <- Seq(1, 3, 10)) {
        val want = bruteTopK(docs, dls, idf, avgdl, q, k)
        val got = Wand.topK(cursorsOf(q.flatMap(lists.get), idf, avgdl, lensOf(dls)), k)
          .map(h => (h.docId, h.score)).toSeq
        assert(got.map(_._1) == want.map(_._1),
          s"trial=$trial k=$k q=$q: ${got.take(5)} vs ${want.take(5)}")
        // bit-identical: the kernel and the brute force both sum the
        // per-term contributions in sorted-term order
        got.zip(want).foreach { case ((_, gs), (_, ws)) =>
          assert(java.lang.Double.doubleToRawLongBits(gs) ==
            java.lang.Double.doubleToRawLongBits(ws), s"score drift $gs vs $ws")
        }
      }
    }
  }

  test("DecodedCursor advanceTo gallop: exact positions") {
    val ids = (0 until 1000).map(i => i.toLong * 3 + 1).toArray
    val pl = PostingFormat.encode("x", 0, ids, ids.map(_ => 1L), ids.map(_ => 10L), params, 10.0)
    val c = new DecodedCursor(
      DecodedList.from(pl, params, 10.0, lensOf(ids, ids.map(_ => 10L)), 0L), 1.0)
    c.advanceTo(500); assert(c.docId == 502)
    c.advanceTo(502); assert(c.docId == 502) // no-op at target
    c.advanceTo(2998); assert(c.docId == 2998)
    c.advanceTo(5000); assert(c.exhausted)
  }

  test("TopKAgg ≡ sort.take(k) under arbitrary reduce/merge splits (100 random cases)") {
    // the map-side-combining per-group top-k (blendedTopKBatch's rank
    // stage) must be invariant to how rows split across partial buffers
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 100) {
      val n = rnd.nextInt(200)
      val k = 1 + rnd.nextInt(12)
      // duplicate scores on purpose: tie-break (score DESC, docId ASC)
      val rows = Array.fill(n)(ScoredDoc(rnd.nextInt(50).toLong, rnd.nextInt(8) / 4.0))
      val agg = new TopKAgg(k)
      // random partitioning into partial buffers, then a random-order merge
      val buffers = rows.grouped(1 + rnd.nextInt(8)).map { chunk =>
        chunk.foldLeft(agg.zero)((b, r) => agg.reduce(b, r))
      }.toSeq
      val merged = rnd.shuffle(buffers).foldLeft(agg.zero)(agg.merge)
      val got = agg.finish(merged).map(h => (h.docId, h.score)).toSeq
      val want = rows.map(h => (h.docId, h.score)).sortBy { case (id, s) => (-s, id) }
        .take(k).toSeq
      assert(got == want, s"n=$n k=$k")
    }
  }

  /** Brute-force blended ranking: every matching doc's exact raw BM25
    * (contributions summed in sorted-term order — the cursor creation
    * order) blended with λ in EXACTLY the kernel's expression order.
    */
  private def bruteBlend(docs: Map[Long, Map[String, Long]], dls: Map[Long, Long],
      idf: Map[String, Double], avgdl: Double, q: Seq[String], k: Int,
      alpha: Double, ubNorm: Double, lq: Double,
      lam: Map[Long, Double]): Seq[(Long, Double)] = {
    docs.toSeq.flatMap { case (d, ts) =>
      val contribs = q.sorted.flatMap(t => ts.get(t).map(tf =>
        idf(t) * PostingFormat.partial(tf.toDouble, dls(d).toDouble, params, avgdl)))
      if (contribs.isEmpty) None
      else {
        var raw = 0.0
        contribs.foreach(raw += _)
        val l = lam.getOrElse(d, 0.0)
        Some(d -> (alpha * (raw / ubNorm) +
          (1.0 - alpha) * (1.0 - math.min(math.abs(lq - l), 1.0))))
      }
    }.sortBy { case (d, s) => (-s, d) }.take(k)
  }

  test("blendedTopK kernel == brute-force blend (random corpora, alpha sweep)") {
    val ws = new Wand.Workspace // reused across every call, like a shard task's
    for (trial <- 1 to 20) {
      val nDocs = 100 + rnd.nextInt(600)
      val (docs, dls) = randomCorpus(nDocs, 3 + rnd.nextInt(8), 0.05 + rnd.nextDouble() * 0.3)
      val avgdl = dls.values.sum.toDouble / dls.size
      val lists = buildLists(docs, dls, avgdl)
      if (lists.nonEmpty) {
        val idf = lists.map { case (t, pl) => t -> BM25.idf(nDocs.toDouble, pl.df.toDouble) }
        val q = rnd.shuffle(lists.keys.toList).take(1 + rnd.nextInt(3)).sorted
        // λ for ~80% of docs (the rest exercise the 0.0 fill), λq nearby
        val lam = docs.keys.filter(_ => rnd.nextDouble() < 0.8)
          .map(d => d -> rnd.nextDouble() * 0.2).toMap
        val lq = rnd.nextDouble() * 0.2
        val k1p1 = params.k1 + 1.0
        val ubNorm = math.max(q.map(idf(_) * k1p1).sum, 1e-12)
        val lambdaOf: Long => Double = d => lam.getOrElse(d, 0.0)
        for (alpha <- Seq(1.0, 0.9, 0.5, 0.0); k <- Seq(1, 5, 10)) {
          val want = bruteBlend(docs, dls, idf, avgdl, q, k, alpha, ubNorm, lq, lam)
          val got = Wand.blendedTopK(cursorsOf(q.flatMap(lists.get), idf, avgdl, lensOf(dls)),
            k, alpha, ubNorm, lq, lambdaOf, null).map(h => (h.docId, h.score)).toSeq
          assert(got.map(_._1) == want.map(_._1),
            s"trial=$trial alpha=$alpha k=$k q=$q: $got vs $want")
          // scores must be BIT-identical (the brute force uses the
          // kernel's expression order)
          got.zip(want).foreach { case ((_, gs), (_, w)) =>
            assert(java.lang.Double.doubleToRawLongBits(gs) ==
              java.lang.Double.doubleToRawLongBits(w), s"score drift $gs vs $w")
          }
          val got2 = Wand.blendedTopK(cursorsOf(q.flatMap(lists.get), idf, avgdl, lensOf(dls)),
            k, alpha, ubNorm, lq, lambdaOf, ws).map(h => (h.docId, h.score)).toSeq
          assert(got2 == got, s"workspace drift trial=$trial alpha=$alpha k=$k")
        }
      }
    }
  }

  test("blendedTopK kernel on tie-heavy profiles (pruning-with-ties safety)") {
    for (trial <- 1 to 8) {
      val nDocs = 400
      val profiles = Array.fill(4)((0 until 4).flatMap { t =>
        if (rnd.nextDouble() < 0.6) Some(s"t$t" -> (1L + rnd.nextInt(3))) else None
      }.toMap)
      val docs = (0L until nDocs.toLong).map(d => d -> profiles((d % 4).toInt)).toMap
      val dls = docs.map { case (d, ts) => d -> math.max(1L, ts.values.sum) }
      val avgdl = dls.values.sum.toDouble / dls.size
      val lists = buildLists(docs, dls, avgdl)
      if (lists.nonEmpty) {
        val idf = lists.map { case (t, pl) => t -> BM25.idf(nDocs.toDouble, pl.df.toDouble) }
        val q = lists.keys.toSeq.sorted.take(2)
        // identical λ per profile → massed blended-score ties
        val lam = docs.keys.map(d => d -> (d % 4) * 0.05).toMap
        val lq = 0.05
        val ubNorm = math.max(q.map(idf(_) * (params.k1 + 1.0)).sum, 1e-12)
        for (alpha <- Seq(0.9, 0.5); k <- Seq(3, 17)) {
          val want = bruteBlend(docs, dls, idf, avgdl, q, k, alpha, ubNorm, lq, lam)
          val got = Wand.blendedTopK(cursorsOf(q.flatMap(lists.get), idf, avgdl, lensOf(dls)),
            k, alpha, ubNorm, lq,
            (d: Long) => lam.getOrElse(d, 0.0), null)
            .map(h => (h.docId, h.score)).toSeq
          assert(got == want, s"trial=$trial alpha=$alpha k=$k")
        }
      }
    }
  }

  test("WAND handles terms absent from corpus and k > matches") {
    val (docs, dls) = randomCorpus(20, 3, 0.5)
    val avgdl = dls.values.sum.toDouble / dls.size
    val lists = buildLists(docs, dls, avgdl)
    val idf = lists.map { case (t, pl) => t -> BM25.idf(20.0, pl.df.toDouble) }
    val got = Wand.topK(cursorsOf(List("t0").flatMap(lists.get), idf, avgdl, lensOf(dls)), 1000)
    val matching = docs.count(_._2.contains("t0"))
    assert(got.length == matching)
    assert(Wand.topK(cursorsOf(Nil, idf, avgdl, Array.empty[Int]), 5).isEmpty)
  }

  test("blended WAND hot-term pruning at alpha 0.9: < 1/10 of docs scored, ≡ brute force") {
    // hot term in EVERY doc; high-tf docs concentrated early → once the
    // heap holds them, later blocks' blended bound cannot beat θ and the
    // kernel skips them. lambdaOf is called once per fully scored doc.
    val nDocs = 20000
    val docs = (0L until nDocs.toLong).map(d => d -> Map("hot" -> (if (d < 100) 5L else 1L))).toMap
    val dls = docs.map { case (d, _) => d -> 10L }
    val lists = buildLists(docs, dls, 10.0)
    val idf = Map("hot" -> BM25.idf(nDocs.toDouble, nDocs.toDouble))
    val lam = docs.keys.map(d => d -> (d % 17) / 100.0).toMap
    val (alpha, lq, k) = (0.9, 0.05, 10)
    val ubNorm = idf("hot") * (params.k1 + 1.0)
    var scored = 0
    val lambdaOf: Long => Double = { d => scored += 1; lam(d) }
    val got = Wand.blendedTopK(cursorsOf(lists.values.toSeq, idf, 10.0, lensOf(dls)),
      k, alpha, ubNorm, lq, lambdaOf, null).map(h => (h.docId, h.score)).toSeq
    assert(got == bruteBlend(docs, dls, idf, 10.0, Seq("hot"), k, alpha, ubNorm, lq, lam))
    assert(scored > 0 && scored < nDocs / 10,
      s"pruning did not engage: $scored of $nDocs matching docs scored")
  }
}
