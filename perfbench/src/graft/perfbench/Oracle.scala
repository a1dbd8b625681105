package graft.perfbench

import scala.collection.mutable
import graft.corpus.SourceFile

/** Brute-force BM25 over the corpus text, computed by the benchmark
  * itself: only the tokenizer is the program's (the one the index
  * records in its meta). df, dl, avgdl, idf and every score are counted
  * here from the files, for the terms in `watch`.
  *
  *   idf(t)   = ln((N − df + 0.5) / (df + 0.5) + 1)
  *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  */
final class Oracle(files: Array[SourceFile], docIdOf: SourceFile => Long,
    tokenize: String => Array[String], k1: Double, b: Double, watch: Set[String]) {

  private val n = files.length
  private val dl = new Array[Long](n)
  private val postings = mutable.HashMap[String, mutable.ArrayBuffer[(Long, Long)]]()
  private var totalTokens = 0L

  files.foreach { f =>
    val id = docIdOf(f)
    require(id >= 0 && id < n, s"docId $id of ${f.path} outside [0, $n)")
    val toks = tokenize(f.content)
    dl(id.toInt) = toks.length
    totalTokens += toks.length
    val tf = mutable.HashMap[String, Long]()
    toks.foreach(t => if (watch.contains(t)) tf(t) = tf.getOrElse(t, 0L) + 1L)
    tf.foreach { case (t, c) => postings.getOrElseUpdate(t, mutable.ArrayBuffer()) += (id -> c) }
  }
  private val avgdl = totalTokens.toDouble / n

  /** Every matching doc's score, and the docs ranked (score DESC, docId ASC). */
  def score(terms: Seq[String]): (Map[Long, Double], IndexedSeq[(Long, Double)]) = {
    val acc = mutable.HashMap[Long, Double]()
    terms.distinct.foreach { t =>
      require(watch.contains(t), s"term $t was not watched")
      val ps = postings.getOrElse(t, mutable.ArrayBuffer())
      val df = ps.size.toDouble
      val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
      ps.foreach { case (d, tf) =>
        val norm = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl(d.toInt) / avgdl))
        acc(d) = acc.getOrElse(d, 0.0) + idf * norm
      }
    }
    val ranked = acc.toIndexedSeq.sortWith((x, y) => x._2 > y._2 || (x._2 == y._2 && x._1 < y._1))
    (acc.toMap, ranked)
  }

  /** None when the engine's top-k equals the brute-force top-k under
    * (score DESC, docId ASC), else the first difference. Scores agree
    * within 1e-9 relative (the engine sums terms in another order); a
    * doc may stand in for another whose score ties it within that
    * tolerance. With `scores` = None only the ids are compared (the
    * α = 1 blend scales every score by one constant).
    */
  def mismatch(terms: Seq[String], k: Int, ids: Seq[Long],
      scores: Option[Seq[Double]]): Option[String] = {
    val (all, ranked) = score(terms)
    val want = ranked.take(k)
    def close(x: Double, y: Double) = math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
    if (ids.size != want.size) return Some(s"$terms: ${ids.size} hits, expected ${want.size}")
    if (ids.distinct.size != ids.size) return Some(s"$terms: duplicate ids $ids")
    var i = 0
    while (i < ids.size) {
      val got = all.get(ids(i))
      if (got.isEmpty) return Some(s"$terms: doc ${ids(i)} at rank ${i + 1} matches no term")
      if (!close(got.get, want(i)._2))
        return Some(s"$terms: rank ${i + 1} doc ${ids(i)} scores ${got.get}, expected doc ${want(i)._1} at ${want(i)._2}")
      scores.foreach { s =>
        if (!close(s(i), got.get)) return Some(s"$terms: doc ${ids(i)} engine score ${s(i)} != ${got.get}")
        if (i > 0 && s(i) == s(i - 1) && ids(i) < ids(i - 1))
          return Some(s"$terms: tie at rank ${i + 1} not in docId order")
      }
      i += 1
    }
    None
  }
}
