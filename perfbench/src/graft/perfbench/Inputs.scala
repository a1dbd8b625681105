package graft.perfbench

import java.util.SplittableRandom
import graft.corpus.{CodeCorpus, SourceFile}
import graft.tokenize.CodeTokenizer
import graft.util.Hashing

object Inputs {
  def utf8Len(s: String): Long = s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
}

/** One query: its class (1..5), its terms for the BM25 paths (the
  * blended paths get the same terms as text), and the corpus file id
  * whose needle it carries (-1 when it carries none).
  */
final case class Query(cls: Int, terms: Seq[String], target: Int = -1) {
  def text: String = terms.mkString(" ")
}

/** Every input of a run, derived from the run's seed: the files
  * (`nBase` built, then `nAppend` appended as one epoch) and the query
  * streams. The program sees only the files and the queries.
  */
final class Inputs(val seed: Long, val nBase: Int, val nAppend: Int) {
  import Inputs.utf8Len
  val nFiles: Int = nBase + nAppend

  lazy val files: Array[SourceFile] = Array.tabulate(nFiles)(i => CodeCorpus.file(seed, i.toLong))

  lazy val srcBytes: Long = files.iterator.map(f => utf8Len(f.content)).sum

  /** The rare subtoken of file `id`'s `needle_<hex>` identifier. */
  def needle(id: Int): String = CodeTokenizer.codeTokens(CodeCorpus.needleToken(seed, id.toLong))(1)

  def rng(stream: String): SplittableRandom =
    new SplittableRandom(Hashing.hash64(seed, "perfbench", stream))

  private def stem(rank: Int): String = CodeCorpus.Stems(rank)

  /** `hot`: every query comes from a small pool, so term stats are warm
    * and batches repeat. q1 a common stem, q2 a needle from a pool of 32,
    * q3 one of 24 mid-frequency stem triples, q4 the hottest stem, q5 one
    * of 64 perturbed-document term sets.
    */
  final class Hot {
    private val r = rng("hot-pools")
    private val needleIds: Array[Int] = Array.fill(32)(r.nextInt(nFiles))
    val multi: Array[Seq[String]] = Array.fill(24) {
      val s = scala.collection.mutable.LinkedHashSet[String]()
      while (s.size < 3) s += stem(30 + r.nextInt(46))
      s.toSeq
    }
    val perturbed: Array[Seq[String]] = Array.fill(64) {
      val f = files(r.nextInt(nFiles))
      // the header line holds the file's unique path tokens: skip it
      val body = f.content.substring(f.content.indexOf('\n') + 1)
      val ts = CodeTokenizer.codeTokens(body).distinct.take(6)
      ts.updated(r.nextInt(ts.length), stem(r.nextInt(40))).toSeq
    }

    def needleIdSet: Set[Int] = needleIds.toSet

    def query(i: Int, q: SplittableRandom): Query = i % 5 match {
      case 0 => Query(1, Seq(stem(1 + q.nextInt(19))))
      case 1 => val id = needleIds(q.nextInt(needleIds.length)); Query(2, Seq(needle(id)), id)
      case 2 => Query(3, multi(q.nextInt(multi.length)))
      case 3 => Query(4, Seq(stem(0)))
      case _ => Query(5, perturbed(q.nextInt(perturbed.length)))
    }

    /** Every term any hot query can carry. */
    def allTerms: Seq[String] =
      ((0 until 20).map(stem) ++ needleIds.toSeq.map(needle) ++ multi.toSeq.flatten ++ perturbed.toSeq.flatten).distinct
  }

  /** `longtail`: every query carries the needle of a file that no
    * earlier query of the run used (alone or with one stem), so every
    * term set is new and its stats are cold. q1 the needle alone, q2 with
    * the hottest stem, q3 a head stem, q4 a mid stem, q5 a tail stem.
    */
  final class Longtail(exclude: Set[Int] = Set.empty) {
    private val order: Array[Int] = {
      val a = (0 until nFiles).filterNot(exclude).toArray
      val r = rng("longtail-order")
      var i = a.length - 1
      while (i > 0) {
        val j = r.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
        i -= 1
      }
      a
    }
    private var next = 0

    def query(i: Int, q: SplittableRandom): Query = {
      require(next < order.length, s"longtail needle stream exhausted after $next queries")
      val id = order(next)
      next += 1
      val n = needle(id)
      val nStems = CodeCorpus.nStems
      i % 5 match {
        case 0 => Query(1, Seq(n), id)
        case 1 => Query(2, Seq(n, stem(0)), id)
        case 2 => Query(3, Seq(n, stem(1 + q.nextInt(19))), id)
        case 3 => Query(4, Seq(n, stem(20 + q.nextInt(40))), id)
        case _ => Query(5, Seq(n, stem(60 + q.nextInt(nStems - 60))), id)
      }
    }
  }
}
