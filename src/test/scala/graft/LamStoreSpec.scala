package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index.{LamHandle, LamStore, LensStore}
import org.apache.spark.util.SerializableConfiguration
import java.nio.file.Files

/** The λ side arrays (LamStore: the v5 lens layout with 8-byte IEEE
  * doubles) plus the round-6 store fixes: session-conf plumbing into the
  * positioned-read path and bounded (half) cache eviction.
  */
class LamStoreSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  private def writeLam(dir: String, rows: Seq[(Long, Double)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "lambda")
  }

  test("round-trip: exact double bits at docId − shardBase; interior gaps read 0.0") {
    val t = Files.createTempDirectory("graft-lam").toString
    val rnd = new scala.util.Random(11)
    // holes at every docId divisible by 7 — like docs with no in-vocab term
    val rows = (0L until 1000L).filter(_ % 7 != 0).map(d => d -> rnd.nextDouble())
    val df = writeLam(s"$t/lambdas", rows)
    val n = LamStore.writeSegments(spark, df, s"$t/lamlens", 4)
    assert(n == rows.size.toLong)
    val byId = rows.toMap
    val h = LamHandle(Seq(s"$t/lamlens"), docsPerShard = 64L, gen = "g1")
    for (shard <- 0 to 15; off <- 0 until 64) {
      val d = shard.toLong * 64 + off
      if (d < 1000) {
        val want = byId.getOrElse(d, 0.0)
        val got = h.forShard(shard)(off)
        assert(java.lang.Double.doubleToRawLongBits(got) ==
          java.lang.Double.doubleToRawLongBits(want), s"doc $d")
      }
    }
    // beyond the corpus: zero-filled
    assert(h.forShard(20).forall(_ == 0.0))
  }

  test("a duplicate doc_id fails the write instead of shifting later λ") {
    val t = Files.createTempDirectory("graft-lam-dup").toString
    val rows = (0L until 100L).map(d => d -> (d + 0.5)) :+ (40L -> 7.0)
    val e = intercept[Exception](LamStore.writeSegments(spark, writeLam(s"$t/l", rows), s"$t/lamlens", 1))
    assert(e.getMessage.contains("duplicate doc_id 40"), e.getMessage)
  }

  test("multi-root windows merge (base + epoch) like the lens store") {
    val t = Files.createTempDirectory("graft-lam2").toString
    LamStore.writeSegments(spark, writeLam(s"$t/b", (0L until 100L).map(d => d -> (d + 0.5))),
      s"$t/lamlens", 2)
    LamStore.writeSegments(spark, writeLam(s"$t/e", (100L until 160L).map(d => d -> (d + 0.25))),
      s"$t/lamlens_e1", 2)
    val h = LamHandle(Seq(s"$t/lamlens", s"$t/lamlens_e1"), docsPerShard = 64L, gen = "g1")
    // shard 1 = [64, 128): 64-99 from base, 100-127 from the epoch
    val w = h.forShard(1)
    assert(w(0) == 64.5 && w(35) == 99.5 && w(36) == 100.25 && w(63) == 127.25)
  }

  test("generation token invalidates the process-wide cache on rewrite") {
    val t = Files.createTempDirectory("graft-lam3").toString
    LamStore.writeSegments(spark, writeLam(s"$t/a", (0L until 64L).map(d => d -> 1.0)),
      s"$t/lamlens", 1)
    val h1 = LamHandle(Seq(s"$t/lamlens"), 64L, gen = "gen-A")
    assert(h1.forShard(0)(5) == 1.0)
    LamStore.writeSegments(spark, writeLam(s"$t/b", (0L until 64L).map(d => d -> 2.0)),
      s"$t/lamlens", 1)
    assert(h1.forShard(0)(5) == 1.0) // same gen: cached (by design)
    val h2 = LamHandle(Seq(s"$t/lamlens"), 64L, gen = "gen-B")
    assert(h2.forShard(0)(5) == 2.0) // new gen: fresh read
  }

  test("positioned reads run under the caller's Hadoop configuration") {
    // marker conf: cache-disabled so getFileSystem returns an instance
    // built from exactly this conf — the read path must carry it through
    val c = new org.apache.hadoop.conf.Configuration()
    c.set("graft.test.marker", "on")
    c.set("fs.file.impl.disable.cache", "true")
    val (fs, _) = LensStore.hadoopFs("/tmp", Some(new SerializableConfiguration(c)))
    assert(fs.getConf.get("graft.test.marker") == "on")
    // and the no-conf fallback does not see it
    val (fs2, _) = LensStore.hadoopFs("/tmp", None)
    assert(fs2.getConf.get("graft.test.marker") == null)
  }

  test("evictHalf drops about half the entries, never all") {
    val m = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    (0 until 1000).foreach(i => m.put(i, i))
    LensStore.evictHalf(m)
    assert(m.size() >= 400 && m.size() <= 600, s"size ${m.size()}")
    // surviving entries still map correctly (no corruption)
    m.forEach((k, v) => assert(k == v))
  }
}
