package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index.{LensHandle, LensStore}
import java.nio.file.Files

/** The v5 shard-local doc-length side arrays: segment write/read
  * round-trip, docId gaps, cross-epoch window merging (the boundary
  * doc-shard), and generation-token cache invalidation.
  */
class LensStoreSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  private def writeDoclens(dir: String, rows: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    rows.toDF("doc_id", "dl").write.mode("overwrite").parquet(dir)
  }

  test("round-trip: every doc length lands at docId − shardBase") {
    val t = Files.createTempDirectory("graft-lens").toString
    val rows = (0L until 1000L).map(d => d -> (d % 97 + 1))
    writeDoclens(s"$t/doclens", rows)
    val n = LensStore.writeSegments(spark, s"$t/doclens", s"$t/lens", parts = 4)
    assert(n == 1000L)
    val h = LensHandle(Seq(s"$t/lens"), docsPerShard = 64L, gen = "g1")
    for (shard <- 0 to 15; off <- Seq(0, 1, 62, 63)) {
      val d = shard.toLong * 64 + off
      if (d < 1000) assert(h.forShard(shard)(off) == (d % 97 + 1).toInt, s"doc $d")
    }
    assert(h.dlOf(999L) == (999L % 97 + 1).toInt)
  }

  test("docId gaps split segments; gap positions read back as 0") {
    val t = Files.createTempDirectory("graft-lens-gap").toString
    val rows = ((0L until 50L) ++ (60L until 100L)).map(d => d -> (d + 1))
    writeDoclens(s"$t/doclens", rows)
    val n = LensStore.writeSegments(spark, s"$t/doclens", s"$t/lens", parts = 3)
    assert(n == 90L)
    val h = LensHandle(Seq(s"$t/lens"), docsPerShard = 128L, gen = "g1")
    val lens = h.forShard(0)
    for (d <- 0 until 50) assert(lens(d) == d + 1)
    for (d <- 50 until 60) assert(lens(d) == 0, s"gap doc $d")
    for (d <- 60 until 100) assert(lens(d) == d + 1)
  }

  test("a duplicate doc_id fails the write instead of opening an overlapping segment") {
    val t = Files.createTempDirectory("graft-lens-dup").toString
    writeDoclens(s"$t/doclens", (0L until 100L).map(d => d -> (d + 1)) :+ (40L -> 9L))
    val e = intercept[Exception](LensStore.writeSegments(spark, s"$t/doclens", s"$t/lens", parts = 1))
    assert(e.getMessage.contains("duplicate doc_id 40"), e.getMessage)
  }

  test("boundary shard merges base + epoch lens roots") {
    val t = Files.createTempDirectory("graft-lens-epoch").toString
    // base corpus: ids [0, 100); epoch: ids [100, 180). dps = 64 → shard 1
    // covers [64, 128): 36 docs from base, 28 from the epoch.
    writeDoclens(s"$t/base_doclens", (0L until 100L).map(d => d -> (d + 10)))
    writeDoclens(s"$t/e1_doclens", (100L until 180L).map(d => d -> (d + 1000)))
    LensStore.writeSegments(spark, s"$t/base_doclens", s"$t/lens", parts = 2)
    LensStore.writeSegments(spark, s"$t/e1_doclens", s"$t/lens_e1", parts = 2)
    val h = LensHandle(Seq(s"$t/lens", s"$t/lens_e1"), docsPerShard = 64L, gen = "g1")
    val s1 = h.forShard(1)
    for (d <- 64L until 100L) assert(s1((d - 64).toInt) == (d + 10).toInt, s"base doc $d")
    for (d <- 100L until 128L) assert(s1((d - 64).toInt) == (d + 1000).toInt, s"epoch doc $d")
    val s2 = h.forShard(2)
    for (d <- 128L until 180L) assert(s2((d - 128).toInt) == (d + 1000).toInt)
  }

  test("generation token invalidates caches after an in-place rebuild") {
    val t = Files.createTempDirectory("graft-lens-gen").toString
    writeDoclens(s"$t/doclens", (0L until 64L).map(d => d -> 5L))
    LensStore.writeSegments(spark, s"$t/doclens", s"$t/lens", parts = 1)
    val h1 = LensHandle(Seq(s"$t/lens"), 64L, gen = "gen-A")
    assert(h1.forShard(0)(10) == 5)
    // rebuild at the SAME path with different lengths
    writeDoclens(s"$t/doclens", (0L until 64L).map(d => d -> 7L))
    graft.index.Stage.deleteRecursive(java.nio.file.Paths.get(s"$t/lens"))
    LensStore.writeSegments(spark, s"$t/doclens", s"$t/lens", parts = 1)
    // a NEW generation token (what InvertedIndex derives from the lens
    // stage lineage) must see the new data; the old token may keep
    // serving its own generation from cache
    val h2 = LensHandle(Seq(s"$t/lens"), 64L, gen = "gen-B")
    assert(h2.forShard(0)(10) == 7)
  }

  test("index build produces a lens stage whose windows equal the doclens table") {
    import org.apache.spark.sql.functions.col
    val t = Files.createTempDirectory("graft-lens-idx").toString
    val idx = graft.index.IndexBuilder.build(
      spark, graft.corpus.CodeCorpus.generate(spark, 300L, 42L, 4), s"$t/idx",
      corpusFp = "lens-spec:42:300",
      graft.index.IndexBuilder.Params(docsPerShard = 64L, numParts = 4))
    val want = idx.spark.read.parquet(s"$t/idx/doclens")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val h = idx.lensHandle
    assert(h.docsPerShard == 64L)
    want.foreach { case (d, dl) => assert(h.dlOf(d) == dl.toInt, s"doc $d") }
  }
}
