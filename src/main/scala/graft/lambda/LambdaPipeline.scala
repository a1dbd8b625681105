package graft.lambda

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{IndexBuilder, InvertedIndex, Stage}
import graft.search.BM25
import graft.tokenize.CodeTokenizer
import graft.util.Hashing

/** The λτ secondary-signal pipeline over an inverted index (north star:
  * "arrowspace's Rayleigh-quotient lambda … re-derived as a typed
  * Catalyst aggregation over a kNN term-cooccurrence graph Laplacian and
  * used as the same secondary re-ranking signal").
  *
  * Stage map (each checkpointed with lineage like the index build):
  *   vocab/      top-F terms by (df DESC, term ASC) → graph node ids
  *   docterms/   (docId, termIdx, weight=tf) over the pruned vocabulary
  *   clusters/   deterministic seeded k-means over hashed doc vectors
  *               (docs ≙ the reference's items; clusters ≙ centroids)
  *   graph/      term signatures = tf mass per (termIdx, cluster) → F×X
  *               matrix → cosine-kNN Laplacian (F×F CSR, broadcastable) —
  *               the feature-nodes transpose trick of
  *               /root/reference/src/graph.rs:170-172 with terms as
  *               features and document clusters as the signature axis
  *   lambdas/    per-doc λ via the typed LambdaAgg aggregation
  */
object LambdaPipeline {

  /** NOTE graph.eps defaults to 1.0, diverging from the reference's
    * 1e-3 (builder.rs:70) — deliberate; see SURVEY.md Appendix A row
    * D10.
    */
  case class Config(
      vocabSize: Int = 2048,
      hashDim: Int = 64,
      maxClusters: Int = 64,
      sampleSize: Int = 1000,
      seed: Long = 42L,
      tau: TauMode = TauMode.Mean,
      graph: GraphBuilder.GraphParams =
        GraphBuilder.GraphParams(eps = 1.0, topk = 6, sigma = None)) {
    // v4: reference-faithful CH sweep (3 trials/k + penalty + fine-tune
    // + 5·ID bound) can choose a different X → stale staged λs must not
    // resume
    def fingerprint: String =
      s"v4;V=$vocabSize;h=$hashDim;X=$maxClusters;s=$sampleSize;seed=$seed;tau=$tau;${graph.fingerprint}"
  }

  /** Deterministic signed feature hashing of a term node into hashDim. */
  @inline def hashFeature(termIdx: Int, hashDim: Int): (Int, Double) = {
    val h = Hashing.mix64(0x7465726dL ^ termIdx.toLong)
    val slot = ((h >>> 1) % hashDim).toInt
    val sign = if ((h & 1L) == 0L) 1.0 else -1.0
    (slot, sign)
  }

  /** Synthetic λτ of ONE document's term multiset over the frozen
    * vocab/CSR — the per-row form of the LambdaAgg.finish computation
    * (bit-identical: same in-vocab pairs sorted by termIdx, same tf/vdl
    * weight division, same τ selection and sparse λ formula). None when
    * the doc has no in-vocab term (such docs have no λ row).
    */
  def docLambda(vocab: Map[String, Int], csr: Csr, nNodes: Int, mode: TauMode,
      terms: Array[String], tfs: Array[Long]): Option[Double] = {
    val tis = new Array[Int](terms.length)
    val tfv = new Array[Long](terms.length)
    var m = 0
    var vdl = 0L
    var i = 0
    while (i < terms.length) {
      val ti = vocab.getOrElse(terms(i), -1)
      if (ti >= 0) { tis(m) = ti; tfv(m) = tfs(i); vdl += tfs(i); m += 1 }
      i += 1
    }
    if (m == 0) return None
    // primitive index sort by termIdx (distinct per doc): pack
    // (termIdx << 32 | position) into longs — same order as the former
    // boxed sortBy, no Integer allocation in the per-doc hot path
    val packed = new Array[Long](m)
    i = 0
    while (i < m) { packed(i) = (tis(i).toLong << 32) | i.toLong; i += 1 }
    java.util.Arrays.sort(packed)
    val support = new Array[Int](m)
    val xs = new Array[Double](m)
    val denom = vdl.toDouble
    i = 0
    while (i < m) {
      val j = (packed(i) & 0xffffffffL).toInt
      support(i) = tis(j)
      xs(i) = tfv(j).toDouble / denom
      i += 1
    }
    val tau = LambdaAgg.tauOverSparse(xs, nNodes, mode)
    Some(TauMode.syntheticLambdaSparse(support, xs, csr, tau))
  }

  def build(spark: SparkSession, index: InvertedIndex, dir: String,
      cfg: Config = Config()): LambdaIndex = {
    import spark.implicits._
    Files.createDirectories(Paths.get(dir))
    // fp chains the epoch count AND every committed epoch's payload
    // fingerprint: appending a snapshot — or rebuilding epochs with
    // different payloads at the same count — invalidates staged λ
    // artifacts (same hazard class as the termstats fingerprint chain)
    val fp = Stage.fingerprintOf(
      Seq(index.dir, cfg.fingerprint, index.meta("fingerprint"),
        "epochs", index.epochs.toString) ++
        (1 until index.epochs).map(e => index.meta(s"fp_e$e")): _*)

    // Generation reset runs BEFORE the first stage commit: on a
    // fingerprint mismatch the props (epochsCovered/extraDirs/baseFp)
    // are rewritten and stale lambdas_e* dirs cleared ahead of any
    // Stage.run — a crash between a new-generation stage commit and a
    // trailing props rewrite could otherwise leave extraDirs pointing at
    // prior-generation incremental dirs while $dir/lambdas already holds
    // the rebuild, making LambdaIndex.lambdas union duplicate/stale
    // doc_id rows (duplicate join keys in blendedTopK). With the early
    // reset the worst crash residue is a CONSISTENT stale generation
    // (old lambdas dir, no extras) that the next build call recomputes
    // by stage fingerprint. A resumed build whose stages all skip (same
    // fp) must NOT reset: an appendEpochs-extended chain stays intact.
    // CONCURRENCY CONTRACT: build and appendEpochs on the same dir must
    // not run concurrently — both read-modify-write lambdas.props.
    val propsPath = s"$dir/lambdas.props"
    val sameGeneration = Files.exists(Paths.get(propsPath)) &&
      IndexBuilder.readMeta(propsPath).get("baseFp").contains(fp)
    if (!sameGeneration) {
      IndexBuilder.writeMeta(propsPath, Map(
        "epochsCovered" -> index.epochs.toString,
        "cfgFp" -> cfg.fingerprint,
        "baseFp" -> fp,
        "extraDirs" -> ""))
      val ls = Files.list(Paths.get(dir))
      try ls.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith("lambdas_e") || n.startsWith("lamlens_e")
        }
        .toSeq.foreach(Stage.deleteRecursive)
      finally ls.close()
    }

    // ---- vocab: prune to broadcastable term-node set -------------------
    Stage.run(s"$dir/vocab", "vocab", fp) {
      val top = index.termStats
        .orderBy($"df".desc, $"term".asc).limit(cfg.vocabSize)
        .collect().map(_.getString(0))
      top.zipWithIndex.toSeq.toDF("term", "termIdx")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/vocab")
      top.length.toLong
    }
    val vocab: Map[String, Int] = spark.read.parquet(s"$dir/vocab")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val bVocab = spark.sparkContext.broadcast(vocab)
    val nNodes = vocab.size

    // The v6 termfreq artifact is one row per doc (doc_id, terms[],
    // tfs[], dl): every per-doc derivation below (docterms weights, the
    // hashed clustering vectors, the λ aggregation itself) runs as a
    // SHUFFLE-FREE mapPartitions over it with the broadcast vocab —
    // the former shape paid a vocab join + a vdl groupBy + a second
    // join for docterms, plus one groupByKey(docId) shuffle of ~all
    // in-vocab postings in EACH of the clusters and lambdas stages.
    // ALL epochs' termfreq (base + appended snapshots): λ must cover
    // every doc the index serves, or appended docs silently blend with
    // λ=0.
    def perDocTf = spark.read.parquet(index.termFreqPaths: _*)
      .select($"doc_id", $"terms", $"tfs")
      .as[(Long, Array[String], Array[Long])]

    // ---- doc term vectors over the pruned vocab ------------------------
    Stage.run(s"$dir/docterms", "docterms", fp) {
      // weight = tf / (doc's total in-vocab mass): the doc vector is a
      // probability mass over term nodes, so every coordinate ≤ 1 and the
      // per-doc τ stays in the (0,1] domain where λ ∈ [0,1] holds.
      // tf and vdl stay integral until the final division: the long sum
      // is exact, so weights (and hence λ) are bit-identical across
      // rebuilds. Docs with NO in-vocab term emit no rows (the former
      // inner joins dropped them the same way).
      perDocTf.mapPartitions { it =>
        val v = bVocab.value
        it.flatMap { case (docId, terms, tfs) =>
          var vdl = 0L
          var i = 0
          while (i < terms.length) {
            if (v.contains(terms(i))) vdl += tfs(i)
            i += 1
          }
          val denom = vdl.toDouble
          terms.indices.iterator.flatMap { j =>
            v.get(terms(j)).map(ti => (docId, ti, tfs(j), tfs(j).toDouble / denom))
          }
        }
      }.toDF("docId", "termIdx", "tf", "weight")
        .write.mode("overwrite").parquet(s"$dir/docterms")
      -1L
    }
    def docterms = spark.read.parquet(s"$dir/docterms")

    // ---- doc clustering (items → X centroids) --------------------------
    Stage.run(s"$dir/clusters", "clusters", fp) {
      val hd = cfg.hashDim
      // accumulate hashed features as LONG tf counts (exact in any
      // iteration order), then scale by the doc's in-vocab mass — keeps
      // the whole pipeline bit-deterministic across rebuilds. Docs with
      // no in-vocab term are skipped (identical coverage to the former
      // docterms-derived grouping).
      val docVecs = perDocTf.mapPartitions { it =>
        val v = bVocab.value
        it.flatMap { case (id, terms, tfs) =>
          val acc = new Array[Long](hd)
          var total = 0L
          var i = 0
          while (i < terms.length) {
            val ti = v.getOrElse(terms(i), -1)
            if (ti >= 0) {
              val (slot, sign) = hashFeature(ti, hd)
              acc(slot) += (if (sign > 0) tfs(i) else -tfs(i))
              total += tfs(i)
            }
            i += 1
          }
          if (total == 0L) None
          else {
            val denom = total.toDouble
            Some((id, acc.map(_.toDouble / denom)))
          }
        }
      }
      val sample = SeededKMeans.sampleRows(docVecs, cfg.sampleSize, cfg.seed)
      val x = SeededKMeans.optimalK(sample, cfg.seed, cfg.maxClusters)
      val model = SeededKMeans.fitLocal(sample, x, cfg.seed)
      SeededKMeans.assignAll(docVecs, model)
        .withColumnRenamed("id", "docId")
        .write.mode("overwrite").parquet(s"$dir/clusters")
      IndexBuilder.writeMeta(s"$dir/clusters.props", Map("X" -> model.k.toString))
      model.k.toLong
    }
    val nClusters = IndexBuilder.readMeta(s"$dir/clusters.props")("X").toInt

    // ---- term signatures + graph Laplacian -----------------------------
    Stage.run(s"$dir/graph", "graph", fp) {
      // signature mass from raw tf (exact long sum — order-independent)
      val sig = docterms
        .join(spark.read.parquet(s"$dir/clusters"), "docId")
        .groupBy($"termIdx", $"cluster").agg(sum($"tf").as("mass"))
        .collect()
      val mat = Array.fill(nNodes)(new Array[Double](nClusters))
      sig.foreach { r =>
        mat(r.getAs[Int]("termIdx"))(r.getAs[Int]("cluster")) = r.getAs[Long]("mass").toDouble
      }
      val csr = GraphBuilder.buildLaplacian(spark, mat, cfg.graph)
      // persist COO
      val coo = for {
        i <- 0 until csr.n
        k <- csr.indptr(i) until csr.indptr(i + 1)
      } yield (i.toLong, csr.indices(k).toLong, csr.values(k))
      coo.toDF("i", "j", "v").coalesce(1).write.mode("overwrite").parquet(s"$dir/graph")
      IndexBuilder.writeMeta(s"$dir/graph.props",
        Map("nNodes" -> nNodes.toString, "nnz" -> csr.nnz.toString,
          "tau" -> cfg.tau.toString))
      csr.nnz.toLong
    }

    // ---- per-doc λ -----------------------------------------------------
    // the doc's whole term vector is one v6 termfreq row, so the λτ
    // aggregation runs per row in a mapPartitions — no groupByKey
    // shuffle of the in-vocab postings, no Kryo λ-buffers. Values are
    // bit-identical to the typed LambdaAgg path (same in-vocab pairs
    // sorted by termIdx, same tf/vdl weight division, same
    // tauOverSparse/syntheticLambdaSparse calls — LambdaAgg remains the
    // SQL-UDAF surface and the streaming ingest building block).
    Stage.run(s"$dir/lambdas", "lambdas", fp) {
      val li = new LambdaIndex(spark, dir)
      val bCsr = spark.sparkContext.broadcast(li.csr)
      val mode = cfg.tau
      val nn = nNodes
      perDocTf.mapPartitions { it =>
        val v = bVocab.value
        val csr = bCsr.value
        it.flatMap { case (id, terms, tfs) =>
          LambdaPipeline.docLambda(v, csr, nn, mode, terms, tfs).map(l => (id, l))
        }
      }.toDF("doc_id", "lambda")
        .write.mode("overwrite").parquet(s"$dir/lambdas")
      -1L
    }

    // ---- λ side arrays (LamStore) --------------------------------------
    // fixed-width per-doc-shard λ windows, the v5 lens layout applied to
    // λ: every distributed blended query reads its shard's window in-task
    // instead of shuffling a candidate band through a λ join (measured
    // 64.6M band rows for the 4096-query α=0.9 bench batch)
    Stage.run(s"$dir/lamlens", "lamlens", fp) {
      graft.index.LamStore.writeSegments(spark,
        spark.read.parquet(s"$dir/lambdas"), s"$dir/lamlens", 32)
    }
    // (generation reset — props rewrite + stale lambdas_e* cleanup — ran
    // BEFORE the first stage commit; see the block above the vocab stage)
    new LambdaIndex(spark, dir)
  }

  /** Incremental λ for epochs appended to the index AFTER the staged λ
    * pipeline was built, under a FROZEN graph: vocabulary, clustering,
    * and the term-graph Laplacian stay pinned at what `build` produced,
    * and only the NEW epochs' docs get a λ (one typed-aggregation pass
    * over just their termfreq). Per-doc λ depends only on the doc's own
    * term vector and the CSR — with the graph pinned, every existing λ
    * row stays EXACTLY valid, so snapshot ingest costs O(new docs), not
    * O(corpus): the 10¹²-doc serving pattern (append incrementally,
    * rebuild the graph on a cadence via `build`, which recomputes
    * everything when the epoch set changes).
    *
    * DOCUMENTED DIVERGENCE from `build` on the same index: the graph is
    * not re-derived from the enlarged corpus, so λ values differ from a
    * full rebuild's (whose vocab/clusters/graph see the new docs). The
    * α=1 blend ranking is graph-independent and stays ≡ pure BM25 (gate
    * `blended_appended_inc_alpha1`).
    *
    * Stage-checkpointed per epoch (fingerprint chains the epoch payload
    * fp + the frozen graph's fp): re-runs are no-ops, crashed appends
    * resume.
    */
  /** See class doc. `cached` lets a long-lived caller (the streaming
    * foreachBatch, a serving process) reuse one LambdaIndex handle
    * across calls — the CSR broadcast, vocab, and graph props are
    * per-handle lazy state, so repeated appends pay O(new docs), not
    * O(graph) driver work + a fresh broadcast per micro-batch.
    */
  def appendEpochs(spark: SparkSession, index: InvertedIndex, dir: String,
      cached: Option[LambdaIndex] = None): LambdaIndex = {
    import spark.implicits._
    val propsPath = s"$dir/lambdas.props"
    require(Files.exists(Paths.get(propsPath)),
      s"no staged λ pipeline at $dir — run LambdaPipeline.build first")
    val props = IndexBuilder.readMeta(propsPath)
    val covered = props("epochsCovered").toInt
    val total = index.epochs
    require(covered <= total,
      s"staged λ covers $covered epochs but the index has $total — stale index handle?")
    val li = cached.getOrElse(new LambdaIndex(spark, dir))
    if (covered == total) return li
    val nNodes = li.graphProps("nNodes").toInt
    val bCsr = li.csrBroadcast
    val bVoc = li.vocabBroadcast
    val paths = index.termFreqPaths // base + e1..e{total-1}, in epoch order
    val newDirs = scala.collection.mutable.Buffer[String]()
    for (e <- covered until total) { // epoch index e covers termFreqPaths(e)
      val eDir = s"$dir/lambdas_e$e"
      val fpE = Stage.fingerprintOf("lambda-epoch", props("baseFp"),
        props("cfgFp"), e.toString, index.meta(s"fp_e$e"))
      Stage.run(eDir, s"lambdas_e$e", fpE) {
        // same per-doc λ recipe as build, restricted to this epoch's
        // termfreq (appended docs live wholly inside their epoch, so
        // the per-doc in-vocab mass normalizer is epoch-local by
        // construction) — one shuffle-free mapPartitions pass
        val mode = li.tauMode
        val nn = nNodes
        spark.read.parquet(paths(e))
          .select($"doc_id", $"terms", $"tfs")
          .as[(Long, Array[String], Array[Long])]
          .mapPartitions { it =>
            val v = bVoc.value
            val csr = bCsr.value
            it.flatMap { case (id, terms, tfs) =>
              LambdaPipeline.docLambda(v, csr, nn, mode, terms, tfs).map(l => (id, l))
            }
          }
          .toDF("doc_id", "lambda")
          .write.mode("overwrite").parquet(eDir)
        -1L
      }
      // the epoch's λ side-array segments (same recipe as the base
      // lamlens stage; the epoch's id range is disjoint from the base's)
      Stage.run(s"$dir/lamlens_e$e", s"lamlens_e$e", fpE) {
        graft.index.LamStore.writeSegments(spark,
          spark.read.parquet(eDir), s"$dir/lamlens_e$e", 8)
      }
      newDirs += s"lambdas_e$e"
    }
    val prevExtra = props.getOrElse("extraDirs", "").split(",").filter(_.nonEmpty)
    IndexBuilder.writeMeta(propsPath, props ++ Map(
      "epochsCovered" -> total.toString,
      "extraDirs" -> (prevExtra ++ newDirs).distinct.mkString(",")))
    // the same handle stays valid: lambdas is a def (re-reads props, so
    // the new epoch dirs are visible), and the frozen graph/vocab/CSR
    // lazy state carries over unchanged
    li
  }
}

/** Query-side handle over a built λ pipeline directory. */
class LambdaIndex(spark: SparkSession, val dir: String) {
  import spark.implicits._

  lazy val vocab: Map[String, Int] = spark.read.parquet(s"$dir/vocab")
    .collect().map(r => r.getString(0) -> r.getInt(1)).toMap

  lazy val graphProps: Map[String, String] = IndexBuilder.readMeta(s"$dir/graph.props")

  lazy val tauMode: TauMode = graphProps("tau") match {
    case "Mean" => TauMode.Mean
    case "Median" => TauMode.Median
    case s if s.startsWith("Fixed") => TauMode.Fixed(s.drop(6).dropRight(1).toDouble)
    case s if s.startsWith("Percentile") => TauMode.Percentile(s.drop(11).dropRight(1).toDouble)
    case _ => TauMode.Mean
  }

  lazy val csr: Csr = {
    val n = graphProps("nNodes").toInt
    val coo = spark.read.parquet(s"$dir/graph")
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2)))
    Csr.fromCoo(n, coo)
  }

  /** One broadcast of the (frozen) CSR per handle — reused by every
    * appendEpochs call on this handle instead of re-broadcasting the
    * graph per micro-batch.
    */
  lazy val csrBroadcast: org.apache.spark.broadcast.Broadcast[Csr] =
    spark.sparkContext.broadcast(csr)

  /** One broadcast of the (frozen) vocab per handle — same rationale. */
  lazy val vocabBroadcast: org.apache.spark.broadcast.Broadcast[Map[String, Int]] =
    spark.sparkContext.broadcast(vocab)

  /** Per-doc λ table: the base pipeline output plus any frozen-graph
    * incremental epochs (LambdaPipeline.appendEpochs). Explicit
    * projection keeps column order stable for positional readers.
    */
  def lambdas: DataFrame = {
    val extra =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/lambdas.props")))
        IndexBuilder.readMeta(s"$dir/lambdas.props")
          .getOrElse("extraDirs", "").split(",").filter(_.nonEmpty).toSeq
      else Seq.empty
    (Seq(s"$dir/lambdas") ++ extra.map(d => s"$dir/$d"))
      .map(p => spark.read.parquet(p).select("doc_id", "lambda"))
      .reduce(_ union _)
  }

  /** λ of a query term-multiset (the prepare_query_item analog,
    * /root/reference/src/core.rs:533-549: τ from the query's own values,
    * then the same synthetic λ formula).
    */
  def queryLambda(qTermCounts: Map[String, Int]): Double = {
    val pairs = qTermCounts.toSeq
      .flatMap { case (t, c) => vocab.get(t).map(ti => (ti, c.toDouble)) }
      .sortBy(_._1)
    if (pairs.isEmpty) return 0.0
    val total = pairs.map(_._2).sum
    val support = pairs.map(_._1).toArray
    val xs = pairs.map(_._2 / total).toArray // same tf-mass normalization as docs
    val tau = LambdaAgg.tauOverSparse(xs, graphProps("nNodes").toInt, tauMode)
    TauMode.syntheticLambdaSparse(support, xs, csr, tau)
  }

  /** Serializable handle over the staged λ side arrays (LamStore
    * segments: base `lamlens/` + one `lamlens_e<i>/` per frozen-graph
    * incremental epoch). `docsPerShard` comes from the INDEX the blend
    * runs against, so λ windows line up with the posting shards. The
    * generation token hashes every lamlens stage's lineage — a rebuilt
    * pipeline at the same path can never serve stale λ from the
    * process-wide cache.
    */
  def lamHandle(docsPerShard: Long): graft.index.LamHandle = {
    val extra =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/lambdas.props")))
        IndexBuilder.readMeta(s"$dir/lambdas.props")
          .getOrElse("extraDirs", "").split(",").filter(_.nonEmpty).toSeq
      else Seq.empty
    val roots = Seq(s"$dir/lamlens") ++
      extra.map(d => s"$dir/${d.replace("lambdas_e", "lamlens_e")}")
    roots.foreach { r =>
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(r)),
        s"missing λ side-array dir $r — staged λ pipeline predates the " +
          "lamlens stage; re-run LambdaPipeline.build (stages resume, only " +
          "lamlens is computed)")
    }
    val lineages = roots.map { r =>
      val lp = graft.index.Stage.lineagePath(r)
      if (java.nio.file.Files.exists(lp)) java.nio.file.Files.readString(lp) else r
    }
    graft.index.LamHandle(roots, docsPerShard,
      java.lang.Long.toHexString(Hashing.hash64(0x6c616d6cL, lineages: _*)),
      Some(new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)))
  }

  /** The index's query tokenizer (meta `tokenizer`: "simple" or code). */
  private def tokens(index: InvertedIndex, qText: String): Seq[String] = {
    val fn: String => Array[String] =
      if (index.meta.getOrElse("tokenizer", "code") == "simple") CodeTokenizer.simpleTokens
      else CodeTokenizer.codeTokens
    fn(qText).toSeq
  }

  /** The engine-side blend inputs for a query text: (λq, ubNorm) — λq
    * from the query's own term multiset over the frozen vocab/CSR,
    * ubNorm = Σ_t idf·(k1+1) over the query's INDEXED terms. Exposed so
    * correctness gates can export the exact values blendedTopK uses as
    * oracle input scalars (the oracle then recomputes the full blend
    * ranking in SQL over these + the exported λ table).
    */
  def blendInputs(index: InvertedIndex, qText: String): (Double, Double) = {
    val qTerms = tokens(index, qText)
    val qCounts = qTerms.groupBy(identity).map { case (t, xs) => t -> xs.size }
    val lq = queryLambda(qCounts)
    val info = index.termInfo(qTerms.distinct)
    val ubNorm = info.values.map(_._1 * (index.bm25.k1 + 1.0)).sum.max(1e-12)
    (lq, ubNorm)
  }

  /** Blended top-k: score = α·BM25̂ + (1−α)·(1−min(|λq−λd|,1)) where
    * BM25̂ normalizes by the query's maximum possible BM25 mass
    * (Σ_t idf·(k1+1)) so both components live in [0,1]. α=1 reproduces
    * the pure BM25 ranking exactly (positive scaling preserves order) —
    * the α=1 ≡ baseline regression the reference itself asserts
    * (reference benches/index_compute_bench.rs:148-178).
    *
    * Candidates are docs matching ≥1 query term (inverted-index
    * semantics; the reference's full scan over all items,
    * core.rs:760-798, is recovered for matching docs — documented
    * divergence for non-matching docs, which a text engine never
    * surfaces).
    *
    * A one-set [[InvertedIndex.shardTopK]] program: each doc-shard task
    * runs the blended-WAND kernel (`Wand.blendedTopK`) over its
    * decode-once lists with the shard's λ window read from the
    * [[graft.index.LamStore]] side arrays (a doc with no λ row reads
    * 0.0), and the shard top-ks merge like `wandTopK`'s — no λ join,
    * nothing collected but the final k rows. (λq, ubNorm) come from
    * [[blendInputs]], the same scalars the gates export.
    */
  def blendedTopK(index: InvertedIndex, qText: String, k: Int, alpha: Double,
      roundTo: Int = -1): DataFrame = {
    val (lq, ubNorm) = blendInputs(index, qText)
    val blend = graft.index.Blend(alpha, Array(lq), Array(ubNorm), lamHandle(index.docsPerShard))
    index.mergeOne(
      index.shardTopK(Seq(tokens(index, qText).distinct.sorted), k, Some(blend)), k, roundTo)
  }

  /** Batched blended top-k: MANY blended queries in ONE Spark job — the
    * [[InvertedIndex.shardTopK]] program over canonicalized + deduped
    * (term set, λq) pairs with the blend computed IN the shard task, and
    * a per-query rank from the map-side TopKAgg heaps
    * (`InvertedIndex.rankPerQuery`). The serving-tier shape: the
    * reference's own headline bench is batch (reference benches/
    * index_compute_bench.rs:180-320). Per-(set, shard) blended top-k
    * ships ≤ sets × shards × k rows and every score is exact
    * (Wand.blendedTopK doc).
    *
    * Returns (qid, doc_id, score, rank) with rank ≤ k per qid, ordered
    * (score DESC, doc_id ASC) within each query. α=1 ranks ≡ pure BM25
    * per query.
    */
  def blendedTopKBatch(index: InvertedIndex, queries: Seq[(Int, String)],
      k: Int, alpha: Double): DataFrame = {
    val prep = queries.map { case (qid, text) =>
      val ts = tokens(index, text)
      val counts = ts.groupBy(identity).map { case (t, xs) => t -> xs.size }
      (qid, ts.distinct.sorted, queryLambda(counts))
    }
    val info = index.termInfo(prep.flatMap(_._2).distinct)
    val k1p1 = index.bm25.k1 + 1.0
    // canonical query = (indexed term set, λq): real batches repeat hot
    // queries; the blended WAND runs once per canonical, the per-qid
    // fan-out joins only the k ranked rows at the very end
    val qNorm = prep.map { case (qid, ts, lqv) => (qid, ts.filter(info.contains), lqv) }
    val canon = qNorm.map { case (_, ts, lqv) => (ts, lqv) }.distinct
    val canonOf = canon.zipWithIndex.toMap
    val blend = graft.index.Blend(alpha, canon.map(_._2).toArray,
      canon.map { case (ts, _) => ts.map(info(_)._1 * k1p1).sum.max(1e-12) }.toArray,
      lamHandle(index.docsPerShard))
    index.rankPerQuery(index.shardTopK(canon.map(_._1), k, Some(blend)),
      qNorm.map { case (qid, ts, lqv) => (qid, canonOf((ts, lqv))) }, k)
  }

  /** Register the λτ aggregation as a SQL-callable UDAF (SURVEY.md §4
    * item 3): after this, `SELECT docId, <name>(docId, termIdx, weight)
    * FROM ... GROUP BY docId` computes the same synthetic λ as the typed
    * pipeline — the aggregation is usable from the pure-SQL surface, not
    * only the Dataset API.
    */
  def registerSqlUdaf(spark: SparkSession, name: String = "lambda_tau"): Unit = {
    val bCsr = spark.sparkContext.broadcast(csr)
    val agg = new LambdaAgg(bCsr, graphProps("nNodes").toInt, tauMode)
    spark.udf.register(name,
      org.apache.spark.sql.functions.udaf(agg, org.apache.spark.sql.Encoders.product[DocTermEntry]))
  }

  /** One-sided λ-band range search (quirk replicated verbatim from
    * /root/reference/src/core.rs:944-976: keeps docs with λq − λd ≤ eps,
    * i.e. every doc with λd ≥ λq − eps).
    */
  def rangeSearch(lambdaQ: Double, eps: Double): DataFrame =
    lambdas.filter(lit(lambdaQ) - col("lambda") <= eps)

  /** ZSET-style ordered λ-band lookup (Q5, the reference's BTreeMap
    * range_byscore example — /root/reference/examples/
    * 02_proteins_lookup.rs:187-236): docs with λ ∈ [min, max], ordered by
    * (λ, doc_id) with lexicographic-id tie-break, offset/limit paging.
    */
  def rangeByScore(min: Double, max: Double, offset: Int, count: Int): DataFrame =
    lambdas.filter(col("lambda") >= min && col("lambda") <= max)
      .orderBy(col("lambda").asc, col("doc_id").asc)
      .limit(offset + count)
      .offset(offset)
}
