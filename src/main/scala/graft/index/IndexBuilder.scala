package graft.index

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.corpus.SourceFile
import graft.index.DocIds.Doc
import graft.search.{BM25, Wand}
import graft.tokenize.CodeTokenizer

/** Inverted-index build pipeline: corpus → docIds → doc stats → sharded
  * compressed posting lists → term stats, each stage checkpointed with
  * lineage (resume = rerun `build`; completed stages are skipped).
  *
  * Stage layout under `dir/`:
  *   docs/       (doc_id, repo, path, commit, lang, content, sha256)
  *   doclens/    (doc_id, dl)
  *   meta.props  nDocs, avgdl, docsPerShard, bm25 params, fingerprint
  *   postings/   Dataset[PostingList], partitioned by shard hash,
  *               sorted by (shard, term) for row-group pruning
  *   termstats/  (term, df) global document frequencies
  */
object IndexBuilder {

  case class Params(
      docsPerShard: Long = 4096L,
      numParts: Int = 32,
      bm25: BM25.Params = BM25.Params(),
      tokenizer: String = "code", // "code" | "simple"
      mergeBuckets: Int = 1, // >1 → the posting merge commits per bucket (mid-merge resume)
      termBuckets: Int = 0) { // >0 → postings laid out under tbucket=<crc32(term)%B>/ dirs
    // v6: termfreq is ONE ROW PER DOCUMENT (doc_id, terms[], tfs[], dl)
    // instead of one row per (doc, term) — the doclens stage becomes a
    // projection, and the postings merge shuffles ~#docs array rows
    // grouped by doc-shard instead of ~#postings Kryo-buffered rows
    // grouped by (term, shard). Schema change → every stage recomputes.
    // (v5: dl sidecar/LensStore; v4: per-doc termfreq aggregation.)
    // tb appears only when enabled so existing v6 stage caches survive.
    def fingerprint: String =
      s"v6;dps=$docsPerShard;np=$numParts;k1=${bm25.k1};b=${bm25.b};tok=$tokenizer;mb=$mergeBuckets" +
        (if (termBuckets > 0) s";tb=$termBuckets" else "")
  }

  /** Partition bucket of a term under the term-bucketed postings layout
    * (`tbucket=<this>/` directories). CRC32 over UTF-8 bytes — exactly
    * Spark's `crc32` function, so the write side computes it as a
    * codegen'd column and the query side reproduces it driver-side.
    */
  def termBucketOf(term: String, buckets: Int): Int = {
    val c = new java.util.zip.CRC32()
    val b = term.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    c.update(b, 0, b.length)
    (c.getValue % buckets).toInt
  }

  /** Token stream (doc_id, term) under the configured tokenizer mode. */
  def tokens(docs: Dataset[Doc], mode: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val fn: String => Array[String] =
      if (mode == "simple") CodeTokenizer.simpleTokens else CodeTokenizer.codeTokens
    docs.flatMap(d => fn(d.content).map(t => (d.docId, t))).toDF("doc_id", "term")
  }

  /** (doc_id, terms[], tfs[], dl) — ONE ROW PER DOCUMENT, term counts
    * aggregated inside the map (first-occurrence order: deterministic):
    * a document is one row, so its term counts (and its length) complete
    * in-task — no shuffle, no corpus-wide hash aggregation. v6 keeps the
    * doc's terms as parallel arrays instead of exploding to one row per
    * (doc, term): the artifact writes ~#docs rows (the doc_id/dl columns
    * stop repeating per posting), the doclens stage degrades to a
    * projection, and the postings merge ships grouped array rows through
    * its shuffle. Row-level consumers explode via [[explodeTermFreq]].
    */
  def termFreqPerDoc(docs: Dataset[Doc], mode: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val fn: String => Array[String] =
      if (mode == "simple") CodeTokenizer.simpleTokens else CodeTokenizer.codeTokens
    docs.map { d =>
      val toks = fn(d.content)
      val dl = toks.length.toLong
      // first-occurrence order: deterministic; single-cell long[] values
      // instead of boxed Longs — the former merge() boxed a Long per
      // token OCCURRENCE (~10¹⁴ at design scale), this allocates one
      // tiny array per DISTINCT term per doc
      val m = new java.util.LinkedHashMap[String, Array[Long]]()
      var j = 0
      while (j < toks.length) {
        val c = m.get(toks(j))
        if (c == null) m.put(toks(j), Array(1L)) else c(0) += 1L
        j += 1
      }
      val terms = new Array[String](m.size)
      val tfs = new Array[Long](m.size)
      val it = m.entrySet().iterator()
      var i = 0
      while (it.hasNext) {
        val e = it.next(); terms(i) = e.getKey; tfs(i) = e.getValue()(0); i += 1
      }
      (d.docId, terms, tfs, dl)
    }.toDF("doc_id", "terms", "tfs", "dl")
  }

  /** The v5 row view (doc_id, term, tf, dl) of a v6 per-doc termfreq
    * frame — codegen'd explode for consumers that want posting rows.
    */
  def explodeTermFreq(tf: DataFrame): DataFrame =
    tf.select(col("doc_id"), col("dl"),
        explode(arrays_zip(col("terms"), col("tfs"))).as("z"))
      .select(col("doc_id"), col("z.terms").as("term"), col("z.tfs").as("tf"), col("dl"))

  /** Build from raw files: assigns deterministic docIds (stage 1), then
    * runs the shared stages.
    */
  def build(spark: SparkSession, files: => Dataset[SourceFile], dir: String,
      corpusFp: String, p: Params = Params()): InvertedIndex =
    buildStages(spark, dir, corpusFp, p) { () =>
      import spark.implicits._
      DocIds.assign(files, p.numParts).withColumn("sha256", sha2($"content", 256))
    }

  /** Build over documents that already carry stable ids (e.g. an external
    * table with a doc_id column).
    */
  def buildFromDocs(spark: SparkSession, docsIn: => Dataset[Doc], dir: String,
      corpusFp: String, p: Params = Params()): InvertedIndex =
    buildStages(spark, dir, corpusFp, p) { () =>
      import spark.implicits._
      docsIn.withColumn("sha256", sha2($"content", 256))
    }

  private def buildStages(spark: SparkSession, dir: String, corpusFp: String,
      p: Params)(stage1: () => DataFrame): InvertedIndex = {
    import spark.implicits._
    Files.createDirectories(Paths.get(dir))
    val fp = Stage.fingerprintOf(corpusFp, p.fingerprint)

    // ---- stage 1: docs table + sha256 invariant column ----------------
    // NOTE: stages do NOT re-read their output for a row count — the
    // read-back was one full extra scan (plus a job-scheduling floor)
    // per stage, which inflated the fixed Amdahl floor of the scaling
    // measurement. Lineage records rows = -1 ("not counted").
    Stage.run(s"$dir/docs", "docs", fp) {
      // dictionary encoding off: every heavy column here (content, sha256,
      // path, commit) is high-cardinality, so the dictionary pass only
      // buffers and falls back — measured ~18% of the docs-stage write
      stage1().write.mode("overwrite")
        .option("parquet.enable.dictionary", "false")
        .parquet(s"$dir/docs")
      -1L
    }
    def docs: Dataset[Doc] = spark.read.parquet(s"$dir/docs")
      .select("docId", "repo", "path", "commit", "lang", "content").as[Doc]

    // ---- stage 2: term frequencies (tokenize ONCE, aggregated per doc
    // in-task — no shuffle; doclens and postings both derive from this
    // artifact) ----------------------------------------------------------
    Stage.run(s"$dir/termfreq", "termfreq", fp) {
      termFreqPerDoc(docs, p.tokenizer)
        .write.mode("overwrite").parquet(s"$dir/termfreq")
      -1L
    }

    // ---- stage 2b: doc lengths + corpus stats -------------------------
    // v6 termfreq is one row per doc, so doclens is a pure PROJECTION —
    // no aggregation, no shuffle (the former per-posting dl column
    // needed a groupBy/max). Corpus stats ride the SAME job as the
    // write via observe() — the former doclens read-back was one extra
    // scan + job-scheduling floor per build, pure Amdahl overhead at the
    // low-core scaling level. Long-only observed aggregates; avgdl is
    // ONE long/long division (bit-deterministic in any merge order,
    // unlike avg()'s double partial sums).
    Stage.run(s"$dir/doclens", "doclens", fp) {
      val obs = org.apache.spark.sql.Observation()
      val dl = spark.read.parquet(s"$dir/termfreq")
        .select($"doc_id", $"dl")
        .observe(obs, count(lit(1)).cast("long").as("n"), sum($"dl").as("toks"))
      dl.write.mode("overwrite").parquet(s"$dir/doclens")
      val st = obs.get
      val (n, toks) = (st("n").asInstanceOf[Long], st("toks").asInstanceOf[Long])
      writeMeta(s"$dir/meta.props", Map(
        "nDocs" -> n.toString,
        "avgdl" -> (toks.toDouble / n).toString,
        "totalTokens" -> toks.toString,
        // immutable BASE-corpus stats: appends update nDocs/avgdl/
        // totalTokens but derive them from these + per-epoch stats files,
        // so a crashed append can never double-count (idempotent resume)
        "nDocs0" -> n.toString,
        "totalTokens0" -> toks.toString,
        "docsPerShard" -> p.docsPerShard.toString,
        "numParts" -> p.numParts.toString,
        "k1" -> p.bm25.k1.toString,
        "b" -> p.bm25.b.toString,
        "tokenizer" -> p.tokenizer,
        "termBuckets" -> p.termBuckets.toString,
        "fingerprint" -> fp))
      n
    }
    val meta = readMeta(s"$dir/meta.props")
    val avgdl = meta("avgdl").toDouble

    // ---- stage 2c: shard-local doc-length side arrays ------------------
    // one fixed-width binary window per contiguous docId span (LensStore):
    // the query side loads ONE Array[Int] per doc-shard instead of
    // decoding a per-posting dl varint stream (v5 — the measured
    // decode-bandwidth cut)
    Stage.run(s"$dir/lens", "lens", fp) {
      LensStore.writeSegments(spark, s"$dir/doclens", s"$dir/lens", p.numParts)
    }

    // ---- stage 3: compressed sharded posting lists --------------------
    // mergeBuckets > 1 → the merge commits one shard-range bucket at a
    // time, each with its own lineage + marker: an interrupted global
    // merge resumes MID-MERGE, re-running only unfinished buckets (the
    // north rule's resumable-mid-merge contract; at 10¹²-file scale each
    // bucket is a restartable unit of the global sort-merge).
    def buildPostingsInto(outDir: String, bucket: Int, nBuckets: Int): Long = {
      buildPostingsFrom(spark, s"$dir/termfreq", outDir, p, avgdl,
        math.max(p.numParts / nBuckets, 1), bucket, nBuckets)
      -1L
    }
    // Postings layout guard (a mergeBuckets or termBuckets change alters
    // the directory SHAPE — root part-files vs bucket=N vs tbucket=N
    // subdirs — and the per-bucket stage fingerprints cannot see
    // orphaned siblings from an older layout; mixed stale+fresh lists
    // would silently corrupt df stats and query results). The layout
    // marker lives OUTSIDE the postings dir so per-bucket stage wipes
    // never delete it; any mismatch wipes the whole postings tree before
    // rebuilding. (termBuckets appears only when enabled so markers from
    // earlier builds stay valid.)
    val layoutPath = Paths.get(s"$dir/postings._layout.props")
    val wantLayout = s"mergeBuckets=${p.mergeBuckets}\n" +
      (if (p.termBuckets > 0) s"termBuckets=${p.termBuckets}\n" else "")
    val haveLayout = if (Files.exists(layoutPath)) Files.readString(layoutPath) else ""
    if (haveLayout != wantLayout) {
      Stage.deleteRecursive(Paths.get(s"$dir/postings"))
      Files.writeString(layoutPath, wantLayout)
    }
    if (p.mergeBuckets <= 1) {
      Stage.run(s"$dir/postings", "postings", fp) {
        buildPostingsInto(s"$dir/postings", 0, 1)
      }
    } else {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/postings"))
      for (b <- 0 until p.mergeBuckets) {
        Stage.run(s"$dir/postings/bucket=$b", s"postings/bucket=$b", fp) {
          buildPostingsInto(s"$dir/postings/bucket=$b", b, p.mergeBuckets)
        }
      }
    }

    // ---- stage 4: global term document frequencies --------------------
    // fingerprint keyed on (base fp, epochs, committed epoch fps) with
    // the SAME recipe the append path uses, so base-resume and append
    // don't ping-pong recomputes — and a crashed append retried with a
    // DIFFERENT payload can never resume a stale termstats (the epoch fp
    // chain changes). After appends this stage covers every epoch.
    val metaT = readMeta(s"$dir/meta.props")
    val epochsNow = metaT.getOrElse("epochs", "1").toInt
    Stage.run(s"$dir/termstats", "termstats",
      Stage.fingerprintOf(Seq("termstats", fp, "epochs", epochsNow.toString) ++
        (1 until epochsNow).map(e => metaT(s"fp_e$e")): _*)) {
      val paths = Seq(s"$dir/postings") ++
        (1 until epochsNow).map(e => s"$dir/epochs/e$e/postings")
      writeTermStats(spark, paths, metaT("avgdl").toDouble, s"$dir/termstats")
      -1L
    }

    new InvertedIndex(spark, dir)
  }

  /** Compressed posting lists from a v6 per-doc termfreq artifact, in
    * ONE shuffle of grouped array rows (guide §2.3/§2.4): every doc
    * belongs to exactly one doc-shard, so hash-repartitioning the
    * ~#docs (doc_id, terms[], tfs[], dl) rows by shard and sorting each
    * partition by (shard, doc_id) delivers whole shards as contiguous,
    * docId-ascending runs — each task accumulates its shard's per-term
    * posting arrays in memory (≤ docsPerShard docs at a time) and
    * streams out encoded lists already in the (shard, term) order the
    * flat layout wants. The former shape shuffled one Kryo-buffered row
    * per POSTING into a (term, shard) typed aggregation and then
    * re-shuffled the encoded lists into the shard layout — two
    * shuffles, ~#postings rows, and Kryo buffer serialization on the
    * worst-scaling stage of the build.
    *
    * Determinism: sort (shard, doc_id) is total (doc_id unique), terms
    * flush in sorted order, docIds per (term, shard) arrive ascending —
    * byte-identical lists to the old k-way merge.
    */
  def buildPostingsFrom(spark: SparkSession, tfDir: String, outDir: String,
      p: Params, avgdl: Double, parts: Int, bucket: Int = 0,
      nBuckets: Int = 1): Unit = {
    import spark.implicits._
    val src = spark.read.parquet(tfDir)
      .withColumn("shard", ($"doc_id" / lit(p.docsPerShard)).cast("int"))
    val filtered =
      if (nBuckets > 1) src.filter(pmod($"shard", lit(nBuckets)) === bucket) else src
    val bm = p.bm25
    val lists = filtered
      .repartition(parts, $"shard")
      .sortWithinPartitions($"shard", $"doc_id")
      .select($"shard", $"doc_id", $"terms", $"tfs", $"dl")
      .as[(Int, Long, Array[String], Array[Long], Long)]
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer[PostingList]()
        val acc = new java.util.HashMap[String, ShardPostings]()
        var curShard = Int.MinValue
        def flush(): Unit = if (!acc.isEmpty) {
          val terms = acc.keySet().toArray(new Array[String](acc.size()))
          java.util.Arrays.sort(terms, java.util.Comparator.naturalOrder[String]())
          var i = 0
          while (i < terms.length) {
            val b = acc.get(terms(i))
            out += PostingFormat.encode(terms(i), curShard,
              b.ids(), b.tfs(), b.dls(), bm, avgdl)
            i += 1
          }
          acc.clear()
        }
        it.foreach { case (shard, docId, terms, tfs, dl) =>
          if (shard != curShard) { flush(); curShard = shard }
          var i = 0
          while (i < terms.length) {
            var b = acc.get(terms(i))
            if (b == null) { b = new ShardPostings; acc.put(terms(i), b) }
            b.add(docId, tfs(i), dl)
            i += 1
          }
        }
        flush()
        out.iterator
      }
    if (p.termBuckets > 0) writePostings(lists.toDF(), outDir, p, parts)
    else lists.toDF().write.mode("overwrite").parquet(outDir)
  }

  /** Posting-list write: flat part files sorted by (shard, term) by
    * default; with termBuckets > 0, a `tbucket=<crc32(term)%B>/`
    * partitioned layout (the materializeIvf pattern applied to
    * postings) — a query then opens only its terms' bucket DIRECTORIES
    * (partition pruning at the parquet source; see
    * InvertedIndex.postingsFor) instead of every part file, with
    * (shard, term) row-group pruning intact within each bucket's files.
    * At 10¹²-file scale this is the difference between opening every
    * posting part file and opening |query terms| directories.
    */
  private def writePostings(lists: DataFrame, outDir: String, p: Params,
      parts: Int): Unit = {
    val spark = lists.sparkSession
    import spark.implicits._
    if (p.termBuckets > 0) {
      lists
        .withColumn("tbucket",
          pmod(crc32($"term".cast("binary")), lit(p.termBuckets.toLong)).cast("int"))
        .repartition(parts, $"tbucket")
        .sortWithinPartitions($"tbucket", $"shard", $"term")
        .write.mode("overwrite").partitionBy("tbucket").parquet(outDir)
    } else {
      lists
        .repartition(parts, $"shard")
        .sortWithinPartitions($"shard", $"term")
        .write.mode("overwrite").parquet(outDir)
    }
  }

  /** Global per-term stats over posting lists: df plus `ub`, the max
    * idf-free BM25 partial any posting of the term can contribute at the
    * LIVE avgdl (per-list maxPartial lifted by the safe boundFactor when
    * the corpus avgdl grew past the list's encAvgdl). Σ_t idf·ub over a
    * query's terms is a tight a-priori ceiling on its best possible BM25
    * score. No query path reads `ub` today; it stays in the index format
    * because the (idf, ub) pair is the type of `termInfo` and of the
    * replicas' `termInfoFn` (which the benchmark compiles against), and
    * because it is the input a seeded per-set WAND threshold needs.
    */
  private def writeTermStats(spark: SparkSession, paths: Seq[String],
      avgdlNow: Double, out: String): Unit = {
    import spark.implicits._
    // per-root loads (partition discovery over mixed bucket=/tbucket=
    // roots conflicts on a common base path); only the stats columns
    // survive to the union, so layout differences between epochs are
    // invisible here
    paths.map(p => spark.read.parquet(p)
        .select($"term", $"df", $"maxPartial", $"encAvgdl"))
      .reduce(_ union _)
      .groupBy($"term")
      .agg(sum($"df").as("df"),
        max($"maxPartial" *
          when($"encAvgdl" > 0.0 && $"encAvgdl" < avgdlNow,
            lit(avgdlNow) / $"encAvgdl").otherwise(lit(1.0))).as("ub"))
      .write.mode("overwrite").parquet(out)
  }

  /** Append a new EPOCH of raw files to an existing index (the
    * Iceberg-snapshot ingest analog): new docs get the next contiguous
    * docId range (→ fresh doc-shards, so every existing posting list
    * stays byte-identical), the epoch's postings are encoded under the
    * UPDATED corpus avgdl (encAvgdl travels with each list so block-max
    * bounds from older epochs stay safe — PostingFormat.boundFactor),
    * doclens/meta accumulate, and termstats are recomputed over all
    * epochs. Stage-checkpointed like the base build: a crashed append
    * resumes; re-running a committed epoch with the same payload is a
    * no-op. Queries see base + epochs transparently (the readers union
    * epoch directories).
    */
  def append(spark: SparkSession, newFiles: => Dataset[SourceFile], dir: String,
      appendFp: String, p: Params = Params()): InvertedIndex =
    appendStages(spark, dir, appendFp, p) { (base: Long) =>
      import spark.implicits._
      DocIds.assign(newFiles, p.numParts, base).withColumn("sha256", sha2($"content", 256))
    }

  /** Append docs that already carry stable ids; ids must start at the
    * index's current nDocs and be contiguous (enforced).
    */
  def appendFromDocs(spark: SparkSession, docsIn: => Dataset[Doc], dir: String,
      appendFp: String, p: Params = Params()): InvertedIndex =
    appendStages(spark, dir, appendFp, p) { (base: Long) =>
      import spark.implicits._
      docsIn.withColumn("sha256", sha2($"content", 256))
    }

  private def appendStages(spark: SparkSession, dir: String, appendFp: String,
      p: Params)(stage1: Long => DataFrame): InvertedIndex = {
    import spark.implicits._
    val meta0 = readMeta(s"$dir/meta.props")
    require(meta0("fingerprint") != null)
    val epoch = meta0.getOrElse("epochs", "1").toInt
    // idempotency: a COMMITTED epoch with this payload fingerprint makes
    // re-append a no-op (streaming micro-batch replay after a crash
    // between our commit and the stream's checkpoint commit)
    if ((1 until epoch).exists(e => meta0.get(s"fp_e$e").contains(appendFp)))
      return new InvertedIndex(spark, dir)
    // Pre-append corpus stats are DERIVED (base + committed epochs'
    // stats files), never read back from mutable global meta: a crash
    // anywhere inside this append leaves the derivation unchanged, so a
    // retry — even with a different payload fingerprint — recomputes the
    // same baseline instead of double-counting the orphaned attempt.
    // A meta without base-only stats (nDocs0) predates this scheme; its
    // nDocs already folds prior epochs, so deriving from it is only
    // sound while NO epoch exists — refuse otherwise instead of
    // double-counting, and backfill nDocs0 at the commit below.
    require(meta0.contains("nDocs0") || epoch == 1,
      s"index meta at $dir has ${epoch - 1} committed epoch(s) but no base-only " +
        "stats (nDocs0) — rebuilt per-epoch accounting requires a base rebuild first")
    val base0Docs = meta0.getOrElse("nDocs0", meta0("nDocs")).toLong
    val base0Toks = meta0.getOrElse("totalTokens0", meta0("totalTokens")).toLong
    val committed = (1 until epoch).map(e => readMeta(s"$dir/epochs/e$e/stats.props"))
    val baseDocs = base0Docs + committed.map(_("m").toLong).sum
    val baseToks = base0Toks + committed.map(_("toks").toLong).sum
    val eDir = s"$dir/epochs/e$epoch"
    Files.createDirectories(Paths.get(eDir))
    val fp = Stage.fingerprintOf(appendFp, p.fingerprint, meta0("fingerprint"), s"epoch=$epoch")

    // ---- stage 1: the epoch's docs, ids starting at the current size ----
    Stage.run(s"$eDir/docs", s"docs/e$epoch", fp) {
      stage1(baseDocs).write.mode("overwrite")
        .option("parquet.enable.dictionary", "false") // high-cardinality columns (see base docs stage)
        .parquet(s"$eDir/docs")
      -1L
    }
    def docs: Dataset[Doc] = spark.read.parquet(s"$eDir/docs")
      .select("docId", "repo", "path", "commit", "lang", "content").as[Doc]

    // ---- stage 2: the epoch's term frequencies (per-doc, no shuffle) ----
    Stage.run(s"$eDir/termfreq", s"termfreq/e$epoch", fp) {
      termFreqPerDoc(docs, p.tokenizer)
        .write.mode("overwrite").parquet(s"$eDir/termfreq")
      -1L
    }

    // ---- stage 2b: doclens + PER-EPOCH stats ----------------------------
    // The stage writes only epoch-scoped artifacts (doclens + the
    // epoch's stats.props); global meta is NOT touched inside any stage
    // — it is derived and committed once, after every stage succeeded,
    // so the accumulation is recomputable and idempotent under resume.
    Stage.run(s"$eDir/doclens", s"doclens/e$epoch", fp) {
      // stats observed on the SAME job as the write (no read-back scan —
      // same rationale as the base build's doclens stage)
      val obs = org.apache.spark.sql.Observation()
      val dl = spark.read.parquet(s"$eDir/termfreq")
        .select($"doc_id", $"dl")
        .observe(obs, count(lit(1)).cast("long").as("n"), sum($"dl").as("toks"),
          min($"doc_id").as("minId"), max($"doc_id").as("maxId"))
      dl.write.mode("overwrite").parquet(s"$eDir/doclens")
      val st = obs.get
      val (m, toks) = (st("n").asInstanceOf[Long], st("toks").asInstanceOf[Long])
      val (minId, maxId) = (st("minId").asInstanceOf[Long], st("maxId").asInstanceOf[Long])
      require(minId == baseDocs && maxId == baseDocs + m - 1,
        s"appended ids must be contiguous from $baseDocs; got [$minId, $maxId] for $m docs")
      writeMeta(s"$eDir/stats.props", Map("m" -> m.toString, "toks" -> toks.toString))
      m
    }
    // ---- stage 2c: the epoch's shard-local doc-length windows -----------
    // (the epoch's id range starts at baseDocs — boundary shards merge
    // base + epoch segments at read time in LensStore.forShard)
    Stage.run(s"$eDir/lens", s"lens/e$epoch", fp) {
      LensStore.writeSegments(spark, s"$eDir/doclens", s"$eDir/lens",
        math.max(p.numParts / 4, 1))
    }
    val eStats = readMeta(s"$eDir/stats.props")
    val (m, toks) = (eStats("m").toLong, eStats("toks").toLong)
    val nDocsNow = baseDocs + m
    val totalToksNow = baseToks + toks
    val epochAvgdl = totalToksNow.toDouble / nDocsNow

    // ---- stage 3: the epoch's compressed posting lists ------------------
    // (new ids ⇒ new shard range; existing lists untouched; same typed
    // sort-merge aggregation as the base build)
    Stage.run(s"$eDir/postings", s"postings/e$epoch", fp) {
      buildPostingsFrom(spark, s"$eDir/termfreq", s"$eDir/postings", p,
        epochAvgdl, math.max(p.numParts / 4, 1))
      -1L
    }

    // ---- stage 4: GLOBAL termstats across all epochs --------------------
    // fp chain includes every committed epoch fp AND this append's fp —
    // same recipe as buildStages, and a different-payload retry of a
    // crashed append can never skip into stale termstats
    Stage.run(s"$dir/termstats", "termstats",
      Stage.fingerprintOf(Seq("termstats", meta0("fingerprint"), "epochs",
        (epoch + 1).toString) ++ (1 until epoch).map(e => meta0(s"fp_e$e")) :+
        appendFp: _*)) {
      val paths = Seq(s"$dir/postings") ++
        (1 to epoch).map(e => s"$dir/epochs/e$e/postings")
      writeTermStats(spark, paths, epochAvgdl, s"$dir/termstats")
      -1L
    }
    // ---- commit: global meta derived from base + committed epochs ------
    // (nDocs0/totalTokens0 backfilled for pre-scheme metas, so every
    // later append derives from true base-only stats)
    writeMeta(s"$dir/meta.props",
      readMeta(s"$dir/meta.props") ++ Map(
        "nDocs" -> nDocsNow.toString,
        "avgdl" -> epochAvgdl.toString,
        "totalTokens" -> totalToksNow.toString,
        "nDocs0" -> base0Docs.toString,
        "totalTokens0" -> base0Toks.toString,
        "epochs" -> (epoch + 1).toString,
        s"fp_e$epoch" -> appendFp))
    new InvertedIndex(spark, dir)
  }

  def writeMeta(path: String, kv: Map[String, String]): Unit =
    Files.writeString(Paths.get(path),
      kv.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n"))

  def readMeta(path: String): Map[String, String] =
    Files.readAllLines(Paths.get(path)).toArray(Array.empty[String])
      .filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1) }
      .toMap
}

/** Query-side handle over a built index directory. The session is
  * driver-only state: task closures capture `this` (for decodeByTerm),
  * and a serialized SparkSession would drag its ObservationManager —
  * non-serializable once any observe() ran in the session — into every
  * task.
  */
class InvertedIndex(@transient val spark: SparkSession, val dir: String) extends Serializable {
  import spark.implicits._

  lazy val meta: Map[String, String] = IndexBuilder.readMeta(s"$dir/meta.props")
  def nDocs: Long = meta("nDocs").toLong
  def avgdl: Double = meta("avgdl").toDouble
  def bm25: BM25.Params = BM25.Params(meta("k1").toDouble, meta("b").toDouble)
  /** Total epochs: 1 (base) + appended snapshots. */
  def epochs: Int = meta.getOrElse("epochs", "1").toInt

  private def epochPaths(sub: String): Seq[String] =
    Seq(s"$dir/$sub") ++ (1 until epochs).map(e => s"$dir/epochs/e$e/$sub")

  /** Every epoch's termfreq directory (base + appended) — downstream
    * pipelines (λτ) must cover appended docs too.
    */
  def termFreqPaths: Seq[String] = epochPaths("termfreq")

  // each epoch root loads separately (partition discovery across roots
  // with tbucket=/bucket= subdirs conflicts on a common base path); the
  // union is of identical projections, and filters still push into every
  // per-root scan.
  // The per-root frames are cached on the handle: spark.read.parquet
  // re-lists the directory and re-reads a footer on EVERY call, which
  // charged each single query ~0.1-0.2 s of driver-side work; a cached
  // frame keeps its resolved file index while per-query filters still
  // push into the scan. Handle semantics unchanged — meta (and hence
  // the epoch set) is already frozen per handle.
  @transient private lazy val postingsByEpoch: Seq[DataFrame] =
    epochPaths("postings").map(p => spark.read.parquet(p))

  def postings: Dataset[PostingList] =
    postingsByEpoch.map(projectLists).reduce(_ union _)

  /** Postings restricted to `terms`. Under the term-bucketed layout
    * (Params.termBuckets > 0) the bucket predicate prunes PARTITION
    * DIRECTORIES at the parquet source — only the query terms' tbucket
    * dirs are ever opened (asserted as PartitionFilters in IndexSpec) —
    * and the term predicate then prunes row groups within the surviving
    * files. On the flat layout it degrades to the plain pushed term
    * filter over (shard, term)-sorted part files.
    */
  def postingsFor(terms: Seq[String]): Dataset[PostingList] = {
    val tb = meta.getOrElse("termBuckets", "0").toInt
    val buckets =
      if (tb > 0) terms.map(t => IndexBuilder.termBucketOf(t, tb)).distinct else Nil
    postingsByEpoch.map { raw =>
      val pruned =
        if (tb > 0 && raw.columns.contains("tbucket"))
          raw.filter($"tbucket".isin(buckets: _*))
        else raw
      projectLists(pruned.filter($"term".isin(terms: _*)))
    }.reduce(_ union _)
  }

  // explicit projection: bucketed layouts add partition columns
  // (bucket/tbucket) that the encoder must not see
  private def projectLists(df: DataFrame): Dataset[PostingList] =
    df.select("term", "shard", "df", "docBytes", "tfBytes", "blockLen",
        "blockLastDoc", "blockDocOff", "blockTfOff",
        "blockMaxPartial", "maxPartial", "encAvgdl")
      .as[PostingList]

  def docsPerShard: Long = meta("docsPerShard").toLong

  /** Serializable handle for the shard-local doc-length windows (v5 lens
    * side arrays). The generation token hashes every epoch lens stage's
    * lineage, so process-wide LensStore caches can never serve a
    * previous build's lengths after an in-place rebuild. Query methods
    * capture this as a LOCAL val before their task closures (driver-side
    * initialization; only the small case class ships).
    */
  lazy val lensHandle: LensHandle = {
    val roots = epochPaths("lens")
    val lineages = roots.map { r =>
      val lp = Stage.lineagePath(r)
      if (java.nio.file.Files.exists(lp)) java.nio.file.Files.readString(lp) else r
    }
    LensHandle(roots, docsPerShard,
      java.lang.Long.toHexString(graft.util.Hashing.hash64(0x6c656e73L, lineages: _*)),
      Some(new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)))
  }

  /** The global (term, df, ub) table. The resolved frame is cached on
    * the handle like `postingsByEpoch`: `spark.read.parquet` lists the
    * directory and infers the schema in a Spark job of its own, which
    * doubled the cost of every termInfo memo miss. Unlike the posting
    * roots, termstats is rewritten in place (by every append and by a
    * resumed build), so the cache is keyed by the stage's part-file
    * names: a rewrite re-resolves the frame instead of leaving it to
    * read deleted files.
    */
  def termStats: DataFrame = synchronized {
    val path = Paths.get(dir, "termstats")
    val parts =
      if (!Files.isDirectory(path)) Nil
      else {
        val ls = Files.list(path)
        try ls.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("part-")).toSeq.sorted
        finally ls.close()
      }
    if (termStatsAt == null || termStatsAt._1 != parts)
      termStatsAt = (parts, spark.read.parquet(path.toString))
    termStatsAt._2
  }
  @transient private var termStatsAt: (Seq[String], DataFrame) = _

  def docs: DataFrame = spark.read.parquet(epochPaths("docs"): _*)

  /** Per-handle term-stat memo: repeated queries on the same terms skip
    * the termstats job entirely (one extra Spark job per query
    * otherwise). `None` records "term absent from the index" so misses
    * don't re-query either. At 10¹²-doc scale the FULL termstats table
    * is not collectable, but a serving process's working set of query
    * terms is. Values are (idf, ub): idf is the BM25 weight, ub the max
    * idf-free partial any posting of the term can contribute (from the
    * termstats build — see IndexBuilder.writeTermStats).
    */
  @transient private lazy val termCache =
    new scala.collection.concurrent.TrieMap[String, Option[(Double, Double)]]()

  /** (idf, ub) per query term present in the index (tiny collect of only
    * the not-yet-cached terms; filter pushes to the termstats scan).
    */
  def termInfo(qTerms: Seq[String]): Map[String, (Double, Double)] = {
    val distinct = qTerms.distinct
    val missing = distinct.filterNot(termCache.contains)
    if (missing.nonEmpty) {
      val found = collectTermInfo(termStats.filter($"term".isin(missing: _*)))
      missing.foreach(t => termCache.put(t, found.get(t)))
    }
    distinct.flatMap(t => termCache(t).map(t -> _)).toMap
  }

  /** Collect a (filtered) [[termStats]] frame as term → (idf, ub) under
    * this handle's nDocs — the one place the stat formula lives, shared
    * by the termInfo memo and the serving replicas' load-time collect.
    */
  def collectTermInfo(stats: DataFrame): Map[String, (Double, Double)] = {
    val n = nDocs.toDouble
    stats.select($"term", $"df", $"ub").collect()
      .map(r => r.getString(0) -> (BM25.idf(n, r.getLong(1).toDouble), r.getDouble(2)))
      .toMap
  }

  /** Global per-term idf map for a query. */
  def idfFor(qTerms: Seq[String]): Map[String, Double] =
    termInfo(qTerms).map { case (t, (i, _)) => t -> i }

  /** Distributed block-max WAND top-k: a one-set [[shardTopK]] program;
    * TakeOrderedAndProject merges the shard top-ks (per-partition heaps +
    * driver merge — same shape as the reference's per-thread heap merge,
    * reference src/core.rs:818-888).
    */
  def wandTopK(qTerms: Seq[String], k: Int, roundTo: Int = -1): DataFrame =
    mergeOne(shardTopK(Seq(qTerms.distinct.sorted), k, None), k, roundTo)

  /** Batched top-k: run MANY queries in ONE Spark job. Per doc-shard
    * task, every query's block-max WAND runs against that shard's lists
    * ([[shardTopK]]); [[rankPerQuery]] selects each query's global top-k.
    * This amortizes job-scheduling latency across the batch — the Spark
    * analog of the reference's batch benches (reference benches/
    * index_compute_bench.rs:180-320) and the path that makes cluster QPS
    * comparable to a single-process engine.
    *
    * Returns (qid, doc_id, score, rank) with per-query rank ≤ k, ordered
    * (score DESC, doc_id ASC) within qid.
    */
  def wandTopKBatch(queries: Seq[(Int, Seq[String])], k: Int): DataFrame = {
    val idf = idfFor(queries.flatMap(_._2).distinct)
    // Canonicalize and DEDUP term sets before execution: real query
    // batches repeat (hot queries, retries, fan-in), and per-shard WAND
    // cost scales with DISTINCT sets, not batch size. Sorting happens
    // once here, not per (query, shard) task iteration.
    val qNorm = queries.map { case (qid, ts) => (qid, ts.distinct.filter(idf.contains).sorted) }
    val sets = qNorm.map(_._2).distinct
    val setOf = sets.zipWithIndex.toMap
    rankPerQuery(shardTopK(sets, k, None), qNorm.map { case (qid, ts) => (qid, setOf(ts)) }, k)
  }

  /** The one per-shard query program behind every distributed top-k
    * (BM25 and blended, single and batch). For each doc-shard it decodes
    * every posting list of the queried terms ONCE, keeps one
    * [[DecodedCursor]] per list, and runs the kernel for each set with a
    * term in that shard — `Wand.topK`, or `Wand.blendedTopK` with the
    * set's (λq, ubNorm) and the shard's λ window when `blend` is given.
    * `sets` are canonical (distinct, sorted) term sets; a set's id is its
    * position. Returns (set_id, doc_id, score): each (set, shard) top-k
    * with exact scores. Every shard's k-th best ≤ the global k-th best,
    * so the union holds each set's global top-k and a per-set top-k
    * merge downstream is exact.
    *
    * ONE broadcast carries the whole program (sets, the inverted
    * term → sets map, idf, blend): closure-captured sets were
    * re-deserialized per task (~1 MB × shuffle partitions), and the
    * inverted map lets each shard task touch ONLY the sets with ≥1 term
    * present in that shard (a batch dominated by single-shard rare terms
    * otherwise iterates every set in every shard).
    */
  private[graft] def shardTopK(sets: Seq[Seq[String]], k: Int,
      blend: Option[Blend]): DataFrame = {
    val allTerms = sets.flatten.distinct
    val idf = idfFor(allTerms)
    val p = bm25
    val ad = avgdl
    val lh = lensHandle
    val bProg = spark.sparkContext.broadcast(
      (sets.map(_.toArray).toArray, invertSets(sets), idf, blend))
    postingsFor(allTerms)
      .groupByKey(_.shard)
      .flatMapGroups { (shard, it) =>
        val (sTerms, sOf, idfB, blendB) = bProg.value
        // one cursor per decoded list per task, reset per set
        val pool = new java.util.HashMap[String, Array[DecodedCursor]]()
        val present = new java.util.BitSet(sTerms.length)
        decodeByTerm(it, p, ad, lh, shard).foreach { case (t, dls) =>
          pool.put(t, dls.map(d => new DecodedCursor(d, idfB(t))))
          sOf.get(t).foreach(_.foreach(present.set))
        }
        val ws = new Wand.Workspace
        val cbuf = new scala.collection.mutable.ArrayBuffer[Wand.Cursor]()
        val kernel: Int => Array[Wand.Hit] = blendB match {
          case Some(b) =>
            val lam = b.lam.forShard(shard)
            val base = shard.toLong * lh.docsPerShard
            val lambdaOf: Long => Double = d => lam((d - base).toInt)
            sid => Wand.blendedTopK(cbuf, k, b.alpha, b.ubNorm(sid), b.lq(sid), lambdaOf, ws)
          case None => _ => Wand.topK(cbuf, k, ws)
        }
        Iterator.iterate(present.nextSetBit(0))(s => present.nextSetBit(s + 1))
          .takeWhile(_ >= 0)
          .flatMap { sid =>
            cbuf.clear()
            val ts = sTerms(sid)
            var i = 0
            while (i < ts.length) {
              val cs = pool.get(ts(i))
              if (cs != null) {
                var j = 0
                while (j < cs.length) { cs(j).reset(); cbuf += cs(j); j += 1 }
              }
              i += 1
            }
            kernel(sid).iterator.map(h => (sid, h.docId, h.score))
          }
      }
      .toDF("set_id", "doc_id", "score")
  }

  /** The global top-k of a one-set [[shardTopK]] program, (doc_id, score)
    * ordered (score DESC, doc_id ASC); scores rounded when roundTo ≥ 0.
    */
  private[graft] def mergeOne(hits: DataFrame, k: Int, roundTo: Int): DataFrame = {
    val top = hits.select($"doc_id", $"score").orderBy($"score".desc, $"doc_id".asc).limit(k)
    if (roundTo >= 0) top.withColumn("score", round($"score", roundTo)) else top
  }

  /** Per-set global top-k of a [[shardTopK]] program, fanned back out to
    * every qid of `qSet` (qid → set id): (qid, doc_id, score, rank). The
    * map-side-combining TopKAgg heap aggregator replaces a Window +
    * row_number, which full-sort-shuffled the ~sets×shards×k hit rows
    * (10⁷ at the bench batch size) — the measured non-scaling stage of
    * the batch QPS path; partial heaps ship ≤ tasks × sets × k rows and
    * nothing is ever globally sorted.
    */
  private[graft] def rankPerQuery(hits: DataFrame, qSet: Seq[(Int, Int)], k: Int): DataFrame = {
    val agg = new graft.search.TopKAgg(k)
    val setTop = hits
      .as[(Int, Long, Double)]
      .groupByKey(_._1)
      .mapValues(v => graft.search.ScoredDoc(v._2, v._3))
      .agg(agg.toColumn)
      .flatMap { case (sid, top) =>
        top.iterator.zipWithIndex.map { case (h, i) => (sid, h.docId, h.score, i + 1) }
      }
      .toDF("set_id", "doc_id", "score", "rank")
    setTop.join(broadcast(qSet.toDF("qid", "set_id")), "set_id")
      .select($"qid", $"doc_id", $"score", $"rank")
  }

  /** term → positions of the sets containing it (the per-shard
    * present-set inversion).
    */
  private def invertSets(sets: Seq[Seq[String]]): Map[String, Array[Int]] = {
    val m = scala.collection.mutable.HashMap[String, scala.collection.mutable.ArrayBuffer[Int]]()
    sets.zipWithIndex.foreach { case (ts, sid) =>
      ts.foreach(t => m.getOrElseUpdate(t, new scala.collection.mutable.ArrayBuffer[Int]()) += sid)
    }
    m.iterator.map { case (t, b) => t -> b.toArray }.toMap
  }

  /** Decode one shard's posting lists once, grouped into one ARRAY per
    * term: after an epoch append whose base size is not a multiple of
    * docsPerShard, the boundary doc-shard holds TWO lists for the same
    * (term, shard) — one base, one epoch — and a per-term single value
    * would silently drop one, never scoring its docs. docId ranges are
    * disjoint, so one cursor per list is exact.
    */
  private def decodeByTerm(it: Iterator[PostingList], p: BM25.Params,
      ad: Double, lh: LensHandle, shard: Int): Map[String, Array[DecodedList]] = {
    val lens = lh.forShard(shard)
    val base = shard.toLong * lh.docsPerShard
    it.toSeq.groupBy(_.term).map { case (t, pls) =>
      t -> pls.map(pl => DecodedList.from(pl, p, ad, lens, base)).toArray
    }
  }

  /** Exhaustive decode-and-score of every doc matching ≥1 query term:
    * (doc_id, bm25). No pruning — feeds re-rankers (λ blend) and serves
    * as the correctness oracle for wandTopK.
    */
  def scoreAllMatching(qTerms: Seq[String]): DataFrame = {
    val terms = qTerms.distinct
    val idf = idfFor(terms)
    val p = bm25
    val ad = avgdl
    val lh = lensHandle
    postingsFor(terms)
      .flatMap { pl =>
        val w = idf(pl.term)
        val lens = lh.forShard(pl.shard)
        val base = pl.shard.toLong * lh.docsPerShard
        val (ids, tfs) = PostingFormat.decodeAll(pl)
        ids.indices.iterator.map { i =>
          val dl = lens((ids(i) - base).toInt)
          (ids(i), pl.term, w * PostingFormat.partial(tfs(i).toDouble, dl.toDouble, p, ad))
        }
      }
      .toDF("doc_id", "term", "contrib")
      .groupBy($"doc_id")
      .agg(sum($"contrib").as("bm25"))
  }

  /** Exhaustive top-k (no WAND pruning) — correctness oracle for
    * wandTopK.
    */
  def exactTopK(qTerms: Seq[String], k: Int): DataFrame =
    scoreAllMatching(qTerms)
      .select($"doc_id", $"bm25".as("score"))
      .orderBy($"score".desc, $"doc_id".asc).limit(k)
}

/** The blended scorer of an [[InvertedIndex.shardTopK]] program: α, each
  * set's (λq, ubNorm) by set position, and the λ side arrays whose shard
  * window the kernel reads in-task.
  */
final case class Blend(alpha: Double, lq: Array[Double], ubNorm: Array[Double],
    lam: LamHandle)
