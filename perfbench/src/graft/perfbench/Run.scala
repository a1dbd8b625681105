package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import graft.corpus.CodeCorpus
import graft.index.{DecodedCursor, DecodedList, IndexBuilder, InvertedIndex, PostingStats}
import graft.lambda.{LambdaIndex, LambdaPipeline}
import graft.search.{BM25, LocalBlended, LocalSearcher, Wand}
import graft.tokenize.CodeTokenizer

/** Sizes of one workload. Each of the `Run.Rounds` rounds of the timed
  * phases serves its share of `serveMin` replica queries per path. With
  * `byTime` the replica streams and the replica batches also run for
  * their share of `--seconds` (counts are then minimums); without it
  * they run exactly these counts, because every longtail query draws a
  * needle no earlier query used and the corpus holds a fixed number of
  * them. A warm-up window holds at least `serveWarm` replica queries, or
  * one distributed batch of `warmBatch` queries.
  */
final case class Sizes(batch: Int, serveBatch: Int, serveWarm: Int, serveMin: Int, warmBatch: Int,
    byTime: Boolean)

object Sizes {
  val Hot = Sizes(batch = 1024, serveBatch = 1024, serveWarm = 100, serveMin = 1000, warmBatch = 256,
    byTime = true)
  val Longtail = Sizes(batch = 192, serveBatch = 32, serveWarm = 5, serveMin = 25, warmBatch = 48,
    byTime = false)
}

/** Operations attempted and failed per phase, and the metrics. */
final class Report {
  val phases = mutable.LinkedHashMap[String, Array[Long]]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Counts one operation; false or an exception counts it failed. */
  def op(phase: String)(f: => Boolean): Boolean = {
    val c = phases.getOrElseUpdate(phase, {
      System.err.println(f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%8.1f s  $phase")
      Array(0L, 0L)
    })
    c(0) += 1
    val ok = try f catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $phase failed: $e")
        false
    }
    if (!ok) c(1) += 1
    ok
  }

  /** Output mismatches; any one makes the run's outputs incorrect. */
  var mismatches = 0L

  def fail(phase: String, why: String): Boolean = {
    System.err.println(s"[perfbench] $phase mismatch: $why")
    mismatches += 1
    false
  }

  def attempted: Long = phases.valuesIterator.map(_(0)).sum
  def failed: Long = phases.valuesIterator.map(_(1)).sum
}

object Run {
  val K = 10
  val Alpha = 0.9
  /** Files built, then files appended as one epoch. */
  val NBase = 3000
  val NAppend = 750
  /** Rounds of the timed phases. Each round runs at least one replica
    * batch, one distributed batch per path and `SinglesPerRound`
    * distributed single queries.
    */
  val Rounds = 5
  val SinglesPerRound = 4
  /** Warm-up windows per block: at least `WarmMin`, at most `WarmMax`. */
  val WarmMin = 2
  val WarmMax = 4

  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val pos = p / 100.0 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** A percentile has at least ten samples beyond it. */
  def pctChecked(xs: Seq[Double], p: Double): Double = {
    require(xs.size * (100.0 - p) / 100.0 >= 10.0,
      s"p$p over ${xs.size} samples has fewer than ten beyond it")
    pct(xs, p)
  }

  /** Median of repetitions (a run's loads or batches). */
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Median of a latency stream, under the ten-beyond rule. */
  def p50(xs: Seq[Double]): Double = pctChecked(xs, 50)

  /** The highest of p99, p90 and p75 with ten samples beyond it. */
  def tail(xs: Seq[Double]): Double =
    pctChecked(xs, Seq(99.0, 90.0, 75.0).find(p => xs.size * (100.0 - p) / 100.0 >= 10.0).getOrElse(99.0))

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Bytes that the array fields of one object hold. Each array counts a
    * 16-byte header plus its length times the size of its runtime element
    * type, rounded up to 8 bytes; a reference element counts 4 bytes
    * (compressed references, as under -Xmx3g), plus the bytes of a nested
    * array. Objects other than arrays that the fields reach are not
    * counted.
    */
  def heldArrayBytes(o: AnyRef): Long =
    o.getClass.getDeclaredFields.iterator
      .filter(f => f.getType.isArray && !java.lang.reflect.Modifier.isStatic(f.getModifiers))
      .map { f => f.setAccessible(true); arrayBytes(f.get(o)) }
      .sum

  private def arrayBytes(a: Any): Long =
    if (a == null) 0L
    else {
      import java.lang.{Boolean => JB, Byte => JY, Character => JC, Double => JD, Float => JF,
        Integer => JI, Long => JL, Short => JS}
      val c = a.getClass.getComponentType
      val n = java.lang.reflect.Array.getLength(a)
      val elem =
        if (c == JL.TYPE || c == JD.TYPE) 8
        else if (c == JI.TYPE || c == JF.TYPE) 4
        else if (c == JS.TYPE || c == JC.TYPE) 2
        else if (c == JY.TYPE || c == JB.TYPE) 1
        else 4
      val nested =
        if (c.isArray) (0 until n).iterator.map(i => arrayBytes(java.lang.reflect.Array.get(a, i))).sum
        else 0L
      (16L + n.toLong * elem + 7) / 8 * 8 + nested
    }

  /** Stage wall time from a stage's `_lineage.json`, in seconds. */
  def lineageSec(stageDir: String): Double = {
    val j = Files.readString(Paths.get(stageDir, "_lineage.json"))
    "\"wallMs\": (\\d+)".r.findFirstMatchIn(j).map(_.group(1).toDouble / 1000.0)
      .getOrElse(sys.error(s"no wallMs in $stageDir lineage"))
  }
}

/** One run of one workload: set-up (build, λ, one appended epoch,
  * replica), the timed phases, the correctness checks, and with tracing
  * on the per-layer account.
  */
final class Run(spark: SparkSession, workload: String, seed: Long, seconds: Int,
    trace: Trace, work: String, sizes: Sizes, report: Report) {
  import Run._
  import Inputs.utf8Len
  import spark.implicits._

  private val sc = spark.sparkContext
  private val tasks: Option[SparkTasks] =
    if (trace.enabled) { val t = new SparkTasks; sc.addSparkListener(t); Some(t) } else None
  private val in = new Inputs(seed, NBase, NAppend)
  private val hot = workload == "hot"
  private val hotMix = new in.Hot
  // hot draws its cold-lookup probes from here, outside its needle pool
  private val longtail = new in.Longtail(if (hot) hotMix.needleIdSet else Set.empty)
  private val qrng = in.rng("queries")
  private var qi = 0
  private val params = IndexBuilder.Params(docsPerShard = 1024L, numParts = 8)
  private val layer = mutable.LinkedHashMap[String, (Double, String)]()

  private def next(): Query = {
    val q = if (hot) hotMix.query(qi, qrng) else longtail.query(qi, qrng)
    qi += 1
    q
  }
  private def nextBatch(n: Int): IndexedSeq[Query] = IndexedSeq.fill(n)(next())

  private def measure[A](group: String)(f: => A): A = SparkTasks.measure(sc, tasks, group)(f)

  // results kept for the checks that run after the timed phases
  private val served = mutable.ArrayBuffer[(Query, Array[Wand.Hit])]()
  private val servedBlended = mutable.ArrayBuffer[(Query, Array[Wand.Hit])]()
  private val servedBatch = mutable.ArrayBuffer[(Query, Array[Wand.Hit])]()
  private val distBatch = mutable.ArrayBuffer[(Query, Seq[(Long, Double)])]()
  private val distBlended = mutable.ArrayBuffer[(Query, Seq[Long])]()
  private val distSingle = mutable.ArrayBuffer[(Query, Seq[(Long, Double)])]()

  def execute(): Unit = {
    val idxDir = s"$work/index"
    val lamDir = s"$work/lambda"
    require(!Files.exists(Paths.get(idxDir)) && !Files.exists(Paths.get(lamDir)),
      s"$work is not fresh: a stage that finds its own lineage would be skipped")
    val files = in.files

    // ---- set-up: build, λ, one appended epoch, replica ------------------
    val idx0 = trace.span("index.build") {
      timed("setup", "build") {
        measure("build") {
          IndexBuilder.build(spark, CodeCorpus.generate(spark, in.nBase, seed, 8), idxDir,
            s"perfbench:$seed:${in.nBase}", params)
        }
      }
    }
    var setupNs = lastNs
    layerPut("index.build.files_per_s", in.nBase / (lastNs / 1e9), "files/s")
    val buildStages = Seq("docs", "termfreq", "doclens", "lens", "postings", "termstats")
    checkFresh("build", buildStages.map(s => s"$idxDir/$s"))
    buildStages.foreach(s => layerPut(s"index.build.${s}_s", lineageSec(s"$idxDir/$s"), "s"))

    trace.span("lambda.build") {
      timed("setup", "lambda") { LambdaPipeline.build(spark, idx0, lamDir) }
    }
    setupNs += lastNs
    layerPut("lambda.build_s", lastNs / 1e9, "s")
    val lamStages = Seq("vocab", "docterms", "clusters", "graph", "lambdas", "lamlens")
    checkFresh("lambda", lamStages.map(s => s"$lamDir/$s"))
    lamStages.foreach(s => layerPut(s"lambda.build.${s}_s", lineageSec(s"$lamDir/$s"), "s"))

    val s = seed // task closures must not capture this run
    val t0 = System.nanoTime()
    val appended = trace.span("index.append") {
      report.op("setup") {
        IndexBuilder.append(spark,
          spark.range(in.nBase.toLong, in.nFiles.toLong, 1L, 4).map(id => CodeCorpus.file(s, id)),
          idxDir, s"perfbench:$seed:e1", params)
        true
      }
    }
    trace.span("lambda.append") {
      report.op("setup") { LambdaPipeline.appendEpochs(spark, new InvertedIndex(spark, idxDir), lamDir); true }
    }
    require(appended, "append failed")
    val epochNs = System.nanoTime() - t0
    setupNs += epochNs
    layerPut("index.append.epoch_s", epochNs / 1e9, "s")
    val appendStages = Seq("docs", "termfreq", "lens", "postings").map(s => s"$idxDir/epochs/e1/$s")
    checkFresh("append", appendStages :+ s"$idxDir/termstats" :+ s"$lamDir/lambdas_e1" :+ s"$lamDir/lamlens_e1")
    Seq("docs", "termfreq", "lens", "postings").foreach(s =>
      layerPut(s"index.append.${s}_s", lineageSec(s"$idxDir/epochs/e1/$s"), "s"))
    layerPut("index.append.termstats_s", lineageSec(s"$idxDir/termstats"), "s")
    layerPut("lambda.append.lambdas_s", lineageSec(s"$lamDir/lambdas_e1"), "s")
    layerPut("lambda.append.lamlens_s", lineageSec(s"$lamDir/lamlens_e1"), "s")
    layerPut("index.append.bytes_written_per_src_byte",
      (dirBytes(Paths.get(idxDir, "epochs")) + dirBytes(Paths.get(idxDir, "termstats"))).toDouble /
        in.files.iterator.drop(in.nBase).map(f => utf8Len(f.content)).sum, "B/B")

    // a fresh handle must see the epoch: nDocs and the appended files
    val index = new InvertedIndex(spark, idxDir)
    val lam = new LambdaIndex(spark, lamDir)
    report.op("setup") {
      index.nDocs == in.nFiles ||
        report.fail("setup", s"nDocs ${index.nDocs} after the epoch, expected ${in.nFiles}")
    }
    val docIdOfPath: Map[String, Long] =
      index.docs.select("docId", "path").as[(Long, String)].collect().map(_.swap).toMap
    def docIdOf(fileId: Int): Long = docIdOfPath(files(fileId).path)
    val probe = in.nBase + in.rng("append-probe").nextInt(in.nAppend)
    report.op("setup") {
      val top = index.wandTopK(Seq(in.needle(probe)), K).collect()
      top.headOption.exists(_.getLong(0) == docIdOf(probe)) ||
        report.fail("setup", s"fresh handle does not find appended file $probe")
    }
    report.put("index_bytes_per_src_byte", dirBytes(Paths.get(idxDir)).toDouble / in.srcBytes, "B/B")
    Seq("docs", "termfreq", "lens", "postings").foreach { s =>
      layerPut(s"index.${s}_mb",
        (dirBytes(Paths.get(idxDir, s)) + dirBytes(Paths.get(idxDir, "epochs", "e1", s))) / 1e6, "MB")
    }
    layerPut("lambda.graph_edges",
      IndexBuilder.readMeta(s"$lamDir/graph.props")("nnz").toDouble, "count")

    // replica: one load; the traced run loads five times and reports the
    // median (a load's time swings too much from run to run to gate on)
    var lb: LocalBlended = null
    val loads = (1 to (if (trace.enabled) 5 else 1)).map { _ =>
      lb = null
      System.gc()
      val t = System.nanoTime()
      lb = trace.span("replica.load")(LocalBlended.fromIndexes(index, lam))
      System.nanoTime() - t
    }
    layerPut("index.replica.load_s", median(loads.map(_ / 1e9)), "s")
    // set-up counts the program's calls only: build, λ, the epoch and the
    // first replica load (the one load an untraced run makes)
    setupNs += loads.head
    report.put("setup_s", setupNs / 1e9, "s")
    val ls = lb.searcher
    report.put("replica_mb", ls.byTerm.valuesIterator.flatten.map(heldArrayBytes).sum / 1e6, "MB")
    if (hot) index.termInfo(hotMix.allTerms) // hot: every query's term stats are warm

    // ---- timed phases -----------------------------------------------------
    // The timed work runs in rounds, each holding a share of every path,
    // so that each metric's samples spread over the whole timed stretch:
    // the speed of a shared box drifts over seconds, and a metric timed in
    // one stretch of a few seconds takes whatever drift that stretch
    // caught. On hot the replica paths run first, as a block of their own,
    // and the distributed ones after them: a replica serves no distributed
    // query, and the distributed path runs the same WAND kernels on other
    // cursor classes, which changes what the JIT makes of them. On
    // longtail a replica query is two Spark jobs and its kernel is under
    // 0.3 ms of about 120 ms, so every round holds both kinds of path and
    // the replica samples spread over all of the timed work. Each block
    // first runs an untimed warm-up of the same shape.
    val budgetNs = seconds * 1e9
    val classSpan = (0 to 5).map(c => s"search.serve.q$c")
    val serve: Query => Array[Wand.Hit] = q => trace.span(classSpan(q.cls))(ls.topK(q.terms, K))
    val blended: Query => Array[Wand.Hit] = q => trace.span("search.serve_blended")(lb.topK(q.text, K, Alpha))
    val hotBatch = if (hot) nextBatch(sizes.batch) else IndexedSeq.empty
    def batchFor(): IndexedSeq[Query] = if (hot) hotBatch else nextBatch(sizes.batch)
    def serveBatchFor(): IndexedSeq[Query] = if (hot) hotBatch else nextBatch(sizes.serveBatch)
    val distBm25: IndexedSeq[Query] => Array[Row] =
      b => index.wandTopKBatch(b.indices.map(i => (i, b(i).terms)), K).collect()
    val distBlend: IndexedSeq[Query] => Array[Row] =
      b => lam.blendedTopKBatch(index, b.indices.map(i => (i, b(i).text)), K, Alpha).collect()
    val single: Query => Array[Row] = q => index.wandTopK(q.terms, K).collect()

    // a replica warm window: a stretch of each stream, 0.03 of the budget
    // (hot) or `serveWarm` queries; its figure is the sum of their p50s, in s
    def replicaWarm(): Double = {
      val a, b = mutable.ArrayBuffer[Double]()
      stream(sizes.serveWarm, (0.03 * budgetNs).toLong, a, None)(serve)
      stream(sizes.serveWarm, (0.03 * budgetNs).toLong, b, None)(blended)
      (median(a.toSeq) + median(b.toSeq)) / 1e3
    }
    // a distributed warm window: one small batch per batch path and one
    // single query; its figure is its wall time, in s
    def warmBatchFor(): IndexedSeq[Query] = if (hot) hotBatch.take(sizes.warmBatch) else nextBatch(sizes.warmBatch)
    def distWarm(): Double = {
      val t = System.nanoTime()
      distBm25(warmBatchFor())
      distBlend(warmBatchFor())
      single(next())
      secs(t)
    }
    def serveBatchWarm(): Unit = { val b = serveBatchFor(); ls.topKBatch(b.indices.map(i => (i, b(i).terms)), K) }

    // a traced run takes at least 100 replica samples per path: twenty per
    // class for the per-class p50, and ten beyond its tail percentile
    val serveMin = ((if (trace.enabled) math.max(sizes.serveMin, 100) else sizes.serveMin) + Rounds - 1) / Rounds
    val serveLat, blendedLat, serveBatchQps, distQps, distBlendedQps, singleLat = mutable.ArrayBuffer[Double]()
    var lastServeBatch: (IndexedSeq[Query], Seq[(Int, Array[Wand.Hit])]) = null
    def replicaRound(): Unit = {
      stream(serveMin, (0.4 * budgetNs / Rounds).toLong, serveLat, Some(("serve", served)))(serve)
      stream(serveMin, (0.4 * budgetNs / Rounds).toLong, blendedLat, Some(("serve_blended", servedBlended)))(blended)

      // replica batches: whole batches for 0.1 of the budget
      val tEnd = System.nanoTime() + (if (sizes.byTime) (0.1 * budgetNs / Rounds).toLong else 0L)
      var n = 0
      while (n < 1 || System.nanoTime() < tEnd) {
        val b = serveBatchFor()
        val qs = b.indices.map(i => (i, b(i).terms))
        var out: Seq[(Int, Array[Wand.Hit])] = null
        val t = System.nanoTime()
        trace.span("search.serve_batch") {
          report.op("serve_batch") { out = ls.topKBatch(qs, K); out.size == b.size }
        }
        serveBatchQps += b.size / secs(t)
        lastServeBatch = (b, out)
        n += 1
      }
    }

    var decoded, decodedBytes = 0L
    def countingDecode[A](f: => A): A = {
      val (d0, b0) = (PostingStats.decoded(), PostingStats.bytes())
      try f finally {
        decoded += PostingStats.decoded() - d0
        decodedBytes += PostingStats.bytes() - b0
      }
    }
    var lastBm25, lastBlend: (IndexedSeq[Query], Array[Row]) = null
    def distRound(): Unit = {
      lastBm25 = distBatchRep("dist_batch", batchFor(), distQps)(b => countingDecode(distBm25(b)))
      lastBlend = distBatchRep("dist_blended_batch", batchFor(), distBlendedQps)(distBlend)

      (1 to SinglesPerRound).foreach { _ =>
        val q = next()
        val t = System.nanoTime()
        var rows: Array[Row] = Array.empty
        trace.span("search.dist_single") {
          report.op("dist_single") { rows = measure("dist_single")(single(q)); true }
        }
        singleLat += secs(t)
        distSingle += (q -> rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      }
    }

    if (hot) {
      warmUp("replica")(replicaWarm())
      serveBatchWarm()
      (1 to Rounds).foreach(_ => replicaRound())
      if (trace.enabled) decompose(ls, lb)
      warmUp("distributed")(distWarm())
      (1 to Rounds).foreach(_ => distRound())
    } else {
      warmUp("all")(replicaWarm() + distWarm())
      serveBatchWarm()
      (1 to Rounds).foreach { _ => replicaRound(); distRound() }
      if (trace.enabled) decompose(ls, lb)
    }
    report.put("serve_p50_ms", p50(serveLat.toSeq), "ms")
    report.put("serve_blended_p50_ms", p50(blendedLat.toSeq), "ms")
    // not gated: on a shared 4-core host this 4-thread burst of about
    // 20 ms per batch spread 0.28–0.32 over ten runs, above any bound
    layerPut("search.serve_batch.qps", median(serveBatchQps.toSeq), "q/s")
    report.put("dist_batch_qps", median(distQps.toSeq), "q/s")
    report.put("dist_blended_batch_qps", median(distBlendedQps.toSeq), "q/s")
    report.put("dist_single_p50_s", p50(singleLat.toSeq), "s")

    lastServeBatch._2.foreach { case (i, h) => servedBatch += (lastServeBatch._1(i) -> h) }
    val bmByQid = lastBm25._2.groupBy(_.getInt(0))
    lastBm25._1.indices.foreach { i =>
      distBatch += (lastBm25._1(i) -> bmByQid.getOrElse(i, Array.empty)
        .sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq)
    }
    val blByQid = lastBlend._2.groupBy(_.getInt(0))
    lastBlend._1.indices.foreach { i =>
      distBlended += (lastBlend._1(i) -> blByQid.getOrElse(i, Array.empty).sortBy(_.getInt(3)).map(_.getLong(1)).toSeq)
    }

    if (trace.enabled) {
      layerPut("search.serve.tail_ms", tail(serveLat.toSeq), "ms")
      layerPut("search.serve_blended.tail_ms", tail(blendedLat.toSeq), "ms")
      // over the timed BM25 batch calls
      val nDistBatchQueries = Rounds * sizes.batch
      layerPut("search.wand.blocks_decoded_per_query", decoded.toDouble / nDistBatchQueries, "count")
      layerPut("search.wand.bytes_decoded_per_query", decodedBytes.toDouble / nDistBatchQueries, "B")
      val t = tasks.get
      val a = t.agg("dist_batch")
      val nb = 2.0 * Rounds
      layerPut("search.dist_batch.task_s", a.taskMs / 1000.0 / nb, "s")
      layerPut("search.dist_batch.shuffle_read_mb", a.shuffleReadB / 1e6 / nb, "MB")
      layerPut("search.dist_batch.task_skew", a.skew, "ratio")
      // whole-JVM GC during the batch calls: in local mode the executor
      // threads share the driver's heap, and task-level GC times read
      // 0 ms for tasks this short
      layerPut("search.dist_batch.gc_s", distBatchGcMs / 1000.0 / nb, "s")
      layerPut("search.dist_single.jobs_per_query", t.agg("dist_single").jobs.toDouble / singleLat.size, "count")
      val canon = lastBm25._1.map(_.terms.distinct.filter(ls.byTerm.contains).sorted).distinct.size
      layerPut("search.batch.distinct_sets", canon, "count")
      layerPut("search.batch.dedup_ratio", sizes.batch.toDouble / canon, "ratio")
    }

    // ---- correctness, untimed -------------------------------------------
    checks(index, lam, lb, docIdOfPath, docIdOf)

    // ---- per-layer account (traced run only) ------------------------------
    if (trace.enabled) layers(index)
  }

  private var lastNs = 0L
  private def timed[A](phase: String, what: String)(f: => A): A = {
    val t = System.nanoTime()
    var out: Option[A] = None
    report.op(phase) { out = Some(f); true }
    lastNs = System.nanoTime() - t
    out.getOrElse(sys.error(s"$what failed"))
  }

  private def layerPut(name: String, v: Double, unit: String): Unit = layer(name) = (v, unit)
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def layerMetrics: Seq[(String, (Double, String))] = layer.toSeq

  /** No stage of a fresh directory may report itself skipped: every
    * stage's lineage must have been written by this run.
    */
  private val runStartMs = System.currentTimeMillis()
  private def checkFresh(phase: String, stageDirs: Seq[String]): Unit = stageDirs.foreach { d =>
    report.op("setup") {
      val lp = Paths.get(d, "_lineage.json")
      (Files.exists(lp) && Files.getLastModifiedTime(lp).toMillis >= runStartMs - 1000) ||
        report.fail("setup", s"$phase stage $d has no lineage from this run")
    }
  }

  /** Closed loop, one client: whole rounds of the five query classes
    * until `min` queries have run and, in a workload sized by time, `ns`
    * has passed. Every query's latency goes to `lat`, in ms. With `timed`
    * = (phase, kept) every query is also counted and kept for the checks;
    * without it the pass is a warm-up.
    */
  private def stream(min: Int, ns: Long, lat: mutable.ArrayBuffer[Double],
      timed: Option[(String, mutable.ArrayBuffer[(Query, Array[Wand.Hit])])])(f: Query => Array[Wand.Hit]): Unit = {
    val tEnd = System.nanoTime() + (if (sizes.byTime) ns else 0L)
    var n = 0
    while (n < min || System.nanoTime() < tEnd) {
      n += 5
      (1 to 5).foreach { _ =>
        val q = next()
        var hits: Array[Wand.Hit] = null
        val t = System.nanoTime()
        timed match {
          case Some((phase, _)) => trace.request(qi.toLong) { report.op(phase) { hits = f(q); hits != null } }
          case None => hits = f(q)
        }
        lat += (System.nanoTime() - t) / 1e6
        timed.foreach { case (_, keep) => keep += (q -> hits) }
      }
    }
  }

  /** Untimed warm-up of one block. `window` runs a short round of every
    * path of the block, in the order of the timed rounds, and returns a
    * time. Windows repeat, `WarmMin` to `WarmMax` of them, until one is
    * not 2% faster than the fastest before it: the JIT has then compiled
    * what the block runs, which takes longer on a loaded host than on an
    * idle one. The paths are warmed together, in the order the timed
    * rounds run them, so that what the JIT compiles for the code they
    * share is what the timed rounds run.
    */
  private def warmUp(block: String)(window: => Double): Unit = {
    var best = window
    var n = 1
    var gaining = true
    while (n < WarmMax && (n < WarmMin || gaining)) {
      val t = window
      gaining = t < 0.98 * best
      best = math.min(best, t)
      n += 1
    }
    System.err.println(f"[perfbench] warm-up $block: $n windows")
  }

  /** One timed distributed batch; adds its q/s to `qps` and returns the
    * batch with its rows.
    */
  private def distBatchRep(phase: String, b: IndexedSeq[Query], qps: mutable.ArrayBuffer[Double])(
      f: IndexedSeq[Query] => Array[Row]): (IndexedSeq[Query], Array[Row]) = {
    var rows: Array[Row] = Array.empty
    val g0 = gcMs
    val t = System.nanoTime()
    trace.span(s"search.$phase") {
      report.op(phase) { rows = measure("dist_batch")(f(b)); true }
    }
    qps += b.size / secs(t)
    distBatchGcMs += gcMs - g0
    (b, rows)
  }
  private var distBatchGcMs = 0L

  private def checks(index: InvertedIndex, lam: LambdaIndex, lb: LocalBlended,
      docIdOfPath: Map[String, Long], docIdOf: Int => Long): Unit = {
    val r = in.rng("check-sample")
    def sample[A](xs: collection.Seq[A], n: Int): Seq[A] =
      if (xs.size <= n) xs.toSeq else Seq.fill(n)(xs(r.nextInt(xs.size)))
    val alphaOne = sample(served.map(_._1), 16).toIndexedSeq
    val bm25Checks: Seq[(String, Query, Seq[Long], Option[Seq[Double]])] =
      sample(served, 16).map { case (q, h) => ("check.serve", q, h.map(_.docId).toSeq, Some(h.map(_.score).toSeq)) } ++
        sample(servedBatch, 16).map { case (q, h) => ("check.serve_batch", q, h.map(_.docId).toSeq, Some(h.map(_.score).toSeq)) } ++
        sample(distBatch, 16).map { case (q, h) => ("check.dist_batch", q, h.map(_._1), Some(h.map(_._2))) } ++
        distSingle.map { case (q, h) => ("check.dist_single", q, h.map(_._1).toSeq, Some(h.map(_._2).toSeq)) }
    val tokMode = index.meta.getOrElse("tokenizer", "code")
    val tokenize: String => Array[String] =
      if (tokMode == "simple") CodeTokenizer.simpleTokens else CodeTokenizer.codeTokens
    val watch = (bm25Checks.flatMap(_._2.terms) ++ alphaOne.flatMap(q => tokenize(q.text))).toSet
    val oracle = new Oracle(in.files, f => docIdOfPath(f.path), tokenize,
      index.bm25.k1, index.bm25.b, watch)

    bm25Checks.foreach { case (phase, q, ids, scores) =>
      report.op(phase) {
        oracle.mismatch(q.terms, K, ids, scores).forall(m => report.fail(phase, m))
      }
    }
    // α = 1: the blend ranks exactly as BM25
    alphaOne.foreach { q =>
      report.op("check.serve_blended_alpha1") {
        val ids = lb.topK(q.text, K, 1.0).map(_.docId).toSeq
        oracle.mismatch(tokenize(q.text).toSeq, K, ids, None).forall(m => report.fail("check.serve_blended_alpha1", m))
      }
    }
    val a1 = lam.blendedTopKBatch(index, alphaOne.indices.map(i => (i, alphaOne(i).text)), K, 1.0).collect()
    alphaOne.indices.foreach { i =>
      report.op("check.dist_blended_alpha1") {
        val ids = a1.filter(_.getInt(0) == i).sortBy(_.getInt(3)).map(_.getLong(1)).toSeq
        oracle.mismatch(tokenize(alphaOne(i).text).toSeq, K, ids, None)
          .forall(m => report.fail("check.dist_blended_alpha1", m))
      }
    }
    // a needle query returns its own file at rank 1, on every path
    val withNeedle: Seq[(String, Query, Option[Long])] =
      served.map { case (q, h) => ("check.needle.serve", q, h.headOption.map(_.docId)) }.toSeq ++
        servedBlended.map { case (q, h) => ("check.needle.serve_blended", q, h.headOption.map(_.docId)) } ++
        servedBatch.map { case (q, h) => ("check.needle.serve_batch", q, h.headOption.map(_.docId)) } ++
        distBatch.map { case (q, h) => ("check.needle.dist_batch", q, h.headOption.map(_._1)) } ++
        distBlended.map { case (q, h) => ("check.needle.dist_blended_batch", q, h.headOption) } ++
        distSingle.map { case (q, h) => ("check.needle.dist_single", q, h.headOption.map(_._1)) }
    withNeedle.filter(_._2.target >= 0).foreach { case (phase, q, top) =>
      report.op(phase) {
        top.contains(docIdOf(q.target)) || report.fail(phase, s"${q.terms} top hit $top, expected file ${q.target}")
      }
    }
    // every λ finite and within [0, 1]
    report.op("check.lambda") {
      val bad = lam.lambdas.as[(Long, Double)].collect()
        .filter { case (_, l) => l.isNaN || l.isInfinite || l < 0.0 || l > 1.0 }
      bad.isEmpty || report.fail("check.lambda", s"${bad.length} λ outside [0, 1], e.g. ${bad.head}")
    }
  }

  /** The WAND kernels' share of a replica query. Each query is served
    * once (`LocalSearcher.topK` or `LocalBlended.topK`, in a span of its
    * own), then its kernel calls (`Wand.topK` or `Wand.blendedTopK` per
    * shard, on cursors over the replica's decoded lists) run again, each
    * in a span; the cursors are set up outside those spans. The rest of a
    * served query (term-stat lookup, tokenizing, query λ, shard walk,
    * cursor set-up, merge) is the served time minus the kernel time over
    * the same queries. It runs right after the timed replica paths
    * (on hot before any distributed query), so that both see the JVM in
    * the same state.
    */
  private def decompose(ls: LocalSearcher, lb: LocalBlended): Unit = {
    val nDecomp = if (hot) 500 else 20
    val k1p1 = ls.params.k1 + 1.0
    val ws = new Wand.Workspace
    def shards(terms: Seq[String], idf: String => Double): Seq[Seq[Wand.Cursor]] =
      terms.flatMap(t => ls.byTerm(t).map(d => (d.shard, new DecodedCursor(d, idf(t)): Wand.Cursor)))
        .groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2))
    def bm25(tr: Trace, q: Query): Unit = {
      tr.span("search.serve.replayed")(ls.topK(q.terms, K))
      val terms = q.terms.distinct.filter(ls.byTerm.contains).sorted
      val info = ls.termInfoFn(terms)
      val idf0 = BM25.idf(ls.nDocs.toDouble, 0.0)
      shards(terms, t => info.get(t).map(_._1).getOrElse(idf0))
        .foreach(cs => tr.span("search.wand.kernel")(Wand.topK(cs, K, ws)))
    }
    def blended(tr: Trace, q: Query): Unit = {
      tr.span("search.serve_blended.replayed")(lb.topK(q.text, K, Alpha))
      val toks = lb.tokenize(q.text)
      val counts = toks.toSeq.groupBy(identity).map { case (t, xs) => t -> xs.size }
      val lq = tr.span("lambda.query_lambda")(lb.queryLambda(counts))
      val info = ls.termInfoFn(toks.distinct.toSeq)
      val terms = toks.distinct.filter(info.contains).sorted.toSeq
      val ubNorm = math.max(terms.map(info(_)._1 * k1p1).sum, 1e-12)
      val lambdaOf: Long => Double = d => Option(lb.lambdas.get(d)).map(_.doubleValue).getOrElse(0.0)
      shards(terms.filter(ls.byTerm.contains), t => info(t)._1).foreach(cs =>
        tr.span("search.wand.blended_kernel")(Wand.blendedTopK(cs, K, Alpha, ubNorm, lq, lambdaOf, ws)))
    }
    // BM25 and blended in separate streams, as served (interleaving them
    // would evict each other's lists from the caches), each after an
    // untimed warm pass of the same shape
    val untraced = new Trace(false)
    Seq[(Trace, Query) => Unit](bm25, blended).zipWithIndex.foreach { case (f, j) =>
      (1 to nDecomp).foreach(_ => f(untraced, next()))
      (1 to nDecomp).foreach(i => trace.request(-(j * nDecomp + i).toLong)(f(trace, next())))
    }
    def perQueryUs(name: String): Double =
      trace.selfTimes.get(name).map(_._3 / 1e3 / nDecomp).getOrElse(0.0)
    val kernel = perQueryUs("search.wand.kernel")
    val blendedKernel = perQueryUs("search.wand.blended_kernel")
    layerPut("search.wand.kernel_us", kernel, "us")
    layerPut("search.wand.blended_kernel_us", blendedKernel, "us")
    layerPut("search.serve.rest_us", perQueryUs("search.serve.replayed") - kernel, "us")
    layerPut("search.serve_blended.rest_us", perQueryUs("search.serve_blended.replayed") - blendedKernel, "us")
    layerPut("lambda.query_lambda_us", perQueryUs("lambda.query_lambda"), "us")
  }

  /** Per-layer probes around the calls into each layer, after the
    * timed phases so that they do not disturb them.
    */
  private def layers(index: InvertedIndex): Unit = {
    val t = tasks.get
    val ba = t.agg("build")
    layerPut("index.build.shuffle_write_mb", ba.shuffleWriteB / 1e6, "MB")
    layerPut("index.build.spill_mb", ba.spillB / 1e6, "MB")
    layerPut("index.build.gc_s", ba.gcMs / 1000.0, "s")
    layerPut("index.build.task_skew", ba.skew, "ratio")

    var toks = 0L
    val vocab = new java.util.HashSet[String]()
    trace.span("tokenize")(in.files.foreach(f => toks += CodeTokenizer.codeTokens(f.content).length))
    in.files.foreach(f => CodeTokenizer.codeTokens(f.content).foreach(vocab.add))
    System.err.println(s"[perfbench] inputs: ${in.nFiles} files, ${in.srcBytes} source bytes, " +
      s"$toks tokens, ${vocab.size} distinct terms")
    layerPut("tokenize.tokens_per_s", toks / (trace.meanSelfNs("tokenize") / 1e9), "tokens/s")

    val lists = trace.span("index.replica.collect")(index.postings.collect())
    val p = index.bm25
    val ad = index.avgdl
    val lh = index.lensHandle
    val lens = lists.map(pl => lh.forShard(pl.shard)) // shard windows load outside the timed decode
    trace.span("index.codec.decode") {
      lists.indices.foreach(i => DecodedList.from(lists(i), p, ad, lens(i), lists(i).shard.toLong * lh.docsPerShard))
    }
    val postings = lists.iterator.map(_.df).sum.toDouble
    layerPut("index.replica.collect_s", trace.meanSelfNs("index.replica.collect") / 1e9, "s")
    layerPut("index.codec.decode_ns_per_posting", trace.meanSelfNs("index.codec.decode") / postings, "ns")
    layerPut("index.codec.bits_per_posting",
      lists.iterator.map(l => l.docBytes.length + l.tfBytes.length).sum * 8.0 / postings, "bits")

    // term-stat lookups of terms no query has used yet
    val lookups = 10
    (1 to lookups).foreach { _ =>
      val term = longtail.query(0, qrng).terms.head
      trace.span("index.termstat_lookup")(measure("termstat")(index.termInfo(Seq(term))))
    }
    layerPut("index.termstat_lookup_ms", trace.meanSelfNs("index.termstat_lookup") / 1e6, "ms")
    layerPut("index.termstat_jobs", t.agg("termstat").jobs.toDouble / lookups, "count")

    val scanQs = Seq.fill(10)(next())
    scanQs.foreach(q => trace.span("index.postings_scan")(index.postingsFor(q.terms.distinct).collect()))
    layerPut("index.postings_scan_ms", trace.meanSelfNs("index.postings_scan") / 1e6, "ms")

    (1 to 5).foreach { c =>
      layerPut(s"search.serve.q${c}_p50_ms", Run.pctChecked(trace.durationsMs(s"search.serve.q$c"), 50), "ms")
    }

    layerPut("jvm.gc_s", gcMs / 1000.0, "s")
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    layerPut("jvm.heap_peak_mb", heapPeak / 1e6, "MB")
  }
}
