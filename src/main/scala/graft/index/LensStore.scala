package graft.index

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** Shard-local doc-length side arrays.
  *
  * Doc lengths used to travel INSIDE every posting list as a third
  * LEB128 varint stream (`dlBytes`) — exact, but pure redundancy: every
  * (term, doc) posting re-carried and re-decoded the same per-doc value,
  * and measured decode payload was ~30-36% dl bytes on the documents
  * corpora (2-byte varints on long-doc corpora push it higher). The QPS
  * path is DRAM-bandwidth-bound (QpsProbe r4: scan-only and full-batch
  * both scale ~0.70, no serial stage), so dl was the measured
  * bottleneck's biggest line item.
  *
  * This store replaces the stream with ONE Array[Int] of ≤ docsPerShard
  * doc lengths per doc-shard:
  *  - WRITE: one pass over the doclens table per epoch, range-partitioned
  *    and sorted by doc_id; each task streams fixed-width 4-byte
  *    big-endian ints into `seg-<firstDocId>.bin` files under `lens/`
  *    (a new segment starts at any docId gap). Fixed-width records make
  *    the file position of doc d exactly `(d − segStart) · 4` — no index
  *    structure needed beyond the file names.
  *  - READ: a shard task (or serving replica) loads its shard's window
  *    [shard·dps, (shard+1)·dps) with one positioned read per
  *    overlapping segment (Hadoop `FSDataInputStream.readFully(pos, …)`,
  *    a ranged GET on an object store), then caches the array
  *    process-wide keyed by (root, build generation, shard) — loaded
  *    once per shard per executor, shared across every query after.
  *
  * At 10¹² docs this is 4 bytes/doc (~4 TB spread over the cluster's
  * store) against posting payloads orders of magnitude larger, and each
  * executor only ever touches the windows of the shards it serves.
  *
  * [[LamStore]] below applies the same layout to per-doc λ (8-byte IEEE
  * doubles): every distributed blended query reads its shard's λ window
  * in-task instead of shuffling a 10⁷-row candidate band through a λ join.
  */
object LensStore {

  private[index] final case class Seg(start: Long, count: Long, path: String)

  // segment listings and shard windows are cached per (root, generation):
  // the generation token (the lens stage's lineage fingerprint, carried
  // by LensHandle) changes on every rebuild, so a re-built index at the
  // SAME path can never serve stale lengths from a previous build
  private val segCache =
    new scala.collection.concurrent.TrieMap[(String, String), Array[Seg]]()
  private val shardCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int), Array[Int]]()
  /** At the default 4096-docs shards one entry is 16 KiB → the cap is
    * ≤ ~512 MiB per executor; a serving replica's working set (its own
    * shard slice) always refits quickly.
    */
  private val MaxShardEntries = 32768

  /** Filesystem for `path` under the SESSION Hadoop configuration when
    * the caller carries one (object-store credentials, endpoints, ranged
    * -GET tuning all live in spark.hadoop.*); a fresh default
    * Configuration only as the no-conf fallback (local FS, tests).
    */
  private[graft] def hadoopFs(path: String, conf: Option[SerializableConfiguration]) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val c = conf.map(_.value).getOrElse(new org.apache.hadoop.conf.Configuration())
    (p.getFileSystem(c), p)
  }

  /** Bounded eviction for the shard caches: drop HALF the entries
    * (every other key) instead of the whole map — a full clear() at the
    * cap made every executor re-read its entire working set at once (a
    * thundering-herd re-fetch against the object store).
    */
  private[graft] def evictHalf[K, V](m: java.util.concurrent.ConcurrentHashMap[K, V]): Unit = {
    val it = m.keySet().iterator()
    var drop = false
    while (it.hasNext) {
      it.next()
      if (drop) it.remove()
      drop = !drop
    }
  }

  private[index] def listSegments(root: String, gen: String,
      cache: scala.collection.concurrent.TrieMap[(String, String), Array[Seg]],
      width: Int, conf: Option[SerializableConfiguration]): Array[Seg] =
    cache.getOrElseUpdate((root, gen), {
      val (fs, p) = hadoopFs(root, conf)
      if (!fs.exists(p)) Array.empty
      else fs.listStatus(p).iterator
        .filter(st => st.getPath.getName.startsWith("seg-") &&
          st.getPath.getName.endsWith(".bin"))
        .map { st =>
          val name = st.getPath.getName
          Seg(name.stripPrefix("seg-").stripSuffix(".bin").toLong,
            st.getLen / width, st.getPath.toString)
        }
        .toArray.sortBy(_.start)
    })

  /** One positioned read of `[lo, hi)` records (width bytes each) from a
    * segment into `buf` at byte offset `outOff·width`.
    */
  private[index] def readRangeBytes(seg: Seg, lo: Long, hi: Long, width: Int,
      buf: Array[Byte], outOff: Int, conf: Option[SerializableConfiguration]): Unit = {
    val (fs, p) = hadoopFs(seg.path, conf)
    val in = fs.open(p)
    try {
      val n = (hi - lo).toInt
      in.readFully((lo - seg.start) * width, buf, outOff * width, n * width)
    } finally in.close()
  }

  /** The shard's doc-length window across every epoch root: positions
    * outside any segment (gaps / beyond the corpus) stay 0 — such docIds
    * have no postings, so they are never scored.
    */
  def forShard(roots: Seq[String], gen: String, docsPerShard: Long,
      shard: Int, conf: Option[SerializableConfiguration] = None): Array[Int] = {
    val key = (roots.mkString(" "), gen, shard)
    val hit = shardCache.get(key)
    if (hit != null) return hit
    val dps = docsPerShard.toInt
    require(dps.toLong == docsPerShard && dps > 0, s"docsPerShard $docsPerShard not an Int")
    val base = shard.toLong * docsPerShard
    val buf = new Array[Byte](dps * 4)
    roots.foreach { root =>
      listSegments(root, gen, segCache, 4, conf).foreach { seg =>
        val lo = math.max(base, seg.start)
        val hi = math.min(base + docsPerShard, seg.start + seg.count)
        if (lo < hi) readRangeBytes(seg, lo, hi, 4, buf, (lo - base).toInt, conf)
      }
    }
    val out = new Array[Int](dps)
    var i = 0
    while (i < dps) {
      out(i) = ((buf(4 * i) & 0xff) << 24) | ((buf(4 * i + 1) & 0xff) << 16) |
        ((buf(4 * i + 2) & 0xff) << 8) | (buf(4 * i + 3) & 0xff)
      i += 1
    }
    if (shardCache.size() >= MaxShardEntries) evictHalf(shardCache)
    shardCache.put(key, out)
    out
  }

  /** Write one epoch's lens segments from its doclens table (doc_id, dl).
    * Range-partitioned so each task owns a contiguous docId span and
    * streams it out without buffering; a docId gap inside a partition
    * just closes the current segment and opens the next (efficient for
    * the contiguous id spaces DocIds.assign produces; degrades to more
    * segments, never to wrong data, if ids are sparse). Returns the
    * number of docs written.
    */
  def writeSegments(spark: SparkSession, doclensDir: String, outDir: String,
      parts: Int): Long = {
    import spark.implicits._
    val conf = Some(new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    val (fs0, out0) = hadoopFs(outDir, conf)
    fs0.mkdirs(out0)
    val manifest = spark.read.parquet(doclensDir)
      .select($"doc_id", $"dl")
      .repartitionByRange(math.max(parts, 1), $"doc_id")
      .sortWithinPartitions($"doc_id")
      .as[(Long, Long)]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val written = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
          var out: java.io.DataOutputStream = null
          var segStart = -1L
          var prev = -2L
          var count = 0L
          def close(): Unit = if (out != null) {
            out.close(); out = null
            written += ((segStart, count))
          }
          it.foreach { case (id, dl) =>
            require(dl >= 0 && dl <= Int.MaxValue, s"doc length $dl out of range for doc $id")
            // a duplicate would open a second segment over the same id
            require(id > prev, s"duplicate doc_id $id in the doclens table")
            if (id != prev + 1) {
              close()
              segStart = id; count = 0L
              val (fs, p) = hadoopFs(f"$outDir/seg-$id%016d.bin", conf)
              out = new java.io.DataOutputStream(
                new java.io.BufferedOutputStream(fs.create(p, true), 1 << 16))
            }
            out.writeInt(dl.toInt)
            prev = id; count += 1
          }
          close()
          written.iterator
        }
      }
      .collect() // one (start, count) row per segment — bounded by #parts + #gaps
    manifest.map(_._2).sum
  }
}

/** Shard-local per-doc λ side arrays: the [[LensStore]] layout with
  * 8-byte big-endian IEEE-754 doubles (`DataOutputStream.writeDouble`
  * bits — exact round-trip). Gap semantics match the blended paths'
  * `LEFT JOIN … fill(0.0)`: a doc with no λ row reads as 0.0 — the write
  * side zero-fills interior id gaps so one task emits ONE contiguous
  * segment (λ coverage has holes where a doc has no in-vocab term; a
  * segment per hole would explode the file count), and window positions
  * outside every segment zero-fill at read.
  */
object LamStore {

  import LensStore.{Seg, evictHalf, hadoopFs, listSegments, readRangeBytes}

  private val segCache =
    new scala.collection.concurrent.TrieMap[(String, String), Array[Seg]]()
  private val shardCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int), Array[Double]]()
  /** 32 KiB per default-4096-doc shard entry → ≤ ~512 MiB per executor. */
  private val MaxShardEntries = 16384

  /** The shard's λ window [shard·dps, (shard+1)·dps) across every epoch
    * root; positions not covered by any segment read 0.0 (≡ the λ join's
    * na.fill(0.0) for docs with no λ row).
    */
  def forShard(roots: Seq[String], gen: String, docsPerShard: Long,
      shard: Int, conf: Option[SerializableConfiguration] = None): Array[Double] = {
    val key = (roots.mkString(" "), gen, shard)
    val hit = shardCache.get(key)
    if (hit != null) return hit
    val dps = docsPerShard.toInt
    require(dps.toLong == docsPerShard && dps > 0, s"docsPerShard $docsPerShard not an Int")
    val base = shard.toLong * docsPerShard
    val buf = new Array[Byte](dps * 8)
    roots.foreach { root =>
      listSegments(root, gen, segCache, 8, conf).foreach { seg =>
        val lo = math.max(base, seg.start)
        val hi = math.min(base + docsPerShard, seg.start + seg.count)
        if (lo < hi) readRangeBytes(seg, lo, hi, 8, buf, (lo - base).toInt, conf)
      }
    }
    val out = new Array[Double](dps)
    val bb = java.nio.ByteBuffer.wrap(buf) // big-endian by default
    var i = 0
    while (i < dps) { out(i) = java.lang.Double.longBitsToDouble(bb.getLong(8 * i)); i += 1 }
    if (shardCache.size() >= MaxShardEntries) evictHalf(shardCache)
    shardCache.put(key, out)
    out
  }

  /** Gaps up to this many ids are zero-filled in place (missing λ ≡ 0.0);
    * a larger hole starts a new segment instead — a mis-partitioned
    * input must never be able to zero-fill an unbounded range. Reads are
    * identical either way (positions outside every segment also read
    * 0.0); the threshold only bounds write amplification.
    */
  private val MaxFillGap = 4096L

  /** Write one λ table (doc_id, lambda) as fixed-width double segments.
    * Interior id gaps are zero-filled (missing λ ≡ 0.0 — see class doc)
    * up to [[MaxFillGap]], so each task writes ~one segment file.
    * Returns rows written (gap fills excluded).
    */
  def writeSegments(spark: SparkSession, lambdasDf: org.apache.spark.sql.DataFrame,
      outDir: String, parts: Int): Long = {
    import spark.implicits._
    val conf = Some(new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    val (fs0, out0) = hadoopFs(outDir, conf)
    fs0.mkdirs(out0)
    val manifest = lambdasDf
      .select($"doc_id", $"lambda")
      .repartitionByRange(math.max(parts, 1), $"doc_id")
      .sortWithinPartitions($"doc_id")
      .as[(Long, Double)]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          var out: java.io.DataOutputStream = null
          var segStart = -1L
          var prev = -2L
          var rows = 0L // λ rows across ALL this task's segments (manifest sums these)
          def open(id: Long): Unit = {
            segStart = id
            val (fs, p) = hadoopFs(f"$outDir/seg-$id%016d.bin", conf)
            out = new java.io.DataOutputStream(
              new java.io.BufferedOutputStream(fs.create(p, true), 1 << 16))
          }
          it.foreach { case (id, lam) =>
            // a duplicate would write an extra record and shift every
            // later λ of the segment onto the wrong doc
            require(id > prev, s"duplicate doc_id $id in the λ table")
            if (out == null) open(id)
            else if (id - prev - 1 > MaxFillGap) {
              out.close(); open(id)
            } else {
              var g = prev + 1
              while (g < id) { out.writeDouble(0.0); g += 1 } // interior gap ≡ no λ row
            }
            out.writeDouble(lam)
            prev = id; rows += 1
          }
          out.close()
          Iterator((segStart, rows))
        }
      }
      .collect()
    manifest.map(_._2).sum
  }
}

/** Serializable, closure-friendly handle for shard lens lookups: carries
  * only the epoch lens roots, the shard width, the build-generation
  * token, and the session Hadoop configuration (None → default conf —
  * tests/local); all heavy state lives in the process-wide [[LensStore]]
  * cache.
  */
final case class LensHandle(roots: Seq[String], docsPerShard: Long, gen: String,
    conf: Option[SerializableConfiguration] = None)
    extends Serializable {
  def forShard(shard: Int): Array[Int] =
    LensStore.forShard(roots, gen, docsPerShard, shard, conf)
  def dlOf(docId: Long): Int =
    forShard((docId / docsPerShard).toInt)((docId % docsPerShard).toInt)
}

/** [[LensHandle]]'s λ twin (see [[LamStore]]). */
final case class LamHandle(roots: Seq[String], docsPerShard: Long, gen: String,
    conf: Option[SerializableConfiguration] = None)
    extends Serializable {
  def forShard(shard: Int): Array[Double] =
    LamStore.forShard(roots, gen, docsPerShard, shard, conf)
}
