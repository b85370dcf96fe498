package graft.streaming

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.{BloomBank, BloomBankProbe}

/** Per-BUCKET bloom sidecar state of the [[IndexStore]], the one store
  * behind all three ingest pipelines: a FIXED set of bloom files + one
  * meta file beside a bucketed index table, each sketch covering the long
  * keys of one bucket, so sidecar file count is constant over the table's
  * lifetime.
  *
  * Contracts (identical for every kind, pinned by CorpusIngestSpec and
  * FuzzyIngestSpec):
  * - FP-only: sketches are written BEFORE the rows they cover
  *   (bloom-ahead) and only ever gain bits; a crash can cause false
  *   "probable" routes to the authoritative join, never a false
  *   "definitely new".
  * - Replay-safe: [[merge]] no-ops when `lastBatch == batchId`.
  * - Saturation is per bucket: an over-capacity bucket's bank entry is
  *   null and probes `true`; every other bucket stays live.
  * - The probe is ONE codegen expression over a torrent-broadcast
  *   [[BloomBank]] ([[probeFn]]) — plans carry a handle, not bytes.
  */
private[streaming] object BloomSidecar {

  /** Per-key false-positive rate. 1e-4 (≈19 bits/key, 2× the classic 1%
    * sizing) is chosen so the ALL-miss skip actually fires at realistic
    * micro-batch sizes: P(skip) = (1-fpp)^batchKeys ≈ 0.97 for a 300-key
    * batch and 0.37 at 10^4 keys, vs 0.04 / ~0 at 1% — the whole-table
    * skip is the sketch's highest-value outcome, worth the bits.
    */
  private val Fpp = 1e-4

  /** In-memory mirror of a sidecar dir: one bloom + insert count per
    * bucket, one shared capacity, and the last batch merged.
    */
  case class State(capacity: Long, lastBatch: Long,
      counts: Map[Int, Long], blooms: Map[Int, BloomFilter]) {
    def saturated(bkt: Int): Boolean = counts.getOrElse(bkt, 0L) > capacity
  }

  private def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  private def fs(s: SparkSession, dir: String) =
    new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Build one bloom (+ insert count) per bucket from a keyed frame
    * (columns `__b` int bucket, `__k` long key), EXECUTOR-side: only the
    * ≤ numBuckets serialized sketches cross to the driver — never the
    * keys — so this is safe for inputs of any size.
    *
    * The FIXED `numBuckets`-way repartition is deliberate, unlike the
    * coalescable rebalances that stage the ingest writes: it keeps each
    * bucket alone in its task, so a task builds one sketch (up to ~10 MB
    * at the store's `MaxBucketCapacity` on the index-sized [[rebuild]]
    * path) and at most `numBuckets` sketches reach the driver. Coalescing
    * would put several buckets' sketches in one task's memory at once; a
    * count-free variant saved a median 1.9% of ingest CPU on the
    * micro-batch path (EXPLAINS.md "Batch-sized staged writes"), not
    * worth losing the bound.
    */
  def buildBucketBlooms(keyed: DataFrame, capacity: Long,
      numBuckets: Int): Map[Int, (BloomFilter, Long)] = {
    val sp = keyed.sparkSession
    import org.apache.spark.sql.functions.col
    import sp.implicits._
    val parts = keyed
      .select(col("__b"), col("__k"))
      .repartition(numBuckets, col("__b"))
      .as[(Int, Long)]
      .mapPartitions { it =>
        val acc = mutable.Map.empty[Int, (BloomFilter, Long)]
        it.foreach { case (bkt, k) =>
          val (bf, n) = acc.getOrElseUpdate(bkt,
            (BloomFilter.create(capacity, Fpp), 0L))
          bf.putLong(k)
          acc(bkt) = (bf, n + 1)
        }
        acc.iterator.map { case (bkt, (bf, n)) =>
          val bos = new ByteArrayOutputStream(); bf.writeTo(bos)
          (bkt, bos.toByteArray, n)
        }
      }.collect()
    parts.groupBy(_._1).map { case (bkt, arr) =>
      val bfs = arr.map(x => BloomFilter.readFrom(new ByteArrayInputStream(x._2)))
      bkt -> (bfs.reduce { (a, c) => a.mergeInPlace(c); a }, arr.map(_._3).sum)
    }
  }

  /** In-session cache of loaded sidecar state, keyed by dir and validated
    * against the meta file's (mtime, length) on every [[load]] — ONE
    * getFileStatus instead of 17 file reads per micro-batch when nothing
    * changed. External changes (a test deleting the sidecar, a compaction
    * rebuild, another driver's merge) replace or remove `_meta` — meta is
    * written LAST (the commit record) — so a changed status always forces
    * a reload. Staleness within one status check is covered by the
    * pipelines' declared single-writer contract (the same scope as the
    * compaction intent log); [[write]] refreshes the entry with exactly
    * what it just committed, and a crash between an in-place merge and
    * its write leaves the cached sketches with EXTRA bits only — FP-only,
    * per the sidecar contract.
    */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, State)]()

  /** Diagnostics: [[load]] calls served from the cache (spec-observable;
    * not part of any query contract).
    */
  private[streaming] val cacheHits = new java.util.concurrent.atomic.AtomicLong

  private def metaStatus(f: org.apache.hadoop.fs.FileSystem,
      metaPath: Path): Option[(Long, Long)] =
    try {
      val st = f.getFileStatus(metaPath)
      Some((st.getModificationTime, st.getLen))
    } catch { case _: java.io.FileNotFoundException => None }

  /** Sidecar state, or None when no usable per-bucket state exists (fresh
    * table, deleted sidecar, partial layout) — callers then take their
    * always-correct join and a compaction rebuild restores the sketches.
    */
  def load(s: SparkSession, dir: String, numBuckets: Int): Option[State] = {
    val f = fs(s, dir)
    val metaPath = new Path(dir, "_meta")
    val preStat = metaStatus(f, metaPath) match {
      case None => cache.remove(dir); return None
      case Some((mt, len)) =>
        val hit = cache.get(dir)
        if (hit != null && hit._1 == mt && hit._2 == len &&
            hit._3.blooms.size == numBuckets) {
          cacheHits.incrementAndGet()
          return Some(hit._3)
        }
        (mt, len)
    }
    if (!f.exists(metaPath)) return None
    val in = f.open(metaPath)
    val meta = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    finally in.close()
    val capacity = meta("capacity").toLong
    val lastBatch = meta("lastBatch").toLong
    val counts = (0 until numBuckets)
      .map(i => i -> meta.getOrElse(s"count.$i", "0").toLong).toMap
    val blooms = (0 until numBuckets).map { i =>
      val p = new Path(dir, f"bucket_$i%02d.bloom")
      if (!f.exists(p)) return None // partial sidecar: unusable, fall back
      val bin = f.open(p)
      try i -> BloomFilter.readFrom(bin) finally bin.close()
    }.toMap
    val st = State(capacity, lastBatch, counts, blooms)
    // Key the entry by the PRE-read stat, and only cache when a re-stat
    // confirms nothing moved while we were reading (ADVICE r11 medium):
    // keying by the post-read stat would pin a torn read — sketches from
    // before a foreign commit, status from after — under the NEW key,
    // serving stale blooms (false NEGATIVES) on every later load. With
    // the pre-read key, a writer landing mid-read changes the re-stat →
    // we skip caching and the next load re-reads under the fresh status.
    // Residual window (mtime-granularity same-length rewrite) remains
    // covered by the declared single-writer contract only.
    if (metaStatus(f, metaPath).contains(preStat))
      cache.put(dir, (preStat._1, preStat._2, st))
    Some(st)
  }

  /** Write the full per-bucket state: blooms via temp-file + rename (a
    * reader never sees a torn sketch), meta LAST (meta is the state's
    * commit record — a crash mid-write leaves blooms that only GAINED
    * bits plus a stale meta, both FP-only).
    */
  def write(s: SparkSession, dir: String, numBuckets: Int, st: State): Unit = {
    val f = fs(s, dir)
    val d = new Path(dir)
    f.mkdirs(d)
    st.blooms.foreach { case (i, bf) =>
      val tmp = new Path(d, f"bucket_$i%02d.bloom.tmp")
      val dst = new Path(d, f"bucket_$i%02d.bloom")
      val out = f.create(tmp, true)
      try bf.writeTo(out) finally out.close()
      f.delete(dst, false)
      if (!f.rename(tmp, dst)) sys.error(s"bloom sidecar rename failed: $dst")
    }
    val meta = new StringBuilder()
    meta ++= s"version=2\ncapacity=${st.capacity}\nlastBatch=${st.lastBatch}\n"
    (0 until numBuckets).foreach { i =>
      meta ++= s"count.$i=${st.counts.getOrElse(i, 0L)}\n"
    }
    val tmp = new Path(d, "_meta.tmp"); val dst = new Path(d, "_meta")
    val out = f.create(tmp, true)
    try out.write(meta.toString.getBytes("UTF-8")) finally out.close()
    f.delete(dst, false)
    if (!f.rename(tmp, dst)) sys.error(s"bloom meta rename failed: $dst")
    // refresh the in-session cache with exactly what was committed
    metaStatus(f, dst).foreach { case (mt, len) =>
      cache.put(dir, (mt, len, st))
    }
  }

  /** Merge a batch's keys (`__b`, `__k` frame) into the sketches
    * (bloom-ahead of the row write). No-ops on a replay and when the
    * table exists without per-bucket state (compaction is the rebuild
    * path); creates the state on a FRESH table.
    */
  def merge(s: SparkSession, dir: String, numBuckets: Int, batchId: Long,
      keyed: DataFrame, st: Option[State], tableExists: Boolean,
      defaultCapacity: Long): Unit =
    st match {
      case Some(bs) if bs.lastBatch == batchId => ()
      case Some(bs) =>
        val contrib = buildBucketBlooms(keyed, bs.capacity, numBuckets)
        val blooms = (0 until numBuckets).map { i =>
          val base = bs.blooms(i)
          contrib.get(i).foreach { case (bf, _) => base.mergeInPlace(bf) }
          i -> base
        }.toMap
        val counts = (0 until numBuckets).map { i =>
          i -> (bs.counts.getOrElse(i, 0L) + contrib.get(i).map(_._2).getOrElse(0L))
        }.toMap
        write(s, dir, numBuckets, State(bs.capacity, batchId, counts, blooms))
      case None if !tableExists =>
        val contrib = buildBucketBlooms(keyed, defaultCapacity, numBuckets)
        val blooms = (0 until numBuckets).map(i =>
          i -> contrib.get(i).map(_._1)
            .getOrElse(BloomFilter.create(defaultCapacity, Fpp))).toMap
        val counts = (0 until numBuckets).map(i =>
          i -> contrib.get(i).map(_._2).getOrElse(0L)).toMap
        write(s, dir, numBuckets, State(defaultCapacity, batchId, counts, blooms))
      case None => ()
    }

  /** Full rebuild from the current table content (the compaction path):
    * capacity = 2× the largest bucket population, floored at
    * `defaultCapacity`, capped at `maxCapacity` — clears accumulated
    * saturation.
    */
  def rebuild(s: SparkSession, dir: String, numBuckets: Int,
      keyed: DataFrame, lastBatch: Long, defaultCapacity: Long,
      maxCapacity: Long): Unit = {
    import org.apache.spark.sql.functions.col
    val pops = keyed.groupBy(col("__b")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val capacity = math.min(
      math.max(pops.values.foldLeft(0L)(math.max) * 2, defaultCapacity),
      maxCapacity)
    val built = buildBucketBlooms(keyed, capacity, numBuckets)
    val blooms = (0 until numBuckets).map(i =>
      i -> built.get(i).map(_._1)
        .getOrElse(BloomFilter.create(capacity, Fpp))).toMap
    write(s, dir, numBuckets, State(capacity, lastBatch,
      pops.withDefaultValue(0L), blooms))
  }

  /** The codegen probe — see [[BloomBankProbe]] — as a FACTORY over one
    * shared broadcast bank (r13): a batch that probes the sketches in two
    * plan shapes — e.g. a scalar any-band column inside an aggregate AND
    * an exploded (band,bh) filter — would otherwise torrent-broadcast the
    * same bank once per shape. `bucket`/`key` MUST be the same
    * expressions the bank was built by.
    */
  def probeFn(s: SparkSession, st: State,
      numBuckets: Int): (Column, Column) => Column = {
    val bytes = (0 until numBuckets).map { i =>
      if (st.saturated(i)) null else serialize(st.blooms(i))
    }.toArray
    val bank = s.sparkContext.broadcast(new BloomBank(bytes))
    (bucket, key) => BloomBankProbe(bucket, key, bank)
  }
}
