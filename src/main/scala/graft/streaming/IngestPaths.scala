package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Canonical state-directory identity for the ingest pipelines' catalog
  * object names (manifest/sig/band tables, staging views).
  *
  * Why not `String.hashCode` of the raw dir (the pre-r11 scheme, ADVICE
  * r10): `/a/b` vs `/a/b/` vs a relative alias are one physical location
  * but three raw strings — three catalog tables over one manifest — and a
  * 32-bit hash of two DISTINCT dirs can collide, silently resolving one
  * pipeline's table onto the other's LOCATION. Canonicalizing through the
  * path's own Hadoop FileSystem (`makeQualified` resolves scheme,
  * authority, working dir, and `.`/`..`) makes aliases converge, and a
  * 48-bit md5 prefix makes cross-dir collision negligible (~1e-7 at 10k
  * concurrent state dirs vs ~1% at 10k for 32-bit).
  */
private[streaming] object IngestPaths {

  /** The fully-qualified URI string of `dir` under its own filesystem. */
  def canonical(s: SparkSession, dir: String): String = {
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.makeQualified(p).toUri.toString
  }

  /** 12-hex-char md5 prefix of the canonical URI — the identity suffix
    * for every catalog object derived from this state dir.
    */
  def digest(s: SparkSession, dir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(canonical(s, dir).getBytes(StandardCharsets.UTF_8))
      .take(6).map(b => f"$b%02x").mkString
  }

  /** `dir`'s own FileSystem and path. */
  def fsOf(s: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
  }

  /** First data file under `p`, if any: the cheap existence test and
    * layout sniff (a dir holding only a job's `_SUCCESS` marker, or an
    * in-flight `.tmp`, holds no index yet).
    */
  def firstDataFile(fs: FileSystem, p: Path): Option[String] = {
    if (!fs.exists(p)) return None
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val n = it.next().getPath.getName
      if (n.startsWith("part-") && !n.endsWith(".tmp")) return Some(n)
    }
    None
  }

  // ---------------------------------------------------------------------
  // Compaction intent log — shared by every ingest pipeline
  // ---------------------------------------------------------------------

  /** The compaction INTENT record for a state dir: a one-entry redo log
    * making compact crash-atomic (ADVICE r11). Written durably
    * (tmp+rename) before compaction touches any state, cleared after the
    * last step; every serving entry point rolls a pending record forward
    * first. The underscore prefix keeps the file invisible to parquet's
    * FileIndex, so it may live inside a table directory.
    */
  def markerPath(dir: String): Path = new Path(dir, "_compact_pending")

  def writeMarker(s: SparkSession, dir: String, upToBatch: Long): Unit = {
    val dst = markerPath(dir)
    val fs = dst.getFileSystem(s.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir, "_compact_pending.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"upToBatch=$upToBatch\n".getBytes(StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst)) sys.error(s"compact marker rename failed: $dst")
  }

  def readMarker(s: SparkSession, dir: String): Option[Long] = {
    val p = markerPath(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    txt.linesIterator.map(_.split("=", 2))
      .collectFirst { case Array("upToBatch", v) => v.trim.toLong }
  }

  def clearMarker(s: SparkSession, dir: String): Unit = {
    val p = markerPath(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, false)
  }

  /** Run a compaction `body(upToBatch)` inside its intent record: the
    * marker is durable before the body touches state and cleared after
    * it returns, so a crash in between is completed by [[rollForward]].
    */
  def compactMarked(s: SparkSession, dir: String, upToBatch: Long)(
      body: Long => Unit): Unit = {
    writeMarker(s, dir, upToBatch)
    body(upToBatch)
    clearMarker(s, dir)
  }

  /** Complete a crashed compaction of table `tbl` (no-op without a
    * pending marker) by re-running its idempotent `body(upToBatch)`.
    * The roll-forward is a WRITE reachable from pure readers, so it takes
    * the writer lease first: a crashed writer's expired lease is stolen,
    * a LIVE foreign writer's refused loudly (that writer clears the
    * marker itself). A lease this call took is released afterwards, so a
    * reader never blocks the replacement writer for a TTL; a writer that
    * already owned it keeps it.
    */
  def rollForward(s: SparkSession, dir: String, tbl: String)(
      body: Long => Unit): Unit =
    readMarker(s, dir).foreach { upToBatch =>
      val ownedBefore = readLease(s, dir).exists(_._1 == leaseOwner)
      acquireLease(s, dir)
      try {
        if (s.catalog.tableExists(tbl)) {
          s.catalog.refreshTable(tbl)
          body(upToBatch)
        }
        clearMarker(s, dir)
      } finally if (!ownedBefore) releaseLease(s, dir)
    }

  // ---------------------------------------------------------------------
  // Writer lease — the multi-writer guard (VERDICT r11 item 5)
  // ---------------------------------------------------------------------

  /** Lease TTL config key (ms). A writer that has not touched the state
    * dir for longer than this is presumed dead and its lease stealable.
    */
  val LeaseTtlConf = "spark.graft.ingest.leaseTtlMs"
  val DefaultLeaseTtlMs = 15L * 60L * 1000L

  /** This process's writer identity. One UUID per JVM: the single-writer
    * contract is per writer PROCESS (a streaming query's micro-batches and
    * its auto-compactions share the lease; two driver JVMs do not).
    */
  private[streaming] val leaseOwner: String =
    java.util.UUID.randomUUID().toString

  /** SIBLING of the state dir (like the `_bloom` sidecar), never inside
    * it: the reconcile paths infer state from the dir's existence, which
    * an early lease write must not fabricate.
    */
  def leasePath(dir: String): Path =
    new Path(new Path(dir).toString + "_lease")

  private def writeLease(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      owner: String): Unit = {
    val dst = leasePath(dir)
    val tmp = new Path(dst.toString + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(s"owner=$owner\nts=${System.currentTimeMillis()}\n"
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst)) sys.error(s"writer lease rename failed: $dst")
  }

  private[streaming] def readLease(s: SparkSession,
      dir: String): Option[(String, Long)] = {
    val p = leasePath(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val kv = txt.linesIterator.map(_.split("=", 2))
      .collect { case Array(k, v) => k -> v.trim }.toMap
    // a corrupt/truncated lease (torn write on a store without atomic
    // rename) parses to None — treated as ABSENT by acquireLease, so it
    // gets overwritten instead of bricking every reader and writer with
    // a NumberFormatException (r12 review)
    for (o <- kv.get("owner"); t <- kv.get("ts");
         tl <- scala.util.Try(t.toLong).toOption) yield (o, tl)
  }

  /** Acquire or refresh this process's writer lease on `dir`, failing
    * LOUDLY when another live writer holds it (ADVICE r11 / VERDICT r11
    * item 5: two sessions interleaving ingest/compact on one state dir
    * previously raced silently — the declared single-writer contract is
    * now asserted, not assumed). Best-effort by design: a cooperative
    * guard over a filesystem without compare-and-swap can narrow the
    * interleaving window to one stat-to-rename race, not remove it; a
    * transaction-log table format is the airtight fix.
    *
    * Protocol per writing operation (ingest batch, compaction):
    * absent → create; ours → refresh ts; foreign+fresh → throw; foreign+
    * expired (> [[LeaseTtlConf]] since its last refresh) → steal, so a
    * crashed writer never bricks the table.
    */
  def acquireLease(s: SparkSession, dir: String): Unit = {
    // The one chokepoint every ingest-family write passes through — the
    // right place to catch a bare-session EMBEDDER (no graft main, no
    // GraftExtensions registration) on a JVM missing Spark's JDK-17
    // module options, BEFORE it holds a lease it will die mid-batch with.
    graft.JvmGuard.assertSparkModuleAccess()
    val fs = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    val ttl = s.conf.getOption(LeaseTtlConf).map(_.toLong)
      .getOrElse(DefaultLeaseTtlMs)
    readLease(s, dir) match {
      case None => writeLease(fs, dir, leaseOwner)
      case Some((owner, _)) if owner == leaseOwner =>
        writeLease(fs, dir, leaseOwner) // refresh
      case Some((owner, ts)) =>
        val age = System.currentTimeMillis() - ts
        if (age <= ttl)
          throw new IllegalStateException(
            s"state dir $dir is held by writer $owner " +
              s"(lease ${age}ms old, ttl ${ttl}ms). Concurrent writers " +
              "would interleave compaction with appends and corrupt the " +
              "manifest; stop the other writer or, if it is dead, wait " +
              s"out the ttl / delete ${leasePath(dir)}.")
        writeLease(fs, dir, leaseOwner) // expired: steal
    }
  }

  /** Orderly lease handover: delete OUR lease (a foreign lease is left
    * untouched). Safe to call when no lease exists.
    */
  def releaseLease(s: SparkSession, dir: String): Unit = {
    val p = leasePath(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (readLease(s, dir).exists(_._1 == leaseOwner)) fs.delete(p, false)
  }

  /** The rows-written metric of an eagerly-executed INSERT (r20): the
    * write job's own BasicWriteJobStatsTracker count, read from the
    * DataWritingCommandExec inside the CommandResultExec wrapper (the
    * wrapper's OWN numOutputRows is 0 — a command returns no rows).
    * None when the plan shape is unrecognized, so callers keep a
    * count-the-frame fallback instead of trusting a missing metric.
    */
  def writtenRows(inserted: org.apache.spark.sql.DataFrame): Option[Long] = {
    val root = inserted.queryExecution.executedPlan
    val cmd = root match {
      case c: org.apache.spark.sql.execution.CommandResultExec =>
        c.commandPhysicalPlan
      case other => other
    }
    cmd.collectFirst {
      case w: org.apache.spark.sql.execution.command.DataWritingCommandExec
          if w.metrics.contains("numOutputRows") =>
        w.metrics("numOutputRows").value
    }
  }
}
