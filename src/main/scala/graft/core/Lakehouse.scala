package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The MUTATION half of the [[Layout]] lake table: row-level deletes,
  * keyed upserts, generation time travel, rollback, and the compaction
  * that applies it all physically — without ever rewriting resident
  * data on the write path.
  *
  * Why this exists at 100 TB: a training-data lake is append-mostly,
  * but takedowns are not optional — a right-to-be-forgotten request,
  * a licensing retraction, or a contamination finding must remove
  * specific ROWS from a table whose rewrite costs a full 100 TB pass.
  * The lakehouse answer (Iceberg/Delta positional delete vectors) is
  * merge-on-read: record `(file, row_index)` tombstones in a side
  * directory, subtract them at scan time, and fold them into the data
  * only when a scheduled compaction rewrites the table anyway.
  *
  * The mechanics are Spark-native: every file-source row already
  * carries its physical address as the hidden `_metadata.file_path` /
  * `_metadata.row_index` columns, so a tombstone is just that pair
  * projected from the rows a predicate matched. Files are immutable
  * (appends create new files; [[compact]] lands a fresh base and flips
  * the commit), so a recorded position stays valid until the file
  * itself is replaced — and replacement ([[compact]],
  * [[Layout.maintainLayout]]'s rebuild) clears the tombstone set it
  * folded in.
  *
  * Scan cost model: tombstones name their FILES, so [[scan]] splits
  * the read — files with no tombstones stream through UNTOUCHED (no
  * metadata columns, no join; at 100 TB this is almost all of them),
  * and only the touched files pay a broadcast anti-join probe (the
  * tombstone set is broadcast while its on-disk size stays under
  * [[broadcastTombstoneBytes]]; past that the join falls back to a
  * shuffle and [[deleteDebt]] says it is compaction time). The split
  * file list passes through the driver — FILE-count-bounded, the same
  * bound [[Layout.prunedScan]] already rides.
  *
  * Snapshot model: generation-managed layouts ([[Layout.appendGeneration]]
  * / [[Layout.appendZorderedStream]]) get time travel for free — data
  * files carry their generation in the name, and each tombstone is
  * stamped with the table's max generation at delete time. A snapshot
  * at generation g is "data files with gen ≤ g minus tombstones
  * stamped ≤ g" ([[scanAsOf]]); [[rollback]] makes a snapshot
  * permanent by de-committing everything stamped later. Snapshot
  * granularity is the generation: deletes issued while the table sat
  * at generation g fold into g's snapshot. Base files written before
  * any generation (plain `part-*`) belong to every snapshot.
  */
object Lakehouse {

  /** Tombstone columns: data-file NAME (not full path — the layout dir
    * is flat and relocatable), row index within it, and the table
    * generation the delete folded into. */
  val FileCol = "__file"
  val PosCol = "__pos"
  val GenCol = "__gen"

  /** Tombstone files carry exactly (__file, __pos, __gen) — a fixed
    * schema, so every debt read passes it explicitly and skips the
    * footer-inference job (tombstone frames are resolved on every
    * scan/changesBetween/deleteDebt; at many-small-files debt the
    * inference listing is pure overhead). */
  private val TombstoneSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField(FileCol,
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField(PosCol,
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField(GenCol,
      org.apache.spark.sql.types.LongType)))

  /** Tombstone sets at or under this on-disk size are broadcast into
    * the scan's anti-join (a per-row hash probe, no shuffle of the
    * data side). Past it the anti-join shuffles both sides — correct,
    * but a signal the debt should be compacted away. */
  val broadcastTombstoneBytes: Long = 64L << 20

  /** Tombstone files are sharded past this many rows per output file
    * (a bulk retraction matching ~10⁹ rows must not funnel one write
    * task); takedown-sized deletes still land as one file. */
  val tombstoneRowsPerFile: Long = 1L << 24

  def deletesDir(path: String): String = s"${path}_deletes"

  // ------------------------------------------------------------------
  // Writer concurrency: the mutation surface (deleteWhere /
  // deleteMatching / upsertByKey / compact / rollback and the streamed
  // forms' per-batch bodies) is SINGLE-WRITER per table. The mechanics
  // are racy without it: two writers that both read [[currentGen]]
  // land the SAME generation, and [[Layout.appendGeneration]]'s
  // replay rule (correct under a single stream's redeliveries) then
  // silently de-commits the other writer's freshly landed rows. Every
  // public mutator therefore serializes through [[withTableLock]] — a
  // best-effort lease file under `<path>_lock`. Best-effort means: on
  // a filesystem with atomic create-if-absent (HDFS, local) two
  // in-flight writers serialize or the loser raises loudly after
  // `waitMs`; on an eventually-consistent object store the
  // token-readback narrows but cannot close the race window — there,
  // front the table with a real coordination service and treat the
  // lease as defense in depth (docs/layout.md#concurrency). Readers
  // never take the lock.
  // ------------------------------------------------------------------

  /** Run `body` holding the table's writer lease. Acquisition creates
    * `<path>_lock/lease` with create-if-absent, writes a fresh token,
    * reads it back, and proceeds only if its own token won (the
    * readback closes most of the check-then-create window on local
    * filesystems). A lease older than `leaseMs` is presumed crashed
    * and taken over (stale-lease takeover — a writer that dies without
    * releasing never wedges the table); a LIVE holder keeps its lease
    * fresh with a daemon heartbeat touching the file every
    * `leaseMs / 3`, so a legitimately long mutation (a 100 TB compact
    * runs hours) is never usurped mid-write just for outliving the
    * window. Raises after `waitMs` without acquisition instead of
    * mutating unlocked. If the heartbeat ever finds the lease carrying
    * someone else's token (this process was paused past the whole
    * window and usurped), the call RAISES after the body instead of
    * reporting clean success — the two writers' files may have
    * interleaved and the table should be health-checked/compacted.
    * NOT reentrant: lock only at the public mutator grain. */
  def withTableLock[T](spark: SparkSession, path: String,
                       leaseMs: Long = 15L * 60 * 1000,
                       waitMs: Long = 10L * 60 * 1000)(body: => T): T =
    withTableLock(new FsLeaseBackend(fs(spark, path),
      new Path(s"${path}_lock")), leaseMs, waitMs)(body)

  /** The lease PRIMITIVE [[withTableLock]] rides — a seam, because the
    * soundness of the default file-based lease is exactly as good as
    * the store's create-if-absent: near-atomic on HDFS/local (where
    * the token readback closes the remaining window), best-effort on
    * an eventually-consistent object store. A deployment with a real
    * coordination primitive (an object store's conditional-put /
    * if-none-match, a lock service, a database row) implements these
    * five operations and every mutator's serialization — takeover,
    * heartbeat, usurpation detection included — runs through it
    * unchanged. Implementations must be cheap to call repeatedly
    * (acquisition polls) and tolerate concurrent callers. */
  trait LeaseBackend {
    /** Try to create the lease holding `token`; false when held.
      * Need not be atomic — [[withTableLock]] re-reads the holder and
      * proceeds only if its own token survived. */
    def tryAcquire(token: String): Boolean
    /** The current holder's token; "" when absent or unreadable. */
    def holderToken(): String
    /** Milliseconds since the lease was last refreshed;
      * `Long.MaxValue` when absent. */
    def ageMs(): Long
    /** Refresh the lease's freshness (the holder's heartbeat). */
    def refresh(): Unit
    /** Remove the lease (release, or stale takeover). */
    def release(): Unit
    /** Remove the lease ONLY if it still carries `expectedToken` —
      * compare-and-delete; returns whether it was removed. The
      * default is read-then-delete, exactly as sound as the store's
      * point reads (on [[FsLeaseBackend]] a residual window remains:
      * the holder can change between the read and the delete — the
      * documented FS honesty level). A backend with a real CAS
      * primitive ([[CasLeaseBackend]], an object store's
      * conditional delete) overrides this ATOMICALLY, which makes the
      * stale-lease takeover sound: two contenders that both observed
      * the same stale token cannot each delete a successor's fresh
      * lease — only the first compare-and-delete fires. */
    def releaseIf(expectedToken: String): Boolean =
      if (holderToken() == expectedToken) { release(); true } else false
    /** Where the lease lives — for error messages. */
    def describe: String
  }

  /** The default backend: a lease FILE under `<path>_lock`, created
    * with create-if-absent, aged by modification time. */
  final class FsLeaseBackend(f: FileSystem, dir: Path)
      extends LeaseBackend {
    private val lease = new Path(dir, "lease")
    def tryAcquire(token: String): Boolean =
      try {
        f.mkdirs(dir)
        val out = f.create(lease, false) // fails if a writer holds it
        try out.write(token.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    def holderToken(): String =
      try {
        val in = f.open(lease)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      } catch { case _: java.io.IOException => "" }
    def ageMs(): Long =
      try {
        if (!f.exists(lease)) Long.MaxValue
        else System.currentTimeMillis() -
          f.getFileStatus(lease).getModificationTime
      } catch { case _: java.io.IOException => Long.MaxValue }
    def refresh(): Unit = f.setTimes(lease, System.currentTimeMillis(), -1L)
    def release(): Unit = { f.delete(lease, false); () }
    def describe: String = dir.toString
  }

  /** A SOUND reference backend over a true compare-and-set primitive —
    * here a process-wide atomic registry, which is exactly sound for
    * any single-process deployment (a `local[k]` engine: every writer
    * thread shares the JVM). A distributed deployment keeps the SAME
    * four transitions and maps them onto its store's conditional ops:
    *
    *  - `tryAcquire`  → S3 `PutObject` + `If-None-Match: *` / GCS
    *    `x-goog-if-generation-match: 0` / an etcd create-txn — create
    *    iff absent, atomically.
    *  - `refresh`     → conditional put with `If-Match: <read etag>` /
    *    generation-match on the holder's own object.
    *  - `releaseIf`   → conditional `DeleteObject` (`If-Match` /
    *    generation-match) — delete iff the content still carries the
    *    observed token.
    *  - `holderToken` / `ageMs` → a point read (+ LastModified).
    *
    * Every transition here is atomic on the (token, mtime) pair, so
    * the takeover interleaving [[FsLeaseBackend]] documents (two
    * contenders both observing a stale lease, the second deleting the
    * first's FRESH successor) cannot happen: the loser's
    * compare-and-delete finds the successor token and fails. `clock`
    * is injectable so the stale-takeover paths are testable without
    * real waits. */
  final class CasLeaseBackend(scope: String,
                              clock: () => Long = () =>
                                System.currentTimeMillis())
      extends LeaseBackend {
    import CasLeaseBackend._
    def tryAcquire(token: String): Boolean =
      registry.putIfAbsent(scope, Entry(token, clock())) == null
    def holderToken(): String =
      Option(registry.get(scope)).map(_.token).getOrElse("")
    def ageMs(): Long =
      Option(registry.get(scope)).map(e => clock() - e.mtime)
        .getOrElse(Long.MaxValue)
    def refresh(): Unit = {
      registry.computeIfPresent(scope,
        (_, e) => Entry(e.token, clock()))
      ()
    }
    def release(): Unit = { registry.remove(scope); () }
    override def releaseIf(expectedToken: String): Boolean = {
      val removed = new java.util.concurrent.atomic.AtomicBoolean(false)
      registry.computeIfPresent(scope, (_, e) =>
        if (e.token == expectedToken) { removed.set(true); null }
        else e)
      removed.get()
    }
    def describe: String = s"cas:$scope"
  }

  object CasLeaseBackend {
    private final case class Entry(token: String, mtime: Long)
    private val registry =
      new java.util.concurrent.ConcurrentHashMap[String, Entry]()
  }

  /** [[withTableLock]] over an explicit [[LeaseBackend]] — the form a
    * deployment with a sound coordination primitive calls (the path
    * form wraps exactly this over [[FsLeaseBackend]], and the race
    * specs exercise the mechanics through the interface). */
  def withTableLock[T](backend: LeaseBackend, leaseMs: Long,
                       waitMs: Long)(body: => T): T = {
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + waitMs
    var acquired = false
    while (!acquired) {
      // stale-lease takeover by COMPARE-AND-DELETE: read the holder we
      // believe dead FIRST, then remove only that exact lease — on a
      // CAS backend two contenders that both observed the stale token
      // cannot each delete the other's fresh successor (the loser's
      // conditional delete finds the new token and fails); on the FS
      // backend the same call narrows the window to the store's
      // read-then-delete honesty level (documented residual)
      val stale = backend.holderToken()
      val age = backend.ageMs()
      if (age != Long.MaxValue && age > leaseMs) {
        if (stale.nonEmpty) backend.releaseIf(stale)
        else backend.release() // token-less stale lease: a writer
        // crashed between creating the file and writing its token —
        // nothing to compare against, and nothing fresh to protect
      }
      // double-check: the acquire need not be atomic; proceed only if
      // OUR token survived the race
      acquired = backend.tryAcquire(token) &&
        backend.holderToken() == token
      if (!acquired) {
        require(System.currentTimeMillis() < deadline,
          s"withTableLock: could not acquire the writer lease at " +
            s"${backend.describe} within ${waitMs}ms — another writer " +
            "holds the table (mutations are single-writer; retry, or " +
            "remove a dead writer's stale lease by waiting out its " +
            "lease window)")
        Thread.sleep(100L)
      }
    }
    val usurped = new java.util.concurrent.atomic.AtomicBoolean(false)
    val stop = new java.util.concurrent.CountDownLatch(1)
    val beat = new Thread(() => {
      while (!stop.await(math.max(1L, leaseMs / 3),
          java.util.concurrent.TimeUnit.MILLISECONDS)) {
        try {
          if (backend.holderToken() == token) backend.refresh()
          else usurped.set(true)
        } catch { case _: java.io.IOException => () }
      }
    }, s"graft-lease-heartbeat-${backend.describe.hashCode}")
    beat.setDaemon(true)
    beat.start()
    val result = try body finally {
      stop.countDown()
      beat.join(1000L)
      // release only OUR lease — after a usurpation the lease is the
      // new owner's, and releasing it would cascade the race; the
      // compare-and-delete makes this atomic on a CAS backend
      if (!usurped.get()) backend.releaseIf(token)
    }
    // raised only on a CLEAN body (a body failure already propagated)
    require(!usurped.get(),
      s"withTableLock: the writer lease at ${backend.describe} was " +
        s"taken over mid-mutation (this process stalled past " +
        s"${leaseMs}ms and a contender presumed it dead) — the " +
        "mutation DID run, but another writer may have interleaved: " +
        "health-check the table (Layout.layoutHealth, " +
        "Lakehouse.deleteDebt) and compact before trusting further " +
        "snapshots")
    result
  }

  // ------------------------------------------------------------------
  // Compaction epochs + the snapshot floor ride every commit marker.
  // [[compact]] (and the [[Layout.maintainLayout]] rebuild, which IS a
  // compact) and [[rollback]] bump the epoch — generation ids are
  // reused afterwards, so any window a replica captured before it is
  // meaningless; [[changesBetween]] / [[scanAsOf]] / [[rollback]] raise
  // on an epoch mismatch instead of silently serving wrong deltas.
  // [[compactRetaining]] keeps the epoch (post-floor generations stay
  // addressable) and raises the FLOOR instead: snapshots below it are
  // expired and raise unconditionally. Epoch, floor and the live sets
  // move in ONE atomic marker rename, so no crash point separates them.
  // ------------------------------------------------------------------

  /** (compact epoch, snapshot floor) — (0, −1) for a table never
    * compacted or rolled back. Replicas capture the epoch alongside
    * their `fromGen` and pass it back to [[changesBetween]]. */
  def epochAndFloor(spark: SparkSession, path: String): (Long, Long) = {
    val c = resolve(spark, path)
    (c.epoch, c.floor)
  }

  /** The table's compaction epoch; bumped by every history-collapsing
    * rewrite. See [[epochAndFloor]]. */
  def compactEpoch(spark: SparkSession, path: String): Long =
    epochAndFloor(spark, path)._1

  /** The oldest still-addressable snapshot generation; raised by
    * [[compactRetaining]]. See [[epochAndFloor]]. */
  def snapshotFloor(spark: SparkSession, path: String): Long =
    epochAndFloor(spark, path)._2

  private def requireEpoch(c: TableCommit, asOfEpoch: Long,
                           what: String): Unit =
    require(asOfEpoch < 0 || asOfEpoch == c.epoch,
      s"$what: the caller's window was captured at compact epoch " +
        s"$asOfEpoch but the table is at epoch ${c.epoch} — a compaction " +
        "collapsed the generation history in between (ids are " +
        "reused), so the window no longer addresses what it did. " +
        "Re-sync the replica from a full scan and re-capture the " +
        "epoch (Lakehouse.compactEpoch)")

  private def requireAboveFloor(c: TableCommit, gen: Long,
                                what: String): Unit =
    require(gen >= c.floor,
      s"$what: generation $gen predates the snapshot floor ${c.floor} — " +
        "a retention-preserving compaction expired that history " +
        "(Lakehouse.compactRetaining); only snapshots at or after the " +
        "floor remain addressable")

  /** The schema with every field nullable — what a parquet round-trip
    * reads back; passing it explicitly to a re-read of our own write
    * skips the footer-inference job without risking a false
    * non-nullable promise. */
  private[graft] def nullableCopy(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      s.fields.map(_.copy(nullable = true)))

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  // ------------------------------------------------------------------
  // Version-pointer commits: a table's live state is named by a commit
  // LOG under `<path>_commit/` — the Delta/Iceberg log pattern, both
  // halves:
  //
  //  - CHECKPOINT markers `v<NNN>.json` carry the FULL live state
  //    (every data file name, every tombstone file name, epoch/floor,
  //    schema). The first commit (v1) and every compact/retention
  //    rewrite land one, plus every [[CommitCheckpointEvery]]-th
  //    version, so the replay tail stays bounded.
  //  - DELTA markers `v<NNN>.delta.json` carry only the ACTIONS of one
  //    commit — added/removed data names, added/removed tombstone
  //    names — plus the (tiny, scalar) epoch/floor/schema. A
  //    tombstone write, append, or CDC micro-batch therefore commits
  //    O(its own files), never O(table): at 100 TB / 10⁵ live files a
  //    minutes-cadence consumer no longer rewrites a multi-MB file
  //    list per mutation.
  //
  // Each marker is fully written to a tmp name and swapped in by ONE
  // atomic rename. Readers resolve max-version by replaying the
  // latest checkpoint plus its contiguous delta tail (≤
  // [[CommitCheckpointEvery]] small reads); a missing tail marker is a
  // LOUD raise, never a silent partial state — and [[vacuum]] only
  // sweeps markers strictly BELOW the newest checkpoint, so the tail
  // a reader needs is never collectible. Files themselves never move
  // after they land: a writer lands new files ALONGSIDE the old ones
  // and flips the pointer, so a long-running scan that resolved the
  // old file list keeps reading files that still exist — replaced
  // files are removed by [[vacuum]] after a grace window, never at
  // commit time, and files no commit names (a crashed writer's) are
  // invisible.
  //
  // The log is the ONLY way a table changes: every mutator first
  // [[migrateToCommit]]s under its lock. A folder with no log (a plain
  // `df.write.parquet` output, or a table written before the log) is
  // read as a listing snapshot — every parquet file in it and in its
  // `_deletes` sidecar live, epoch/floor from the legacy `<path>_epoch`
  // marker — and its first mutation persists exactly that snapshot as
  // v1 ([[resolve]]).
  //
  // ONE CALL, ONE COMMIT: every operation resolves the log once — a
  // reader through [[resolve]], a mutator through [[migrateToCommit]]
  // under its lock — and takes its data files, tombstones, schema,
  // epoch and floor from that one [[TableCommit]], handing it to every
  // helper instead of letting a helper re-resolve from the path. A
  // commit that lands mid-call (a compact racing a scan) therefore
  // cannot mix two versions into one answer: the call completes
  // against the version it resolved, whose files vacuum spares.
  // ------------------------------------------------------------------

  /** One committed table version: live file NAMES (relocatable, like
    * tombstone addresses), the compaction epoch and snapshot floor,
    * and the table schema as Spark schema-JSON (the scan schema —
    * additive evolution widens it while resident files null-fill). */
  final case class TableCommit(version: Long, data: Seq[String],
                               deletes: Seq[String], epoch: Long,
                               floor: Long, schemaJson: Option[String])

  def commitDir(path: String): String = s"${path}_commit"

  /** Checkpoint cadence: every Nth version lands as a full marker so
    * the reader's delta-replay tail never exceeds N−1 small files.
    * Compacts/retention rewrites checkpoint unconditionally (their
    * "delta" would BE the full state). Readers resolve whatever
    * checkpoint/tail structure the log holds, and vacuum keys off the
    * markers present, not this constant. */
  private[core] val CommitCheckpointEvery = 8L

  private def commitVersionOf(name: String): Long = {
    val core =
      if (name.endsWith(".delta.json")) name.stripSuffix(".delta.json")
      else if (name.endsWith(".json")) name.stripSuffix(".json")
      else return -1L
    val body = core.stripPrefix("v")
    if (core.startsWith("v") && body.nonEmpty &&
        body.forall(_.isDigit)) body.toLong
    else -1L
  }

  private def isDeltaMarker(name: String): Boolean =
    name.endsWith(".delta.json")

  private def readMarkerJson(f: FileSystem, p: Path): Map[String, Any] = {
    val in = f.open(p)
    val body = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    MiniJson.parse(body).asInstanceOf[Map[String, Any]]
  }

  /** Parsed-marker cache. A landed marker is IMMUTABLE by
    * construction — version-named, renamed in with fail-if-exists,
    * never rewritten — so its parsed body caches process-wide; the
    * key carries (mtime, length) from the listing the resolver
    * already holds, so even an out-of-band drop-and-recreate of a
    * whole table at the same path cannot serve a stale body.
    * [[readCommit]] still LISTS the log each resolve (the single
    * metadata op through which new commits become visible); warm
    * content reads cost zero further IO, so a checkpoint+tail
    * resolve is one listing instead of up to
    * [[CommitCheckpointEvery]] point reads per plan on an object
    * store. The size cap is protective only (bodies are KB-scale). */
  private val markerCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Any]]()

  private def readMarkerCached(f: FileSystem,
                               s: org.apache.hadoop.fs.FileStatus)
      : Map[String, Any] = {
    val key =
      s"${s.getPath}@${s.getModificationTime}:${s.getLen}"
    val hit = markerCache.get(key)
    if (hit != null) hit
    else {
      val m = readMarkerJson(f, s.getPath)
      if (markerCache.size > 8192) markerCache.clear()
      markerCache.put(key, m)
      m
    }
  }

  private def markerNames(m: Map[String, Any], k: String): Seq[String] =
    MiniJson.field(m, k) match {
      case Some(xs: List[_]) => xs.map(_.toString)
      case _ => Seq.empty
    }

  private def markerNum(m: Map[String, Any], k: String,
                        dflt: Long): Long =
    MiniJson.field(m, k) match {
      case Some(d: Double) => d.toLong
      case _ => dflt
    }

  /** The table's current commit — the latest checkpoint marker plus
    * its contiguous delta tail replayed in version order — or None for
    * a folder with no log (see [[resolve]]). ≤
    * [[CommitCheckpointEvery]] small marker reads; a gap in the tail
    * (an over-swept or corrupted log) raises loudly rather than
    * resolving a partial state. */
  def readCommit(spark: SparkSession, path: String): Option[TableCommit] = {
    val f = fs(spark, path)
    val dir = new Path(commitDir(path))
    if (!f.exists(dir)) return None
    val markers = f.listStatus(dir).toSeq
      .filter(s => s.isFile && commitVersionOf(s.getPath.getName) >= 0)
    if (markers.isEmpty) return None
    val byVersion = markers
      .map(s => commitVersionOf(s.getPath.getName) -> s)
      .sortBy(_._1)
    val (latestV, _) = byVersion.last
    val checkpoints =
      byVersion.filterNot(x => isDeltaMarker(x._2.getPath.getName))
    require(checkpoints.nonEmpty,
      s"readCommit: ${dir} holds only delta markers — the checkpoint " +
        "they replay over is gone (over-vacuumed or corrupted log)")
    val (baseV, baseStatus) = checkpoints.last
    val base = readMarkerCached(f, baseStatus)
    var data = markerNames(base, "data").toSet
    var dels = markerNames(base, "deletes").toSet
    var latest = base
    val tail = byVersion.filter(x => x._1 > baseV).toMap
    var v = baseV + 1
    while (v <= latestV) {
      val p = tail.getOrElse(v, throw new IllegalStateException(
        s"readCommit: delta tail gap — version $v missing between " +
          s"checkpoint $baseV and head $latestV under $dir"))
      val m = readMarkerCached(f, p)
      data = data -- markerNames(m, "removeData") ++
        markerNames(m, "addData")
      dels = dels -- markerNames(m, "removeDeletes") ++
        markerNames(m, "addDeletes")
      latest = m
      v += 1
    }
    Some(TableCommit(latestV, data.toSeq.sorted, dels.toSeq.sorted,
      markerNum(latest, "epoch", 0L), markerNum(latest, "floor", -1L),
      MiniJson.field(latest, "schema").collect { case s: String => s }))
  }

  /** Stage-and-rename a marker body in atomically: fully written to a
    * tmp name and RENAMED — readers can never observe a partial
    * commit, and the rename fails loudly if the version already exists
    * (the single-writer lock makes that a bug, not a race to resolve). */
  private def markerRenameIn(f: FileSystem, dir: Path, version: Long,
                             suffix: String, body: String): Unit = {
    f.mkdirs(dir)
    val tmp = new Path(dir, f"tmp-v$version%020d$suffix")
    val out = f.create(tmp, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = new Path(dir, f"v$version%020d$suffix")
    require(f.rename(tmp, dst),
      s"commit: rename $tmp -> $dst failed — version $version " +
        "already exists? Commits are single-writer under the table lock")
  }

  /** Land a CHECKPOINT marker for `version`: the FULL live state.
    * Compacts and retention rewrites call this directly (their data
    * set changes wholesale); incremental mutators go through
    * [[commitAdvance]], which lands O(actions) delta markers and only
    * checkpoints on cadence. Returns the landed commit. Callers hold
    * the table lock. */
  private[core] def commitWrite(spark: SparkSession, path: String,
                                version: Long, data: Seq[String],
                                deletes: Seq[String], epoch: Long,
                                floor: Long,
                                schemaJson: Option[String]): TableCommit = {
    val body = MiniJson.write(Map(
      "version" -> version, "data" -> data.sorted,
      "deletes" -> deletes.sorted, "epoch" -> epoch, "floor" -> floor,
      "schema" -> schemaJson.orNull))
    markerRenameIn(fs(spark, path), new Path(commitDir(path)), version,
      ".json", body)
    TableCommit(version, data.sorted, deletes.sorted, epoch, floor,
      schemaJson)
  }

  /** Advance a table by ONE commit, landing a marker sized
    * by the commit's ACTIONS, not the table: added/removed data names,
    * added/removed tombstone names, plus the scalar epoch/floor/schema
    * (every marker carries those in full, so the reader never chases
    * scalars through the tail). Writes a delta marker unless the
    * version hits the [[CommitCheckpointEvery]] cadence — then a full
    * checkpoint (the writer holds the resolved state in hand, so a
    * checkpoint costs no extra pass). Returns the resolved new commit
    * for callers that keep mutating. Lock-holding callers only. */
  private[core] def commitAdvance(spark: SparkSession, path: String,
                                  prior: TableCommit,
                                  addData: Seq[String] = Seq.empty,
                                  removeData: Seq[String] = Seq.empty,
                                  addDeletes: Seq[String] = Seq.empty,
                                  removeDeletes: Seq[String] = Seq.empty,
                                  epoch: Long = -1L, floor: Long = -2L,
                                  schemaJson: Option[String] = None)
      : TableCommit = {
    val version = prior.version + 1
    val newEpoch = if (epoch >= 0L) epoch else prior.epoch
    val newFloor = if (floor >= -1L) floor else prior.floor
    val newSchema = schemaJson.orElse(prior.schemaJson)
    val data = ((prior.data.toSet -- removeData) ++ addData).toSeq.sorted
    val dels =
      ((prior.deletes.toSet -- removeDeletes) ++ addDeletes).toSeq.sorted
    if (version % CommitCheckpointEvery == 0L)
      commitWrite(spark, path, version, data, dels, newEpoch, newFloor,
        newSchema)
    else {
      val body = MiniJson.write(Map(
        "version" -> version,
        "addData" -> addData.sorted,
        "removeData" -> removeData.sorted,
        "addDeletes" -> addDeletes.sorted,
        "removeDeletes" -> removeDeletes.sorted,
        "epoch" -> newEpoch, "floor" -> newFloor,
        "schema" -> newSchema.orNull))
      markerRenameIn(fs(spark, path), new Path(commitDir(path)), version,
        ".delta.json", body)
    }
    TableCommit(version, data, dels, newEpoch, newFloor, newSchema)
  }

  /** The live state of a folder with NO log: every parquet file in it
    * and in its `_deletes` sidecar, epoch/floor from the legacy
    * `<path>_epoch` marker, no recorded schema — as version 0, the
    * state [[migrateToCommit]] persists as v1. The legacy marker is
    * read only here, as migration input; its `_epoch_next` form (an
    * update that crashed after landing its new value) wins, since
    * reading the newer value errs toward a loud epoch raise. */
  private def listingSnapshot(spark: SparkSession,
                              path: String): TableCommit = {
    val f = fs(spark, path)
    val (epoch, floor) =
      Seq(s"${path}_epoch_next", s"${path}_epoch").map(new Path(_))
        .find(f.exists).map { p =>
          val in = f.open(p)
          try (in.readLong(), in.readLong()) finally in.close()
        }.getOrElse((0L, -1L))
    TableCommit(0L, parquetFiles(spark, path).map(_.getName).sorted,
      parquetFiles(spark, deletesDir(path)).map(_.getName).sorted,
      epoch, floor, None)
  }

  /** THE read resolution every reader rides: the logged commit, or the
    * [[listingSnapshot]] of a folder with no log. Called ONCE per
    * operation; everything the operation reads comes from its result. */
  private[core] def resolve(spark: SparkSession,
                            path: String): TableCommit =
    readCommit(spark, path).getOrElse(listingSnapshot(spark, path))

  /** The table's current commit, landing the [[listingSnapshot]] as v1
    * first when the folder has no log yet (an empty or missing path
    * gets an empty v1) — the schema is read from ONE footer, as
    * [[tableSchema]] does. Idempotent: every mutator calls it ONCE
    * under its lock and threads the result through everything it
    * commits. Lock-holding callers only. */
  private[core] def migrateToCommit(spark: SparkSession,
                                    path: String): TableCommit =
    readCommit(spark, path).getOrElse {
      val s = listingSnapshot(spark, path)
      val schemaJson = s.data.headOption
        .map(n => spark.read.parquet(s"$path/$n").schema.json)
      commitWrite(spark, path, 1L, s.data, s.deletes, s.epoch, s.floor,
        schemaJson)
    }

  /** The commit's LIVE data files as full paths (dead files may sit
    * alongside until [[vacuum]]). */
  private[core] def livePaths(path: String, c: TableCommit): Seq[String] =
    c.data.map(n => new Path(path, n).toString)

  /** The commit's SCAN schema: the committed schema-JSON when recorded
    * (survives additive evolution and answers even a zero-file table),
    * else ONE live file's footer (same-schema is append-enforced), else
    * empty. */
  private[core] def schemaOf(spark: SparkSession, path: String,
                             c: TableCommit)
      : org.apache.spark.sql.types.StructType =
    c.schemaJson match {
      case Some(js) =>
        org.apache.spark.sql.types.DataType.fromJson(js)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
      case None if c.data.isEmpty => new org.apache.spark.sql.types.StructType()
      case None => spark.read.parquet(s"$path/${c.data.head}").schema
    }

  /** The schema CONTRACT a batch must honor — present when the commit
    * has resident data files or a committed schema (possibly evolved,
    * possibly on a still-empty table). Appends and the keyed merge
    * check drift against it BEFORE mutating anything. */
  private[core] def schemaContract(spark: SparkSession, path: String,
                                   c: TableCommit)
      : Option[org.apache.spark.sql.types.StructType] =
    if (c.data.nonEmpty || c.schemaJson.isDefined)
      Some(schemaOf(spark, path, c))
    else None

  /** The table's SCAN schema ([[schemaOf]] its current commit). */
  def tableSchema(spark: SparkSession,
                  path: String): org.apache.spark.sql.types.StructType =
    schemaOf(spark, path, resolve(spark, path))

  private def parquetFiles(spark: SparkSession, path: String): Seq[Path] = {
    val p = new Path(path)
    val f = fs(spark, path)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
  }

  /** Generation of a data file: `gen<g>-…` names carry it; base files
    * from a plain [[Layout.zorder]] write are generation −1 (present
    * in every snapshot). */
  private[core] def genOf(name: String): Long =
    if (name.startsWith("gen")) {
      val dash = name.indexOf('-')
      if (dash > 3) {
        val digits = name.substring(3, dash)
        if (digits.nonEmpty && digits.forall(_.isDigit)) digits.toLong
        else -1L
      } else -1L
    } else -1L

  /** Max generation among the commit's data files; −1 for a table
    * with only base files. New tombstones are stamped with this. */
  private def maxGen(c: TableCommit): Long =
    c.data.map(genOf).foldLeft(-1L)(math.max)

  /** [[maxGen]] of the table's current commit. */
  def currentGen(spark: SparkSession, path: String): Long =
    maxGen(resolve(spark, path))

  /** The commit's tombstones stamped at or before `maxGen`. */
  private def tombstoneFrame(spark: SparkSession, path: String,
                             c: TableCommit,
                             maxGen: Long = Long.MaxValue)
      : Option[DataFrame] = {
    val files = c.deletes.filter(n => delGenOf(n) <= maxGen)
      .map(n => new Path(deletesDir(path), n).toString)
    if (files.isEmpty) None
    else Some(spark.read.schema(TombstoneSchema).parquet(files: _*)
      .filter(col(GenCol) <= maxGen)
      .select(FileCol, PosCol))
  }

  /** Generation stamp in a tombstone file name `del<g>-<seq>.parquet`;
    * −1 base-gen deletes are written as `del-1-<seq>` and parse back. */
  private[core] def delGenOf(name: String): Long = {
    val body = name.stripPrefix("del").stripSuffix(".parquet")
    val dash = body.lastIndexOf('-')
    if (dash <= 0) -1L else body.substring(0, dash).toLong
  }

  /** Rows the delete side has recorded against live files — the
    * merge-on-read debt every [[scan]] pays and [[compact]] clears.
    * Tombstone storage is debt-row-bounded, never table-bounded. */
  def deleteDebt(spark: SparkSession, path: String): Long =
    debtOf(spark, path, resolve(spark, path))

  private def debtOf(spark: SparkSession, path: String,
                     c: TableCommit): Long =
    tombstoneFrame(spark, path, c).map(_.count()).getOrElse(0L)

  /** Whether the commit's tombstone set is small enough on disk
    * ([[broadcastTombstoneBytes]]) to broadcast into an anti-join. */
  private def tombstonesBroadcastable(spark: SparkSession, path: String,
                                      c: TableCommit): Boolean = {
    val f = fs(spark, path)
    c.deletes.map(n => f.getFileStatus(new Path(deletesDir(path), n))
      .getLen).sum <= broadcastTombstoneBytes
  }

  /** Read `files` minus the commit's tombstones stamped at or before
    * `maxGen`, with the clean-file split: files no tombstone names are
    * read bare (no metadata, no join); touched files ride a left-anti
    * join on (file, pos), broadcast while the debt is small. Empty
    * `files` → empty frame with `schema`. */
  private def readMinus(spark: SparkSession, path: String, c: TableCommit,
                        files: Seq[String],
                        schema: org.apache.spark.sql.types.StructType,
                        maxGen: Long = Long.MaxValue): DataFrame = {
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    tombstoneFrame(spark, path, c, maxGen) match {
      case None => spark.read.schema(schema).parquet(files: _*)
      case Some(ts) =>
        // file-count-bounded driver list: which files have debt at all
        val touchedNames = ts.select(FileCol).distinct()
          .collect().map(_.getString(0)).toSet
        val (touched, clean) =
          files.partition(f => touchedNames.contains(fileName(f)))
        val cleanDf =
          if (clean.isEmpty) None
          else Some(spark.read.schema(schema).parquet(clean: _*))
        val touchedDf =
          if (touched.isEmpty) None
          else {
            val keyed = spark.read.schema(schema).parquet(touched: _*)
              .withColumn(FileCol,
                element_at(split(col("_metadata.file_path"), "/"), -1))
              .withColumn(PosCol, col("_metadata.row_index"))
            val side =
              if (tombstonesBroadcastable(spark, path, c)) broadcast(ts)
              else ts
            Some(keyed.join(side, Seq(FileCol, PosCol), "left_anti")
              .drop(FileCol, PosCol))
          }
        (cleanDf, touchedDf) match {
          case (Some(cl), Some(t)) => cl.unionByName(t)
          case (Some(cl), None) => cl
          case (None, Some(t)) => t
          case (None, None) =>
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        }
    }
  }

  private def fileName(path: String): String = {
    val i = path.lastIndexOf('/')
    if (i < 0) path else path.substring(i + 1)
  }

  /** The table's LIVE rows: every data file minus the recorded
    * tombstones (merge-on-read). With no delete debt this is a plain
    * parquet scan — the read path costs nothing until a delete exists,
    * and after one it costs a broadcast probe on only the files the
    * debt names. */
  def scan(spark: SparkSession, path: String): DataFrame =
    scanOf(spark, path, resolve(spark, path))

  private def scanOf(spark: SparkSession, path: String,
                     c: TableCommit): DataFrame =
    readMinus(spark, path, c, livePaths(path, c), schemaOf(spark, path, c))

  /** The manifest must name EXACTLY the commit's live files: replaced
    * files linger on disk until vacuum, so a stale manifest (a crash
    * between a commit and its manifest rebuild) would silently serve
    * dead data — raise instead. Compares file NAMES (manifests record
    * build-time paths; tables relocate). Shared by both pruned scans. */
  private[core] def requireManifestLive(path: String, c: TableCommit,
                                        manifest: DataFrame): Unit = {
    val live = c.data.toSet
    val manifested = manifest.select("__file").collect()
      .map(r => fileName(r.getString(0))).toSet
    require(manifested == live,
      s"prunedScan: the manifest at ${path}_manifest names " +
        s"${(manifested -- live).size} dead and misses " +
        s"${(live -- manifested).size} live files — it predates the " +
        "table's current commit (a crashed rewrite?). Run " +
        "Lakehouse.recover and rebuild with Layout.writeManifest")
  }

  /** [[Layout.prunedScan]] with the delete debt applied: resolve the
    * box against the manifest (file-count-sized), subtract tombstones
    * from only the kept files, re-apply the predicate. Manifest stats
    * are write-time stats — a file whose live rows no longer reach the
    * recorded min/max still prunes soundly (over-selection only). */
  def prunedScan(spark: SparkSession, path: String,
                 box: Seq[(String, Column, Column)]): DataFrame = {
    require(box.nonEmpty, "prunedScan needs a box predicate")
    val manifest = spark.read.parquet(s"${path}_manifest")
    val kept = Layout.pruneFiles(manifest, box)
      .select("__file").collect().map(r => r.getString(0))
    val c = resolve(spark, path)
    requireManifestLive(path, c, manifest)
    val pred = box.map { case (cn, lo, hi) => col(cn).between(lo, hi) }
      .reduce(_ && _)
    readMinus(spark, path, c, kept.toSeq, schemaOf(spark, path, c))
      .filter(pred)
  }

  /** Tombstone every LIVE row matching `cond`; returns how many rows
    * were newly tombstoned. One pass over the table (filter + project
    * of the hidden address columns — at 100 TB, schedule takedowns in
    * batches so many requests share the pass); rows already tombstoned
    * are skipped, so re-running the same predicate is a no-op writing
    * nothing. The tombstone lands as ONE deterministic-named
    * generation-stamped file (`del<g>-<seq>.parquet`; sharded past
    * [[tombstoneRowsPerFile]] rows). Single-writer: serialized through
    * [[withTableLock]]. */
  def deleteWhere(spark: SparkSession, path: String, cond: Column,
                  rowsPerFile: Long = tombstoneRowsPerFile): Long =
    withTableLock(spark, path) {
      val c = migrateToCommit(spark, path)
      if (c.data.isEmpty) 0L
      else {
        val hits = spark.read.schema(schemaOf(spark, path, c))
          .parquet(livePaths(path, c): _*).filter(cond)
          .select(element_at(split(col("_metadata.file_path"), "/"), -1)
            .as(FileCol),
            col("_metadata.row_index").as(PosCol))
        writeTombstones(spark, path, c, hits, rowsPerFile)._1
      }
    }

  /** Tombstone live rows whose `keyCol` appears in `keys` — the bulk
    * takedown path (a checksum/id retraction list joined, not a
    * predicate). `keys` may be any size: the join is a left-semi on
    * the key, planned like any other join (broadcast when small).
    * Single-writer: serialized through [[withTableLock]]. */
  def deleteMatching(spark: SparkSession, path: String,
                     keys: DataFrame, keyCol: String,
                     rowsPerFile: Long = tombstoneRowsPerFile): Long =
    withTableLock(spark, path) {
      val c = migrateToCommit(spark, path)
      deleteMatchingIn(spark, path, c, livePaths(path, c), keys, keyCol,
        rowsPerFile)._1
    }

  /** A retraction batch at or under this many distinct keys probes the
    * Bloom membership manifest (when one exists) to bound its table
    * pass to the files that might hold a batch key — the CDC upsert
    * case, where a small update batch must not pay a full key-column
    * pass per micro-batch. Past it the pass stays full (the probe is
    * per-key per-manifest-row; a retraction-list join beats it). */
  val bloomRetractionMaxKeys: Int = 4096

  /** Narrow a retraction's file set through `<path>_bloom_<keyCol>`:
    * keep files whose sketch might hold ANY batch key, plus files
    * absent from the manifest (appended after it — staleness degrades
    * the skip, never correctness, exactly [[pointLookup]]'s contract).
    * Applies only when the manifest exists, the batch key expression
    * has EXACTLY the key column's type in commit `c` (no join-coercion
    * ambiguity to reason about), and the batch is lookup-sized
    * ([[bloomRetractionMaxKeys]] — the key sample is k-bounded driver
    * work); otherwise returns `files` unchanged. */
  private[graft] def bloomNarrow(spark: SparkSession, path: String,
                                 c: TableCommit, files: Seq[String],
                                 keys: DataFrame,
                                 keyCol: String): Seq[String] = {
    val bDir = s"${path}_bloom_$keyCol"
    if (files.isEmpty || !fs(spark, path).exists(new Path(bDir)))
      return files
    val kt = schemaOf(spark, path, c)(keyCol).dataType
    if (keys.schema(keyCol).dataType != kt) return files
    val sample = keys.select(col(keyCol)).filter(col(keyCol).isNotNull)
      .distinct().limit(bloomRetractionMaxKeys + 1)
      .collect().map(_.get(0))
    if (sample.length > bloomRetractionMaxKeys) return files
    if (sample.isEmpty) return Seq.empty
    // hashes through Spark's own xxhash64 at the key's exact type —
    // the build side hashed xxhash64(col(keyCol))
    val hashes = spark.range(1)
      .select(sample.toSeq.map(v => xxhash64(lit(v).cast(kt))): _*)
      .head().toSeq.map(_.asInstanceOf[Long])
    val probed = spark.read.parquet(bDir)
      .select(col("__file"),
        graft.expressions.GraftExpressions
          .bloomMightContainAny(col("__bloom"), hashes).as("__might"))
      .collect()
    val manifested = probed.map(r => fileName(r.getString(0))).toSet
    val kept = probed.filter(r => r.getAs[Any]("__might") == true)
      .map(r => fileName(r.getString(0))).toSet
    files.filter(fp => kept.contains(fileName(fp)) ||
      !manifested.contains(fileName(fp)))
  }

  /** [[deleteMatching]] over an explicit file subset of commit `c` —
    * the building block the keyed merge needs: a REPLAYED upsert batch
    * must not tombstone the rows its own first attempt landed (its
    * generation's files are replaced by the replay's, so the tombstones
    * would die with them and the rows come back). The pass is
    * [[bloomNarrow]]-bounded: with a Bloom manifest present and a
    * lookup-sized batch, only files that might hold a batch key are
    * read — a CDC micro-batch's cost stops tracking the table size. */
  private def deleteMatchingIn(spark: SparkSession, path: String,
                               c: TableCommit, files: Seq[String],
                               keys: DataFrame, keyCol: String,
                               rowsPerFile: Long = tombstoneRowsPerFile,
                               commit: Boolean = true)
      : (Long, Seq[String]) = {
    val narrowed = bloomNarrow(spark, path, c, files, keys, keyCol)
    if (narrowed.isEmpty) return (0L, Seq.empty)
    val addressed = spark.read.schema(schemaOf(spark, path, c))
      .parquet(narrowed: _*)
      .select(col(keyCol),
        element_at(split(col("_metadata.file_path"), "/"), -1).as(FileCol),
        col("_metadata.row_index").as(PosCol))
    val hits = addressed
      .join(keys.select(col(keyCol)).distinct(), Seq(keyCol), "left_semi")
      .select(FileCol, PosCol)
    writeTombstones(spark, path, c, hits, rowsPerFile, commit)
  }

  /** Land `hits` minus the tombstones commit `c` already records,
    * stamped with its max generation, through [[stageSharded]] as
    * `del<g>-<seq+k>.parquet`: takedown-sized deletes land as one
    * file; a ~10⁹-row retraction shards instead of funneling. Returns
    * the newly tombstoned row count and the landed names.
    *
    * `commit = false` DEFERS the pointer advance: the landed names are
    * returned for the caller to fold into ITS commit (the upsert/CDC
    * paths land one delta marker per mutation instead of two). Until
    * that commit, the files are invisible to every commit-resolved
    * reader; a crash in between leaves them as plain orphans that age
    * into [[vacuum]]'s sweep, and the mutation as a whole is ATOMIC —
    * a replay recomputes the same hits against the un-advanced state. */
  private def writeTombstones(spark: SparkSession, path: String,
                              c: TableCommit, hits: DataFrame,
                              rowsPerFile: Long = tombstoneRowsPerFile,
                              commit: Boolean = true)
      : (Long, Seq[String]) = {
    require(rowsPerFile > 0, s"writeTombstones: rowsPerFile must be " +
      s"positive, got $rowsPerFile")
    val gen = maxGen(c)
    val fresh = tombstoneFrame(spark, path, c) match {
      case Some(ts) => hits.join(ts, Seq(FileCol, PosCol), "left_anti")
      case None => hits
    }
    val (n, landed) = stageSharded(spark, path,
      fresh.withColumn(GenCol, lit(gen)), deletesDir(path), s"del$gen-",
      rowsPerFile)
    // the live tombstone set advances by commit — an O(landed-files)
    // delta marker, not a full-state rewrite — unless the caller asked
    // to fold the names into its OWN commit
    if (commit && landed.nonEmpty)
      commitAdvance(spark, path, c, addDeletes = landed)
    (n, landed)
  }

  /** Stage `df` (natural partitioning — a table pass never funnels one
    * task), count the staged rows (a staged-size read, never a second
    * job over the source), normalize into `ceil(n / rowsPerFile)`
    * shards, and land them in `destDir` under DETERMINISTIC names
    * `<prefix><k>.parquet`, k past any on-disk sibling (live and
    * vacuum-pending files both occupy their names). The staged write
    * usually already holds the right shard count (AQE coalesces a
    * takedown-sized frame to one file) — then its parts rename in
    * directly, and only a mismatched layout pays the normalizing
    * reshard. Returns the staged row count and the landed names. */
  private def stageSharded(spark: SparkSession, path: String,
                           df: DataFrame, destDir: String, prefix: String,
                           rowsPerFile: Long): (Long, Seq[String]) = {
    val f = fs(spark, path)
    val raw = s"${path}_incoming/$prefix-raw"
    df.write.mode("overwrite").parquet(raw)
    // the schema is in hand — re-reads of the staged frame skip footer
    // inference
    val rawDf = spark.read.schema(nullableCopy(df.schema)).parquet(raw)
    val n = rawDf.count()
    if (n == 0) { f.delete(new Path(raw), true); (0L, Seq.empty) }
    else {
      val shards = math.max(1L, (n + rowsPerFile - 1) / rowsPerFile).toInt
      val parts =
        if (stagedParts(f, raw).length == shards) raw
        else {
          val norm = s"${path}_incoming/$prefix-norm"
          rawDf.repartition(shards).write.mode("overwrite").parquet(norm)
          norm
        }
      val firstIdx = nextIndexFor(spark, destDir, prefix)
      val names = renameStagedIn(spark, parts, destDir,
        k => s"$prefix${firstIdx + k}.parquet")
      f.delete(new Path(raw), true)
      (n, names)
    }
  }

  private def stagedParts(f: FileSystem, staged: String): Seq[Path] =
    f.listStatus(new Path(staged)).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-") &&
        s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.getName)

  /** Move the `part-*.parquet` files a Spark write left under `staged`
    * into `destDir` as `name(k)` (k in part-name order) and drop the
    * staging dir — the one landing step of every staged write. A
    * destination that already exists is a crashed attempt's orphan
    * (names are claimed by the next commit version or past every
    * on-disk sibling, so no live set names it) and is replaced.
    * Returns the landed names. */
  private[core] def renameStagedIn(spark: SparkSession, staged: String,
                                   destDir: String,
                                   name: Int => String): Seq[String] = {
    val f = fs(spark, destDir)
    val parts = stagedParts(f, staged)
    f.mkdirs(new Path(destDir))
    val names = parts.zipWithIndex.map { case (p, k) =>
      val dst = new Path(destDir, name(k))
      if (f.exists(dst)) f.delete(dst, false)
      require(f.rename(p, dst), s"rename $p -> $dst failed")
      dst.getName
    }
    f.delete(new Path(staged), true)
    names
  }

  /** Point lookup through the Bloom membership manifest
    * ([[Layout.writeBloomManifest]]): resolve which files COULD hold
    * any of `values` (a manifest-sized read probing each file's sketch
    * — "false ⇒ definitely absent", so skipped files are provably
    * clean), read only those minus the delete debt, and RE-APPLY the
    * exact `IN` predicate — over-selection from Bloom false positives
    * is harmless. Files absent from the manifest (appended after it
    * was built) are treated as KEPT: staleness degrades the skip rate,
    * never results. This is the takedown-verification primitive at
    * 100 TB — "which files still hold these checksums" costs a
    * manifest read plus the few files that might, not a table pass.
    * `values` is a literal handful (each adds one probe per manifest
    * row); for retraction-list scale use [[deleteMatching]]'s join. */
  def pointLookup(spark: SparkSession, path: String, keyCol: String,
                  values: Seq[Any]): DataFrame = {
    require(values.nonEmpty, "pointLookup needs at least one value")
    val bDir = s"${path}_bloom_$keyCol"
    require(fs(spark, path).exists(new Path(bDir)),
      s"pointLookup: no Bloom manifest at $bDir — run " +
        s"Layout.writeBloomManifest(spark, path, \"$keyCol\") first")
    val bm = spark.read.parquet(bDir)
    val c = resolve(spark, path)
    val schema = schemaOf(spark, path, c)
    // probe hashes computed THROUGH Spark's own xxhash64 (one 1-row
    // job), each literal TRY_CAST to the key column's type first — the
    // build side hashed xxhash64(col(keyCol)), and xxhash64 is
    // type-sensitive (an Int 3 and a Long 3 hash differently), so an
    // uncast probe would miss every file and silently return empty.
    // try_cast, not cast: a probe the key's type cannot REPRESENT
    // (a Long 2^40 against an Int key) can never be present — it
    // drops, instead of raising CAST_OVERFLOW under ANSI or silently
    // wrapping to match the WRONG rows with ANSI off
    val casted = values.map(v => lit(v).try_cast(schema(keyCol).dataType))
    val probeRow = spark.range(1)
      .select(casted.flatMap(c => Seq(c, xxhash64(c))): _*).head()
    val surviving = values.indices.filter(i => !probeRow.isNullAt(2 * i))
    if (surviving.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val typed = surviving.map(i => casted(i))
    val hashes = surviving.map(i => probeRow.getLong(2 * i + 1))
    // ONE manifest-sized job answers both "which files are manifested"
    // and "which might hold a probed key"
    val probed = bm.select(col("__file"),
        graft.expressions.GraftExpressions
          .bloomMightContainAny(col("__bloom"), hashes).as("__might"))
      .collect()
    val manifested = probed.map(r => fileName(r.getString(0))).toSet
    val kept = probed.filter(r => r.getAs[Any]("__might") == true)
      .map(r => fileName(r.getString(0))).toSet
    val files = livePaths(path, c)
      .filter(f => kept.contains(fileName(f)) ||
        !manifested.contains(fileName(f)))
    readMinus(spark, path, c, files, schema)
      // the re-applied exact predicate uses the SAME casts the hashes
      // rode, so probe typing can never split the two answers
      .filter(col(keyCol).isin(typed: _*))
  }

  /** Streamed takedown feed: retraction keys arriving through
    * `readStream` land as tombstones per micro-batch (AvailableNow
    * drain — returns when every available request is recorded).
    * `foreachBatch`'s at-least-once replay contract is safe WITHOUT
    * generation-keyed files here because deletes are content-idempotent
    * by construction: [[deleteMatching]] anti-joins the already-recorded
    * tombstones, so a replayed batch records nothing (spec'd) — the
    * effect, not the file set, is exactly-once. Each batch costs one
    * pass over the table's key column; batch takedown cadences
    * accordingly (the checkpoint under `<path>_del_ckpt` carries
    * offsets, so a slow cadence never re-reads old requests). */
  def deleteMatchingStream(keys: DataFrame, path: String,
                           keyCol: String): Unit = {
    val spark = keys.sparkSession
    val q = keys.writeStream
      .option("checkpointLocation", s"${path}_del_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        deleteMatching(spark, path, batch, keyCol); ()
      }
      .start()
    q.awaitTermination()
  }

  /** The LOCKED public append surface — [[Layout.appendZordered]]
    * serialized through [[withTableLock]] like every other mutator.
    * The unlocked Layout form stays for lock-HOLDING callers (the
    * lease is not reentrant): two unlocked appends racing resolve the
    * same commit and claim the same next version (the loser's commit
    * raises after its files landed), and an unlocked append racing a
    * locked [[deleteWhere]] can tombstone rows in files a replay then
    * rewrites. Route concurrent ingest here. */
  def append(spark: SparkSession, path: String, batch: DataFrame,
             cols: Seq[String], bits: Int = 12,
             partitions: Int = 0): Unit =
    withTableLock(spark, path) {
      Layout.appendZordered(spark, path, batch, cols, bits, partitions)
    }

  /** The LOCKED generation append — [[Layout.appendGeneration]] under
    * the table lease. Two concurrent unlocked generation appends that
    * both read [[currentGen]] land the SAME id, and the replay rule
    * silently de-commits the other writer's rows; the lock is what makes
    * that impossible. See [[append]] for the discipline. */
  def appendAt(spark: SparkSession, path: String, batch: DataFrame,
               cols: Seq[String], gen: Long, bits: Int = 12,
               partitions: Int = 0): Unit =
    withTableLock(spark, path) {
      Layout.appendGeneration(spark, path, batch, cols, bits,
        partitions, gen)
    }

  /** Sidecar suffixes a lakehouse table hangs off its path — used to
    * tell tables from their own metadata dirs during discovery. */
  private val sidecarSuffixes = Seq("_deletes", "_manifest", "_commit",
    "_lock", "_incoming", "_rebuild", "_retain_rebuild", "_del_ckpt",
    "_upsert_ckpt", "_apply_ckpt", "_ckpt")

  /** The CATALOG surface: one row per lakehouse table found directly
    * under `root` — path, commit version (0 for a folder with no log),
    * epoch, snapshot floor, current generation, live file/byte counts,
    * delete debt, and the manifest-read layout health (null without a
    * manifest; its columns are recovered from the manifest's own
    * `__min_<col>` schema, so no cols argument is needed). A directory
    * is a table when it is not itself a sidecar and carries at least
    * one lakehouse sidecar directory (`_commit`, `_manifest`,
    * `_deletes`, `_lock`, or a `_bloom_*`); plain parquet dirs stay
    * out.
    * Day-N at fleet scale operates tables by DISCOVERY, not by
    * remembering raw paths — this is the list verb's engine (CLI
    * `lake-catalog <root>`). Cost: table-count-bounded driver listing
    * plus one debt-sized count per table. */
  def describeTables(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, root)
    val rp = new Path(root)
    val dirs =
      if (!f.exists(rp)) Seq.empty[Path]
      else f.listStatus(rp).toSeq.filter(_.isDirectory).map(_.getPath)
    val names = dirs.map(_.getName).toSet
    val tables = dirs.filter { p =>
      val n = p.getName
      // a dir is a bloom SIDECAR only when some existing sibling is
      // its base table (the same discipline as the suffix sidecars) —
      // a genuine table merely NAMED like one (`accounts_bloom_test`)
      // stays a table
      val isSidecar = sidecarSuffixes.exists(sfx => n.endsWith(sfx) &&
        names.contains(n.stripSuffix(sfx))) ||
        names.exists(m => m != n && n.startsWith(m + "_bloom_"))
      val hasSidecar = sidecarSuffixes.exists(sfx =>
        names.contains(n + sfx)) ||
        names.exists(m => m.startsWith(n + "_bloom_"))
      !isSidecar && hasSidecar
    }
    val rows = tables.map { p =>
      val path = p.toString
      val c = resolve(spark, path)
      val data = c.data.map(n => new Path(path, n))
      val bytes = data.map(x => f.getFileStatus(x).getLen).sum
      val mDir = s"${path}_manifest"
      val health: Option[Layout.LayoutHealth] =
        if (!f.exists(new Path(mDir)) ||
            parquetFiles(spark, mDir).isEmpty) None
        else {
          val m = spark.read.parquet(mDir)
          val cols = m.columns.filter(_.startsWith("__min_"))
            .map(_.stripPrefix("__min_")).toSeq
          if (cols.isEmpty) None
          else Some(Layout.layoutHealth(m, cols))
        }
      (p.getName, path, c.version, c.epoch, c.floor, maxGen(c),
        data.size.toLong, c.deletes.size.toLong, debtOf(spark, path, c),
        bytes,
        health.map(_.files), health.map(_.pointCost))
    }
    rows.toDF("table", "path", "version", "epoch", "floor",
      "current_gen", "data_files", "delete_files", "delete_debt",
      "data_bytes", "manifest_files", "point_cost")
  }

  /** Additive schema evolution — the EXPLICIT opt-in the append-time
    * drift guard points at: widen the table's committed schema to
    * `wider` (a superset of the resident schema; drops and retypes
    * still raise). Metadata-only — no data pass, no rewrite: parquet
    * is name-addressed and every scan reads with the committed schema,
    * so resident files null-fill the new columns from the next query
    * on, and old-generation snapshots and the change feed answer with
    * the evolved shape too (oracled). Single-writer. */
  def evolveSchema(spark: SparkSession, path: String,
                   wider: org.apache.spark.sql.types.StructType): Unit =
    withTableLock(spark, path) {
      evolveSchemaBody(spark, path, migrateToCommit(spark, path), wider)
      ()
    }

  /** UNLOCKED internal form of [[evolveSchema]] over commit `c`, for
    * callers already holding the (non-reentrant) table lock — the keyed
    * merge's opt-in auto-evolve rides this inside its own hold. Returns
    * the commit the caller continues from (`c` when nothing widened). */
  private def evolveSchemaBody(spark: SparkSession, path: String,
                               c: TableCommit,
                               wider: org.apache.spark.sql.types.StructType)
      : TableCommit = {
    val resident = schemaOf(spark, path, c)
    Layout.requireSameSchema(resident, wider, "evolveSchema",
      allowAdditive = true)
    val have = resident.fieldNames.toSet
    val added = wider.fields.filterNot(f => have.contains(f.name))
    if (added.isEmpty) c
    else commitAdvance(spark, path, c, schemaJson = Some(
      org.apache.spark.sql.types.StructType(resident.fields ++ added).json))
  }

  /** [[append]] with additive evolution in one call: widen the schema
    * to the batch's (raises on drops/retypes like [[evolveSchema]]),
    * then land the batch. Two lock holds (the lease is not
    * reentrant) — the window between them is only ever another
    * writer's complete mutation. Generation-managed tables evolve the
    * same way: [[evolveSchema]] then [[appendAt]]. */
  def appendEvolving(spark: SparkSession, path: String,
                     batch: DataFrame, cols: Seq[String],
                     bits: Int = 12, partitions: Int = 0): Unit = {
    evolveSchema(spark, path, batch.schema)
    append(spark, path, batch, cols, bits, partitions)
  }

  /** Keyed last-writer-wins merge, merge-on-read: tombstone the live
    * rows whose key appears in `updates`, then land `updates` as a new
    * z-ordered generation — history is never rewritten, one pass over
    * the table (the delete) plus one over the batch (the append).
    * `updates` must be key-unique (raises otherwise — two versions of
    * a key in one batch have no defined winner). On a
    * generation-managed table the batch lands as generation
    * max+1 (snapshot-addressable); otherwise as a plain append.
    * Single-writer: the whole delete+append rides ONE
    * [[withTableLock]] hold, so two concurrent upserts serialize —
    * each reads [[currentGen]] after the other's append landed and
    * claims its own generation, instead of both landing the same id
    * and the replay rule de-committing one batch. */
  def upsertByKey(spark: SparkSession, path: String, updates: DataFrame,
                  keyCol: String, cols: Seq[String], bits: Int = 12,
                  partitions: Int = 0): Unit =
    mergeByKey(spark, path, updates, updates, keyCol, cols, bits,
      partitions, pinnedGen = None, evolve = false, "upsertByKey")

  /** THE keyed merge under [[upsertByKey]], [[upsertBatch]],
    * [[applyChangesByKey]] and [[applyBatch]], in ONE lock hold from
    * ONE resolved commit:
    *  - drift: `inserts` must match the table's schema contract — or,
    *    with `evolve`, the contract first widens to it (drops/retypes
    *    still raise; the evolution commits before the retraction, so a
    *    refused batch has mutated nothing);
    *  - `inserts` must be key-unique;
    *  - retraction: every live row whose key appears in `batch` is
    *    tombstoned, from every live file — or, with a `pinnedGen`,
    *    every file but that generation's own (a replay must not
    *    tombstone what its first attempt landed: the replay replaces
    *    those files);
    *  - landing: `inserts` land as the pinned generation, as max+1 on
    *    a generation-managed table, or as a plain append.
    * The retraction DEFERS its commit: its tombstone names ride the
    * landing's marker — ONE atomic commit per merge (a crash between
    * the halves leaves only vacuum-aged orphans, never a
    * deleted-but-not-replaced visible state). */
  private def mergeByKey(spark: SparkSession, path: String,
                         batch: DataFrame, inserts: DataFrame,
                         keyCol: String, cols: Seq[String], bits: Int,
                         partitions: Int, pinnedGen: Option[Long],
                         evolve: Boolean, what: String): Unit =
    withTableLock(spark, path) {
      val c0 = migrateToCommit(spark, path)
      val c = schemaContract(spark, path, c0) match {
        case Some(_) if evolve =>
          evolveSchemaBody(spark, path, c0, inserts.schema)
        case Some(s) =>
          Layout.requireSameSchema(s, inserts.schema, what); c0
        case None => c0
      }
      val dup = inserts.groupBy(col(keyCol)).count()
        .filter(col("count") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"$what: ${pinnedGen.fold("")(g => s"generation $g's ")}inserts " +
          s"carry duplicate $keyCol=${dup.headOption.map(_.get(0)).orNull}" +
          " — last-writer-wins needs one row per key")
      val files = livePaths(path, c)
        .filter(p => !pinnedGen.contains(genOf(fileName(p))))
      val (_, landedDels) = deleteMatchingIn(spark, path, c, files,
        batch.select(col(keyCol)), keyCol, commit = false)
      val gen = maxGen(c)
      pinnedGen.orElse(if (gen >= 0) Some(gen + 1) else None) match {
        case Some(g) => Layout.appendGenerationFrom(spark, path, c,
          inserts, cols, bits, partitions, g, landedDels)
        case None => Layout.appendZorderedFrom(spark, path, c, inserts,
          cols, bits, partitions, landedDels)
      }
    }

  /** Streamed keyed upserts — the CDC-consumption form: each
    * micro-batch of key-unique updates tombstones the prior versions
    * and lands as ONE generation, exactly-once under `foreachBatch`'s
    * at-least-once replays because both halves are replay-safe — the
    * delete half is content-idempotent AND excludes the batch's own
    * generation files (a replay must not tombstone what its first
    * attempt landed: the replay replaces those files), and the append
    * half is [[Layout.appendGeneration]]'s replace-your-own-files
    * discipline.
    * Generations are `base + micro-batch id`, with `base` pinned under
    * the checkpoint on first use ([[pinnedGenBase]]). AvailableNow
    * drain. */
  def upsertByKeyStream(updates: DataFrame, path: String, keyCol: String,
                        cols: Seq[String], bits: Int = 12,
                        partitions: Int = 0): Unit = {
    val spark = updates.sparkSession
    val ckpt = s"${path}_upsert_ckpt"
    val base = pinnedGenBase(spark, ckpt, currentGen(spark, path) + 1)
    val q = updates.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        upsertBatch(spark, path, batch, keyCol, cols, bits, partitions,
          base + id)
      }
      .start()
    q.awaitTermination()
  }

  /** The generation a streamed keyed form adds its micro-batch ids to:
    * `fresh` (the table's max generation + 1) pinned to
    * `<ckpt>/graft_gen_base` on first use, so restarts map replayed ids
    * to the SAME generations. */
  private def pinnedGenBase(spark: SparkSession, ckpt: String,
                            fresh: => Long): Long = {
    val f = fs(spark, ckpt)
    val baseFile = new Path(ckpt, "graft_gen_base")
    if (f.exists(baseFile)) {
      val in = f.open(baseFile)
      try in.readLong() finally in.close()
    } else {
      val b = fresh
      f.mkdirs(new Path(ckpt))
      val out = f.create(baseFile, false)
      try out.writeLong(b) finally out.close()
      b
    }
  }

  /** One upsert micro-batch at a pinned generation — the replay-safe
    * body under [[upsertByKeyStream]] (exposed for direct redelivery
    * testing): tombstone prior versions from every file EXCEPT the
    * target generation's own, then land the batch as that generation. */
  private[graft] def upsertBatch(spark: SparkSession, path: String,
                                 batch: DataFrame, keyCol: String,
                                 cols: Seq[String], bits: Int,
                                 partitions: Int, gen: Long): Unit =
    mergeByKey(spark, path, batch, batch, keyCol, cols, bits, partitions,
      pinnedGen = Some(gen), evolve = false, "upsertBatch")

  /** The table as of generation `gen`: data files born at or before it,
    * minus tombstones stamped at or before it. Requires a
    * generation-managed layout ([[Layout.appendGeneration]] names carry
    * the generation); base `part-*` files count as generation −1 so
    * `scanAsOf(-1)` is the pre-append base. A manifest is not consulted
    * — snapshots are for audits and diffs, not hot serving.
    * Raises when `gen` predates the [[snapshotFloor]] (that history
    * was expired by [[compactRetaining]]); pass the epoch captured
    * with the generation as `asOfEpoch` to also raise when a full
    * [[compact]] collapsed the namespace in between (−1 skips the
    * epoch check — the generation floor still applies). */
  def scanAsOf(spark: SparkSession, path: String, gen: Long,
               asOfEpoch: Long = -1L): DataFrame = {
    val c = resolve(spark, path)
    requireEpoch(c, asOfEpoch, "scanAsOf")
    requireAboveFloor(c, gen, "scanAsOf")
    readMinus(spark, path, c,
      livePaths(path, c).filter(p => genOf(fileName(p)) <= gen),
      schemaOf(spark, path, c), maxGen = gen)
  }

  /** Change data feed between two snapshots — `(fromGen, toGen]`, net
    * semantics: one frame of the table's rows tagged `__op =
    * insert | delete`, such that applying it to the `fromGen` snapshot
    * reproduces the `toGen` snapshot exactly (spec'd as set equality).
    * This is the incremental-sync primitive: a downstream replica
    * applies the delta instead of re-reading the table.
    *
    * Cost is WINDOW-sized, never table-sized: inserts are the rows of
    * files born in the window minus tombstones stamped at or before
    * `toGen` (an older file's rows can never BECOME live later, so old
    * files are never read); deletes are the window's tombstones that
    * address PRE-window files, joined back to their row content (only
    * those files are read — and a (file, pos) lives in at most one
    * tombstone file by construction, so "was it already dead at
    * fromGen" needs no second pass). A row both born and deleted
    * inside the window appears as neither — net, like any replica
    * would want. Requires a generation-managed layout.
    *
    * THE OPEN-WINDOW RULE (the consume contract): deletes are stamped
    * with the table's CURRENT generation, so the window ending at the
    * open (latest) generation can still accumulate deletes after a
    * replica read it; every window ending at a CLOSED generation
    * (toGen < currentGen) is final. A replica therefore either
    * consumes closed windows only, or re-pulls its last window after
    * it closes — safe, because feeds are replay-idempotent through
    * [[applyChangesByKey]] (retractions anti-join what the replica
    * already recorded). [[upsertByKey]] keeps the discipline
    * automatically: its delete (stamped g) and its append (landing
    * g+1, which CLOSES g) are one lock-held mutation, so any
    * quiescent read of a closed window sees both halves.
    *
    * Feed windows must not span a compaction — generation ids are
    * reused after one, so a stale window would silently address the
    * WRONG data. The contract is enforced, not honor-system: a window
    * reaching below the [[snapshotFloor]] raises unconditionally, and
    * a replica that captured the [[compactEpoch]] alongside its
    * `fromGen` passes it as `asOfEpoch` to be told LOUDLY when a full
    * [[compact]] landed in between (−1 skips the epoch check for
    * same-process callers that know no compact ran). */
  def changesBetween(spark: SparkSession, path: String,
                     fromGen: Long, toGen: Long,
                     asOfEpoch: Long = -1L): DataFrame =
    changesOf(spark, path, resolve(spark, path), fromGen, toGen, asOfEpoch)

  private def changesOf(spark: SparkSession, path: String, c: TableCommit,
                        fromGen: Long, toGen: Long,
                        asOfEpoch: Long): DataFrame = {
    require(fromGen <= toGen,
      s"changesBetween: need fromGen <= toGen, got ($fromGen, $toGen]")
    requireEpoch(c, asOfEpoch, "changesBetween")
    requireAboveFloor(c, fromGen, "changesBetween")
    val schema = schemaOf(spark, path, c)
    val newFiles = livePaths(path, c).filter { p =>
      val g = genOf(fileName(p))
      g > fromGen && g <= toGen
    }
    val inserts = readMinus(spark, path, c, newFiles, schema, maxGen = toGen)
    val windowTs = {
      val files = c.deletes
        .filter { n =>
          val g = delGenOf(n)
          g > fromGen && g <= toGen
        }.map(n => new Path(deletesDir(path), n).toString)
      if (files.isEmpty) None
      else Some(spark.read.schema(TombstoneSchema).parquet(files: _*)
        .filter(col(GenCol) > fromGen && col(GenCol) <= toGen)
        .select(FileCol, PosCol))
    }
    val oldFiles = livePaths(path, c).filter(p => genOf(fileName(p)) <= fromGen)
    val deletes = windowTs match {
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      case Some(ts) =>
        val touched = ts.select(FileCol).distinct()
          .collect().map(_.getString(0)).toSet
        val hit = oldFiles.filter(f => touched.contains(fileName(f)))
        if (hit.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        else {
          val keyed = spark.read.schema(schema).parquet(hit: _*)
            .withColumn(FileCol,
              element_at(split(col("_metadata.file_path"), "/"), -1))
            .withColumn(PosCol, col("_metadata.row_index"))
          val side =
            if (tombstonesBroadcastable(spark, path, c)) broadcast(ts) else ts
          keyed.join(side, Seq(FileCol, PosCol), "left_semi")
            .drop(FileCol, PosCol)
        }
    }
    inserts.withColumn("__op", lit("insert"))
      .unionByName(deletes.withColumn("__op", lit("delete")))
  }

  private def feedPtrDir(outDir: String) =
    s"${outDir.stripSuffix("/")}/_ptr"

  private def readFeedMarker(f: FileSystem,
                             dir: Path): Option[(Long, Long, Long)] = {
    if (!f.exists(dir)) return None
    val markers = f.listStatus(dir).toSeq.filter { s =>
      val n = s.getPath.getName
      val body = n.stripPrefix("v").stripSuffix(".json")
      s.isFile && n.startsWith("v") && n.endsWith(".json") &&
        body.nonEmpty && body.forall(_.isDigit)
    }
    if (markers.isEmpty) return None
    val latest = markers.maxBy(s =>
      s.getPath.getName.stripPrefix("v").stripSuffix(".json").toLong)
    val m = readMarkerJson(f, latest.getPath)
    Some((latest.getPath.getName.stripPrefix("v").stripSuffix(".json")
      .toLong, markerNum(m, "epoch", 0L), markerNum(m, "gen", -1L)))
  }

  /** The PRODUCER half of the streaming CDC relay — the watermarked,
    * exactly-once twin of what the runbook did by hand with
    * `--changes from,to --feed-out dir`: land every newly CLOSED
    * generation window of `path`'s change feed as one parquet dir
    * `outDir/win<from>_<to>` and advance a tiny watermark marker
    * (`outDir/_ptr/v<N>.json`, carrying the consumed (epoch, gen)),
    * so a cron-driven producer loop needs no memory of its own.
    * Consumers stream the landed windows with
    * `spark.readStream.schema(s).parquet(s"$outDir/win*")` into
    * [[applyChangesByKeyStream]] / [[graft.llm.FeedConsumer]] — the
    * relay is exactly-once END TO END.
    *
    * ONE WINDOW PER DRAIN: windows must APPLY in order. The feed rows
    * carry no ordering stamp, so a consumer that lets a file stream
    * merge several backlogged windows into one micro-batch loses
    * cross-window key ordering — a key inserted in window N and
    * deleted in window N+1 would re-land (the batch's insert row wins
    * under the upsert treatment, and the shape is indistinguishable
    * from a legitimate single-window update, which is ALSO
    * delete+insert of one key — no loud guard can tell them apart).
    * Run the relay as land → drain (AvailableNow) → land → drain, or
    * apply each landed window one-shot ([[applyChangesByKey]] on
    * `win<from>_<to>`); the oracle gate `layout_feed_relay` pins the
    * per-window loop. (A `__gen`-stamped feed making merged drains
    * order-aware is the documented follow-up.)
    *
    * Semantics mirror the tracked index consumers:
    *  - default `toGen` stops at the newest CLOSED generation
    *    (tombstones stamp the open one — landing it early would
    *    freeze a window late deletes still mutate); an explicit
    *    `toGen` may name the open gen on a quiesced source.
    *  - the first call passes `initFromGen` (the generation consumers
    *    bootstrapped their snapshot at) and writes the init marker —
    *    later calls need nothing.
    *  - a replayed call (nothing new closed) returns None; a window
    *    ending below the watermark raises.
    *  - the window STAGES and renames in atomically under a
    *    DETERMINISTIC name; a crash between the rename and the
    *    marker is healed on replay by reusing the landed dir (its
    *    content is a pure function of (epoch, window)) and just
    *    advancing the marker — consumers can never observe a
    *    half-written or duplicated window.
    *  - a source compact/rollback since the init epoch raises through
    *    [[changesBetween]]'s epoch guard — cross-epoch windows are
    *    unanswerable; re-bootstrap the relay.
    * Producer-side single-writer on `outDir` (the table lease on
    * `<outDir>_lock`); the SOURCE table is only read, never locked.
    * Cost per call: one window-sized [[changesBetween]] write plus
    * O(1) marker IO — at 100 TB the landed window is delta-sized,
    * never table-sized. Returns the landed (fromGen, toGen]. */
  def landChangesTracked(spark: SparkSession, path: String,
                         outDir: String, toGen: Long = -1L,
                         initFromGen: Long = Long.MinValue)
      : Option[(Long, Long)] =
    withTableLock(spark, outDir.stripSuffix("/")) {
      val f = fs(spark, outDir)
      val pd = new Path(feedPtrDir(outDir))
      // the source is read, never locked: ONE resolved commit answers
      // the epoch, the newest closed generation and the window itself
      val src = resolve(spark, path)
      val (epoch, from, nextVersion) = readFeedMarker(f, pd) match {
        case Some((v, e, g)) => (e, g, v + 1)
        case None =>
          require(initFromGen >= -1L,
            s"landChangesTracked: $outDir has no watermark yet — the " +
              "first call must pass initFromGen (the generation " +
              "consumers bootstrapped their snapshot at)")
          markerRenameIn(f, pd, 1L, ".json", MiniJson.write(Map(
            "version" -> 1L, "epoch" -> src.epoch, "gen" -> initFromGen)))
          (src.epoch, initFromGen, 2L)
      }
      val cur =
        if (toGen >= 0L) toGen
        else math.max(from, maxGen(src) - 1)
      if (cur == from) None
      else {
        require(cur > from,
          s"landChangesTracked: window through gen $cur is OUT OF " +
            s"ORDER — the relay already landed through gen $from")
        val base = outDir.stripSuffix("/")
        val dst = new Path(s"$base/win${from}_$cur")
        if (!f.exists(dst)) {
          val staging = s"$base/_staging/win${from}_$cur"
          changesOf(spark, path, src, from, cur, asOfEpoch = epoch)
            .write.mode("overwrite").parquet(staging)
          require(f.rename(new Path(staging), dst),
            s"landChangesTracked: $staging -> $dst failed")
        }
        markerRenameIn(f, pd, nextVersion, ".json", MiniJson.write(Map(
          "version" -> nextVersion, "epoch" -> epoch, "gen" -> cur)))
        Some((from, cur))
      }
    }

  /** Apply a [[changesBetween]] feed to a KEYED replica table — the
    * consumer half of the CDC loop, as one operator: the feed's
    * `delete` rows retract their keys (content-idempotent — a replayed
    * feed retracts nothing new), the `insert` rows land as one new
    * generation (the replica IS a lakehouse table, so scans, point
    * lookups, snapshots, and compaction all compose on it). Keys must
    * be unique in the source — the replica enforces it per feed with a
    * loud raise, like [[upsertByKey]]. A key UPDATED across the window
    * arrives as delete(old)+insert(new) of the same key; the
    * retraction half applies first, so last-writer-wins holds. The
    * retraction covers the feed's delete keys AND its insert keys
    * (an upsert, not a blind append) — that is what makes the apply
    * REPLAY-IDEMPOTENT in effect: re-applying the same feed retracts
    * the first application's landed rows and lands them again, so
    * counts never double, and re-pulling a still-open window (the
    * open-window rule on [[changesBetween]]) refreshes rather than
    * duplicates. Cost: one pass over the replica's key column (the
    * retraction join) plus one over the feed — never over the source
    * table; that is the entire point of consuming the feed.
    * Single-writer on the replica. Oracled: bootstrap + feed ≡ a
    * direct scan of the source's target snapshot, hash-for-hash. */
  def applyChangesByKey(spark: SparkSession, replicaPath: String,
                        feed: DataFrame, keyCol: String,
                        cols: Seq[String], bits: Int = 12,
                        partitions: Int = 0,
                        evolve: Boolean = false): Unit = {
    // the feed is read by the drift and key checks, the retraction and
    // the landing — cache it once (it is typically a changesBetween plan)
    val cached = feed.cache()
    try mergeByKey(spark, replicaPath, cached, feedInserts(cached), keyCol,
      cols, bits, partitions, pinnedGen = None, evolve, "applyChangesByKey")
    finally { cached.unpersist(); () }
  }

  /** A change feed's `insert` rows, untagged. */
  private def feedInserts(feed: DataFrame): DataFrame =
    feed.filter(col("__op") === "insert").drop("__op")

  /** Streamed [[applyChangesByKey]] — the replica's live consumption
    * form: feed batches (tagged `__op` rows, e.g. the parquet dirs a
    * producer's [[changesBetween]] lands) arrive through `readStream`
    * and each micro-batch applies as one retract+land. Exactly-once
    * under `foreachBatch`'s at-least-once replays by the
    * [[upsertByKeyStream]] discipline: the insert half rides
    * generation `base + micro-batch id` (base pinned under the
    * checkpoint at `<replicaPath>_apply_ckpt`, so restarts map
    * replayed ids to the SAME generations and rewrite exactly their
    * own files), and the delete half is content-idempotent AND
    * excludes the batch's own generation files — a replayed update
    * batch must not tombstone the very rows its first attempt landed.
    * AvailableNow drain. */
  def applyChangesByKeyStream(feed: DataFrame, replicaPath: String,
                              keyCol: String, cols: Seq[String],
                              bits: Int = 12,
                              partitions: Int = 0,
                              evolve: Boolean = false): Unit = {
    val spark = feed.sparkSession
    val ckpt = s"${replicaPath}_apply_ckpt"
    val base = pinnedGenBase(spark, ckpt,
      currentGen(spark, replicaPath) + 1)
    val q = feed.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyBatch(spark, replicaPath, batch, keyCol, cols, bits,
          partitions, base + id, evolve)
      }
      .start()
    q.awaitTermination()
  }

  /** One feed micro-batch at a pinned generation — the replay-safe
    * body under [[applyChangesByKeyStream]] (exposed for direct
    * redelivery testing). */
  private[graft] def applyBatch(spark: SparkSession, replicaPath: String,
                                batch: DataFrame, keyCol: String,
                                cols: Seq[String], bits: Int,
                                partitions: Int, gen: Long,
                                evolve: Boolean = false): Unit =
    mergeByKey(spark, replicaPath, batch, feedInserts(batch), keyCol, cols,
      bits, partitions, pinnedGen = Some(gen), evolve, "applyBatch")

  /** Make the `gen` snapshot permanent: ONE commit drops data files
    * and tombstone files stamped AFTER it from the live sets, and the
    * manifest slices (min/max AND Bloom) past it are deleted.
    * File-system arithmetic only — never a data pass. The de-committed
    * files STAY on disk for [[vacuum]]'s grace window (a scan that
    * resolved the pre-rollback commit finishes unharmed); a re-append
    * of the same generation lands under commit-version-salted names
    * ([[Layout.appendGeneration]]), so they never collide. Reusing the
    * rolled-back ids makes a rollback as HISTORY-COLLAPSING as a
    * [[compact]]: any window a replica captured before it would
    * silently address the re-appended data under the reused ids, so
    * the [[compactEpoch]] bumps in the same commit. Single-writer
    * ([[withTableLock]]); raises below the [[snapshotFloor]], and on
    * an `asOfEpoch` mismatch when the caller passes the epoch its
    * target generation was captured at. */
  def rollback(spark: SparkSession, path: String, gen: Long,
               asOfEpoch: Long = -1L): Unit =
    withTableLock(spark, path) {
      val c = migrateToCommit(spark, path)
      requireEpoch(c, asOfEpoch, "rollback")
      requireAboveFloor(c, gen, "rollback")
      val f = fs(spark, path)
      commitAdvance(spark, path, c,
        removeData = c.data.filter(n => genOf(n) > gen),
        removeDeletes = c.deletes.filter(n => delGenOf(n) > gen),
        epoch = c.epoch + 1)
      def genSlicesAfter(dir: String): Seq[Path] =
        parquetFiles(spark, dir).filter { p =>
          val digits = p.getName.stripPrefix("gen").stripSuffix(".parquet")
          p.getName.startsWith("gen") && digits.nonEmpty &&
            digits.forall(_.isDigit) && digits.toLong > gen
        }
      genSlicesAfter(s"${path}_manifest").foreach(p => f.delete(p, false))
      bloomDirsOf(spark, path)
        .foreach(b => genSlicesAfter(b.toString)
          .foreach(p => f.delete(p, false)))
    }

  /** The table's Bloom membership manifest directories
    * (`<path>_bloom_<keyCol>`), with their key column names. */
  private[core] def bloomDirsOf(spark: SparkSession,
                                path: String): Seq[Path] = {
    val f = fs(spark, path)
    val parent = new Path(path).getParent
    val prefix = s"${new Path(path).getName}_bloom_"
    if (parent == null || !f.exists(parent)) Seq.empty
    else f.listStatus(parent).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith(prefix))
  }

  /** Fold the debt in: rewrite the LIVE rows as one fresh z-ordered
    * BASE alongside the old files, then flip the table's version
    * pointer in ONE atomic commit (data set, empty tombstone set,
    * epoch+1) — never a directory swap. THE one full-table pass in
    * the lifecycle — schedule it by [[deleteDebt]] ratio or
    * small-file count, not per delete. Doubles as small-file
    * bin-packing: `targetBytes` sizes the output partitioning from
    * the LIVE files' on-disk bytes. Generation history collapses:
    * the compacted table is a fresh base (snapshot addresses before
    * the compaction are gone, like any lakehouse snapshot expiration).
    *
    * Concurrent readers SURVIVE the compact: the replaced files stay
    * on disk until a [[vacuum]] older than its grace window removes
    * them, so a long-running scan that resolved the old file list
    * (a 30-minute query racing a scheduled compact is routine at
    * 100 TB) completes against the pre-compact version instead of
    * dying mid-job on vanished paths (spec'd). */
  def compact(spark: SparkSession, path: String, cols: Seq[String],
              bits: Int = 12, partitions: Int = 0,
              targetBytes: Long = 0L): Unit =
    withTableLock(spark, path) {
      compactBody(spark, path, migrateToCommit(spark, path), cols, bits,
        partitions, targetBytes)
    }

  private def compactBody(spark: SparkSession, path: String,
                          cur: TableCommit, cols: Seq[String], bits: Int,
                          partitions: Int, targetBytes: Long): Unit = {
    val f = fs(spark, path)
    val parts =
      if (partitions > 0) partitions
      else if (targetBytes > 0L) {
        val bytes = livePaths(path, cur)
          .map(p => f.getFileStatus(new Path(p)).getLen).sum
        math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      } else 0
    val schemaJson = cur.schemaJson
      .getOrElse(schemaOf(spark, path, cur).json)
    // the fresh base lands ALONGSIDE the old files under names no
    // other commit can claim (the next version is ours — the lock
    // serializes writers), so nothing is destroyed before the commit
    val staged = s"${path}_rebuild"
    Layout.zorder(scanOf(spark, path, cur), cols, bits, parts)
      .write.mode("overwrite").parquet(staged)
    val next = cur.version + 1
    val newNames = renameStagedIn(spark, staged, path,
      k => f"base$next-part$k%05d.parquet")
    // THE commit: new data set, zero tombstones, epoch+1, floor reset —
    // one atomic marker rename. A crash before this line leaves only
    // orphaned base files (vacuum's job); after it, only stale
    // manifests (recover drops them, prunedScan raises on them)
    val now = commitWrite(spark, path, next, newNames, Seq.empty,
      cur.epoch + 1, -1L, Some(schemaJson))
    Layout.writeManifestFrom(spark, path, now, cols)
    rebuildBloomManifests(spark, path, now)
  }

  /** Remove files a past commit replaced, once they are older than
    * `graceMs` — the second half of the pointer-commit contract: a
    * commit never destroys what a concurrent reader may still be
    * reading; vacuum does, after every reasonable query has finished.
    * Sweeps dead data files, dead tombstone files, and superseded
    * commit markers; crash orphans (staged files never committed) age
    * into the same sweep. File-count-bounded driver work; takes the
    * table lock so a mid-land writer's uncommitted files are never
    * candidates. A no-op on a folder with no log (its listing snapshot
    * holds every file). Returns the removed paths. */
  def vacuum(spark: SparkSession, path: String,
             graceMs: Long = 7L * 24 * 60 * 60 * 1000): Seq[String] =
    withTableLock(spark, path) {
      val c = resolve(spark, path)
      val f = fs(spark, path)
      val cutoff = System.currentTimeMillis() - graceMs
      def sweep(dir: String, live: Set[String]): Seq[String] =
        parquetFiles(spark, dir)
          .filter(p => !live.contains(p.getName) &&
            f.getFileStatus(p).getModificationTime <= cutoff)
          .map { p => f.delete(p, false); p.toString }
      val deadData = sweep(path, c.data.toSet)
      val deadDels = sweep(deletesDir(path), c.deletes.toSet)
      // a fully-swept tombstone dir disappears with its last file
      // (a debt-free table should look debt-free on disk too)
      val dPath = new Path(deletesDir(path))
      if (c.deletes.isEmpty && f.exists(dPath) &&
          f.listStatus(dPath).isEmpty)
        f.delete(dPath, true)
      // markers at or above the newest CHECKPOINT are the
      // readable log (checkpoint + replay tail) — only the
      // consumed tail strictly below it is sweepable
      val cDir = new Path(commitDir(path))
      val oldCommits =
        if (!f.exists(cDir)) Seq.empty
        else {
          val all = f.listStatus(cDir).toSeq.filter(s =>
            s.isFile && commitVersionOf(s.getPath.getName) >= 0)
          val ckpt = all
            .filterNot(s => isDeltaMarker(s.getPath.getName))
            .map(s => commitVersionOf(s.getPath.getName))
            .foldLeft(-1L)(math.max)
          all.filter { s =>
            commitVersionOf(s.getPath.getName) < ckpt &&
              s.getModificationTime <= cutoff
          }.map { s => f.delete(s.getPath, false); s.getPath.toString }
        }
      deadData ++ deadDels ++ oldCommits
    }

  /** Inspect the table's on-disk state and clean up whatever a crashed
    * writer left behind. With every change a single marker rename,
    * a crash never leaves a half-swapped table — only residue that is
    * invisible to readers, which recover removes. Idempotent; safe on a
    * healthy table (a no-op). Returns a short action log (empty =
    * nothing to do).
    *
    * Cases:
    *  - a manifest (min/max or Bloom) naming a file that is not live
    *    on disk — a rewrite that crashed after its commit, before its
    *    manifest rebuild: dropped (pruned/point scans would raise on it
    *    forever), with a note to rebuild it.
    *  - orphaned staging (`_incoming`, `_rebuild`, `_retain_rebuild`):
    *    discarded — every writer stages fresh under
    *    `mode("overwrite")`, so leftovers are dead bytes.
    *  - a commit marker's `tmp-` file: a commit that crashed mid-stage
    *    (the rename IS the commit), discarded.
    *  - a lease under `<path>_lock` older than `staleLockMs`:
    *    removed (the holder heartbeats every third of its window, so
    *    a day-old lease is a crashed writer).
    * Single-writer: takes the table lock itself (run it when no
    * mutation is in flight — the lock enforces that). */
  def recover(spark: SparkSession, path: String,
              staleLockMs: Long = 24L * 60 * 60 * 1000,
              leaseMs: Long = 15L * 60 * 1000): Seq[String] = {
    val f = fs(spark, path)
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    withTableLock(spark, path, leaseMs = leaseMs, waitMs = 60 * 1000L) {
      if (f.exists(new Path(path))) {
        // LIVE names still ON DISK: a manifest naming a vacuum-pending
        // dead file is just as dangling as one naming a vanished file
        val live = resolve(spark, path).data.toSet &
          parquetFiles(spark, path).map(_.getName).toSet
        (Seq(new Path(s"${path}_manifest")) ++ bloomDirsOf(spark, path))
          .filter(m => f.exists(m) &&
            parquetFiles(spark, m.toString).nonEmpty)
          .foreach { m =>
            val named = spark.read.parquet(m.toString)
              .select("__file").distinct().collect()
              .map(r => fileName(r.getString(0)))
            if (named.exists(n => !live.contains(n))) {
              f.delete(m, true)
              actions += s"dropped dangling manifest $m (named vanished " +
                "files) — rebuild with Layout.writeManifest / " +
                "writeBloomManifest"
            }
          }
      }
      Seq("_incoming", "_rebuild", "_retain_rebuild")
        .map(s => new Path(s"$path$s"))
        .filter(f.exists)
        .foreach { p =>
          // an EMPTY staging parent is normal residue of a completed
          // write (stagers delete their subdir, not the parent) —
          // clean it silently; only content is a crash orphan
          val orphaned = f.listStatus(p).nonEmpty
          f.delete(p, true)
          if (orphaned) actions += s"discarded orphaned staging $p"
        }
      // a commit marker's tmp file is a crashed commitWrite mid-stage:
      // the version never became visible (the rename is the commit),
      // so it is a plain orphan
      val cDir = new Path(commitDir(path))
      if (f.exists(cDir))
        f.listStatus(cDir).toSeq
          .filter(s => s.isFile && s.getPath.getName.startsWith("tmp-"))
          .foreach { s =>
            f.delete(s.getPath, false)
            actions += s"discarded uncommitted marker ${s.getPath}"
          }
      ()
    }
    val lease = new Path(s"${path}_lock/lease")
    if (f.exists(lease) && System.currentTimeMillis() -
        f.getFileStatus(lease).getModificationTime > staleLockMs) {
      f.delete(lease, false)
      actions += s"removed stale writer lease $lease"
    }
    actions.toSeq
  }

  /** Rebuild every `<path>_bloom_*` manifest found over commit `c`'s
    * live files, each under ITS OWN recorded geometry, so point lookups
    * keep their skip rate after a rewrite instead of falling back to
    * stale-safe full keeps. */
  private def rebuildBloomManifests(spark: SparkSession, path: String,
                                    c: TableCommit): Unit =
    bloomDirsOf(spark, path).foreach { p =>
      val (keys, fpp) = Layout.bloomGeometry(spark, p.toString)
      Layout.writeBloomManifestFrom(spark, path, c,
        p.getName.stripPrefix(s"${new Path(path).getName}_bloom_"), keys,
        fpp)
    }

  /** Retention-preserving compaction: fold the delete debt and small
    * files of everything at or below generation `retainAfter` into a
    * fresh z-ordered BASE, while every LATER generation stays
    * byte-identical and snapshot-addressable — debt-folding and time
    * travel coexist, the standard lakehouse retention policy that
    * [[compact]] (full snapshot expiration) cannot offer.
    *
    * What must survive, and how: a tombstone stamped AFTER the floor
    * may address a row in a FOLDED file (live at `retainAfter`, dead
    * later). Dropping it would resurrect the row in later snapshots;
    * keeping it verbatim would address a vanished file name. So the
    * rows those tombstones address are rewritten into their own
    * per-stamp base files (`doom<stamp>-…parquet` — every row in one
    * dies at that one stamp), and the tombstones are REMAPPED to
    * positions 0‥n−1 of those files with their original stamps.
    * `scanAsOf(g ≥ retainAfter)` then reads: new base (live-forever
    * rows) + doom files (dead-at-stamp>g rows excluded by the
    * remapped tombstones) + untouched later generations — exactly the
    * pre-compaction snapshot (oracled against [[scanAsOf]]'s twins).
    *
    * The [[snapshotFloor]] rises to `retainAfter` in the SAME atomic
    * commit that flips the data and tombstone sets — expired windows
    * raise loudly from the instant the fold is visible — while the
    * [[compactEpoch]] stays, because every window at or above the
    * floor remains valid (a replica's feed continues uninterrupted).
    * Later generations are NOT touched at all: their files stay in
    * place and simply carry over into the new commit's live set (the
    * version-pointer protocol removed the old tail copy entirely).
    * Replaced files await [[vacuum]] like any compact's. Cost: one
    * pass over the rows live at `retainAfter`. Single-writer. */
  def compactRetaining(spark: SparkSession, path: String,
                       cols: Seq[String], retainAfter: Long,
                       bits: Int = 12, partitions: Int = 0,
                       rowsPerFile: Long = tombstoneRowsPerFile): Unit =
    withTableLock(spark, path) {
      val cur = migrateToCommit(spark, path)
      val (fold, keep) = cur.data.partition(n => genOf(n) <= retainAfter)
      if (keep.isEmpty)
        // nothing newer than the floor: this IS a full compact
        compactBody(spark, path, cur, cols, bits, partitions, 0L)
      else if (fold.nonEmpty)
        compactRetainingBody(spark, path, cur, cols, retainAfter, bits,
          partitions, fold, keep, rowsPerFile)
      // else: nothing at or below the floor to fold — a no-op
    }

  /** First free numeric suffix for `prefix<k>.parquet` names in `dir`,
    * scanned ON-DISK (live and vacuum-pending files both occupy their
    * names until removed). */
  private def nextIndexFor(spark: SparkSession, dir: String,
                           prefix: String): Int =
    parquetFiles(spark, dir).map(_.getName)
      .filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix).stripSuffix(".parquet"))
      .filter(b => b.nonEmpty && b.forall(_.isDigit)).map(_.toInt)
      .foldLeft(-1)(math.max) + 1

  private def compactRetainingBody(spark: SparkSession, path: String,
                                   cur: TableCommit,
                                   cols: Seq[String], retainAfter: Long,
                                   bits: Int, partitions: Int,
                                   fold: Seq[String], keep: Seq[String],
                                   rowsPerFile: Long): Unit = {
      val f = fs(spark, path)
      val next = cur.version + 1
      val schema = schemaOf(spark, path, cur)
      val foldPaths = fold.map(n => new Path(path, n).toString)
      val dDir = deletesDir(path)
      // later tombstones (stamp > floor), still meaningful afterwards
      val laterDelFiles = cur.deletes
        .filter(n => delGenOf(n) > retainAfter)
        .map(n => new Path(dDir, n).toString)
      val laterTs =
        if (laterDelFiles.isEmpty) None
        else Some(spark.read.schema(TombstoneSchema)
          .parquet(laterDelFiles: _*)
          .filter(col(GenCol) > retainAfter)
          .select(FileCol, PosCol, GenCol).cache())
      // rows of folded files that survive EVERY tombstone, any stamp:
      // the new base — staged, then renamed in ALONGSIDE the old files
      // (nothing is destroyed before the commit; vacuum cleans later)
      val staging = s"${path}_retain_rebuild"
      f.delete(new Path(staging), true)
      Layout.zorder(readMinus(spark, path, cur, foldPaths, schema), cols,
        bits, partitions).write.mode("overwrite").parquet(staging)
      val baseNames = renameStagedIn(spark, staging, path,
        k => f"base$next-part$k%05d.parquet")
      def stage(df: DataFrame, destDir: String, prefix: String) =
        stageSharded(spark, path, df, destDir, prefix, rowsPerFile)._2
      val doomNames = scala.collection.mutable.ArrayBuffer.empty[String]
      val delNames = scala.collection.mutable.ArrayBuffer.empty[String]
      laterTs.foreach { ts =>
        // the later debt can be retraction-sized: broadcast only while
        // its on-disk bytes stay under the scan path's same ceiling
        val tsBytes = laterDelFiles
          .map(d => f.getFileStatus(new Path(d)).getLen).sum
        def side(df: DataFrame): DataFrame =
          if (tsBytes <= broadcastTombstoneBytes) broadcast(df) else df
        val keyedFold = spark.read.schema(schema).parquet(foldPaths: _*)
          .withColumn(FileCol,
            element_at(split(col("_metadata.file_path"), "/"), -1))
          .withColumn(PosCol, col("_metadata.row_index"))
        // debt-sized and read once per stamp below — cache the join
        // so the fold-file pass runs once, not once per stamp
        val doomed = keyedFold.join(side(ts), Seq(FileCol, PosCol))
          .drop(FileCol, PosCol).cache()
        // stamps present — debt-bounded driver list
        val stamps = doomed.select(GenCol).distinct()
          .collect().map(_.getLong(0)).sorted
        stamps.foreach { st =>
          val rows = doomed.filter(col(GenCol) === st).drop(GenCol)
          val landedDoom = stage(rows, path, s"doom$st-")
          doomNames ++= landedDoom
          // the remapped tombstones: every doom file dies WHOLE at
          // stamp st, so its positions are read straight off the
          // landed files' own _metadata — one pass over doom bytes,
          // exact at any shard count
          if (landedDoom.nonEmpty) {
            val remapped = spark.read
              .parquet(landedDoom.map(n => s"$path/$n"): _*)
              .select(element_at(split(col("_metadata.file_path"), "/"),
                  -1).as(FileCol),
                col("_metadata.row_index").as(PosCol),
                lit(st).as(GenCol))
            delNames ++= stage(remapped, dDir, s"del$st-")
          }
        }
        // later tombstones addressing KEPT files carry over verbatim
        // (their files are untouched), re-landed under fresh names so
        // the old tombstone files can be vacuumed with the fold
        val keepNamesDf = spark.createDataFrame(
          spark.sparkContext.parallelize(keep.map(
            org.apache.spark.sql.Row(_)), 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(FileCol,
              org.apache.spark.sql.types.StringType))))
        val onKept = ts.join(broadcast(keepNamesDf), Seq(FileCol))
        val keptStamps = onKept.select(GenCol).distinct()
          .collect().map(_.getLong(0)).sorted
        keptStamps.foreach { st =>
          delNames ++= stage(onKept.filter(col(GenCol) === st), dDir,
            s"del$st-")
        }
        doomed.unpersist()
        ts.unpersist()
        ()
      }
      // THE commit: new base + doom files + the untouched kept tail as
      // the data set, the remapped + carried tombstones as the delete
      // set, the floor at `retainAfter`, the epoch unchanged — one
      // atomic marker rename. Everything before this line was additive
      // (orphans at worst); everything after is manifest hygiene.
      val now = commitWrite(spark, path, next,
        baseNames ++ doomNames ++ keep, delNames.toSeq,
        cur.epoch, retainAfter,
        cur.schemaJson.orElse(Some(schema.json)))
      // manifest: drop folded slices (old base part-*/base.parquet and
      // gen <= floor), keep later gen slices (their files never
      // moved), land the new base's slice deterministically
      val mDir = s"${path}_manifest"
      if (f.exists(new Path(mDir))) {
        parquetFiles(spark, mDir).foreach { p =>
          val digits = p.getName.stripPrefix("gen").stripSuffix(".parquet")
          val isKeptSlice = p.getName.startsWith("gen") &&
            digits.nonEmpty && digits.forall(_.isDigit) &&
            digits.toLong > retainAfter
          if (!isKeptSlice) f.delete(p, false)
        }
        val baseFiles = (baseNames ++ doomNames)
          .map(n => new Path(path, n).toString)
        if (baseFiles.nonEmpty) {
          val tmp = s"${path}_incoming/manifestbase"
          Layout.statsManifest(spark.read.parquet(baseFiles: _*), cols)
            .coalesce(1).write.mode("overwrite").parquet(tmp)
          renameStagedIn(spark, tmp, mDir, _ => "base.parquet")
        }
      }
      rebuildBloomManifests(spark, path, now)
  }
}
