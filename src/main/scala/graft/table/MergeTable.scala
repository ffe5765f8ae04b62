package graft.table

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Snapshot metadata for one committed table version. `fileStats` maps a
  * data file to its (min, max) merge-key range when the key is integral —
  * the data-skipping index for point lookups.
  */
final case class Snapshot(
    version: Long,
    dataFiles: Vector[String],    // relative to <root>/data
    deleteFiles: Vector[String],  // relative to <root>/deletes
    appliedBatches: Set[String],
    requiresDedup: Boolean,
    fileStats: Map[String, (Long, Long)] = Map.empty,
    // what produced this version: merge | append | compact | binpack |
    // overwrite | truncate | rollback — drives the incremental change
    // feed (maintenance ops are layout-only; replacement ops force resync)
    op: String = "merge",
    // Some(n) when this snapshot's data files are EXACTLY a bucketed
    // layout (hash(key) into n buckets, written by a bucketed rewrite):
    // reads then go through the session catalog's bucket-aware scan, so
    // key joins/aggs need no Exchange. Any later delta clears it.
    buckets: Option[Int] = None,
    // column → file → (lo, hi) as longs: per-FILE value ranges recorded by
    // the sorted and z-order rewrites. Files are immutable, so entries stay
    // true forever and are inherited across commits (filtered to surviving
    // files) by commit(); readWhere() uses them for manifest-level pruning.
    colStats: Map[String, Map[String, (Long, Long)]] = Map.empty,
    // wall-clock commit time (epoch millis), stamped by commit(); 0 on
    // legacy manifests written before the header existed. Drives
    // TIMESTAMP AS OF resolution ([[MergeTable.versionAtTimestamp]]).
    tsMillis: Long = 0L)

/** A transactional lake table with Iceberg-v2-like semantics, implemented
  * natively over versioned Parquet + a manifest per snapshot (no
  * iceberg-runtime jar in this environment — SURVEY.md §7).
  *
  * Capabilities mirrored from the reference's Firehose→Iceberg destination
  * (cdk_stacks/firehose_to_iceberg.py:79–119; README.md:292–309):
  *   - keyed upsert/delete by a unique key (`unique_keys=["trans_id"]`,
  *     .example.cdk.context.json:22–24)
  *   - dir-partitioning by a payload column (`PARTITIONED BY (event)`)
  *   - parquet + snappy data files
  *   - merge-on-read deletes with a delete-file compaction threshold
  *     (`optimize_rewrite_delete_file_threshold='10'`, README.md:307)
  *   - snapshot isolation + time travel (versioned manifests, atomic
  *     `_latest` pointer swap)
  *
  * == Write path (O(batch), never O(table)) ==
  * `applyBatch` writes ONLY the incoming batch: upserts become new data
  * files carrying a `_seq` column (= commit version), deletes become
  * key-tombstone files. Nothing existing is rewritten — at 100 TB a
  * copy-on-write of a 17 TB `event=` partition per micro-batch would be the
  * bottleneck; merge-on-read keeps commits proportional to batch size.
  *
  * == Read path ==
  * If the table has only ever seen inserts (`requiresDedup=false`) the read
  * is a plain parquet scan — no shuffle. Otherwise rows are reduced to
  * last-write-wins per key by `_seq` (one hash-partitioned window) and
  * tombstoned keys dropped. `compact()` materializes the merged state and
  * resets to the no-shuffle path; it auto-triggers when pending delete
  * files reach `deleteCompactThreshold`, mirroring the reference's MoR
  * maintenance knob.
  *
  * Update that changes the partition column is correct by construction:
  * the new row (higher `_seq`) wins the window regardless of which
  * directory the old row lives in; compaction physically drops the old copy.
  *
  * Replayed micro-batches after checkpoint recovery are no-ops: every
  * commit records its `batchId` in the manifest and `applyBatch` skips
  * already-applied ids (effective exactly-once on top of an at-least-once
  * source, cf. SURVEY.md §2.9 T6).
  *
  * Layout:
  * {{{
  *   <root>/_latest                  current version number (atomic swap)
  *   <root>/manifest/v<N>.manifest   snapshot file list (TSV)
  *   <root>/data/<part=x>/          data files (payload + _seq)
  *   <root>/deletes/                tombstones (key + _seq)
  * }}}
  */
final class MergeTable(
    val root: String,
    val schema: StructType,
    val keyCol: String,
    val partitionCol: Option[String],
    val deleteCompactThreshold: Int = 10,
    // Some(name) = this handle addresses a BRANCH (write-audit-publish):
    // same data/delete dirs, but the version pointer and manifests live
    // under branches/<name>/ — commits advance the branch, never main.
    val branchName: Option[String] = None,
    // Iceberg-style rename indirection: LOGICAL column name → PHYSICAL
    // name (the name actually written in parquet files; assigned at
    // column creation and never changed). Only non-identity entries are
    // stored; empty = every column reads/writes under its own name and
    // every plan is byte-identical to the pre-rename code path.
    val physicalNames: Map[String, String] = Map.empty,
    // Partition-spec evolution epoch: 0 = the original layout at the data
    // root; each `evolvePartitionSpec` bumps it and NEW files land under
    // data/pspec-<id>/ with the new spec. Old files keep their old layout
    // forever — the read side derives every file group's partition column
    // from its path (the `k=v` directory segment), so mixed-spec
    // snapshots read without any per-file metadata.
    val writeSpecId: Int = 0,
    // SHALLOW-CLONE indirection (Delta CLONE semantics): table roots whose
    // data/deletes directories back any manifest-listed file absent from
    // this table's own directories. A clone owns only files it writes
    // AFTER the clone; reads resolve own-dir first, then each fallback in
    // order (clone-of-clone chains). Every delete/GC path removes via the
    // OWN directory only (deleteIfExists on a path that lives in a
    // fallback is a no-op), so compaction/expiry/orphan-GC on a clone can
    // never touch the source's bytes. The Delta caveat holds identically:
    // expiry/GC on the SOURCE can remove files a clone still references —
    // clone reads then surface the same missing-file sentinel as any
    // expired snapshot.
    val dataFallbacks: Seq[String] = Nil) {

  private val rootPath: Path = Paths.get(root)
  private val dataDir: Path = rootPath.resolve("data")
  private val deleteDir: Path = rootPath.resolve("deletes")
  private val fallbackDataDirs: Seq[Path] =
    dataFallbacks.map(r => Paths.get(r).resolve("data"))
  private val fallbackDeleteDirs: Seq[Path] =
    dataFallbacks.map(r => Paths.get(r).resolve("deletes"))

  /** Resolve a manifest-listed data file: own directory first, then the
    * clone-fallback chain. Missing everywhere → the own-dir path, so
    * callers' missing-file sentinels behave exactly as for an expired
    * snapshot.
    */
  private def dataPath(f: String): Path = {
    val own = dataDir.resolve(f)
    if (fallbackDataDirs.isEmpty || Files.exists(own)) own
    else fallbackDataDirs.map(_.resolve(f)).find(Files.exists(_))
      .getOrElse(own)
  }

  private def delPath(f: String): Path = {
    val own = deleteDir.resolve(f)
    if (fallbackDeleteDirs.isEmpty || Files.exists(own)) own
    else fallbackDeleteDirs.map(_.resolve(f)).find(Files.exists(_))
      .getOrElse(own)
  }

  /** The data ROOT a manifest-listed file group reads under — needed as
    * `basePath` so directory-partition discovery works for fallback
    * (source-owned) file groups exactly as for own ones.
    */
  private def dataRootOf(f: String): Path = {
    if (fallbackDataDirs.isEmpty || Files.exists(dataDir.resolve(f))) dataDir
    else fallbackDataDirs.find(d => Files.exists(d.resolve(f)))
      .getOrElse(dataDir)
  }
  // metadata root: the table root, or branches/<name>/ for a branch handle
  private val metaRoot: Path =
    branchName.fold(rootPath)(n => rootPath.resolve("branches").resolve(n))
  private val manifestDir: Path = metaRoot.resolve("manifest")

  /** Test seam: invoked by [[commitWrite]] after each commit attempt's
    * base-snapshot read, before anything derived from it. Lets
    * ConcurrentCommitSpec land a foreign commit deterministically inside
    * the window where a separate `latestVersion` re-read once let that
    * commit be silently dropped (the proposed version now derives from
    * the SAME read, so the stale attempt must conflict instead).
    */
  private[graft] var onBaseSnapshotRead: () => Unit = () => ()

  private val SEQ = "_seq"
  private val payloadCols: Seq[String] = schema.fields.map(_.name).toSeq
  require(payloadCols.contains(keyCol), s"key $keyCol not in schema")
  partitionCol.foreach(p => require(payloadCols.contains(p), s"partition $p not in schema"))
  physicalNames.keys.foreach(c =>
    require(payloadCols.contains(c), s"rename mapping for unknown column $c"))

  /** Physical (file-level) name of a logical column. Identity unless the
    * column was renamed: [[renameColumn]] keeps the original physical
    * name forever, so every file ever written stays readable.
    */
  private def phys(c: String): String = physicalNames.getOrElse(c, c)

  /** The schema of a data file group as read: physical names, `_seq`,
    * and the group's directory-partition column `dirKey` (a physical
    * name) last.
    */
  private def fileSchema(dirKey: Option[String]): StructType = {
    val fields = schema.fields.map(f => f.copy(name = phys(f.name)))
    StructType(fields.filterNot(f => dirKey.contains(f.name)) ++
      Seq(StructField(SEQ, LongType)) ++ fields.filter(f => dirKey.contains(f.name)))
  }

  /** Where new data files land, relative to the data root: the CURRENT
    * spec's directory. Manifest paths stay dataDir-relative, with the
    * pspec prefix in the name, exactly like the bucketed-v prefix.
    */
  private val specDir: String = if (writeSpecId == 0) "" else s"pspec-$writeSpecId"

  /** (layout prefix, partition dir column) of a manifest file path. The
    * path is self-describing: `bucketed-v7/` / `pspec-2/` prefixes name
    * the layout root, and a `k=v` segment names the PHYSICAL partition
    * column the file was written under — so files from every spec epoch
    * (and pre-epoch legacy files) read correctly with zero per-file
    * metadata.
    */
  private def layoutOf(f: String): (String, Option[String]) = {
    val (prefix, rest) =
      if (f.startsWith("bucketed-v") || f.startsWith("pspec-")) {
        val i = f.indexOf('/')
        (f.substring(0, i), f.substring(i + 1))
      } else ("", f)
    val dirKey = rest.indexOf('/') match {
      case -1 => None
      case i =>
        val seg = rest.substring(0, i)
        val j = seg.indexOf('=')
        if (j > 0) Some(seg.substring(0, j)) else None
    }
    (prefix, dirKey)
  }

  /** Read a set of manifest data files — across layout prefixes, spec
    * epochs, and renames — as ONE logical frame (payload + _seq). Each
    * (prefix, partition-column) group gets its own basePath and explicit
    * physical schema (the group's dir column comes from the path, every
    * other payload column from bytes); groups union by name. For a
    * single-group table this produces the same scan shape as a direct
    * read.
    */
  private def readDataFilesLogical(spark: SparkSession,
      files: Seq[String]): DataFrame = {
    // shallow clones group by data ROOT as well: a fallback (source-owned)
    // file group needs the source's dataDir as basePath for directory-
    // partition discovery, an own group needs this table's
    val groups = files.groupBy(f => (dataRootOf(f), layoutOf(f)))
    val dfs = groups.toSeq.sortBy(_._1.toString).map {
      case ((groupRoot, (prefix, dirKey)), fs) =>
        val base = if (prefix.isEmpty) groupRoot else groupRoot.resolve(prefix)
        spark.read.option("basePath", base.toString)
          .schema(fileSchema(dirKey))
          .parquet(fs.map(f => groupRoot.resolve(f).toString): _*)
          .select(payloadCols.map(c => col(phys(c)).as(c)) :+ col(SEQ): _*)
    }
    dfs.reduce(_ unionByName _)
  }

  // ---- manifest I/O (TSV: no JSON dependency, trivially streamable) ----
  //
  // Chunked, Iceberg-style: file/batch entry lines live in IMMUTABLE chunk
  // files (`chunk-<id>.tsv`); each snapshot's `v<N>.manifest` holds only
  // header lines plus `chunk` references. A commit reuses every previous
  // chunk whose entries all survive, and writes ONE new chunk with the
  // delta — so commit manifest I/O is O(changed entries + #chunks), not
  // O(total table files). When references accumulate past MaxChunkRefs the
  // commit folds them into one chunk (amortized LSM-ish maintenance).
  // Legacy inline manifests (entry lines directly in v<N>.manifest) still
  // parse — the line grammar is shared.

  private val MaxChunkRefs = 64

  private def manifestPath(v: Long): Path = manifestDir.resolve(s"v$v.manifest")

  /** Chunk files are immutable → cache by name for the instance lifetime. */
  private val chunkCache = scala.collection.concurrent.TrieMap.empty[String, Vector[String]]

  private def readChunk(name: String): Vector[String] =
    chunkCache.getOrElseUpdate(name, {
      // branch manifests inherit chunks from the main chain at fork time;
      // chunks are immutable and unique by name, so falling back to the
      // table's primary manifest dir is always safe
      val local = manifestDir.resolve(name)
      val p = if (Files.exists(local)) local
              else rootPath.resolve("manifest").resolve(name)
      Files.readAllLines(p).asScala.toVector
    })

  private def writeChunk(lines: Seq[String]): String = {
    val name = s"chunk-${UUID.randomUUID().toString.take(12)}.tsv"
    val tmp = manifestDir.resolve(s".$name.tmp")
    Files.writeString(tmp, lines.mkString("", "\n", "\n"))
    Files.move(tmp, manifestDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    chunkCache.put(name, lines.toVector)
    name
  }

  /** A snapshot's entries in canonical TSV-line form (the unit of chunk
    * dedup/reuse).
    */
  private def entryLines(s: Snapshot): Vector[String] =
    s.dataFiles.map { f =>
      s.fileStats.get(f) match {
        case Some((lo, hi)) => s"data\t$f\t$lo\t$hi"
        case None           => s"data\t$f"
      }
    } ++
      s.deleteFiles.map(f => s"delete\t$f") ++
      s.appliedBatches.toVector.sorted.map(b => s"batch\t$b") ++
      s.colStats.toVector.sortBy(_._1).flatMap { case (c, m) =>
        m.toVector.sortBy(_._1).map { case (f, (lo, hi)) =>
          s"cstat\t$c\t$f\t$lo\t$hi"
        }
      }

  private[graft] def chunkRefsOf(v: Long): Vector[String] =
    if (v < 0 || !Files.exists(manifestPath(v))) Vector.empty
    else Files.readAllLines(manifestPath(v)).asScala.iterator.flatMap { l =>
      l.split("\t", -1) match {
        case Array("chunk", name) => Some(name)
        case _                    => None
      }
    }.toVector

  private[graft] def writeManifest(s: Snapshot): Unit = {
    val lines = entryLines(s)
    val want = lines.toSet
    // reuse each predecessor chunk iff ALL its entries survive in s;
    // chunks are disjoint by construction so reuse keeps them disjoint
    val reusable = chunkRefsOf(s.version - 1)
      .filter(r => readChunk(r).forall(want.contains))
    val covered = reusable.iterator.flatMap(readChunk).toSet
    val fresh = lines.filterNot(covered.contains)
    val refs0 = reusable ++ (if (fresh.nonEmpty) Vector(writeChunk(fresh)) else Vector.empty)
    val refs =
      if (refs0.size <= MaxChunkRefs) refs0
      else Vector(writeChunk(lines)) // fold: one chunk, ordered as s
    val sb = new StringBuilder
    sb ++= s"version\t${s.version}\n"
    sb ++= s"op\t${s.op}\n"
    if (s.tsMillis > 0) sb ++= s"ts\t${s.tsMillis}\n"
    sb ++= s"requiresDedup\t${s.requiresDedup}\n"
    s.buckets.foreach(n => sb ++= s"buckets\t$n\n")
    refs.foreach(r => sb ++= s"chunk\t$r\n")
    val tmp = manifestDir.resolve(s".v${s.version}.tmp")
    Files.writeString(tmp, sb.toString)
    Files.move(tmp, manifestPath(s.version), StandardCopyOption.ATOMIC_MOVE)
  }

  private[graft] def readManifest(v: Long): Snapshot = {
    val raw = Files.readAllLines(manifestPath(v)).asScala
    // splice chunk refs inline; legacy manifests carry entry lines directly
    val lines = raw.iterator.flatMap { l =>
      l.split("\t", -1) match {
        case Array("chunk", name) => readChunk(name)
        case _                    => Vector(l)
      }
    }
    var requiresDedup = false
    var op = "merge"
    var buckets: Option[Int] = None
    var ts = 0L
    val data = Vector.newBuilder[String]
    val dels = Vector.newBuilder[String]
    val batches = Set.newBuilder[String]
    val stats = Map.newBuilder[String, (Long, Long)]
    val cstats = scala.collection.mutable.Map
      .empty[String, Map[String, (Long, Long)]]
    lines.foreach { l =>
      l.split("\t", -1) match {
        case Array("op", x)                 => op = x
        case Array("ts", x)                 => ts = x.toLong
        case Array("requiresDedup", x)      => requiresDedup = x.toBoolean
        case Array("buckets", x)            => buckets = Some(x.toInt)
        case Array("data", f)               => data += f
        case Array("data", f, lo, hi)       => data += f; stats += f -> ((lo.toLong, hi.toLong))
        case Array("delete", f)             => dels += f
        case Array("batch", b)              => batches += b
        case Array("cstat", c, f, lo, hi)   =>
          cstats(c) = cstats.getOrElse(c, Map.empty) + (f -> ((lo.toLong, hi.toLong)))
        case _                              => ()
      }
    }
    Snapshot(v, data.result(), dels.result(), batches.result(), requiresDedup,
      stats.result(), op, buckets, cstats.toMap, ts)
  }

  /** Current committed version, or -1 if the table is empty/uncreated. */
  def latestVersion: Long = {
    val p = metaRoot.resolve("_latest")
    if (Files.exists(p)) Files.readString(p).trim.toLong else -1L
  }

  def currentSnapshot: Option[Snapshot] = {
    val v = latestVersion
    if (v < 0) None else Some(readManifest(v))
  }

  /** The base of an uncreated table: version -1, nothing in it. */
  private val noSnapshot = Snapshot(-1, Vector.empty, Vector.empty, Set.empty, false)

  private def headOrEmpty: Snapshot = currentSnapshot.getOrElse(noSnapshot)

  /** All retained versions, oldest first (snapshot history / time travel).
    * Versions removed by `expireSnapshots` no longer appear.
    */
  def history: Seq[Snapshot] =
    (0L to latestVersion).filter(v => Files.exists(manifestPath(v)))
      .map(readManifest)

  /** Serializes the commit critical section (conflict check → manifest
    * write → `_latest` swing) against every other committer of this
    * table/branch: a JVM-wide monitor keyed by the metadata root covers
    * concurrent handles in one process (each handle's `synchronized`
    * methods only serialize that handle), and an OS-level `FileLock` on
    * `_commit.lock` covers committers in other processes on the same
    * filesystem. The monitor is taken first so only one thread per JVM
    * ever holds the channel (overlapping `FileLock`s from one JVM throw).
    */
  private def withCommitLock[T](body: => T): T = {
    val key = metaRoot.toAbsolutePath.normalize.toString
    // Reentrant per thread: the escalated retry path wraps a whole
    // attempt (head read → data write → commit) in this lock, and the
    // nested commit() must not try to take a second FileLock on the same
    // file from the same JVM (that throws OverlappingFileLockException
    // regardless of thread).
    if (MergeTable.heldCommitLocks.get().contains(key)) return body
    val mon = MergeTable.commitMonitorFor(key)
    mon.synchronized {
      val ch = FileChannel.open(metaRoot.resolve("_commit.lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        MergeTable.heldCommitLocks.set(
          MergeTable.heldCommitLocks.get() + key)
        try body finally {
          MergeTable.heldCommitLocks.set(
            MergeTable.heldCommitLocks.get() - key)
          lock.release()
        }
      } finally ch.close()
    }
  }

  /** Two-writer commit contract: the whole critical section runs under
    * [[withCommitLock]], so exactly one committer wins each version slot.
    * Its one caller is [[commitWrite]], the commit protocol every writer
    * goes through.
    *
    *   - A committer whose snapshot was built against a head the table
    *     has since moved past gets a [[MergeTable.CommitConflictException]]
    *     BEFORE anything is written — never a silent overwrite, never a
    *     backwards `_latest` swing. `commitWrite` then deletes what the
    *     attempt staged. `appendAll`, `applyBatch` and
    *     `inheritAppliedBatches` rebase (re-run the attempt against the
    *     fresh snapshot, bounded retries); `rewrite`, `overwrite`,
    *     `truncate` and `rollbackTo` surface it to the caller, whose
    *     intent against a moved head is genuinely ambiguous.
    *   - A manifest file sitting ABOVE `_latest` while we hold the lock
    *     can only be debris from a writer that died between its manifest
    *     move and pointer swing (no live committer can be mid-commit —
    *     it would hold this lock): it is deleted and the slot reclaimed,
    *     keeping version numbering dense so history/change-feed range
    *     arithmetic never sees a never-committed snapshot.
    */
  private def commit(s0: Snapshot): Unit = withCommitLock {
    val cur = latestVersion
    if (s0.version <= cur)
      throw new MergeTable.CommitConflictException(
        s"commit of v${s0.version} lost to concurrent head v$cur at $metaRoot")
    // s0.version == cur + 1 by construction (committers propose head+1 and
    // heads only advance); reclaim the slot from any crashed writer
    Files.deleteIfExists(manifestPath(s0.version))
    // Inherit per-file column stats from the predecessor, filtered to the
    // files this snapshot still references: files are immutable so the
    // ranges stay true; rewritten-away files drop out here. Explicit stats
    // (from a sorted or z-order rewrite) win on key collision.
    val s = {
      val present = s0.dataFiles.toSet
      val inherited = currentSnapshot.map(_.colStats).getOrElse(Map.empty)
        .map { case (c, m) => c -> m.filter(kv => present(kv._1)) }
        .filter(_._2.nonEmpty)
      if (inherited.isEmpty) s0
      else s0.copy(colStats = inherited.map { case (c, m) =>
        c -> (m ++ s0.colStats.getOrElse(c, Map.empty))
      } ++ (s0.colStats -- inherited.keys))
    }
    writeManifest(if (s.tsMillis > 0) s
      else s.copy(tsMillis = System.currentTimeMillis()))
    // Readers resolve the pointer then the manifest — they can never see a
    // partially written snapshot. Monotonic under the lock: cur can't move
    // while we hold it, and s.version > cur was just checked.
    swingLatest(s.version)
  }

  /** Atomically point `_latest` at version `v`. */
  private def swingLatest(v: Long): Unit = {
    val tmp = metaRoot.resolve(s".latest.${UUID.randomUUID()}.tmp")
    Files.writeString(tmp, v.toString)
    Files.move(tmp, metaRoot.resolve("_latest"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Conflicted attempts after which a rebasing writer gives up. */
  private val MaxCommitAttempts = 10

  /** Run `attempt` until it commits or [[MaxCommitAttempts]] conflicts:
    * the detect-and-rebase loop for the batch writers. Each retry re-reads
    * the head inside `attempt`, so the merge is re-run against the fresh
    * snapshot (new `_seq` stamp, fresh idempotence/requiresDedup state)
    * rather than replayed blind.
    */
  private def withCommitRetries[T](what: String)(attempt: => T): T = {
    var n = 0
    var result = Option.empty[T]
    while (result.isEmpty) {
      n += 1
      try {
        // Optimistic attempts write their data files OUTSIDE the commit
        // lock — the right default (a commit's Spark write takes seconds;
        // holding the lock through it would serialize all committers).
        // But it livelocks under sustained contention: when another
        // writer commits at least once inside every attempt's write
        // window, each retry loses again (observed cross-JVM: 10 losses
        // in a row on a slow host). Escalate after a few losses: run the
        // ENTIRE attempt under the (reentrant) commit lock, where the
        // head provably cannot move — guaranteed progress, paid only on
        // the contended tail.
        result = Some(if (n > 3) withCommitLock(attempt) else attempt)
      } catch {
        case e: MergeTable.CommitConflictException =>
          if (n >= MaxCommitAttempts) throw new MergeTable.CommitConflictException(
            s"$what gave up after $MaxCommitAttempts conflicted attempts: ${e.getMessage}")
      }
    }
    result.get
  }

  /** The one commit protocol: every writer that produces a snapshot runs
    * through it. It checks `batchId`, and an already-applied one
    * (checkpoint recovery) returns at once, at zero Spark jobs. Each
    * attempt then reads the head, fires the [[onBaseSnapshotRead]] seam,
    * re-checks for a replay (the conflicting writer may have been a
    * replay of this very batch id), and proposes the next version FROM
    * THAT SAME READ: a second `latestVersion` read would let a commit
    * landing in between slip past commit()'s conflict check and vanish.
    * `stage` writes the attempt's files and returns the snapshot to
    * commit with what it staged, or None to commit nothing; `batchId`
    * joins the snapshot's applied batches. An attempt that loses the
    * race deletes what it staged before the conflict propagates: to the
    * retry loop when `rebase`, else to the caller. Returns whether a
    * snapshot was committed.
    */
  private def commitWrite(what: String, batchId: Option[String] = None,
      rebase: Boolean = false)(
      stage: (Snapshot, Long) => Option[(Snapshot, MergeTable.Written)]): Boolean = {
    batchId.foreach(id => require(!id.exists(c => c == '\t' || c == '\n'),
      "batchId must not contain tab/newline (manifest is TSV)"))
    def replayed(s: Snapshot) = batchId.exists(s.appliedBatches)
    if (replayed(headOrEmpty)) return false
    def attempt(): Boolean = {
      val prev = headOrEmpty
      onBaseSnapshotRead()
      !replayed(prev) && stage(prev, prev.version + 1).exists { case (s, out) =>
        try commit(s.copy(appliedBatches = s.appliedBatches ++ batchId))
        catch {
          case e: MergeTable.CommitConflictException =>
            // the losing attempt's files are unreferenced (its `_seq`
            // stamp belongs to the slot the winner took) — reclaim eagerly
            discard(out, s.version)
            throw e
        }
        true
      }
    }
    if (rebase) withCommitRetries(what)(attempt()) else attempt()
  }

  def create(): this.type = {
    Seq(dataDir, deleteDir, manifestDir).foreach(Files.createDirectories(_))
    // renames and the spec epoch are written too: a shallow clone of an
    // evolved table must reopen evolved
    if (!Files.exists(rootPath.resolve("_table.meta"))) rewriteMeta(schema)
    this
  }

  /** SHALLOW CLONE (Delta `CLONE` semantics): a new, fully independent
    * table at `destRoot` whose snapshot — and entire pre-clone history,
    * tags included — is this table's, WITHOUT copying a byte of data:
    * manifests are copied, data/delete files are resolved through a
    * fallback chain recorded in the clone's `_table.meta`. From the
    * moment of cloning the two tables diverge freely: each commits,
    * compacts, branches, and GCs on its own; a clone's maintenance can
    * never delete source bytes (it only ever removes from its OWN
    * directories), while source-side `expireSnapshots`/`removeOrphanFiles`
    * CAN remove files the clone still references — the standard shallow-
    * clone caveat, surfaced on the clone as the usual missing-file
    * sentinel. Cloning a clone chains the fallbacks. Branch refs are not
    * cloned (a clone starts with main only); the clone is taken under the
    * commit lock so it lands on a consistent manifest set.
    */
  def shallowClone(destRoot: String): MergeTable = {
    require(branchName.isEmpty, "clone from the main table handle")
    val dest = Paths.get(destRoot)
    require(!Files.exists(dest.resolve("_table.meta")),
      s"table already exists at $destRoot")
    withCommitLock {
      Seq("data", "deletes").foreach(d =>
        Files.createDirectories(dest.resolve(d)))
      val destManifests = dest.resolve("manifest")
      Files.createDirectories(destManifests)
      withDirStream(Files.list(manifestDir))(_.iterator().asScala.toSeq)
        .filterNot(_.getFileName.toString.startsWith("."))
        .foreach(p => Files.copy(p, destManifests.resolve(p.getFileName)))
      Seq("_latest").foreach { n =>
        val p = metaRoot.resolve(n)
        if (Files.exists(p)) Files.copy(p, dest.resolve(n))
      }
      val tagsDir = metaRoot.resolve("tags")
      if (Files.exists(tagsDir)) {
        val destTags = dest.resolve("tags")
        Files.createDirectories(destTags)
        withDirStream(Files.list(tagsDir))(_.iterator().asScala.toSeq)
          .foreach(p => Files.copy(p, destTags.resolve(p.getFileName)))
      }
      val chain = root +: dataFallbacks
      new MergeTable(destRoot, schema, keyCol, partitionCol,
        deleteCompactThreshold, None, physicalNames, writeSpecId,
        dataFallbacks = chain).create()
    }
  }

  /** Materialize every fallback-resolved byte into this table's OWN
    * directories — turns a shallow clone into a fully self-contained
    * DEEP clone (Delta `CLONE ... DEEP` / snapshot backup): every
    * retained manifest's data and delete files are copied local, so
    * source-side GC — or deleting the source outright — can no longer
    * invalidate any readable version. The (now inert) fallback chain
    * stays in the meta: own-dir resolution always wins once the bytes
    * are local. Returns the number of files copied; no-op (0) on a
    * non-clone or an already-materialized clone.
    */
  def materialize(): Int = withCommitLock {
    var copied = 0
    def pull(rel: String, ownDir: Path, resolve: String => Path): Unit = {
      val own = ownDir.resolve(rel)
      if (!Files.exists(own)) {
        val src = resolve(rel)
        if (Files.exists(src) && src != own) {
          Files.createDirectories(own.getParent)
          Files.copy(src, own)
          copied += 1
        }
      }
    }
    history.foreach { s =>
      s.dataFiles.foreach(pull(_, dataDir, dataPath))
      s.deleteFiles.foreach(pull(_, deleteDir, delPath))
    }
    copied
  }

  /** DEEP clone: [[shallowClone]] + [[materialize]] — a standalone full
    * copy (history and tags included) that survives anything done to the
    * source.
    */
  def deepClone(destRoot: String): MergeTable = {
    val c = shallowClone(destRoot)
    c.materialize()
    c
  }

  // ---- write path ----

  /** Move every parquet file under `staged` (including partition subdirs)
    * into `target/sub`, returning target-relative paths.
    */
  private def adoptFiles(staged: Path, target: Path, v: Long,
      sub: String = ""): Vector[String] = {
    if (!Files.exists(staged)) return Vector.empty
    val moved = Vector.newBuilder[String]
    val it = Files.walk(staged).iterator().asScala
    it.filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .foreach { f =>
        val rel = Paths.get(sub).resolve(staged.relativize(f.getParent))
        val destDir = target.resolve(rel)
        Files.createDirectories(destDir)
        val name = s"f$v-${UUID.randomUUID().toString.take(12)}.parquet"
        Files.move(f, destDir.resolve(name))
        moved += rel.resolve(name).toString
      }
    deleteRecursively(staged)
    moved.result()
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  /** Delete what commit `v` staged but never published (a losing or
    * rejected attempt): its data and delete files, or its bucketed layout
    * with the layout's catalog entry.
    */
  private def discard(out: MergeTable.Written, v: Long): Unit =
    if (out.buckets.isDefined) {
      SparkSession.active.sql(s"DROP TABLE IF EXISTS ${bucketTableName(v)}")
      deleteRecursively(bucketDir(v))
    } else {
      out.files.foreach(f => Files.deleteIfExists(dataDir.resolve(f)))
      out.dels.foreach(f => Files.deleteIfExists(deleteDir.resolve(f)))
    }

  private def stagingDir(tag: String, v: Long): Path =
    rootPath.resolve(s".staging-$tag-v$v-${UUID.randomUUID().toString.take(8)}")

  /** Stage `rows` as the data files of commit `v` and adopt them under
    * the current spec: physical column names, the `_seq` stamp, and
    * directory partitions by the partition column. `cluster` lays out the
    * physically-named frame before the write.
    */
  private def writeData(rows: DataFrame, v: Long)(
      cluster: DataFrame => DataFrame): Vector[String] = {
    val staged = stagingDir("data", v)
    // files carry PHYSICAL names (rename-stable)
    val cols = payloadCols.map(c => col(c).as(phys(c))) :+ lit(v).as(SEQ)
    val w = cluster(rows.select(cols: _*))
      .write.mode("overwrite").option("compression", "snappy")
    partitionCol.fold(w)(p => w.partitionBy(phys(p))).parquet(staged.toString)
    adoptFiles(staged, dataDir, v, specDir)
  }

  // cluster by the partition value first: every task otherwise opens a
  // file per partition dir it sees (32 tasks × |events| ≈ 200 small
  // files PER micro-batch — file-open overhead dominated the apply path).
  // round-14 note: a REBALANCE hint here (guide §6 coalesce-on-write) was
  // measured and REVERTED — the extra exchange per commit cost more than
  // the ~31 saved file creates once the sort shuffle writer landed
  // (q65 3.7→4.3 s, CDC apply rate −15%); at cluster scale the
  // compaction paths, not the hot commit path, own file sizing.
  private def writeUpserts(rows: DataFrame, v: Long): Vector[String] =
    writeData(rows, v)(df => partitionCol.fold(df)(p => df.repartition(col(phys(p)))))

  private def writeTombstones(keys: DataFrame, v: Long): Vector[String] = {
    val staged = stagingDir("del", v)
    // Tombstones are tiny (keys only): one file per commit keeps the
    // delete-file count meaningful for the compaction threshold and avoids
    // empty part files from idle shuffle tasks.
    keys.select(col(keyCol).as(phys(keyCol)), lit(v).as(SEQ)).coalesce(1).write
      .mode("overwrite").option("compression", "snappy").parquet(staged.toString)
    adoptFiles(staged, deleteDir, v)
  }

  /** Stage `rows` through `write` as the data files of commit `v`,
    * observing on the write job itself — zero extra jobs — the row count,
    * the merge-key range (integral keys; per-commit data-skipping bounds
    * for `lookup`, where per-file footer stats would re-read every new
    * file) and the violation count of each of `cks`, plus `extra`
    * metrics, whose raw values are returned. A write of no rows keeps no
    * file (unpartitioned writes emit 0-row part files from idle tasks); a
    * violation deletes what was staged and throws before anything
    * commits.
    */
  private def writeObserved(rows: DataFrame, v: Long, cks: Seq[(String, String)],
      extra: Column*)(write: (DataFrame, Long) => Vector[String])
      : (MergeTable.Written, Map[String, Any]) = {
    val keyIsLong = schema(keyCol).dataType == LongType
    val obs = org.apache.spark.sql.Observation()
    val metrics = Seq(count(lit(1)).as("_n")) ++
      (if (keyIsLong) Seq(min(col(keyCol)).as("_lo"), max(col(keyCol)).as("_hi"))
       else Nil) ++ constraintMetrics(cks) ++ extra
    val raw = write(rows.observe(obs, metrics.head, metrics.tail: _*), v)
    val m = obs.get
    val n = observed(m, "_n")
    val files = if (n > 0) raw else { discard(MergeTable.Written(raw), v); Vector.empty }
    val ckCounts = cks.indices.map(i => observed(m, s"_ck$i"))
    if (ckCounts.exists(_ > 0)) {
      discard(MergeTable.Written(files), v)
      failOnViolations(cks, ckCounts)
    }
    val range =
      if (m.get("_lo").exists(_ != null)) Some((observed(m, "_lo"), observed(m, "_hi")))
      else None
    (MergeTable.Written(files, rangeStats(files, range)), m)
  }

  /** An observed count; absent (a no-task plan never emits its metrics
    * row) reads as zero.
    */
  private def observed(m: Map[String, Any], name: String): Long = m.get(name) match {
    case Some(x: Number) => x.longValue()
    case _               => 0L
  }

  // ---- CHECK constraints (Delta-style, reject-whole-batch) ----

  private val constraintsFile: Path = rootPath.resolve("_constraints")

  /** Named CHECK constraints, persisted beside the manifests (TSV
    * name→SQL) so reopened handles and other JVMs enforce them too.
    * Re-read per write — one tiny local file against a Spark job's cost,
    * and the cross-JVM-freshness property the manifest pointer already
    * has. SQL-standard semantics: a row violates only when the
    * expression evaluates to FALSE (NULL passes).
    */
  def checkConstraints: Map[String, String] =
    if (!Files.exists(constraintsFile)) Map.empty
    else Files.readAllLines(constraintsFile).asScala
      .filter(_.nonEmpty).map { l =>
        val Array(n, e) = l.split("\t", 2); n -> e
      }.toMap

  /** [[checkConstraints]] in name order: the order violations report in. */
  private def constraints: Seq[(String, String)] = checkConstraints.toSeq.sortBy(_._1)

  /** Add a CHECK constraint after validating EXISTING rows satisfy it
    * (the Delta contract — a constraint that is already false would make
    * every later write's rejection arbitrary).
    */
  def addCheckConstraint(spark: SparkSession, name: String,
      exprSql: String): Unit = synchronized {
    require(!name.exists(c => c == '\t' || c == '\n'), "bad constraint name")
    // The expression is persisted verbatim on one TSV line; a newline (or
    // CR) would orphan a continuation line and break every later
    // checkConstraints parse. Reject up front rather than corrupt the file.
    require(!exprSql.exists(c => c == '\n' || c == '\r'),
      "constraint expression must be single-line (no newlines)")
    val bad = read(spark).filter(!coalesce(expr(exprSql), lit(true))).count()
    if (bad > 0) throw new MergeTable.ConstraintViolationException(name, bad,
      s"cannot add CHECK $name ($exprSql): $bad existing rows violate it")
    val all = checkConstraints + (name -> exprSql)
    Files.write(constraintsFile,
      all.toSeq.sorted.map { case (n, e) => s"$n\t$e" }.mkString("\n")
        .getBytes("UTF-8"))
  }

  def dropCheckConstraint(name: String): Unit = synchronized {
    val all = checkConstraints - name
    if (all.isEmpty) Files.deleteIfExists(constraintsFile)
    else Files.write(constraintsFile,
      all.toSeq.sorted.map { case (n, e) => s"$n\t$e" }.mkString("\n")
        .getBytes("UTF-8"))
    ()
  }

  /** Per-constraint violation-count aggregate columns (violation =
    * expression FALSE; NULL passes, per SQL CHECK).
    */
  private def constraintMetrics(cks: Seq[(String, String)]) =
    cks.zipWithIndex.map { case ((_, e), i) =>
      count(when(expr(e) === false, 1)).as(s"_ck$i")
    }

  private def failOnViolations(cks: Seq[(String, String)],
      counts: Seq[Long]): Unit =
    cks.zip(counts).find(_._2 > 0).foreach { case ((n, e), c) =>
      throw new MergeTable.ConstraintViolationException(n, c,
        s"CHECK $n ($e) rejected the batch: $c violating rows " +
          "(nothing committed)")
    }

  /** Partial-acceptance companion to the CHECK enforcement: split the
    * batch on the table's constraints, append the CLEAN slice here and
    * the violating slice — payload plus a `violated` column naming the
    * FIRST failing constraint — to `deadLetter` (the table-layer face of
    * CdcTransformer's error-sink semantics; use plain appendAll when a
    * bad row should poison the whole batch instead). Both appends key
    * idempotence off derived batch ids, so checkpoint-recovery replays
    * land each slice exactly-once even when the crash fell between the
    * two commits. Returns (clean, dead) row counts, read from the split
    * aggregation (the persisted split costs one pass; the clean append's
    * observed re-check then passes by construction).
    */
  def appendWithDeadLetter(rows: DataFrame, deadLetter: MergeTable,
      batchId: Option[String] = None): (Long, Long) = {
    val (_, nClean, nDead) = splitAppend(rows, deadLetter, batchId, keep = false)
    (nClean, nDead)
  }

  /** [[appendWithDeadLetter]] returning the committed CLEAN slice itself
    * (eagerly checkpointed, so it stays consumable after internal caches
    * release) — the handoff a composed pipeline needs when the gated
    * slice feeds further stages within the same epoch. Same derived
    * `-clean`/`-dead` batch ids, same replay contract; the returned
    * frame is deterministic for a given (batch, constraints), so a
    * checkpoint-recovery replay hands downstream stages the identical
    * slice. Caller owns the checkpoint blocks (release via the
    * getPersistentRDDs diff pattern in a long-running stream).
    */
  def appendWithDeadLetterKept(rows: DataFrame, deadLetter: MergeTable,
      batchId: Option[String] = None): (DataFrame, Long, Long) =
    splitAppend(rows, deadLetter, batchId, keep = true)

  /** The one constraint gate behind both dead-letter appends; `keep`
    * checkpoints the clean slice so it can be handed back.
    */
  private def splitAppend(rows: DataFrame, deadLetter: MergeTable,
      batchId: Option[String], keep: Boolean): (DataFrame, Long, Long) = {
    def kept(df: DataFrame) = if (keep) df.localCheckpoint(eager = true) else df
    val cks = constraints
    if (cks.isEmpty) {
      val all = kept(rows)
      val n = all.count()
      appendAll(all, batchId)
      return (all, n, 0L)
    }
    // first failing constraint (violation = expression FALSE; NULL
    // passes, per SQL CHECK)
    val flagged = rows.withColumn("_violated",
      coalesce(cks.map { case (n, e) => when(expr(e) === false, lit(n)) }: _*))
      .persist()
    try {
      val clean = kept(flagged.filter(col("_violated").isNull).drop("_violated"))
      val dead = flagged.filter(col("_violated").isNotNull)
        .withColumnRenamed("_violated", "violated")
      val nClean = clean.count()
      val nDead = dead.count()
      if (nClean > 0) appendAll(clean, batchId.map(_ + "-clean"))
      if (nDead > 0) deadLetter.appendAll(dead, batchId.map(_ + "-dead"))
      (clean, nClean, nDead)
    } finally { flagged.unpersist(blocking = false); () }
  }

  /** Per-file key stats when every file carries the same `range`. */
  private def rangeStats(files: Vector[String],
      range: Option[(Long, Long)]): Map[String, (Long, Long)] =
    range.fold(Map.empty[String, (Long, Long)])(r => files.map(_ -> r).toMap)

  /** The replay-dedup ledger: batch ids whose commits have landed on
    * this table. Exposed so a DERIVED table can [[inheritAppliedBatches]].
    */
  def appliedBatchIds: Set[String] =
    currentSnapshot.map(_.appliedBatches).getOrElse(Set.empty)

  /** Merge `ids` into the replay-dedup ledger without touching data — a
    * metadata-only commit. The rebuilt-derived-table move: when a new
    * table's CONTENTS replace another table's (an index recluster's
    * re-assign scan is the canonical case), every epoch id already folded
    * into the source must dedupe against the derived table too, or a
    * checkpoint replay of one of those epochs lands a second copy of a
    * batch whose rows the derivation already carried over.
    */
  def inheritAppliedBatches(ids: Set[String]): Unit = synchronized {
    if (ids.nonEmpty) commitWrite("inheritAppliedBatches", rebase = true) { (prev, v) =>
      Option.when((ids -- prev.appliedBatches).nonEmpty)(Snapshot(v, prev.dataFiles,
        prev.deleteFiles, prev.appliedBatches ++ ids, prev.requiresDedup,
        prev.fileStats, op = "append") -> MergeTable.Written())
    }
  }

  /** Bootstrap / full-load append: no merge, no dedup flag flip.
    * (Reference full-load phase, dms_aurora_mysql_to_kinesis.py:126–135.)
    */
  def appendAll(rows: DataFrame, batchId: Option[String] = None): Unit =
    synchronized {
      commitWrite("appendAll", batchId, rebase = true) { (prev, v) =>
        val (out, _) = writeObserved(rows, v, constraints)(writeUpserts)
        Some(Snapshot(v, prev.dataFiles ++ out.files, prev.deleteFiles,
          prev.appliedBatches, prev.requiresDedup, prev.fileStats ++ out.keyStats,
          op = "append") -> out)
      }
    }

  /** Keyed transactional apply — the reference's J1 merge
    * (firehose_to_iceberg.py:109–116): `insert|update` upsert by `keyCol`,
    * `delete` removes the keyed row.
    *
    * Expects payload columns plus `operation` and (optionally)
    * `src_timestamp` / `transaction_id` for last-write-wins ordering within
    * the batch (A2: per-key LWW by source event order — Kinesis partition
    * key = primary key, gen_fake_cdc_data.py:77).
    */
  def applyBatch(batch: DataFrame, batchId: Option[String] = None): Unit =
    synchronized {
      val hasTs = batch.columns.contains("src_timestamp")
      val hasTx = batch.columns.contains("transaction_id")
      val ordering =
        (if (hasTs) Seq(col("src_timestamp").desc_nulls_last) else Nil) ++
          (if (hasTx) Seq(col("transaction_id").desc_nulls_last) else Nil)

      // One shuffle on the key (mirrors DMS ParallelApply PK partitioning,
      // dms_aurora_mysql_to_kinesis.py:125): collapse the batch to the final
      // operation per key before applying.
      val lww =
        if (ordering.nonEmpty) {
          val w = Window.partitionBy(col(keyCol)).orderBy(ordering: _*)
          batch.withColumn("_rn", row_number().over(w))
            .filter(col("_rn") === 1).drop("_rn")
        } else batch.dropDuplicates(keyCol)

      val committed = commitWrite("applyBatch", batchId, rebase = true) { (prev, v) =>
        // cached for the attempt's two writes; a rebased retry re-runs the
        // collapse against the fresh head with a fresh `_seq` stamp
        val cached = lww.cache()
        try {
          // Zero dedicated metadata jobs per micro-batch: op counts, the
          // batch key range and the CHECK violation counts ride the WRITE
          // jobs as Observation metrics (the earlier standalone
          // groupBy-collect was a full extra job per batch; before that,
          // per-question isEmpty() probes were three). Upserts only are
          // constrained — tombstones carry no payload.
          val (up, m) = writeObserved(
            cached.filter(col("operation").isin("insert", "update")), v, constraints,
            count(when(col("operation") === "update", 1)).as("nupd"))(writeUpserts)
          val delObs = org.apache.spark.sql.Observation()
          val rawDels = writeTombstones(cached.filter(col("operation") === "delete")
            .observe(delObs, count(lit(1)).as("ndel")), v)
          val dels =
            if (observed(delObs.get, "ndel") > 0) rawDels
            else { discard(MergeTable.Written(dels = rawDels), v); Vector.empty }
          Some(Snapshot(v, prev.dataFiles ++ up.files, prev.deleteFiles ++ dels,
            prev.appliedBatches,
            prev.requiresDedup || observed(m, "nupd") > 0 || dels.nonEmpty,
            prev.fileStats ++ up.keyStats) -> up.copy(dels = dels))
        } finally cached.unpersist()
      }

      if (committed && headOrEmpty.deleteFiles.size >= deleteCompactThreshold)
        try compactScoped(batch.sparkSession)
        catch {
          // auto-compaction is opportunistic maintenance: losing a commit
          // race to a concurrent writer must not fail the micro-batch that
          // triggered it — the threshold is still exceeded, so the next
          // batch re-triggers; the losing rewrite already deleted what it
          // staged
          case _: MergeTable.CommitConflictException => ()
        }
    }

  // ---- read path ----

  private def emptyDf(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Current-snapshot read (or time travel via `asOfVersion`). */
  def read(spark: SparkSession, asOfVersion: Option[Long] = None): DataFrame =
    asOfVersion.map(readManifest).orElse(currentSnapshot)
      .fold(emptyDf(spark))(readAt(spark, _))

  private def readAt(spark: SparkSession, snap: Snapshot): DataFrame =
    if (snap.dataFiles.isEmpty) emptyDf(spark)
    else if (snap.buckets.isDefined) {
      // bucket-aware scan via the session catalog: outputPartitioning =
      // HashPartitioning(key, n), so downstream key joins/aggs skip the
      // Exchange entirely (bucketed snapshots are compacted → no merge)
      ensureBucketTable(spark, snap)
      val t = spark.table(bucketTableName(snap.version))
      if (physicalNames.isEmpty) t.select(payloadCols.map(col): _*)
      else t.select(payloadCols.map(c => col(phys(c)).as(c)): _*)
    } else readSnapshot(spark, snap)

  private def bucketTableName(v: Long): String =
    s"graft_bkt_${Integer.toHexString(root.hashCode)}_v$v"

  private def bucketDir(v: Long): Path = dataDir.resolve(s"bucketed-v$v")

  /** (Re)register the bucketed snapshot's catalog entry — metadata only,
    * per session; the files on disk are the source of truth.
    */
  private def ensureBucketTable(spark: SparkSession, snap: Snapshot): Unit = {
    val tbl = bucketTableName(snap.version)
    if (!spark.catalog.tableExists(tbl)) {
      // catalog entry speaks PHYSICAL names (matches the files; rename-
      // stable, so a post-rename session reuses a pre-rename entry)
      val partClause = partitionCol.fold("")(p => s"PARTITIONED BY (${phys(p)})")
      spark.sql(
        s"""CREATE TABLE $tbl (${fileSchema(partitionCol.map(phys)).toDDL})
           USING PARQUET
           $partClause
           CLUSTERED BY (${phys(keyCol)}) SORTED BY (${phys(keyCol)}) INTO ${snap.buckets.get} BUCKETS
           LOCATION '${bucketDir(snap.version)}'""")
      if (partitionCol.isDefined)
        spark.sql(s"ALTER TABLE $tbl RECOVER PARTITIONS")
    }
  }

  // ---- rewrite: table maintenance (Iceberg's rewrite_data_files) ----

  /** Rewrite the current snapshot's data files under strategy `how` as
    * ONE layout-only commit (`op = "binpack"` for BinPack, `"compact"`
    * otherwise): every key reads the same before and after, and the
    * change feed emits nothing for it. One skeleton serves every
    * strategy, staged inside [[commitWrite]]: the strategy picks the
    * files it rewrites (the rest are carried untouched); their merged
    * state is read and laid out by the strategy; commit.
    * Superseded files stay on disk for older retained snapshots (time
    * travel, rollback, lagging feed consumers) until `expireSnapshots` —
    * the Iceberg rewrite/expire split. A rewrite that loses the commit
    * race deletes what it staged and rethrows the conflict: its intent
    * against a moved head is the caller's to re-issue.
    */
  def rewrite(spark: SparkSession, how: MergeTable.Rewrite): Unit = synchronized {
    import MergeTable.Rewrite._
    val statCols = how match {
      case Sorted(c, _) => Seq(c)
      case ZOrder(cs, _) =>
        require(cs.size >= 2 && cs.size <= 3, "z-order supports 2-3 columns " +
          "(1 → Sorted; >3 → 16-bit ranks overflow the long)")
        cs
      case Bucketed(n) =>
        require(n > 0)
        require(branchName.isEmpty, "a bucketed rewrite runs on main only " +
          "(the bucketed-v<N> layout dir is keyed by main-chain versions)")
        Nil
      case _ => Nil
    }
    // per-file stats are kept as longs via an order-preserving cast
    statCols.foreach { c =>
      require(payloadCols.contains(c), s"no such column $c")
      require(!partitionCol.contains(c),
        s"$c is the partition column, already dir-pruned; pick another column")
      require(MergeTable.StatTypes.contains(schema(c).dataType),
        s"stat column $c must be integral or timestamp, got ${schema(c).dataType}")
    }

    commitWrite("rewrite") { (prev, v) =>
      // the files the strategy rewrites (the rest are carried untouched);
      // None when there is nothing to do
      val targets: Option[Vector[String]] = how match {
        case _ if prev.version < 0 => None
        case Scoped =>
          Option.when(prev.requiresDedup || prev.deleteFiles.nonEmpty)(
            scopedTargets(spark, prev))
        // a bucketed snapshot is already exactly nBuckets files, and packing
        // would break the bucket-id file naming the catalog scan relies on
        case BinPack(maxFiles) if prev.buckets.isEmpty =>
          Some(prev.dataFiles.groupBy(dirOf).values
            .filter(_.size > maxFiles).flatten.toVector).filter(_.nonEmpty)
        case BinPack(_) => None
        case _ => Some(prev.dataFiles)
      }
      targets.map { targets =>
        val pack = how.isInstanceOf[BinPack]
        val targetSet = targets.toSet
        val kept = prev.dataFiles.filterNot(targetSet)
        // Bin-packing concatenates files as they are. Every other strategy
        // rewrites the merged state of its targets: the whole snapshot, or a
        // scoped subset whose collisions and tombstones all resolve inside
        // it. A rewrite carries rows the table already holds, so it passes
        // no CHECK gate.
        def merged = if (kept.isEmpty) readAt(spark, prev)
          else readSnapshot(spark, prev.copy(dataFiles = targets, requiresDedup = true))
        val out = how match {
          case BinPack(_) => packDirs(spark, prev, targets, v)
          // scoped, nothing dirty: metadata-only, the commit clears the debt
          case _ if targets.isEmpty => MergeTable.Written()
          case Sorted(c, n) =>
            writeRangeClustered(spark, merged, v, n, statCols)(_ => col(phys(c)))
          case ZOrder(cs, n) =>
            writeRangeClustered(spark, merged, v, n, statCols)(zValue(_, cs))
          case Bucketed(n) =>
            writeObserved(merged, v, Nil)(writeBucketed(spark, _, _, n))._1
              .copy(buckets = Some(n))
          case _ => writeObserved(merged, v, Nil)(writeUpserts)._1 // merge-all, scoped
        }
        Snapshot(v, kept ++ out.files,
          if (pack) prev.deleteFiles else Vector.empty, prev.appliedBatches,
          requiresDedup = pack && prev.requiresDedup,
          prev.fileStats.filter(kv => !targetSet(kv._1)) ++ out.keyStats,
          op = if (pack) "binpack" else "compact",
          buckets = out.buckets, colStats = out.colStats) -> out
      }
    }
  }

  /** The MoR→RoR maintenance the reference configures via
    * `optimize_rewrite_delete_file_threshold` (README.md:307).
    */
  def compact(spark: SparkSession): Unit = rewrite(spark, MergeTable.Rewrite.MergeAll)

  /** What `applyBatch` runs once pending delete files reach the threshold. */
  def compactScoped(spark: SparkSession): Unit = rewrite(spark, MergeTable.Rewrite.Scoped)

  private def dirOf(f: String): String = f.lastIndexOf('/') match {
    case -1 => ""
    case i  => f.substring(0, i)
  }

  /** The scoped sweep: the data files that can hold a tombstoned key or
    * that share their key range with a file from a DIFFERENT commit —
    * every file when per-file key stats are missing (non-integral key).
    *
    * Correctness: files written by one commit are mutually key-unique
    * (every write path LWW-dedupes or merges before writing), so only
    * range overlap ACROSS commits can mean a duplicated key, and only a
    * range overlap with a tombstone can mean a deletable row. "Clean"
    * files have neither, and so can't be changed by the merge; every
    * remaining collision and every tombstone resolves inside the
    * returned subset, which is why the commit may clear all delete files
    * and `requiresDedup`.
    */
  private def scopedTargets(spark: SparkSession, prev: Snapshot): Vector[String] = {
    if (!prev.dataFiles.forall(prev.fileStats.contains)) return prev.dataFiles

    // tombstone key ranges, one per delete file (tombstones are tiny)
    val tombRanges: Seq[(Long, Long)] =
      if (prev.deleteFiles.isEmpty) Nil
      else spark.read
        .parquet(prev.deleteFiles.map(f => delPath(f).toString): _*)
        .groupBy(input_file_name())
        .agg(min(col(phys(keyCol))).as("lo"), max(col(phys(keyCol))).as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq

    val commitOf: String => Long = { f =>
      val base = f.substring(f.lastIndexOf('/') + 1)
      "^f(\\d+)-".r.findFirstMatchIn(base).map(_.group(1).toLong).getOrElse(-1L)
    }
    // sweep files in key order into range-overlap clusters (lo, hi,
    // files); a cluster is dirty iff it spans >=2 commits (possible
    // duplicated keys) or overlaps a tombstone range (possible deleted rows)
    val clusters = prev.dataFiles.sortBy(prev.fileStats)
      .foldLeft(List.empty[(Long, Long, List[String])]) { (acc, f) =>
        val (lo, hi) = prev.fileStats(f)
        acc match {
          case (cLo, cHi, fs) :: rest if lo <= cHi => (cLo, cHi max hi, f :: fs) :: rest
          case _ => (lo, hi, List(f)) :: acc
        }
      }
    val affected: Set[String] = clusters.flatMap { case (lo, hi, fs) =>
      val dirty = fs.map(commitOf).distinct.size > 1 ||
        tombRanges.exists(t => t._1 <= hi && t._2 >= lo)
      if (dirty) fs else Nil
    }.toSet
    prev.dataFiles.filter(affected)
  }

  /** The bucketed layout, under `bucketed-v<v>/` and in the catalog. */
  private def writeBucketed(spark: SparkSession, in: DataFrame, v: Long,
      nBuckets: Int): Vector[String] = {
    val tbl = bucketTableName(v)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    // keep the dir-partition layout (if any) so a later DELTA commit's
    // partitioned files and these bucket files read uniformly by path
    val writer = in
      .select(payloadCols.map(c => col(c).as(phys(c))) :+ lit(v).as(SEQ): _*)
      .repartition(nBuckets, col(phys(keyCol)))
      .write.mode("overwrite")
      .bucketBy(nBuckets, phys(keyCol)).sortBy(phys(keyCol))
      .option("path", bucketDir(v).toString)
      .format("parquet")
    partitionCol.fold(writer)(p => writer.partitionBy(phys(p))).saveAsTable(tbl)
    withDirStream(Files.walk(bucketDir(v)))(
      _.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .map(p => s"bucketed-v$v/${bucketDir(v).relativize(p)}")
        .toVector.sorted)
  }

  /** The sorted and z-order layouts: `rows` range-partitioned into
    * `targetFiles` files by `by(rows)` (then the key) and sorted within
    * each, so each file covers a narrow range of `statCols`; their
    * per-file ranges are read back for the manifest.
    */
  private def writeRangeClustered(spark: SparkSession, rows: DataFrame, v: Long,
      targetFiles: Int, statCols: Seq[String])(by: DataFrame => Column): MergeTable.Written = {
    // cached: the clustering value, the range sample and the write each read it
    val in = rows.cache()
    try {
      val z = by(in)
      val files = writeData(in, v)(_.withColumn("_z", z)
        .repartitionByRange(targetFiles, col("_z"), col(phys(keyCol)))
        .sortWithinPartitions(col("_z"), col(phys(keyCol)))
        .drop("_z"))
      val (keyStats, colStats) = statsReadback(spark, files, statCols)
      MergeTable.Written(files, keyStats, colStats)
    } finally { in.unpersist(); () }
  }

  /** Z-order value of `zCols` on the physically-named frame: each column
    * min-max-normalized to 16-bit ranks (bounds from one global agg over
    * the cached input), then bit-interleaved. Linear normalization is
    * skew-sensitive but deterministic and one pass; heavily skewed
    * dimensions prefer a sorted rewrite on the dominant column.
    */
  private def zValue(in: DataFrame, zCols: Seq[String]): Column = {
    val bits = 16
    val boundAggs = zCols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(col(c).cast("long")).as(s"lo$i"), max(col(c).cast("long")).as(s"hi$i"))
    }
    val b = in.agg(boundAggs.head, boundAggs.tail: _*).collect().head
    zCols.zipWithIndex.map { case (c, i) =>
      val (lo, hi) = (if (b.isNullAt(2 * i)) 0L else b.getLong(2 * i),
        if (b.isNullAt(2 * i + 1)) 0L else b.getLong(2 * i + 1))
      val span = math.max(1L, hi - lo)
      // rank in [0, 2^bits): (x - lo) * (2^bits - 1) / span, null → 0
      val rank = coalesce(((col(phys(c)).cast("long") - lo)
        * ((1L << bits) - 1) / span).cast("long"), lit(0L))
      // spread rank bits to positions i, i+d, i+2d, ... (interleave)
      (0 until bits).map { bit =>
        shiftleft(shiftright(rank, bit) % 2, bit * zCols.size + i)
      }.reduce(_ + _)
    }.reduce(_ + _)
  }

  /** Per-file (min, max) read-back for `cols` (order-preserving long
    * casts) plus the merge key: one bounded, column-pruned scan of the
    * files just written by a rewrite (which already paid the full
    * rewrite). Files with all-null values for a column simply carry no
    * stats for it (conservatively included by pruning).
    */
  private def statsReadback(spark: SparkSession, files: Vector[String],
      cols: Seq[String]): (Map[String, (Long, Long)], Map[String, Map[String, (Long, Long)]]) = {
    if (files.isEmpty) return (Map.empty, Map.empty)
    val keyIsLong = schema(keyCol).dataType == LongType
    // stats are keyed by PHYSICAL column name (rename-stable: a later
    // rename keeps every recorded range addressable via phys(col))
    val tracked = (cols ++ (if (keyIsLong) Seq(keyCol) else Nil)).map(phys)
    val aggCols = tracked.zipWithIndex.flatMap { case (_, i) =>
      Seq(min(col(s"c$i")).as(s"lo$i"), max(col(s"c$i")).as(s"hi$i"))
    }
    // stats read-back always follows a compaction: the files are all
    // freshly written under the CURRENT spec, so one basePath suffices
    val statsBase = dataDir.resolve(specDir)
    val statRows = spark.read
      .option("basePath", statsBase.toString)
      .parquet(files.map(f => dataDir.resolve(f).toString): _*)
      .select(input_file_name().as("file") +:
        tracked.zipWithIndex.map { case (c, i) => col(c).cast("long").as(s"c$i") }: _*)
      .groupBy(col("file"))
      .agg(aggCols.head, aggCols.tail: _*)
      .collect()
    def rel(uri: String): String = {
      val norm = uri.stripPrefix("file:")
      val b = dataDir.toString
      norm.substring(norm.indexOf(b) + b.length + 1)
    }
    def statsOf(i: Int): Map[String, (Long, Long)] = statRows
      .filterNot(_.isNullAt(1 + 2 * i))
      .map(r => rel(r.getString(0)) ->
        ((r.getLong(1 + 2 * i), r.getLong(2 + 2 * i)))).toMap
    val colStats = cols.zipWithIndex.map { case (c, i) => phys(c) -> statsOf(i) }
      .filter(_._2.nonEmpty).toMap
    val keyStats = if (keyIsLong) statsOf(cols.length) else Map.empty[String, (Long, Long)]
    (keyStats, colStats)
  }

  /** The bin-pack layout: each directory's `files` concatenated into one
    * fresh file there, read WITH `_seq` and written back as-is. A packed
    * file's key range is the union of its sources' ranges (no re-scan);
    * a group with any stat-less member stays stat-less.
    */
  private def packDirs(spark: SparkSession, prev: Snapshot,
      files: Vector[String], v: Long): MergeTable.Written = {
    val packed = files.groupBy(dirOf).toSeq.map { case (dir, group) =>
      val staged = stagingDir("pack", v)
      // The group's byte schema excludes ITS OWN layout's dir column
      // (derived from the path — files from an older partition-spec epoch
      // carry a different dir key than the current spec)
      val (_, dirKey) = layoutOf(group.head)
      spark.read
        .schema(StructType(fileSchema(dirKey).filterNot(f => dirKey.contains(f.name))))
        .parquet(group.map(f => dataPath(f).toString): _*)
        .coalesce(1)
        .write.mode("overwrite").option("compression", "snappy")
        .parquet(staged.toString)
      // adopted into the source dir: directory-partition discovery holds
      val placed = adoptFiles(staged, dataDir, v, dir)
      val ranges = group.flatMap(prev.fileStats.get)
      val range =
        if (ranges.size == group.size && ranges.nonEmpty)
          Some((ranges.map(_._1).min, ranges.map(_._2).max))
        else None
      (placed, rangeStats(placed, range))
    }
    MergeTable.Written(packed.flatMap(_._1).toVector, packed.flatMap(_._2).toMap)
  }

  private def withDirStream[A, B](s: java.util.stream.Stream[A])(
      f: java.util.stream.Stream[A] => B): B =
    try f(s) finally s.close()

  // ---- bloom file-skip index (point-lookup data skipping on a
  //      NON-key column, where fileStats/colStats ranges don't help) ----

  private def bloomFile(column: String): Path =
    rootPath.resolve("bloom").resolve(s"${phys(column)}.tsv")

  /** Build a per-FILE Bloom index for `column` over the CURRENT
    * snapshot's data files. Files are immutable, so every entry stays
    * true forever; files written after the build simply have no entry
    * and are conservatively scanned (correctness never depends on index
    * freshness — rebuild to restore pruning power, e.g. after
    * compaction). Sized at `bits` per file with `hashes` probes
    * (defaults ≈ 1% fpp at ~850 distinct values/file).
    *
    * Built DISTRIBUTED: one pass computes every row's probe positions
    * (a bounded `hashes`-way explode), one distinct-collapsing
    * aggregation per (file, position) — never a driver loop over files,
    * never a per-file job. The collected index is ≤ |files|·bits BITS.
    */
  def buildBloomIndex(spark: SparkSession, column: String,
      bits: Int = 8192, hashes: Int = 5): Unit = synchronized {
    require(!partitionCol.contains(column),
      "partition column is already dir-pruned; bloom-index a payload column")
    currentSnapshot.foreach { snap =>
      if (snap.dataFiles.nonEmpty) {
        val paths = snap.dataFiles.map(f => dataDir.resolve(f).toString)
        val probes = (0 until hashes).map(i =>
          pmod(xxhash64(col(phys(column)), lit(i)), lit(bits.toLong)))
        val posByFile = spark.read.parquet(paths: _*)
          .select(input_file_name().as("_f"),
            explode(array(probes: _*)).as("_p"))
          .groupBy(col("_f"), col("_p")).agg(count(lit(1)))
          .groupBy(col("_f")).agg(collect_list(col("_p")).as("_ps"))
          .collect()
          .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
        val lines = snap.dataFiles.flatMap { f =>
          // input_file_name is a URI; match manifests' relative names on a
          // path-segment boundary so a file name that is a proper suffix of
          // another segment can never mis-associate bitsets across files.
          posByFile.collectFirst {
            case (uri, ps) if uri.endsWith("/" + f) =>
              val bs = new java.util.BitSet(bits)
              ps.foreach(p => bs.set(p.toInt))
              s"$f\t$bits\t$hashes\t" + java.util.Base64.getEncoder
                .encodeToString(bs.toByteArray)
          }
        }
        Files.createDirectories(bloomFile(column).getParent)
        Files.write(bloomFile(column), lines.mkString("\n").getBytes("UTF-8"))
        ()
      }
    }
  }

  private def loadBloom(column: String)
      : Map[String, (Int, Int, java.util.BitSet)] =
    if (!Files.exists(bloomFile(column))) Map.empty
    else Files.readAllLines(bloomFile(column)).asScala.filter(_.nonEmpty)
      .map { l =>
        val Array(f, b, k, b64) = l.split("\t", 4)
        f -> ((b.toInt, k.toInt, java.util.BitSet.valueOf(
          java.util.Base64.getDecoder.decode(b64))))
      }.toMap

  /** The files a bloom-pruned point lookup on `column === value` would
    * scan — files without an index entry are conservatively included.
    * Exposed for spec/plan inspection, like [[prunedFilesFor]].
    */
  private[graft] def bloomPrunedFilesFor(spark: SparkSession,
      column: String, value: Any, snap: Snapshot): Seq[String] = {
    val idx = loadBloom(column)
    if (idx.isEmpty) snap.dataFiles
    else {
      // probe positions via the SAME expression chain the build used —
      // one 1-row local job (the bounded centroid-collect pattern)
      val posFor = scala.collection.mutable.Map.empty[(Int, Int), Seq[Long]]
      def positions(bits: Int, hashes: Int): Seq[Long] =
        posFor.getOrElseUpdate((bits, hashes), {
          val probes = (0 until hashes).map(i =>
            pmod(xxhash64(lit(value), lit(i)), lit(bits.toLong)))
          spark.range(1).select(array(probes: _*).as("p"))
            .collect().head.getSeq[Long](0)
        })
      snap.dataFiles.filter(f => idx.get(f).forall { case (b, k, bs) =>
        positions(b, k).forall(p => bs.get(p.toInt))
      })
    }
  }

  /** Point lookup on a non-key column with bloom file skipping: files
    * whose filter says "definitely absent" are never opened. Result ≡
    * `read().filter(col === value)` — the residual filter always stays
    * on top; pending merge work / deletes / bucketed layouts fall back
    * to the plain filtered read (same guards as [[readWhere]]).
    */
  def lookupBloom(spark: SparkSession, column: String, value: Any): DataFrame =
    prunedRead(spark, col(column) === lit(value))(
      bloomPrunedFilesFor(spark, column, value, _))

  /** `read().filter(pred)` scanning only the files `wanted` keeps, when
    * the current snapshot is a pure scan (no pending merge work, no
    * deletes, not bucketed); otherwise the plain filtered read.
    */
  private def prunedRead(spark: SparkSession, pred: Column)(
      wanted: Snapshot => Seq[String]): DataFrame =
    currentSnapshot match {
      case None => emptyDf(spark)
      case Some(snap)
          if !snap.requiresDedup && snap.deleteFiles.isEmpty
            && snap.buckets.isEmpty =>
        val files = wanted(snap).toVector
        if (files.isEmpty) emptyDf(spark).filter(pred)
        else readSnapshot(spark, snap.copy(dataFiles = files)).filter(pred)
      case _ => read(spark).filter(pred)
    }

  /** Files whose `column` range can meet [lo, hi]; stat-less ones too. */
  private def filesInRange(snap: Snapshot, column: String, lo: Long, hi: Long): Seq[String] = {
    val stats = snap.colStats.getOrElse(phys(column), Map.empty)
    snap.dataFiles.filter(f =>
      stats.get(f).forall { case (l, h) => h >= lo && l <= hi })
  }

  /** Range read with manifest-level data skipping: rows of the current
    * snapshot whose `column` (order-preserving long cast) lies in
    * [lo, hi]. When the snapshot is a pure scan (no pending merge work —
    * the state every compaction restores), data files whose recorded
    * range cannot intersect are pruned BEFORE planning; files without
    * stats are conservatively included. Otherwise falls back to the full
    * merged read with the same filter — identical results, no skipping.
    * (Pruning under pending merge work would be wrong: an update can
    * move a key's sort value across file ranges, and last-write-wins
    * must see both copies.)
    */
  def readWhere(spark: SparkSession, column: String, lo: Long, hi: Long): DataFrame =
    prunedRead(spark, col(column).cast("long").between(lo, hi))(
      filesInRange(_, column, lo, hi))

  /** Multi-column manifest pruning for the SQL read path: given per-column
    * [lo, hi] bounds (long space, conjunctive), return a read over only
    * the files whose recorded ranges can intersect ALL of them — or None
    * when pruning is not applicable (pending merge work, deletes, bucketed
    * layout) or wouldn't drop any file, so the caller falls back to the
    * normal read. The result is a SUPERSET of the matching rows; the
    * caller must keep its own filter on top.
    */
  private[graft] def readPrunedBy(spark: SparkSession,
      bounds: Map[String, (Long, Long)]): Option[DataFrame] =
    currentSnapshot match {
      case Some(snap)
          if bounds.nonEmpty && !snap.requiresDedup
            && snap.deleteFiles.isEmpty && snap.buckets.isEmpty
            && bounds.keys.exists(c => snap.colStats.contains(phys(c))) =>
        val wanted = snap.dataFiles.filter { f =>
          bounds.forall { case (c, (lo, hi)) =>
            snap.colStats.getOrElse(phys(c), Map.empty).get(f)
              .forall { case (l, h) => h >= lo && l <= hi }
          }
        }
        if (wanted.size == snap.dataFiles.size) None
        else if (wanted.isEmpty) Some(emptyDf(spark))
        else Some(readSnapshot(spark, snap.copy(dataFiles = wanted)))
      case _ => None
    }

  /** The files `readWhere(column, lo, hi)` would scan — exposed for plan
    * and spec inspection of manifest pruning.
    */
  private[graft] def prunedFilesFor(column: String, lo: Long, hi: Long): Seq[String] =
    currentSnapshot match {
      case Some(snap) if !snap.requiresDedup && snap.deleteFiles.isEmpty =>
        filesInRange(snap, column, lo, hi)
      case Some(snap) => snap.dataFiles
      case None       => Seq.empty
    }

  /** Point lookup with manifest data skipping: only data files whose
    * (min, max) key range can contain one of `keys` are scanned — files
    * without stats are conservatively included. Merge semantics identical
    * to `read().filter(key isin keys)`, minus the skipped I/O.
    */
  def lookup(spark: SparkSession, keys: Seq[Long]): DataFrame =
    currentSnapshot match {
      case None => emptyDf(spark)
      case Some(snap) =>
        val wanted = snap.dataFiles.filter { f =>
          snap.fileStats.get(f) match {
            case Some((lo, hi)) => keys.exists(k => k >= lo && k <= hi)
            case None           => true
          }
        }
        if (wanted.isEmpty) emptyDf(spark)
        else readSnapshot(spark, snap.copy(dataFiles = wanted))
          .filter(col(keyCol).isin(keys: _*))
    }

  private def readSnapshot(spark: SparkSession, snap: Snapshot): DataFrame = {
    // explicit schema (not inference): files written before a column was
    // added surface it as null — schema evolution without rewrites.
    // Renamed columns read their original physical file column; files
    // from older partition-spec epochs (and bucketed layouts, which live
    // one dir deeper and would otherwise trip partition discovery) read
    // in their own per-layout groups. All of that lives in
    // readDataFilesLogical — here the files are already one logical frame.
    val data = readDataFilesLogical(spark, snap.dataFiles)

    if (!snap.requiresDedup) {
      data.select(payloadCols.map(col): _*)
    } else {
      val tomb: DataFrame =
        if (snap.deleteFiles.isEmpty) {
          val tombSchema = StructType(Seq(
            schema(keyCol), StructField(SEQ, LongType)))
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tombSchema)
        } else {
          val raw = spark.read.parquet(
            snap.deleteFiles.map(f => delPath(f).toString): _*)
          if (physicalNames.isEmpty) raw
          else raw.select(col(phys(keyCol)).as(keyCol), col(SEQ))
        }

      // LWW merge view: newest (key, _seq) wins; a winning tombstone
      // removes the key. Single hash-shuffle on the key.
      val lifted = tomb.select(
        payloadCols.map(c =>
          if (c == keyCol) col(keyCol) else lit(null).cast(schema(c).dataType).as(c)
        ) :+ col(SEQ) :+ lit(true).as("_tomb"): _*)
      val all = data.select(
        payloadCols.map(col) :+ col(SEQ) :+ lit(false).as("_tomb"): _*)
        .unionByName(lifted)

      val w = Window.partitionBy(col(keyCol))
        .orderBy(col(SEQ).desc, col("_tomb").desc)
      all.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1 && !col("_tomb"))
        .select(payloadCols.map(col): _*)
    }
  }

  /** `UPDATE <table> SET <assignments> WHERE <predicate>` (the reference's
    * row-predicate DML surface, README.md:400–418): reads matching rows
    * from the current snapshot, applies the assignments, and commits them
    * as a keyed update batch — same merge path, same snapshot isolation.
    */
  def updateWhere(spark: SparkSession,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Unit = {
    // reassigning the merge key would upsert a NEW key and leave the old
    // row live (an UPDATE that duplicates) — reject it
    require(!set.contains(keyCol), s"cannot update merge key $keyCol")
    set.keys.foreach(c => require(payloadCols.contains(c), s"no such column $c"))
    // one projection, not sequential withColumn: SQL UPDATE evaluates every
    // RHS against the PRE-update row, so `SET a = b, b = a` swaps
    val hits = read(spark).filter(predicate)
      .select(payloadCols.map(c => set.getOrElse(c, col(c)).as(c)): _*)
    applyBatch(hits.withColumn("operation", lit("update")))
  }

  /** `DELETE FROM <table> WHERE <predicate>` (README.md:423–430). */
  def deleteWhere(spark: SparkSession,
      predicate: org.apache.spark.sql.Column): Unit =
    applyBatch(read(spark).filter(predicate)
      .withColumn("operation", lit("delete")))

  /** Schema evolution: append a nullable column without touching data
    * files (Iceberg-style metadata-only evolution). Existing rows read as
    * null for the new column; new writes carry it. Returns a reopened
    * handle bound to the evolved schema — this instance stays on the old
    * schema.
    */
  def addColumn(field: StructField): MergeTable = synchronized {
    require(!payloadCols.contains(field.name), s"column ${field.name} exists")
    require(field.nullable, "added columns must be nullable")
    // a RENAMED-AWAY column's physical name may still occupy files (e.g.
    // rename a→b, then add a new `a`): give the newcomer a fresh physical
    // name so old bytes under `a` never bleed into the new column
    val usedPhys = payloadCols.map(phys).toSet
    val newPhys =
      if (!usedPhys.contains(field.name)) field.name
      else LazyList.from(2).map(k => s"${field.name}__$k")
        .find(p => !usedPhys.contains(p)).get
    val evolved = StructType(schema.fields :+ field)
    val renames =
      if (newPhys == field.name) physicalNames
      else physicalNames + (field.name -> newPhys)
    rewriteMeta(evolved, renames)
    MergeTable.open(root)
  }

  /** Schema evolution: drop a payload column (metadata-only; bytes remain
    * in old files but are never read — explicit read schema ignores them).
    */
  def dropColumn(name: String): MergeTable = synchronized {
    require(name != keyCol, "cannot drop the merge key")
    require(!partitionCol.contains(name), "cannot drop the partition column")
    require(payloadCols.contains(name), s"no such column $name")
    val evolved = StructType(schema.fields.filterNot(_.name == name))
    rewriteMeta(evolved, physicalNames - name)
    MergeTable.open(root)
  }

  /** Schema evolution: RENAME a column — metadata-only, zero file I/O
    * (the Iceberg rename contract). The column keeps its original
    * PHYSICAL name in every file, past and future; only the logical name
    * readers and writers see changes. Works for payload, merge-key, and
    * partition columns (partition directories keep the physical name on
    * disk, exactly like Iceberg's partition-field rename). Time travel
    * reads every snapshot under the CURRENT (post-rename) names.
    */
  def renameColumn(oldName: String, newName: String): MergeTable =
    synchronized {
      require(payloadCols.contains(oldName), s"no such column $oldName")
      require(!payloadCols.contains(newName), s"column $newName exists")
      require(newName.nonEmpty && !newName.startsWith("_"),
        s"bad column name $newName (underscore prefix is reserved)")
      val physName = phys(oldName) // original file name, kept forever
      val evolved = StructType(schema.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f))
      val renames0 = physicalNames - oldName
      val renames =
        if (physName == newName) renames0 // renamed back to its file name
        else renames0 + (newName -> physName)
      rewriteMeta(evolved, renames,
        newKey = if (keyCol == oldName) newName else keyCol,
        newPart = partitionCol.map(p => if (p == oldName) newName else p))
      MergeTable.open(root)
    }

  /** Partition-spec evolution (Iceberg's evolve-spec contract, adapted to
    * directory partitioning): future writes land under a NEW layout dir
    * (`data/pspec-<id>/`) partitioned by `newCol`; every existing file
    * keeps its old layout and stays readable — mixed-spec snapshots read
    * per layout group ([[readDataFilesLogical]]). Queries filtering on
    * the new column get directory pruning for post-evolution files and
    * column-stat pruning for older ones; `compact()` rewrites the whole
    * table under the current spec, completing the migration — exactly
    * the Iceberg behavior (old files keep old specs until rewritten).
    * `None` evolves to an unpartitioned layout. Metadata-only: one meta
    * rewrite, zero file I/O.
    */
  def evolvePartitionSpec(newCol: Option[String]): MergeTable =
    synchronized {
      newCol.foreach(c =>
        require(payloadCols.contains(c), s"no such column $c"))
      require(newCol != partitionCol, "already the current partition spec")
      rewriteMeta(schema, physicalNames, keyCol, newCol, writeSpecId + 1)
      MergeTable.open(root)
    }

  private def rewriteMeta(evolved: StructType,
      renames: Map[String, String] = physicalNames,
      newKey: String = keyCol,
      newPart: Option[String] = partitionCol,
      newSpecId: Int = writeSpecId): Unit = {
    val tmp = rootPath.resolve(".table.meta.tmp")
    val renameLine =
      if (renames.isEmpty) ""
      else "renames\t" + renames.toSeq.sorted
        .map { case (l, p) => s"$l=$p" }.mkString(",") + "\n"
    val specLine = if (newSpecId == 0) "" else s"pspecid\t$newSpecId\n"
    val fallbackLine =
      if (dataFallbacks.isEmpty) ""
      else s"datafallback\t${dataFallbacks.mkString(",")}\n"
    Files.writeString(tmp,
      s"key\t$newKey\npartition\t${newPart.getOrElse("")}\n" +
        s"threshold\t$deleteCompactThreshold\nschema\t${evolved.toDDL}\n" +
        renameLine + specLine + fallbackLine)
    Files.move(tmp, rootPath.resolve("_table.meta"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** `INSERT OVERWRITE` parity: commit a snapshot containing only `rows`
    * (previous files stay on disk for time travel until snapshot expiry).
    */
  def overwrite(rows: DataFrame, batchId: Option[String] = None): Unit =
    synchronized {
      commitWrite("overwrite", batchId) { (prev, v) =>
        val (out, _) = writeObserved(rows, v, constraints)(writeUpserts)
        Some(Snapshot(v, out.files, Vector.empty, prev.appliedBatches,
          requiresDedup = false, out.keyStats, op = "overwrite") -> out)
      }
    }

  /** Filtered overwrite (`INSERT OVERWRITE ... PARTITION (p = 'x')`):
    * replace exactly the rows matching `predicate` with `rows`, as ONE
    * snapshot-replacement commit — atomic, unlike a delete-then-append
    * pair, and time travel retains the pre-image. Rows where the
    * predicate evaluates to NULL survive (SQL overwrite-by-filter deletes
    * only rows the filter MATCHES).
    */
  def overwriteWhere(spark: SparkSession,
      predicate: org.apache.spark.sql.Column, rows: DataFrame): Unit =
    synchronized {
      val survivors = read(spark).filter(!coalesce(predicate, lit(false)))
      overwrite(survivors.unionByName(rows.select(payloadCols.map(col): _*)))
    }

  /** `TRUNCATE TABLE` parity: commit an empty snapshot. */
  def truncate(): Unit = synchronized {
    commitWrite("truncate") { (prev, v) =>
      Some(Snapshot(v, Vector.empty, Vector.empty, prev.appliedBatches,
        requiresDedup = false, op = "truncate") -> MergeTable.Written())
    }
  }

  /** Roll the table back to an earlier retained snapshot (Iceberg's
    * rollback_to_snapshot): commits a NEW version whose file lists mirror
    * the target — history is preserved, nothing is deleted, and the
    * rolled-back batches' ids are dropped from appliedBatches so a replay
    * can legitimately re-apply them.
    */
  def rollbackTo(version: Long): Unit = synchronized {
    require(Files.exists(manifestPath(version)), s"no snapshot v$version")
    val target = readManifest(version)
    commitWrite("rollbackTo") { (_, v) =>
      Some(Snapshot(v, target.dataFiles, target.deleteFiles,
        target.appliedBatches, target.requiresDedup, target.fileStats,
        op = "rollback") -> MergeTable.Written())
    }
  }

  // ---- ANALYZE / .stats (Iceberg-puffin / ANALYZE TABLE analog) ----

  private def statsFile: Path = rootPath.resolve("_stats")
  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** Collect per-column table statistics in ONE pass over the
    * merge-consistent read (row count; per column: null count, NDV via
    * the codegen'd approx sketch, min/max as strings) and persist them
    * beside the manifests, stamped with the snapshot version analyzed.
    * The CBO food Iceberg ships as puffin blobs / `ANALYZE TABLE`
    * computes: mixture planners read NDV to choose broadcast vs shuffle,
    * null counts to order filters, min/max to sanity-check ingest. Stats
    * are advisory metadata (estimates allowed) — nothing in the read
    * path depends on them, so staleness is harmless and visible (the
    * `.stats` table carries an `is_stale` flag).
    */
  def analyze(spark: SparkSession): Unit = synchronized {
    currentSnapshot.foreach { snap =>
      val df = read(spark)
      val aggs = count(lit(1)).as("_n") +: payloadCols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_null_$c"),
        approx_count_distinct(col(c)).as(s"_ndv_$c"),
        min(col(c)).cast("string").as(s"_min_$c"),
        max(col(c)).cast("string").as(s"_max_$c")))
      val r = df.agg(aggs.head, aggs.tail: _*).collect().head
      val n = r.getLong(r.fieldIndex("_n"))
      val lines = s"${snap.version}\t$n" +: payloadCols.map { c =>
        def str(f: String): String = {
          val i = r.fieldIndex(f)
          if (r.isNullAt(i)) "" else enc(r.get(i).toString)
        }
        Seq(c, r.getLong(r.fieldIndex(s"_null_$c")),
          r.getLong(r.fieldIndex(s"_ndv_$c")),
          str(s"_min_$c"), str(s"_max_$c")).mkString("\t")
      }
      Files.write(statsFile, lines.mkString("\n").getBytes("UTF-8"))
      ()
    }
  }

  /** Scan-planning estimate for the merged read at `asOfVersion` (head by
    * default) — the CBO feed behind the DSv2 scan's
    * `SupportsReportStatistics` ([[graft.sqlcat.GraftSqlTable]]), the
    * engine analog of Iceberg/Delta reporting snapshot totals into Spark's
    * join planner. Returns (sizeInBytes, rowCount, column → (nullCount,
    * NDV)):
    *
    *   - sizeInBytes = Σ on-disk bytes of the snapshot's data files — an
    *     UPPER bound on the merged output (delete files and LWW dedup only
    *     shrink it), which is the safe direction for broadcast decisions:
    *     an overestimate can at worst miss a broadcast, never produce one
    *     that overwhelms executors. O(|files|) local metadata stats, the
    *     same cost class as reading the manifest itself.
    *   - rowCount and per-column stats come from the persisted [[analyze]]
    *     results and are used ONLY when stamped with exactly this
    *     snapshot version — stale stats describe a different table and
    *     could under-size a grown one.
    *
    * Size = `None` means UNKNOWN (manifest unreadable — transient IO, a
    * torn rewrite): the caller must fall back to Spark's
    * `defaultSizeInBytes`, never to 0. `(Some(0), Some(0))` is reserved
    * for a genuinely snapshot-less table. Conflating the two would let a
    * transient manifest error price a large table as empty and broadcast
    * it — the one direction the upper-bound contract above must not fail.
    * A malformed `_stats` file (truncated mid-[[analyze]] rewrite)
    * degrades to size-only statistics: stats are advisory, the scan is
    * not.
    */
  private[graft] def scanEstimate(asOfVersion: Option[Long] = None)
      : (Option[Long], Option[Long], Map[String, (Long, Long)]) = {
    val snapOpt =
      try Some(asOfVersion.map(readManifest).orElse(currentSnapshot))
      catch { case _: Exception => None } // unreadable ≠ empty
    snapOpt match {
      case None => (None, None, Map.empty)
      case Some(None) => (Some(0L), Some(0L), Map.empty)
      case Some(Some(snap)) =>
        val bytes = snap.dataFiles.iterator.map { f =>
          val p = dataDir.resolve(f)
          try { if (Files.exists(p)) Files.size(p) else 0L }
          catch { case _: java.io.IOException => 0L }
        }.sum
        val fresh = scala.util.Try {
          if (!Files.exists(statsFile)) None
          else {
            val all = Files.readAllLines(statsFile).asScala.toSeq
            val Array(v, n) = all.head.split("\t", 2)
            if (v.toLong != snap.version) None
            else Some((n.toLong, all.tail.map { l =>
              val Array(c, nulls, ndv, _, _) = l.split("\t", 5)
              c -> ((nulls.toLong, ndv.toLong))
            }.toMap))
          }
        }.toOption.flatten
        (Some(bytes), fresh.map(_._1), fresh.map(_._2).getOrElse(Map.empty))
    }
  }

  /** `<table>.stats` metadata table: the persisted [[analyze]] results
    * plus the staleness flag (analyzed version ≠ current head).
    */
  def statsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    if (!Files.exists(statsFile))
      return spark.emptyDataset[(String, Long, Long, Long, Option[String],
          Option[String], Long, Boolean)]
        .toDF("column", "n_rows", "n_nulls", "ndv", "min", "max",
          "analyzed_version", "is_stale")
    val all = Files.readAllLines(statsFile).asScala.toSeq
    val Array(v, n) = all.head.split("\t", 2)
    val cur = latestVersion
    all.tail.map { l =>
      val Array(c, nulls, ndv, mn, mx) = l.split("\t", 5)
      (c, n.toLong, nulls.toLong, ndv.toLong,
        if (mn.isEmpty) None else Some(dec(mn)),
        if (mx.isEmpty) None else Some(dec(mx)),
        v.toLong, v.toLong != cur)
    }.toDF("column", "n_rows", "n_nulls", "ndv", "min", "max",
      "analyzed_version", "is_stale")
  }

  /** Snapshot history as a DataFrame — the engine's analog of Iceberg's
    * `<table>.snapshots` metadata table.
    */
  def snapshotsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    history.map(s => (s.version, s.op, s.dataFiles.size, s.deleteFiles.size,
      s.requiresDedup, s.appliedBatches.toSeq.sorted.mkString(","),
      new java.sql.Timestamp(s.tsMillis)))
      .toDF("version", "op", "n_data_files", "n_delete_files",
        "requires_dedup", "batches", "committed_at")
  }

  /** Current (or asOf) snapshot's files as a DataFrame — the analog of
    * Iceberg's `<table>.files` metadata table: content type, path, size,
    * and the merge-key range when per-file stats exist.
    */
  def filesDf(spark: SparkSession, asOf: Option[Long] = None): DataFrame = {
    import spark.implicits._
    // an expired or never-committed version must read as a clear error,
    // not a raw NoSuchFileException out of the manifest parser
    asOf.foreach(v =>
      require(v >= 0 && Files.exists(manifestPath(v)), s"no snapshot v$v"))
    val s = asOf.map(readManifest).getOrElse(headOrEmpty)
    // missing bytes (e.g. GC'd after expiry) report size 0, matching
    // partitionsDf's sentinel
    val rows =
      s.dataFiles.map { f =>
        val p = dataPath(f)
        val sz = if (Files.exists(p)) Files.size(p) else 0L
        val (lo, hi) = s.fileStats.get(f)
          .map { case (a, b) => (Option(a), Option(b)) }
          .getOrElse((None, None))
        ("data", f, sz, lo, hi)
      } ++ s.deleteFiles.map { f =>
        val p = delPath(f)
        ("delete", f, if (Files.exists(p)) Files.size(p) else 0L,
          None: Option[Long], None: Option[Long])
      }
    rows.toDF("content", "file_path", "size_bytes", "key_lo", "key_hi")
      .orderBy(col("content"), col("file_path"))
  }

  /** Current snapshot's per-partition file statistics — the analog of
    * Iceberg's `<table>.partitions` metadata table. Partition values come
    * from the file paths (hive-style `col=value/` prefixes); driver-side
    * O(files-in-snapshot), no data scan.
    */
  def partitionsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    headOrEmpty.dataFiles
      .map { f =>
        val p = dataPath(f)
        (dirOf(f), if (Files.exists(p)) Files.size(p) else 0L)
      }
      .groupBy(_._1).toSeq
      .map { case (part, fs) => (part, fs.size.toLong, fs.map(_._2).sum) }
      .sortBy(_._1)
      .toDF("partition", "n_files", "size_bytes")
  }

  /** Delete data/delete files no retained snapshot, branch, or tag
    * references (Iceberg's remove_orphan_files): leftovers of crashed
    * commits or interrupted maintenance. Walks the two data directories
    * once against the union of all live file sets; returns the number of
    * files removed. Metadata chunks are NOT touched here — expireSnapshots
    * owns chunk GC (they are pinned by manifest references).
    *
    * `olderThanMillis` is the safety cutoff Iceberg's procedure carries
    * for the same reason (default 24 h): a concurrent writer — another
    * handle, another process — adopts data files BEFORE its manifest
    * commit publishes them, and an ungated sweep in that window would
    * delete files the imminent commit references. Only files whose
    * modification time predates the cutoff are eligible.
    */
  def removeOrphanFiles(
      olderThanMillis: Long = System.currentTimeMillis() - 24L * 3600 * 1000): Int =
    synchronized {
    require(!isBranch, "removeOrphanFiles runs on the main handle only")
    val live = history ++
      listBranches.map(_._1).map(branch).flatMap(_.history)
    val liveData = live.flatMap(_.dataFiles).toSet
    val liveDels = live.flatMap(_.deleteFiles).toSet
    var removed = 0
    def sweep(dir: Path, liveSet: Set[String]): Unit =
      if (Files.exists(dir)) {
        val orphans = withDirStream(Files.walk(dir))(_.iterator().asScala
          .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
          .filter(p => Files.getLastModifiedTime(p).toMillis < olderThanMillis)
          .map(p => dir.relativize(p).toString)
          .filterNot(liveSet)
          .toVector)
        orphans.foreach { f =>
          Files.deleteIfExists(dir.resolve(f)); removed += 1
        }
      }
    sweep(dataDir, liveData)
    sweep(deleteDir, liveDels)
    removed
  }

  /** Named refs (branches + tags) as a DataFrame — the analog of
    * Iceberg's `<table>.refs` metadata table. `fork_version` is null for
    * tags (immutable pins have no divergence point).
    */
  def refsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows =
      listBranches.map { case (n, head, fork) =>
        (n, "branch", head, Option(fork))
      } ++ listTags.map { case (n, v) => (n, "tag", v, None: Option[Long]) }
    rows.toDF("name", "type", "version", "fork_version")
      .orderBy(col("type"), col("name"))
  }

  /** Incremental change feed (CDC-out): every row-level change committed
    * AFTER `fromVersion`, as upsert/delete records carrying `_seq` (the
    * commit version) and `_change_type` — what a downstream incremental
    * consumer (a replica, a training-data refresh) applies to stay in
    * sync without rescanning the table. Consumers order by `_seq` and
    * apply last-write-wins per key, exactly like the table's own merge.
    *
    *   - merge/append commits emit their new rows as `upsert` and their
    *     tombstones as `delete` (payload null, key set);
    *   - compact/binpack commits are layout-only and emit nothing;
    *   - overwrite emits a `resync` marker followed by its rows as
    *     upserts; truncate and rollback emit only the marker — on a
    *     marker, clear state (and re-read the table for rollback).
    *
    * The requested range must lie within retained history: compaction
    * rewrites are metadata-only (superseded files stay on disk for older
    * snapshots), so lagging consumers keep working across rewrites and
    * only `expireSnapshots` invalidates a range — the same contract as
    * Iceberg incremental reads.
    */
  def changesSince(spark: SparkSession, fromVersion: Long): DataFrame =
    changesBetween(spark, fromVersion, latestVersion)

  /** Schema of the change feed rows: the table schema plus `_seq` (commit
    * version) and `_change_type` (upsert/delete/resync).
    */
  def changeFeedSchema: StructType =
    StructType(schema.fields ++ Seq(
      StructField(SEQ, LongType),
      StructField("_change_type", org.apache.spark.sql.types.StringType)))

  /** Ranged change feed: changes committed in `(fromVersion, toVersion]`.
    * The micro-batch unit of the streaming source (stream/ChangeFeedSource):
    * deltas compose — concatenating consecutive ranges equals one big range,
    * because each version's contribution is computed against its immediate
    * predecessor either way.
    */
  def changesBetween(spark: SparkSession, fromVersion: Long, toVersion: Long): DataFrame = {
    val latest = toVersion
    require(latest <= latestVersion, s"toVersion $toVersion beyond $latestVersion")
    require(fromVersion >= -1 && fromVersion <= latest,
      s"fromVersion $fromVersion outside [-1, $latest]")
    def nullPayloadExcept(keep: Set[String]) = payloadCols.map(c =>
      if (keep(c)) col(phys(c)).as(c)
      else lit(null).cast(schema(c).dataType).as(c))
    val outCols = payloadCols :+ SEQ :+ "_change_type"
    def emptyOut = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], changeFeedSchema)
    if (fromVersion == latest) return emptyOut

    var prevSnap = if (fromVersion < 0) noSnapshot else readManifest(fromVersion)
    val newData = Vector.newBuilder[String]
    val newDels = Vector.newBuilder[String]
    val markers = Vector.newBuilder[Long]
    ((fromVersion + 1) to latest).foreach { v =>
      val snap = readManifest(v)
      snap.op match {
        case "merge" | "append" =>
          newData ++= snap.dataFiles.filterNot(prevSnap.dataFiles.toSet)
          newDels ++= snap.deleteFiles.filterNot(prevSnap.deleteFiles.toSet)
        case "compact" | "binpack" => () // layout-only
        case "overwrite" =>
          markers += v
          newData ++= snap.dataFiles.filterNot(prevSnap.dataFiles.toSet)
        case _ => markers += v // truncate, rollback: resync required
      }
      prevSnap = snap
    }

    val parts = Vector.newBuilder[DataFrame]
    val dataFiles = newData.result()
    if (dataFiles.nonEmpty) {
      parts += readDataFilesLogical(spark, dataFiles)
        .select(payloadCols.map(col) :+ col(SEQ) :+
          lit("upsert").as("_change_type"): _*)
    }
    val delFiles = newDels.result()
    if (delFiles.nonEmpty) {
      parts += spark.read
        .parquet(delFiles.map(f => delPath(f).toString): _*)
        .select(nullPayloadExcept(Set(keyCol)) :+ col(SEQ) :+
          lit("delete").as("_change_type"): _*)
    }
    val markerVs = markers.result()
    if (markerVs.nonEmpty) {
      import spark.implicits._
      parts += markerVs.toDF(SEQ)
        .select(nullPayloadExcept(Set.empty) :+ col(SEQ) :+
          lit("resync").as("_change_type"): _*)
    }
    parts.result()
      .reduceOption(_ unionByName _)
      .map(_.select(outCols.map(col): _*))
      .getOrElse(emptyOut)
  }

  // ---- branches (write-audit-publish) ----

  private def branchesDir: Path = rootPath.resolve("branches")

  private def isBranch: Boolean = branchName.isDefined

  /** The main-chain version this branch forked from. */
  def forkVersion: Long = {
    require(isBranch, "forkVersion is only defined on a branch handle")
    Files.readString(metaRoot.resolve("_fork")).trim.toLong
  }

  /** Fork a named branch at the current snapshot (Iceberg branch refs /
    * the WAP staging area). O(#versions) manifest HEADER copies — chunk
    * files and data files are immutable and stay shared. The returned
    * handle commits against the branch pointer: main never sees branch
    * writes until [[publishBranch]].
    */
  def createBranch(name: String): MergeTable = synchronized {
    require(!isBranch, "cannot branch a branch")
    require(name.matches("[A-Za-z0-9_-]+"), s"bad branch name: $name")
    val head = latestVersion
    require(head >= 0, "cannot branch an empty table")
    val bm = branchesDir.resolve(name).resolve("manifest")
    require(!Files.exists(bm.getParent), s"branch $name already exists")
    Files.createDirectories(bm)
    withDirStream(Files.list(manifestDir))(_.iterator().asScala
      .filter(_.getFileName.toString.matches("v\\d+\\.manifest"))
      .foreach(p => Files.copy(p, bm.resolve(p.getFileName.toString))))
    Files.writeString(bm.getParent.resolve("_fork"), head.toString)
    Files.writeString(bm.getParent.resolve("_latest"), head.toString)
    branch(name)
  }

  /** Handle on an existing branch. */
  def branch(name: String): MergeTable = {
    require(Files.exists(branchesDir.resolve(name).resolve("_latest")),
      s"no branch $name")
    new MergeTable(root, schema, keyCol, partitionCol,
      deleteCompactThreshold, Some(name), physicalNames, writeSpecId,
      dataFallbacks)
  }

  /** Branch names with (head, fork) versions. */
  def listBranches: Seq[(String, Long, Long)] =
    if (!Files.exists(branchesDir)) Seq.empty
    else withDirStream(Files.list(branchesDir))(_.iterator().asScala
      .filter(d => Files.exists(d.resolve("_latest")))
      .map { d =>
        val n = d.getFileName.toString
        (n, Files.readString(d.resolve("_latest")).trim.toLong,
          Files.readString(d.resolve("_fork")).trim.toLong)
      }.toVector.sortBy(_._1))

  /** Publish (fast-forward) an audited branch onto main — the P of WAP.
    * Only legal while main still sits at the branch's fork point; a
    * concurrent main commit means divergence, and this model is
    * fast-forward-only (re-branch and replay instead of rebasing).
    * Publishing copies the branch's post-fork manifests + chunks into the
    * main chain (data files are already shared), atomically swings
    * `_latest`, and drops the branch. The published versions join the
    * main history seamlessly: time travel and the incremental change
    * feed see them as ordinary commits.
    */
  def publishBranch(name: String): Long = synchronized {
    require(!isBranch, "publish from the main handle")
    val b = branch(name)
    val fork = b.forkVersion
    require(latestVersion == fork,
      s"branch $name diverged: main at v$latestVersion, fork was v$fork")
    val bm = branchesDir.resolve(name).resolve("manifest")
    // The BRANCH's commit lock is held for the whole head-read → copy →
    // swing → branch-delete sequence: the branch pointer uses a different
    // monitor and _commit.lock than main, so without it a branch commit
    // racing the publish lands AFTER the head read, gets copied but not
    // pointed at, and is then reclaimed as debris — silently lost. Under
    // the lock, a racing branch committer either landed before the head
    // read (and is published) or finds the branch directory gone and
    // fails loudly. Main's lock nests inside (branch → main is the only
    // dual acquisition, so the ordering cannot deadlock).
    b.withCommitLock {
      val head = b.latestVersion
      // copy + swing under MAIN's commit lock: a main commit racing the
      // publish would otherwise both collide on manifest slots and be
      // overwritten by the pointer swing; the re-check makes the loser
      // fail loudly with nothing copied
      withCommitLock {
        require(latestVersion == fork,
          s"branch $name diverged: main at v$latestVersion, fork was v$fork")
        withDirStream(Files.list(bm))(_.iterator().asScala.foreach { p =>
          val fn = p.getFileName.toString
          val keep = fn.startsWith("chunk-") ||
            (fn.matches("v\\d+\\.manifest") &&
              fn.stripPrefix("v").stripSuffix(".manifest").toLong > fork)
          if (keep && !Files.exists(manifestDir.resolve(fn)))
            Files.copy(p, manifestDir.resolve(fn))
        })
        swingLatest(head)
      }
      // still under the branch lock: no branch commit can slip in between
      // the pointer swing and the directory removal (POSIX allows deleting
      // the held lock file; a waiter then fails on the missing directory)
      deleteRecursively(branchesDir.resolve(name))
      head
    }
  }

  /** Discard a branch, reclaiming files only it references (post-fork
    * branch writes that no main snapshot knows).
    */
  def dropBranch(name: String): Unit = synchronized {
    require(!isBranch, "drop from the main handle")
    val b = branch(name)
    // branch lock held for the scan + delete (same contract as
    // publishBranch): a committer racing the drop either landed before the
    // snapshot scan (its files are reclaimed with the branch) or fails
    // loudly on the missing directory — never a half-tracked commit
    b.withCommitLock {
      val fork = b.forkVersion
      val branchSnaps = ((fork + 1) to b.latestVersion)
        .filter(v => Files.exists(b.manifestPath(v))).map(b.readManifest)
      val mainData = history.flatMap(_.dataFiles).toSet
      val mainDels = history.flatMap(_.deleteFiles).toSet
      branchSnaps.flatMap(_.dataFiles).distinct.filterNot(mainData)
        .foreach(f => Files.deleteIfExists(dataDir.resolve(f)))
      branchSnaps.flatMap(_.deleteFiles).distinct.filterNot(mainDels)
        .foreach(f => Files.deleteIfExists(deleteDir.resolve(f)))
      deleteRecursively(branchesDir.resolve(name))
    }
  }

  // ---- tags (immutable named refs: Iceberg tag refs) ----

  private def tagsDir: Path = rootPath.resolve("tags")

  /** Pin a retained version under an immutable name (Iceberg's tag refs —
    * `audit-2023Q4`, `training-cut-v3`): the tagged snapshot survives
    * [[expireSnapshots]] until the tag is dropped, and reads resolve it
    * via `VERSION AS OF 'tag:<name>'` or [[read]]'s asOf. Metadata-only:
    * one tiny file holding the version number.
    */
  def createTag(name: String, version: Long = -1L): Unit = synchronized {
    require(!isBranch, "tag from the main handle")
    require(name.matches("[A-Za-z0-9_-]+"), s"bad tag name: $name")
    val v = if (version < 0) latestVersion else version
    require(v >= 0 && Files.exists(manifestPath(v)), s"no snapshot v$v")
    Files.createDirectories(tagsDir)
    val p = tagsDir.resolve(name)
    require(!Files.exists(p), s"tag $name already exists")
    Files.writeString(p, v.toString)
  }

  /** Drop a tag; the version it pinned becomes expirable again. */
  def dropTag(name: String): Unit = synchronized {
    require(Files.exists(tagsDir.resolve(name)), s"no tag $name")
    Files.delete(tagsDir.resolve(name))
  }

  /** Tag names with their pinned versions, name-ordered. */
  def listTags: Seq[(String, Long)] =
    if (!Files.exists(tagsDir)) Seq.empty
    else withDirStream(Files.list(tagsDir))(_.iterator().asScala
      .map(p => (p.getFileName.toString, Files.readString(p).trim.toLong))
      .toVector.sortBy(_._1))

  /** Resolve a tag to its version. */
  def tagVersion(name: String): Long = {
    require(Files.exists(tagsDir.resolve(name)), s"no tag $name")
    Files.readString(tagsDir.resolve(name)).trim.toLong
  }

  /** The latest version committed at or before `millis` (epoch wall
    * clock) — `TIMESTAMP AS OF` resolution. Commit stamps are assigned at
    * commit time so they are non-decreasing in version; legacy manifests
    * without a stamp (ts=0) are treated as infinitely old.
    */
  def versionAtTimestamp(millis: Long): Long = {
    val vs = history.filter(s => s.tsMillis <= millis)
    require(vs.nonEmpty,
      s"no snapshot committed at or before $millis (oldest retained: " +
        s"${history.headOption.map(_.tsMillis).getOrElse(-1L)})")
    vs.map(_.version).max
  }

  /** Age-based expiry (Iceberg's `expire_snapshots(older_than => ts)`):
    * drop retained history committed strictly before `millis`, always
    * keeping at least `keepLast` newest snapshots regardless of age.
    * Tags and branches pin exactly as in [[expireSnapshots]]. Uses the
    * wall-clock commit stamps in the manifest headers; legacy unstamped
    * snapshots (ts=0) count as infinitely old.
    */
  def expireSnapshotsOlderThan(millis: Long, keepLast: Int = 1): Unit = {
    val aged = history.count(_.tsMillis < millis)
    val keep = math.max(keepLast, history.size - aged)
    expireSnapshots(keep)
  }

  /** Expire snapshots older than the last `keepLast`, physically deleting
    * files no retained snapshot references (Iceberg's expire_snapshots).
    * Time travel to expired versions stops working; the current snapshot
    * and the newest `keepLast − 1` predecessors remain readable.
    */
  def expireSnapshots(keepLast: Int = 2): Unit = synchronized {
    require(keepLast >= 1)
    require(!isBranch, "expireSnapshots runs on the main handle only " +
      "(branch handles share the table's data files)")
    val latest = latestVersion
    if (latest < keepLast) return
    val cutoff = latest - keepLast + 1
    // tag-pinned snapshots below the cutoff keep their manifests, files,
    // and chunks alive (Iceberg's ref-aware expiry for tag refs)
    val tagged = listTags.map(_._2).toSet
    val retained = (cutoff to latest)
      .filter(v => Files.exists(manifestPath(v))).map(readManifest) ++
      tagged.filter(_ < cutoff)
        .filter(v => Files.exists(manifestPath(v))).toSeq.sorted.map(readManifest)
    // snapshots referenced by live branches pin their files and chunks:
    // a branch forked before the cutoff must stay readable until it is
    // published or dropped (Iceberg's ref-aware expiry)
    val branchSnaps = listBranches.map(_._1).map(branch).flatMap(_.history)
    val liveData = (retained ++ branchSnaps).flatMap(_.dataFiles).toSet
    val liveDels = (retained ++ branchSnaps).flatMap(_.deleteFiles).toSet
    val expirable = (0L until cutoff).filterNot(tagged)
    expirable.filter(v => Files.exists(manifestPath(v)))
      .map(readManifest).foreach { old =>
      old.dataFiles.filterNot(liveData).foreach(f =>
        Files.deleteIfExists(dataDir.resolve(f)))
      old.deleteFiles.filterNot(liveDels).foreach(f =>
        Files.deleteIfExists(deleteDir.resolve(f)))
    }
    expirable.foreach(v => Files.deleteIfExists(manifestPath(v)))
    // chunks referenced only by expired manifests are orphans now —
    // except those a live branch still resolves via its fallback read
    val branchChunks = listBranches.map(_._1).map(branch).flatMap { b =>
      (0L to b.latestVersion).flatMap(b.chunkRefsOf)
    }.toSet
    val referenced = ((cutoff to latest) ++ tagged.filter(_ < cutoff))
      .filter(v => Files.exists(manifestPath(v))).flatMap(chunkRefsOf)
      .toSet ++ branchChunks
    val all = withDirStream(Files.list(manifestDir))(
      _.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("chunk-")).toVector)
    all.filterNot(referenced).foreach { c =>
      Files.deleteIfExists(manifestDir.resolve(c))
      chunkCache.remove(c)
    }
  }
}

object MergeTable {
  /** A strategy of [[MergeTable.rewrite]], in the shape of Iceberg's
    * `rewrite_data_files`. All but [[Rewrite.BinPack]] drop superseded
    * rows and tombstones, so reads are shuffle-free scans again.
    */
  sealed trait Rewrite

  object Rewrite {
    /** The whole merged state as plain insert files. */
    case object MergeAll extends Rewrite

    /** Only the files a tombstone or a cross-commit duplicate can touch
      * (Iceberg's delete-targeted rewrite): at 100 TB this bounds
      * maintenance I/O to the slice the CDC stream touched. [[MergeAll]]
      * when no file is clean or per-file key stats are missing.
      */
    case object Scoped extends Rewrite

    /** Hash-clustered by the merge key into `nBuckets` catalog-registered
      * bucket files: until the next delta commit, key-equi joins and
      * aggregations over `read()` plan with ZERO exchanges (the 100 TB
      * fact-fact join layout; ScalePatterns.writeBucketed is the
      * catalog-table analog). Main handle only.
      */
    final case class Bucketed(nBuckets: Int = 16) extends Rewrite

    /** Range-partitioned and sorted by `column` into about `targetFiles`
      * files, with per-file ranges of `column` and the key recorded in
      * the manifest, so `readWhere` prunes files before planning and
      * `lookup` gets per-file key bounds — the layout for range-predicate
      * workloads. `column` must be integral or timestamp.
      */
    final case class Sorted(column: String, targetFiles: Int = 32) extends Rewrite

    /** [[Sorted]] over 2–3 `columns` at once, clustered by their
      * bit-interleaved ranks, so `readWhere` on any of them prunes.
      */
    final case class ZOrder(columns: Seq[String], targetFiles: Int = 32) extends Rewrite

    /** Small-file maintenance: each directory holding more than
      * `maxFilesPerPartition` files gets them concatenated into one. No
      * merge and no shuffle, so it is safe at any time; tombstones and
      * `requiresDedup` are kept.
      */
    final case class BinPack(maxFilesPerPartition: Int = 8) extends Rewrite
  }

  /** What one commit attempt staged: new data files with their key and
    * column stats, the bucket count of a bucketed layout, and new delete
    * files. [[MergeTable.commitWrite]] deletes it when the commit loses.
    */
  private final case class Written(files: Vector[String] = Vector.empty,
      keyStats: Map[String, (Long, Long)] = Map.empty,
      colStats: Map[String, Map[String, (Long, Long)]] = Map.empty,
      buckets: Option[Int] = None,
      dels: Vector[String] = Vector.empty)

  /** Column types whose per-file stats fit an order-preserving long. */
  private val StatTypes: Set[org.apache.spark.sql.types.DataType] = Set(
    LongType, org.apache.spark.sql.types.IntegerType,
    org.apache.spark.sql.types.TimestampType)

  /** A commit lost the optimistic-concurrency race: the table head moved
    * past the snapshot's base between read and commit. Every writer
    * commits through one protocol, [[MergeTable.commitWrite]], which
    * deletes the losing attempt's staged files before this propagates.
    * `appendAll`, `applyBatch` and `inheritAppliedBatches` catch it
    * internally and rebase (bounded retries); callers of `rewrite`,
    * `overwrite`, `truncate` and `rollbackTo` see it directly and decide —
    * their intent against a moved head is ambiguous, so re-reading and
    * re-issuing is the caller's call, never automatic.
    */
  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** A write batch violated a table CHECK constraint: nothing was
    * committed (staged files are reclaimed before the throw), the table
    * is byte-identical to before the call — reject-whole-batch
    * semantics, the Delta/ANSI CHECK behavior. Route bad rows to a
    * dead-letter sink upstream (CdcTransformer's error path) when
    * partial acceptance is wanted.
    */
  final class ConstraintViolationException(val constraint: String,
      val violations: Long, msg: String) extends RuntimeException(msg)

  /** One JVM-wide monitor per table/branch metadata root — concurrent
    * handles on the same table share it (each handle's `synchronized`
    * only serializes that handle), and it keeps the per-table `FileLock`
    * single-threaded within the JVM (overlapping locks would throw).
    */
  private val commitMonitors =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private[table] def commitMonitorFor(key: String): Object =
    commitMonitors.getOrElseUpdate(key, new Object)

  /** Metadata roots whose commit lock the current thread already holds —
    * makes [[withCommitLock]] reentrant so an escalated retry attempt can
    * reach the nested commit() without a second FileLock acquisition.
    */
  private[table] val heldCommitLocks: ThreadLocal[Set[String]] =
    ThreadLocal.withInitial(() => Set.empty[String])

  /** Open-or-create with the reference table's shape: key `trans_id`,
    * partitioned by `event` (README.md:292–309).
    */
  def retailTrans(root: String, threshold: Int = 10): MergeTable =
    new MergeTable(root, graft.model.Schemas.LakeTableSchema,
      keyCol = "trans_id", partitionCol = Some("event"),
      deleteCompactThreshold = threshold).create()

  /** Open an existing table from its persisted `_table.meta` — schema,
    * merge key, partition spec, and compaction threshold all come from
    * disk, so catalogs and readers need only the path.
    */
  def open(root: String): MergeTable = {
    val meta = Paths.get(root, "_table.meta")
    require(Files.exists(meta), s"no table at $root")
    val kv = Files.readAllLines(meta).asScala
      .flatMap { l =>
        l.split("\t", 2) match {
          case Array(k, v) => Some(k -> v)
          case _           => None
        }
      }.toMap
    new MergeTable(root,
      StructType.fromDDL(kv("schema")),
      kv("key"),
      Option(kv.getOrElse("partition", "")).filter(_.nonEmpty),
      kv.getOrElse("threshold", "10").toInt,
      physicalNames = kv.get("renames").filter(_.nonEmpty)
        .map(_.split(",").map { e =>
          val Array(l, p) = e.split("=", 2)
          l -> p
        }.toMap).getOrElse(Map.empty),
      writeSpecId = kv.get("pspecid").map(_.trim.toInt).getOrElse(0),
      dataFallbacks = kv.get("datafallback").filter(_.nonEmpty)
        .map(_.split(",").toSeq).getOrElse(Nil))
  }
}
