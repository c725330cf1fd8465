package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import scala.jdk.CollectionConverters._

/** Parquet-backed warehouse with the reference's three sink disciplines:
  *
  *  - idempotent append  (`ON CONFLICT DO NOTHING`, reference `db.py:41-58`,
  *    `db.py:88-100`)  -> within-batch keep-first dedup + left-anti join
  *    against existing keys, then append;
  *  - merge-upsert      (`ON CONFLICT DO UPDATE`, reference `db.py:110-127`)
  *    -> full-outer join + per-column combine, snapshot rewrite;
  *  - plain append      (reference `db.py:102-107`).
  *
  * Snapshot isolation: every table is a set of immutable GENERATION
  * directories plus a tiny `_current` pointer file naming the live one —
  * the same shape as a Delta/Iceberg version pointer, which is how the
  * reference's transactional visibility (Postgres, `db.py:12-17`) maps
  * onto plain parquet. Writers assemble the next generation off to the
  * side — rewritten partitions written fresh, untouched partitions
  * carried over as hard links (O(touched-partition) data, O(files)
  * metadata; the local analogue of manifest reuse) — then flip
  * `_current` with ONE atomic rename. Readers resolve `_current` once
  * per read, so a query planned before a merge keeps its entire
  * pre-merge snapshot and can never observe a half-swapped table. The
  * superseded generation is retained for one flip (older ones are GC'd),
  * bounding staleness for in-flight readers. Concurrent WRITERS to one
  * table are out of scope, as in the reference's one-ETL-service design —
  * and enforced: every mutation runs under a per-table OS file lock
  * (released by the OS the moment a crashed writer dies), so a second
  * live writer fails fast instead of interleaving flips and GC.
  *
  * Multi-table atomicity: [[transact]] lifts the same pointer-flip
  * pattern from one table to the warehouse — staged generations for
  * every table the block touches, then ONE atomic rename of a catalog
  * manifest version publishes them all (see the catalog section below).
  * [[snapshot]] is the read-side counterpart: all transaction-managed
  * tables resolved through one pinned manifest.
  *
  * Fact tables are partitioned by `study_id` so a merge or selective
  * read touches only the studies present in the incoming batch.
  */
final class Warehouse(private[graft] val spark: SparkSession,
                      val root: String,
                      catalogRetention: Int = 2,
                      private[graft] val format: String = "parquet") {
  require(catalogRetention >= 2,
    "catalogRetention < 2 would GC the version in-flight readers resolved")
  // every generation/pointer/catalog mechanism is format-agnostic (they
  // move directories and files, never rows); only the scan and the write
  // name the format. ORC gets the same pushdown/pruning/vectorization
  // via its own DSv2 source (FormatsSpec pins the pushed filters).
  require(Set("parquet", "orc")(format), s"unsupported format $format")

  private def tableRoot(table: String): Path = Paths.get(root, table)
  private def ptrPath(table: String): Path = tableRoot(table).resolve("_current")

  /** The live generation's data directory, if the table exists. Inside a
    * [[transact]] block this resolves the transaction's own staged
    * generation first (read-your-own-writes); otherwise the committed
    * state: the catalog manifest when the table is transaction-managed,
    * the per-table `_current` pointer when it is not. */
  def currentDir(table: String): Option[Path] = {
    val staged = Option(txn.get()).flatMap(_.staged.get(table))
    staged.map(tableRoot(table).resolve(_)).orElse(committedCurrentDir(table))
  }

  /** Committed resolution only — never sees in-flight staged work. */
  private def committedCurrentDir(table: String): Option[Path] =
    catalogManifest().get(table).map(tableRoot(table).resolve(_))
      .orElse(tablePtrDir(table))

  /** The per-table `_current` pointer's generation dir, if present — the
    * ONE place the pointer encoding is read (committed resolution and
    * snapshot fallback both come through here). */
  private def tablePtrDir(table: String): Option[Path] = {
    val p = ptrPath(table)
    if (!Files.exists(p)) None
    else Some(tableRoot(table).resolve(
      new String(Files.readAllBytes(p), UTF_8).trim))
  }

  def exists(table: String): Boolean = currentDir(table).isDefined

  /** Normalized root path — the identity two Warehouse instances over one
    * directory share (transaction state and commit-coupled caches key on
    * it; see [[graft.stream.StreamCommits]]). */
  private[graft] def rootKey: String = txnKey

  /** The COMMITTED generation name of `table` (never an in-flight staged
    * one). Local metadata only — no scan. Because generation names
    * strictly increase ([[nextGenDir]] numbers past everything on disk)
    * and generation directories are immutable, an unchanged name is a
    * proof the committed contents are unchanged — the cheap fingerprint
    * commit-coupled caches revalidate against. */
  private[graft] def committedGenName(table: String): Option[String] =
    committedCurrentDir(table).map(genName)

  /** Hold `table`'s writer lock around `f` — for callers composing a
    * read-modify-write out of more than one Warehouse call. Reentrant;
    * inside a transaction the lock joins the transaction and is held to
    * its commit/abort like any other touched table's. */
  private[graft] def locked[T](table: String)(f: => T): T =
    withTableLock(table)(f)

  /** Defer `cb` to just after the current transaction's catalog flip —
    * while the transaction's table locks are still held, so state `cb`
    * publishes cannot race the next writer — or run it immediately when
    * no transaction is open. This is the hook for commit-coupled
    * in-memory state (the StreamCommits cache): an aborted transaction
    * must never apply it. Failures are swallowed: the commit already
    * happened, and consumers of such state must self-heal from the
    * store (generation-fingerprint mismatch) anyway. */
  private[graft] def onCommit(cb: () => Unit): Unit = {
    val tx = txn.get()
    if (tx == null) cb()
    else tx.onCommit += cb
  }

  /** Read a table; empty DataFrame with the declared schema when absent.
    * The snapshot is pinned at this call: later merges flip `_current` to
    * a NEW directory and never mutate the one this scan resolved. */
  def read(table: String, schema: StructType): DataFrame =
    readDir(currentDir(table), schema)

  // --------------------------------------------------------- writer locking

  /** Per-TABLE single-writer guard. Locks are keyed by table directory,
    * so independent pipelines committing to DIFFERENT tables of one
    * warehouse never queue on each other — the only cross-table
    * serialization point is the catalog flip (one tiny manifest write,
    * bounded-wait on cross-process races; see [[withCatalogLock]]).
    * Concurrent writers to ONE table are out of scope (the reference is
    * one ETL service), and a misconfigured second same-table writer
    * must fail FAST — two interleaved commits could GC a generation a
    * reader pinned. Every mutating entry point runs under:
    *
    *  - an in-process reentrant lock per table path (so nested calls —
    *    appendIfAbsent → append → replace — re-enter, and two threads of
    *    ONE process serialize instead of failing); and
    *  - a cross-process OS file lock (`FileChannel.tryLock`) on the
    *    table's `_lock` file, holding the owner pid as diagnostics. The
    *    OS releases the lock the instant its holder dies, so a crashed
    *    writer leaves nothing to take over — which eliminates the entire
    *    class of stale-lock takeover races (any delete-and-recreate
    *    protocol lets two recovering writers steal each other's fresh
    *    lock). A lock held by a LIVE process raises, loudly, before
    *    anything is touched. (Advisory-lock caveat: on filesystems
    *    without real lock support, e.g. some NFS mounts, this degrades
    *    to in-process-only protection — same trade every lock-file
    *    engine makes locally.)
    */
  private def withTableLock[T](table: String)(f: => T): T = {
    val tx = txn.get()
    if (tx != null) {
      // a transaction holds every touched table's lock until its commit
      // or abort, so nothing can flip or GC between staging and the
      // catalog flip
      if (!tx.locks.contains(table))
        tx.locks(table) = acquireLock(tableRoot(table), s"table '$table'")
      f
    } else {
      val release = acquireLock(tableRoot(table), s"table '$table'")
      try f finally release()
    }
  }

  /** Acquire the in-process + cross-process lock for `dir`; returns the
    * release action. Reentrant: a nested acquisition on the same thread
    * piggybacks on the outer frame's file lock. The `_lock` file itself
    * persists across acquisitions (deleting a lock file while others may
    * be blocked on its inode is the classic unlink race); only the OS
    * lock and the diagnostic pid inside it change hands.
    *
    * `retryMillis` bounds a POLLING WAIT on a foreign live holder before
    * the loud failure: 0 (the table default) fails fast — a concurrent
    * same-table writer is a misconfiguration, and queueing would hide
    * it. The CATALOG lock passes a bounded budget instead: its critical
    * section is one tiny manifest write, so two PROCESSES flipping
    * different tables overlap only for milliseconds — failing a whole
    * pipeline's commit over that transient race would serialize
    * independent pipelines through their retry machinery at 100 TB
    * scale. A holder that outlives the budget still fails loudly (a
    * stuck flip is a real fault, not contention). */
  private def acquireLock(dir: Path, what: String,
                          retryMillis: Long = 0L): () => Unit = {
    val local = Warehouse.localLock(dir.toAbsolutePath.toString)
    local.lock()
    if (local.getHoldCount > 1) { () => local.unlock() }
    else try {
      Files.createDirectories(dir)
      val lockFile = dir.resolve("_lock")
      val ch = java.nio.channels.FileChannel.open(lockFile,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.READ)
      // Some(None) = held by a live writer (foreign process, or an
      // in-process channel outside our reentrant bookkeeping); None
      // sentinel via exception = no lock support on this filesystem
      def attempt(): Option[java.nio.channels.FileLock] =
        try Option(ch.tryLock())
        catch {
          case _: java.nio.channels.OverlappingFileLockException =>
            None                         // held by this process (live writer)
        }
      val flock =
        try {
          var fl = attempt()
          val deadline = System.nanoTime() + retryMillis * 1000000L
          while (fl.isEmpty && retryMillis > 0L &&
              System.nanoTime() < deadline) {
            Thread.sleep(25L)
            fl = attempt()
          }
          fl
        } catch {
          case _: java.io.IOException =>
            // the filesystem has no lock support (e.g. an NFS mount
            // without a lock daemon): degrade to in-process-only
            // protection, as documented — don't fail every mutation
            ch.close()
            return () => local.unlock()
          case t: Throwable =>
            // any other unwind (an interrupt mid-poll, say) reaches the
            // outer catch, which releases the local lock but knows
            // nothing of ch — close it here or the channel leaks
            try ch.close()
            catch { case scala.util.control.NonFatal(_) => () }
            throw t
        }
      flock match {
        case None =>
          val owner =
            try {
              val buf = java.nio.ByteBuffer.allocate(64)
              val n = ch.read(buf, 0L)
              if (n <= 0) "?" else new String(buf.array(), 0, n, UTF_8).trim
            } catch { case scala.util.control.NonFatal(_) => "?" }
            finally ch.close()
          throw new IllegalStateException(
            s"$what is locked by live writer pid $owner ($lockFile); " +
              "concurrent writers are not supported")
        case Some(fl) =>
          // diagnostics only — liveness is the OS lock, never this
          // content; a failure here must not strand the acquired lock
          try {
            ch.truncate(0L)
            ch.write(java.nio.ByteBuffer.wrap(
              ProcessHandle.current().pid().toString.getBytes(UTF_8)), 0L)
          } catch { case scala.util.control.NonFatal(_) => () }
          // release must NEVER throw: if an interrupt already closed the
          // channel, the OS dropped the lock with it — and a throwing
          // release inside transact's unwind would skip the remaining
          // tables' releases and strand their in-process locks
          () => {
            try { fl.release(); ch.close() }
            catch { case scala.util.control.NonFatal(_) => () }
            finally local.unlock()
          }
      }
    } catch { case e: Throwable => local.unlock(); throw e }
  }

  // ------------------------------------------------------ generation plumbing

  private def listDir(p: Path): List[Path] = Warehouse.listDir(p)
  private def walkDir(p: Path): List[Path] = Warehouse.walkDir(p)

  private def genName(p: Path): String = p.getFileName.toString

  private def nextGenDir(table: String): Path = {
    // numbering advances past every generation ON DISK, not just the
    // live pointer's: after a drop the pointer is gone but generations
    // pinned by retained catalog versions remain, and restarting at g1
    // would deleteRecursively a pinned directory — time travel to a
    // pre-drop version would then silently read the NEW table's data
    val onDisk = listDir(tableRoot(table))
      .map(_.getFileName.toString)
      .filter(n => n.length == 10 && n.startsWith("g") &&
        n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toLong)
    val live = currentDir(table).map(d => genName(d).stripPrefix("g").toLong)
    val seq = (onDisk ++ live).foldLeft(0L)(math.max) + 1
    tableRoot(table).resolve(f"g$seq%09d")
  }

  /** Commit a freshly-written generation. Inside a [[transact]] block the
    * flip is DEFERRED — the generation is recorded against the
    * transaction and becomes visible only when the whole transaction
    * flips the catalog in one rename. Otherwise it commits immediately:
    * flip the pointer atomically, then GC every generation except the
    * new one and its immediate predecessor (kept so reads planned just
    * before the flip stay valid). */
  private def commit(table: String, newGen: Path): Unit = {
    val tx = txn.get()
    if (tx != null) {
      if (!tx.base.contains(table))
        tx.base(table) = committedCurrentDir(table).map(genName)
      tx.staged(table) = genName(newGen)
      tx.allGens(table) = genName(newGen) :: tx.allGens.getOrElse(table, Nil)
    } else {
      val keep = (committedCurrentDir(table).map(genName) ++
        Seq(genName(newGen))).toSet
      // for a transaction-managed (cataloged) table the catalog entry is
      // what readers resolve, so updating it IS the commit point; the
      // per-table pointer below is then a best-effort mirror
      if (catalogManifest().contains(table)) withCatalogLock {
        writeCatalogVersion(catalogManifest() + (table -> genName(newGen)))
      }
      writeTablePtr(table, genName(newGen))
      gcTable(table, keep)
    }
  }

  private def writeTablePtr(table: String, gen: String): Unit = {
    val tmp = tableRoot(table).resolve("_current.tmp")
    Files.write(tmp, gen.getBytes(UTF_8))
    Files.move(tmp, ptrPath(table), StandardCopyOption.ATOMIC_MOVE)
  }

  private def gcTable(table: String, keep: Set[String]): Unit = {
    // generations pinned by a retained catalog version stay readable —
    // the invariant time travel rests on
    val keepAll = keep ++ cataloguedGens(table)
    listDir(tableRoot(table))
      .filter(p => Files.isDirectory(p) && genName(p).startsWith("g") &&
        !keepAll(genName(p)))
      .foreach(deleteRecursively)
  }

  // -------------------------------------------------- catalog + transactions

  /** The catalog is the warehouse-level analogue of a table's `_current`
    * pointer: one tiny versioned manifest (`_catalog/v000000N`, lines of
    * `table<TAB>generation`) plus an atomically-renamed `_catalog/_current`
    * naming the live version — the Delta/Iceberg version-pointer pattern
    * lifted from one table to the warehouse. A table enters the catalog
    * the first time a transaction commits it; from then on the catalog
    * entry is what readers resolve, so N tables' generations flip in ONE
    * rename. Tables never touched by a transaction keep resolving through
    * their per-table pointer — the single-table paths lose nothing.
    * Version files are retained one flip (like generations), so a
    * [[snapshot]] taken just before a commit stays readable. */
  private def catalogDir: Path = Paths.get(root, "_catalog")
  private def catalogPtr: Path = catalogDir.resolve("_current")

  private def catalogVersionName(n: Long): String = f"v$n%09d"

  private def currentCatalogVersion(): Option[String] =
    if (!Files.exists(catalogPtr)) None
    else Some(new String(Files.readAllBytes(catalogPtr), UTF_8).trim)

  private def parseManifest(f: Path): Map[String, String] =
    Files.readAllLines(f).asScala.iterator
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val i = l.indexOf('\t'); l.substring(0, i) -> l.substring(i + 1) }
      .toMap

  /** Commit wall-clock of a retained version (the `#ts` header line) —
    * what `TIMESTAMP AS OF` resolves against. None when the version file
    * vanished between listing and reading (a concurrent commit's GC — it
    * just fell off the retention horizon); pre-header manifests (none in
    * practice) read as epoch 0. */
  private def versionCommitMillis(version: Long): Option[Long] =
    try Some(
      Files.readAllLines(catalogDir.resolve(catalogVersionName(version)))
        .asScala.collectFirst {
          case l if l.startsWith("#ts\t") => l.stripPrefix("#ts\t").toLong
        }.getOrElse(0L))
    catch { case _: java.io.IOException => None }

  /** The newest retained version committed at or before `millis` — the
    * `TIMESTAMP AS OF` resolution rule. None when `millis` predates the
    * retention horizon. */
  def versionAt(millis: Long): Option[Long] =
    catalogVersions()
      .filter(v => versionCommitMillis(v).exists(_ <= millis)).lastOption

  private def catalogManifest(): Map[String, String] =
    currentCatalogVersion() match {
      case None => Map.empty
      case Some(v) => parseManifest(catalogDir.resolve(v))
    }

  /** Write the next manifest version and flip `_current` to it — the one
    * atomic commit point for everything the manifest covers. Old version
    * GC is best-effort: a failure after the flip must not unwind a commit
    * that already happened. */
  private def writeCatalogVersion(m: Map[String, String]): Unit = {
    val next = currentCatalogVersion()
      .map(_.stripPrefix("v").toLong + 1).getOrElse(1L)
    val name = catalogVersionName(next)
    Files.createDirectories(catalogDir)
    Files.write(catalogDir.resolve(name),
      (s"#ts\t${System.currentTimeMillis()}" +:
        m.toSeq.sorted.map { case (t, g) => s"$t\t$g" })
        .mkString("\n").getBytes(UTF_8))
    val tmp = catalogDir.resolve("_current.tmp")
    Files.write(tmp, name.getBytes(UTF_8))
    Files.move(tmp, catalogPtr, StandardCopyOption.ATOMIC_MOVE)
    try {
      val keep = (next - catalogRetention + 1 to next)
        .map(catalogVersionName).toSet
      listDir(catalogDir)
        .filter(p => p.getFileName.toString.startsWith("v") &&
          !keep(p.getFileName.toString))
        .foreach(Files.delete)
    } catch { case _: java.io.IOException => () }
  }

  /** Catalog versions still on disk, oldest first — the [[snapshotAt]]
    * time-travel horizon (the newest `catalogRetention` commits). */
  def catalogVersions(): Seq[Long] =
    if (!Files.exists(catalogDir)) Nil
    else listDir(catalogDir)
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toLong).sorted

  private def manifestAt(version: Long): Map[String, String] = {
    val f = catalogDir.resolve(catalogVersionName(version))
    require(Files.exists(f),
      s"catalog version $version is outside the retention horizon " +
        s"(${catalogVersions().mkString(", ")})")
    parseManifest(f)
  }

  /** The set of generation names of `table` pinned by ANY retained
    * catalog version — these must survive per-table GC or time travel
    * would resolve a manifest onto deleted data. */
  private def cataloguedGens(table: String): Set[String] =
    catalogVersions().flatMap(v => manifestAt(v).get(table)).toSet

  /** The catalog lock waits out transient cross-process flip races
    * (bounded poll) instead of failing fast like table locks: two
    * pipelines committing DIFFERENT tables contend here only for the
    * duration of one manifest write, and that contention is normal
    * operation at many-pipelines scale, not a misconfiguration. */
  private def withCatalogLock[T](f: => T): T = {
    val release = acquireLock(catalogDir, "catalog",
      retryMillis = Warehouse.CatalogLockWaitMillis)
    try f finally release()
  }

  // one open transaction per thread per warehouse; nesting is refused
  // Transaction state is keyed per (thread, warehouse ROOT) in the
  // companion — NOT per instance: the SQL catalog constructs a fresh
  // Warehouse per statement over the same root, and an instance-level
  // ThreadLocal would let that instance's drop/commit run blind inside
  // another instance's open transaction on this thread (the in-process
  // table lock is reentrant by design, so it would not save us).
  private val txnKey: String =
    Paths.get(root).toAbsolutePath.normalize.toString
  private object txn {
    def get(): Warehouse.TxnState =
      Warehouse.openTxns.get().getOrElse(txnKey, null)
    def set(tx: Warehouse.TxnState): Unit =
      Warehouse.openTxns.get().update(txnKey, tx)
    def remove(): Unit = Warehouse.openTxns.get().remove(txnKey)
  }

  /** Run `body` as ONE atomic multi-table commit.
    *
    * Every mutation inside the block writes its generation off to the
    * side as usual but defers the pointer flip; reads inside the block
    * see the transaction's own staged state for touched tables
    * (read-your-own-writes) and the pre-transaction snapshot for the
    * rest. When the block completes, all staged tables flip in ONE
    * atomic catalog rename — a reader using [[snapshot]] can never
    * observe table A post-commit and table B pre-commit. If the block
    * throws, the staged generations are deleted and nothing becomes
    * visible. A crash at any point leaves either the old state (flip
    * not reached; orphaned staged dirs are swept by later writers) or
    * the new state (flip done; pointer mirrors and GC re-converge on
    * the next commit of each table).
    *
    * Locks on touched tables are held from first touch to commit/abort,
    * so a live concurrent writer on any staged table fails fast rather
    * than interleaving. Concurrent transactions are out of scope, like
    * concurrent single-table writers.
    */
  def transact[T](body: => T): T = {
    require(txn.get() == null, "nested transactions are not supported")
    val tx = new Warehouse.TxnState
    txn.set(tx)
    try {
      val out = body
      if (tx.staged.nonEmpty) {
        withCatalogLock {
          writeCatalogVersion(catalogManifest() ++ tx.staged)
        }
        tx.committed = true
        // post-flip housekeeping: pointer mirrors + per-table GC; the
        // commit already happened, failures here only delay cleanup
        tx.staged.foreach { case (t, g) =>
          writeTablePtr(t, g)
          gcTable(t, keep = tx.base(t).toSet + g)
        }
      }
      tx.onCommit.foreach { cb =>
        try cb() catch { case scala.util.control.NonFatal(_) => () }
      }
      out
    } catch {
      case e: Throwable =>
        if (!tx.committed)
          tx.allGens.foreach { case (t, gens) =>
            gens.foreach(g => deleteRecursively(tableRoot(t).resolve(g)))
          }
        throw e
    } finally {
      txn.remove()
      // every table's lock must release even if one release misbehaves —
      // a skipped release strands an in-process lock and turns the next
      // writer's fail-fast into a hang
      tx.locks.values.toList.reverse.foreach { release =>
        try release()
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }

  /** A consistent multi-table read view: every transaction-managed table
    * resolves through ONE pinned manifest version, so two reads from the
    * same snapshot can never straddle a transaction's commit. Tables not
    * (yet) in the catalog fall back to their live per-table pointer —
    * cross-table atomicity is only promised for tables that commit
    * through [[transact]]. */
  def snapshot(): Warehouse.Snapshot =
    new Warehouse.Snapshot(this, catalogManifest(), Set.empty)

  /** Time travel: the warehouse exactly as transaction commit `version`
    * left it. Every cataloged table resolves through that version's
    * manifest — whose generations per-table GC keeps alive as long as
    * the version is retained (the newest `catalogRetention` commits;
    * older versions raise). Tables never committed through [[transact]]
    * have no history here and read live, as in [[snapshot]]. */
  def snapshotAt(version: Long): Warehouse.Snapshot =
    { val m = manifestAt(version)
      new Warehouse.Snapshot(this, m, catalogManifest().keySet -- m.keySet) }

  /** Resolution rules are FROZEN at snapshot creation (`laterManaged` is
    * the set of tables cataloged then but absent from the pinned
    * manifest): a pinned snapshot's answer for a table can never flip
    * because a later transaction entered that table into the catalog.
    * The fallback for never-cataloged tables reads the per-table pointer
    * directly — the live catalog is never consulted after pinning. */
  private[etl] def resolveAgainst(table: String, manifest: Map[String, String],
                                  laterManaged: Set[String]): Option[Path] =
    manifest.get(table).map(tableRoot(table).resolve(_))
      .orElse {
        // absent from the pinned manifest: a table cataloged at pin time
        // simply did not exist at that version (read empty); only a
        // never-transacted table falls back to its live pointer (no
        // cross-snapshot consistency is promised for those)
        if (laterManaged(table)) None
        else tablePtrDir(table)
      }

  private[etl] def readDir(d: Option[Path], schema: StructType): DataFrame =
    d match {
      case Some(p) => spark.read.schema(schema).format(format).load(p.toString)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** Hard-link `src`'s tree into `dst`, skipping relative paths accepted
    * by `skip`. Links share the immutable parquet files across
    * generations — no data copy; falls back to a real copy on
    * filesystems without hard links. Existing targets (e.g. `_SUCCESS`)
    * are left alone. */
  private def linkTree(src: Path, dst: Path,
                       skip: Path => Boolean = _ => false): Unit =
    walkDir(src).foreach { p =>
      val rel = src.relativize(p)
      if (rel.toString.nonEmpty && !skip(rel)) {
        val t = dst.resolve(rel)
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else if (!Files.exists(t)) {
          Files.createDirectories(t.getParent)
          try Files.createLink(t, p)
          catch { case _: UnsupportedOperationException => Files.copy(p, t) }
        }
      }
    }

  /** Overwrite a table: write the new contents as a fresh generation and
    * flip the pointer. Readers of the old generation are undisturbed —
    * there is no in-place overwrite anywhere, so the parquet
    * self-overwrite hazard does not arise even when `df` reads from this
    * very table. */
  def replace(table: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit =
    withTableLock(table) {
      val gen = nextGenDir(table)
      deleteRecursively(gen)            // stale dir from a crashed writer
      val w = df.write.mode(SaveMode.Overwrite).format(format)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .save(gen.toString)
      commit(table, gen)
    }

  /** Plain append (quality reports, reference `db.py:102-107`). The batch
    * is written beside the live generation and becomes visible in one
    * pointer flip — never file-by-file. */
  def append(table: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit =
    withTableLock(table) {
      currentDir(table) match {
        case None => replace(table, df, partitionBy)
        case Some(cur) =>
          val gen = nextGenDir(table)
          deleteRecursively(gen)
          val w = df.write.mode(SaveMode.Overwrite).format(format)
          (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
            .save(gen.toString)
          linkTree(cur, gen)            // carry the existing files over
          commit(table, gen)
      }
    }

  /** Additive schema evolution (`ALTER TABLE ... ADD COLUMN`): commit a
    * new generation whose files are the CURRENT generation's, hard-
    * linked — no data is read or rewritten, the only new bytes are one
    * zero-row parquet file carrying the widened schema (old columns in
    * their stored order, `newColumns` appended) and a `_graft_widened`
    * marker — so an O(100 TB) table widens in O(1) data.
    *
    * Layouts differ in where the zero-row schema file can live:
    *
    *  - UNPARTITIONED: at the generation root, beside the data files.
    *    Readers union the footers (the marker tells the SQL catalog to
    *    resolve with `mergeSchema`; programmatic [[read]] passes the
    *    widened schema explicitly) and parquet null-fills the added
    *    columns for pre-evolution files.
    *  - PARTITIONED (`col=value` subdirectories): a root-level data
    *    file beside partition dirs is a mixed layout partition
    *    discovery rejects, so the schema file goes into a
    *    `_graft_schema/` SIDECAR directory — underscore-prefixed,
    *    therefore invisible to partition discovery and data scans —
    *    holding the complete widened DATA schema (each widen rewrites
    *    it; partition columns live in the directory names, never in
    *    the sidecar). The SQL catalog resolves such a generation as
    *    sidecar schema + discovered partition columns; programmatic
    *    [[read]] passes the full schema explicitly as before.
    *
    * The marker and schema file/sidecar ride [[linkTree]] into every
    * later append generation — including [[mergeReplacePartitions]],
    * whose rewritten-partition skip never matches the sidecar — so
    * evolution survives appends (including appends still writing the
    * narrow schema); [[replace]] (and the replace-class rewrites —
    * [[mergeReplace]], whose caller-declared schema IS the new table
    * contents) writes a fresh directory and so resets the schema to
    * what it was given, which is what a full overwrite means —
    * post-evolution callers of those must pass the widened schema.
    * [[optimizeTable]] refuses a stale narrow schema outright:
    * maintenance must never change the schema. Old generations keep
    * their narrow schema — time travel across the evolution boundary
    * reads each version's own columns.
    *
    * New columns must be nullable (there is nothing to backfill with
    * but null) and must not collide with stored columns (partition
    * columns included). Parquet only: the ORC reader has no
    * footer-merge option, so a widened ORC table's inferred schema
    * would be whichever footer won. */
  def widen(table: String, newColumns: StructType): Unit = {
    require(format == "parquet",
      s"additive schema evolution requires parquet, not $format")
    require(newColumns.nonEmpty, "ADD COLUMN with no columns")
    newColumns.foreach(f => require(f.nullable,
      s"added column ${f.name} must be nullable — existing rows have " +
        "nothing to backfill it with but null"))
    withTableLock(table) {
      val cur = currentDir(table).getOrElse(throw new IllegalArgumentException(
        s"cannot widen absent table $table"))
      val partitionCols = partitionColNames(cur)
      // footer-merged current schema (the table may already be evolved,
      // and a single arbitrary footer would under-report columns), plus
      // any columns only the previous sidecar knows (a partitioned
      // table's earlier widens never reach the data footers)
      val inferred = spark.read.option("mergeSchema", "true")
        .format(format).load(cur.toString).schema
      val prevSidecar = cur.resolve(Warehouse.SchemaSidecar)
      val sidecarOnly =
        if (!Files.exists(prevSidecar)) Array.empty[StructField]
        else spark.read.format(format).load(prevSidecar.toString)
          .schema.fields.filterNot(f =>
            inferred.fieldNames.exists(_.equalsIgnoreCase(f.name)))
      val curSchema = StructType(inferred.fields ++ sidecarOnly)
      val clash = newColumns.fieldNames.filter(n =>
        curSchema.fieldNames.exists(_.equalsIgnoreCase(n)))
      require(clash.isEmpty,
        s"column(s) already exist on $table: ${clash.mkString(", ")}")
      val gen = nextGenDir(table)
      deleteRecursively(gen)
      if (partitionCols.isEmpty) {
        spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(curSchema.fields ++ newColumns.fields))
          .coalesce(1).write.mode(SaveMode.Overwrite).format(format)
          .save(gen.toString)
        linkTree(cur, gen)
      } else {
        // complete widened DATA schema: stored data columns in footer
        // order + earlier sidecar-only columns + the new ones; partition
        // columns stay in the directory names
        val dataSchema = StructType(
          curSchema.fields.filterNot(f =>
            partitionCols.exists(_.equalsIgnoreCase(f.name))) ++
            newColumns.fields)
        Files.createDirectories(gen)
        linkTree(cur, gen)
        // Overwrite replaces the hard-linked previous sidecar (links die
        // in THIS generation only; the source generation keeps its copy)
        spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dataSchema)
          .coalesce(1).write.mode(SaveMode.Overwrite).format(format)
          .save(gen.resolve(Warehouse.SchemaSidecar).toString)
      }
      Files.writeString(gen.resolve(Warehouse.WidenedMarker),
        newColumns.fieldNames.mkString(","))
      commit(table, gen)
    }
  }

  /** Partition column names of a generation directory, outermost first,
    * read from the `col=value` directory chain (one walk down the first
    * chain — partition layouts are uniform by construction). Empty for
    * unpartitioned layouts. */
  private def partitionColNames(dir: Path): Seq[String] = {
    val names = scala.collection.mutable.ListBuffer[String]()
    var d = dir
    var next = listDir(d).find(p => Files.isDirectory(p) &&
      p.getFileName.toString.contains("="))
    while (next.isDefined) {
      names += next.get.getFileName.toString.takeWhile(_ != '=')
      d = next.get
      next = listDir(d).find(p => Files.isDirectory(p) &&
        p.getFileName.toString.contains("="))
    }
    names.toSeq
  }

  /** Drop a table: ONE commit removes it from committed resolution (the
    * catalog-manifest entry when transaction-managed, plus the per-table
    * `_current` pointer). Generations pinned by retained catalog
    * versions stay on disk, so time travel to a pre-drop version still
    * reads the data; the just-dropped LIVE generation is kept too (the
    * same one-flip retention every commit grants — a reader that
    * resolved it just before the drop finishes its scan); everything
    * else unpinned is GC'd, and a later re-create numbers PAST every
    * surviving directory ([[nextGenDir]] scans disk). Returns whether
    * the table existed. Refused inside a transaction: the
    * manifest-minus-entry commit would race the transaction's own
    * deferred flip. */
  def drop(table: String): Boolean = {
    require(txn.get() == null, "drop inside a transaction is not supported")
    withTableLock(table) {
      val live = committedCurrentDir(table)
      val existed = live.isDefined
      if (existed) {
        // ORDER matters for crash safety on a catalog-managed table:
        // the mirror pointer dies FIRST (the table still resolves
        // through the manifest — the drop has not happened), then the
        // manifest flip is the one commit point. The reverse order
        // leaves a crash window where the manifest flip landed but the
        // stale pointer silently resurrects the dropped table forever.
        // For a pointer-only table the delete IS the commit.
        Files.deleteIfExists(ptrPath(table))
        if (catalogManifest().contains(table)) withCatalogLock {
          writeCatalogVersion(catalogManifest() - table)
        }
        gcTable(table, live.map(genName).toSet)
      }
      existed
    }
  }

  /** CREATE-exclusive commit: publish `df` as the table's first
    * generation iff the table does not exist, the existence check and
    * the commit under ONE hold of the table's writer lock — two racing
    * creators cannot both pass (the SQL catalog's CREATE/CTAS path).
    * Returns whether this call created the table. */
  def createIfAbsent(table: String, df: DataFrame): Boolean =
    withTableLock(table) {
      if (committedCurrentDir(table).isDefined) false
      else { replace(table, df); true }
    }

  /** Idempotent append: `INSERT ... ON CONFLICT (keys) DO NOTHING`.
    *
    * Within-batch duplicates keep the FIRST row by `orderCol` (Postgres
    * keeps the first conflicting row of the statement); cross-batch
    * duplicates are dropped via left-anti join on the existing key set.
    * The anti-join reads only the key columns of the existing table
    * (column-pruned parquet scan).
    */
  def appendIfAbsent(table: String, schema: StructType, df: DataFrame,
                     keys: Seq[String], orderCol: String,
                     partitionBy: Seq[String] = Nil,
                     dedupWithinBatch: Boolean = true): Long =
    appendIfAbsentMany(Seq(Append(table, schema, df, keys, orderCol,
      partitionBy, dedupWithinBatch))).head

  /** One table's worth of [[appendIfAbsent]] arguments, for the
    * multi-table form. `partitionValues` optionally gives, per partition
    * column, the exact distinct values `df` holds (see
    * [[prunedToIncoming]]). */
  case class Append(table: String, schema: StructType, df: DataFrame,
                    keys: Seq[String], orderCol: String,
                    partitionBy: Seq[String] = Nil,
                    dedupWithinBatch: Boolean = true,
                    partitionValues: Map[String, Seq[Any]] = Map.empty)

  /** Multi-table [[appendIfAbsent]]: every table's staged frame (deduped
    * + anti-joined) is cached in ONE tagged union, materialized and
    * counted in ONE Spark action instead of one count job per table, then
    * each non-empty staging writes its own generation — so a micro-batch
    * transaction appending to two sinks pays one staging job, not two
    * (the per-batch action count is the streaming frame's fixed cost).
    * Per-table semantics are [[appendIfAbsent]]'s exactly — the
    * single-table form delegates here, so the two cannot drift. All
    * table locks are held across staging AND writes (the anti-join
    * snapshot must stay consistent with the write decision), acquired
    * in NAME order so concurrent multi-table takers cannot deadlock
    * (single-table takers hold one lock and cannot close a cycle). */
  def appendIfAbsentMany(appends: Seq[Append]): Seq[Long] = {
    require(appends.nonEmpty, "appendIfAbsentMany of nothing")
    require(appends.map(_.table).distinct.size == appends.size,
      s"duplicate table in one multi-append: ${appends.map(_.table)}")
    def locked[T](remaining: List[String])(f: => T): T = remaining match {
      case Nil => f
      case t :: rest => withTableLock(t)(locked(rest)(f))
    }
    locked(appends.map(_.table).sorted.toList) {
      val fresh = appends.map { a =>
        val keyCols = a.keys.map(col)
        val firstPerKey = if (!a.dedupWithinBatch) a.df else
          // keep-FIRST by orderCol, like Postgres keeping the first
          // conflicting row of an INSERT batch. min_by instead of a
          // row_number window: the window shuffles AND sorts the whole
          // batch, while the aggregate partial-combines map-side and
          // carries one buffered row per key through the shuffle.
          // orderCol is unique per key within a batch (file row
          // number), so the argmin is exact.
          a.df.groupBy(keyCols: _*)
            .agg(min_by(struct(a.schema.fieldNames.toSeq.map(col): _*),
              col(a.orderCol)).as("__first"))
            .select(col("__first.*"))
        val deduped = firstPerKey.select(a.schema.fieldNames.toSeq.map(col): _*)
        if (!exists(a.table)) deduped
        else deduped.join(
          prunedToIncoming(read(a.table, a.schema), deduped,
            a.partitionBy.filter(a.keys.contains), a.partitionValues)
            .select(keyCols: _*),
          a.keys, "left_anti")
      }
      // ONE cached tagged union stages every table's rows (tag = position,
      // so table names never have to be distinct-safe strings in the
      // plan; table i's row rides in struct column __s<i>), so one cache
      // materializes for all tables, and ONE action counts what lands per
      // table: per-partition tallies, summed after the collect: no shuffle
      val staged = fresh.zipWithIndex
        .map { case (f, i) =>
          f.select(lit(i).as("__t"), struct(f.columns.toSeq.map(col): _*).as(s"__s$i")) }
        .reduce(_.unionByName(_, allowMissingColumns = true))
        .cache()
      try {
        val k = appends.size
        val counts = staged.select("__t")
          .mapPartitions { rows =>
            val c = new Array[Long](k)
            rows.foreach(r => c(r.getInt(0)) += 1)
            Iterator.single(c)
          }(spark.implicits.newLongArrayEncoder)
          .collect()
          .foldLeft(new Array[Long](k))((acc, c) => acc.zip(c).map { case (x, y) => x + y })
        appends.zipWithIndex.map { case (a, i) =>
          val n = counts(i)
          if (n > 0) {
            // Bound the generation's file count by what the batch actually
            // holds: micro-batch appends run with AQE disabled (foreachBatch
            // plans), so a small batch would otherwise land one near-empty
            // file per shuffle partition — a day of micro-batches explodes
            // the table into thousands of tiny files that every later read
            // (including this method's own anti-join) must list and open.
            // Rows-per-file is a proxy for bytes (optimizeTable remains the
            // real compactor); a large batch keeps its full parallelism —
            // coalesce never increases partition count, so no cap against
            // the actual count is needed — and coalesce on the cached frame
            // is narrow: no shuffle.
            val target = math.max(1L, (n + AppendRowsPerFile - 1) / AppendRowsPerFile)
            append(a.table,
              staged.filter(col("__t") === i).select(col(s"__s$i.*"))
                .coalesce(math.min(target, Int.MaxValue.toLong).toInt),
              a.partitionBy)
          }
          n
        }
      } finally staged.unpersist()  // released also when a write throws
    }
  }

  // ~1M rows per appended file: small enough that a genuinely large batch
  // keeps its parallelism, large enough that streaming micro-batches land
  // one file per append instead of one per shuffle partition
  private val AppendRowsPerFile = 1L << 20

  /** Merge-upsert: full-outer combine of the existing table with `incoming`
    * on `keys`, then snapshot-rewrite. `combine` receives (existing,
    * incoming) DataFrames pre-aliased "old"/"new" and must produce the new
    * table contents.
    */
  def mergeReplace(table: String, schema: StructType,
                   incoming: DataFrame,
                   combine: (DataFrame, DataFrame) => DataFrame,
                   partitionBy: Seq[String] = Nil): Unit = withTableLock(table) {
    val merged =
      if (!exists(table)) incoming
      else combine(read(table, schema).alias("old"), incoming.alias("new"))
    replace(table, merged.select(schema.fieldNames.toSeq.map(col): _*), partitionBy)
  }

  /** Restrict `existing` to the partition values present in `incoming` —
    * the anti-join/merge scan then prunes to only the directories a batch
    * can possibly conflict with. Valid whenever the partition columns are
    * part of the conflict key (same key => same partition). A column's
    * values come from `known` when the caller already has them (a job's
    * input pass learns its studies); otherwise they are collected in a
    * job of their own. Either way they are bounded by the
    * batch's partition count (a handful of studies), never by data size.
    * Known values must be exact: a merge rewrites every partition they
    * name. */
  private def prunedToIncoming(existing: DataFrame, incoming: DataFrame,
                               pruneCols: Seq[String],
                               known: Map[String, Seq[Any]]): DataFrame =
    pruneCols.foldLeft(existing) { (d, c) =>
      val vals = known.getOrElse(c, incoming.select(col(c)).distinct().collect()
        .map(_.get(0)).toIndexedSeq)
      d.filter(col(c).isin(vals: _*))
    }

  /** Partition-scoped merge-upsert: like [[mergeReplace]], but reads and
    * REWRITES only the partitions present in the incoming batch — the
    * untouched partition directories carry into the next generation as
    * hard links, never re-read, never re-shuffled, never copied. This is
    * the property that keeps a nightly merge touching one study's data
    * from rewriting a 100 TB warehouse. Requires the partition columns
    * to be part of the merge key semantics (same key => same partition),
    * which holds for every warehouse table here. `partitionValues`, when
    * given, must be exactly the incoming batch's distinct values (see
    * [[prunedToIncoming]]).
    */
  def mergeReplacePartitions(table: String, schema: StructType,
                             incoming: DataFrame,
                             combine: (DataFrame, DataFrame) => DataFrame,
                             partitionCols: Seq[String],
                             partitionValues: Map[String, Seq[Any]] = Map.empty
                            ): Unit = withTableLock(table) {
    require(partitionCols.nonEmpty, "use mergeReplace for unpartitioned tables")
    currentDir(table) match {
      case None =>
        replace(table, incoming.select(schema.fieldNames.toSeq.map(col): _*), partitionCols)
      case Some(cur) =>
        val scoped = prunedToIncoming(read(table, schema), incoming, partitionCols,
          partitionValues)
        val merged = combine(scoped.alias("old"), incoming.alias("new"))
          .select(schema.fieldNames.toSeq.map(col): _*)
        val tmp = tableRoot(table).resolve(".merge-tmp")
        deleteRecursively(tmp)
        merged.write.mode(SaveMode.Overwrite).format(format)
          .partitionBy(partitionCols: _*).save(tmp.toString)
        val rewritten = partitionDirs(tmp, partitionCols.length)
        val gen = nextGenDir(table)
        deleteRecursively(gen)
        Files.createDirectories(gen)
        linkTree(cur, gen, skip = rel => rewritten.exists(rel.startsWith))
        rewritten.foreach { rel =>
          Files.createDirectories(gen.resolve(rel).getParent)
          Files.move(tmp.resolve(rel), gen.resolve(rel),
            StandardCopyOption.ATOMIC_MOVE)
        }
        deleteRecursively(tmp)
        commit(table, gen)
    }
  }

  /** Change-data feed between two retained catalog versions (the CDC
    * verb the generation + manifest machinery makes cheap): every row of
    * `table` that differs between commit `fromVersion` and `toVersion`,
    * tagged `_change_type`.
    *
    * With `keys`, changes are KEYED: a full-outer join on the key
    * produces `insert` / `delete` rows and update pairs
    * (`update_preimage` + `update_postimage`) — one shuffle of each
    * snapshot on the key, the honest scale shape for row-level diff.
    * Without keys it degrades to a multiset diff (`exceptAll` both
    * ways): inserts and deletes only, updates surface as a
    * delete+insert pair. Null-keyed rows have no identity, so they take
    * the multiset path even in keyed mode.
    *
    * Both versions must still be retained (see `catalogRetention`);
    * a table absent from the older manifest diffs against empty, so the
    * first transacted commit reads as all-inserts. */
  def changesBetween(table: String, schema: StructType,
                     fromVersion: Long, toVersion: Long,
                     keys: Seq[String] = Nil): DataFrame = {
    val before = snapshotAt(fromVersion).read(table, schema)
    val after = snapshotAt(toVersion).read(table, schema)
    val all = schema.fieldNames.toSeq.map(col)
    if (keys.isEmpty)
      after.exceptAll(before).withColumn("_change_type", lit("insert"))
        .unionByName(
          before.exceptAll(after).withColumn("_change_type", lit("delete")))
    else {
      // null-keyed rows have no identity to match on — joining them
      // null-safely would cross-product every null-key row with every
      // other — so they route through the MULTISET diff (insert/delete,
      // never update) and the keyed join sees only real keys
      val nullKey = keys.map(col(_).isNull).reduce(_ || _)
      val nullIns = after.filter(nullKey).exceptAll(before.filter(nullKey))
        .withColumn("_change_type", lit("insert"))
      val nullDel = before.filter(nullKey).exceptAll(after.filter(nullKey))
        .withColumn("_change_type", lit("delete"))
      val bs = before.filter(!nullKey).select(struct(all: _*).as("__b"))
      val as_ = after.filter(!nullKey).select(struct(all: _*).as("__a"))
      val j = bs.join(as_,
        keys.map(k => col(s"__b.$k") === col(s"__a.$k")).reduce(_ && _),
        "full_outer")
      val inserts = j.filter(col("__b").isNull && col("__a").isNotNull)
        .select(col("__a.*")).withColumn("_change_type", lit("insert"))
      val deletes = j.filter(col("__a").isNull && col("__b").isNotNull)
        .select(col("__b.*")).withColumn("_change_type", lit("delete"))
      val updates = j
        .filter(col("__a").isNotNull && col("__b").isNotNull &&
          !(col("__a") <=> col("__b")))
        .select(explode(array(
          struct(col("__b").as("row"), lit("update_preimage").as("t")),
          struct(col("__a").as("row"), lit("update_postimage").as("t"))))
          .as("__e"))
        .select(col("__e.row.*") +: Seq(col("__e.t").as("_change_type")): _*)
      inserts.unionByName(deletes).unionByName(updates)
        .unionByName(nullIns).unionByName(nullDel)
    }
  }

  /** Maintenance rewrite (the OPTIMIZE verb of Delta/Iceberg): compact a
    * table's many small files — the debris of streaming appends, each of
    * which lands its own part-files — into few near-target-size ones,
    * and optionally range-cluster rows by `sortBy` so parquet row-group
    * min/max statistics let later scans skip whole files (single-prefix
    * Z-ordering). The target file count comes from the live generation's
    * actual bytes — local file metadata, no data scan. The rewrite is an
    * ordinary generation flip: readers keep their snapshot, a crash
    * publishes nothing, and the row SET is unchanged — only layout.
    *
    * At cluster scale this is the op that keeps a streaming-ingested
    * table scannable: a year of 30-second micro-batches is ~1M tiny
    * files per table without it, a planner-killing listing even before
    * the first byte is read. */
  def optimizeTable(table: String, schema: StructType,
                    sortBy: Seq[String] = Nil,
                    targetBytesPerFile: Long = 128L << 20,
                    partitionBy: Seq[String] = Nil): Unit = withTableLock(table) {
    currentDir(table).foreach { cur =>
      // a widened table compacted under a STALE narrow schema would
      // silently drop the evolved column's values (OPTIMIZE rewrites
      // everything it reads) — routine maintenance must never change
      // the schema, so refuse loudly instead. One Files.exists on the
      // unevolved path; the footer merge runs only behind the marker.
      // A partitioned widen's columns live only in the schema sidecar
      // (never in data footers) — merge those in too.
      if (Files.exists(cur.resolve(Warehouse.WidenedMarker))) {
        val merged = spark.read.option("mergeSchema", "true").format(format)
          .load(cur.toString).schema
        val sidecar = cur.resolve(Warehouse.SchemaSidecar)
        val full =
          if (!Files.exists(sidecar)) merged
          else StructType(merged.fields ++
            spark.read.format(format).load(sidecar.toString).schema.fields
              .filterNot(f =>
                merged.fieldNames.exists(_.equalsIgnoreCase(f.name))))
        val missing = full.fieldNames.filterNot(n =>
          schema.fieldNames.exists(_.equalsIgnoreCase(n)))
        require(missing.isEmpty,
          s"optimizeTable($table) would DROP evolved column(s) " +
            s"${missing.mkString(", ")} — the table was widened; pass " +
            "the full post-evolution schema")
      }
      val bytes = walkDir(cur)
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(s".$format"))
        .map(Files.size).sum
      val nFiles = math.max(1L, (bytes + targetBytesPerFile - 1) /
        targetBytesPerFile).toInt
      val df = read(table, schema)
      val keys = (partitionBy ++ sortBy).map(col)
      val shaped =
        if (keys.nonEmpty)
          // range partitioning keeps each partition value contiguous and
          // gives every output file a narrow, disjoint sort-key range —
          // what the footer-stats skipping relies on
          df.repartitionByRange(nFiles, keys: _*).sortWithinPartitions(keys: _*)
        else df.coalesce(nFiles)
      replace(table, shaped, partitionBy)
    }
  }

  /** Relative `col=value[/col=value...]` paths of the leaf partition dirs
    * under `base`, `depth` partition levels deep. */
  private def partitionDirs(base: Path, depth: Int): Seq[Path] = {
    def walk(p: Path, d: Int): Seq[Path] =
      if (d == 0) Seq(p)
      else listDir(p)
        .filter(q => Files.isDirectory(q) && q.getFileName.toString.contains("="))
        .flatMap(walk(_, d - 1))
    walk(base, depth).map(base.relativize)
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      walkDir(p).sorted(Ordering.comparatorToOrdering(
        Comparator.reverseOrder[Path]())).foreach(Files.delete)
}

object Warehouse {
  /** Marker file a [[Warehouse.widen]] commit drops into its generation:
    * underscore-prefixed so file-source scans ignore it, carried into
    * later append generations by linkTree, and read by the SQL catalog
    * to resolve the table with footer-merged schema inference. */
  private[graft] val WidenedMarker = "_graft_widened"

  /** Sidecar directory a PARTITIONED [[Warehouse.widen]] writes its
    * zero-row widened-data-schema file into (underscore-prefixed:
    * invisible to partition discovery and data scans; see widen's doc). */
  private[graft] val SchemaSidecar = "_graft_schema"

  // Files.list/walk return streams holding an open directory fd until
  // closed — on the per-micro-batch commit path that's a leak per call
  // (reclaimed only at GC, EMFILE under pressure). Materialize + close.
  // Shared with the SQL catalog so every listing goes through one idiom.
  private[graft] def listDir(p: Path): List[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toList finally s.close()
  }
  private[graft] def walkDir(p: Path): List[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.toList finally s.close()
  }

  // one reentrant lock per table path, process-wide: threads of the same
  // process serialize on a table; separate processes go through the lock
  // file in withTableLock
  // open transactions of the current thread, keyed by normalized
  // warehouse root — shared across Warehouse instances over one root
  private val openTxns =
    new ThreadLocal[scala.collection.mutable.Map[String, TxnState]] {
      override def initialValue() =
        scala.collection.mutable.Map.empty[String, TxnState]
    }

  /** Bounded wait for a foreign process's catalog flip (one tiny
    * manifest write) before the loud lock failure — see
    * [[Warehouse#withCatalogLock]]. */
  private[etl] val CatalogLockWaitMillis: Long = 10000L

  private val localLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()
  private def localLock(key: String): java.util.concurrent.locks.ReentrantLock =
    localLocks.computeIfAbsent(key, _ => new java.util.concurrent.locks.ReentrantLock())

  /** Mutable bookkeeping of one open [[Warehouse.transact]] block. */
  private final class TxnState {
    val locks = scala.collection.mutable.LinkedHashMap[String, () => Unit]()
    // pre-transaction committed generation of each touched table (GC keep)
    val base = scala.collection.mutable.Map[String, Option[String]]()
    // latest staged generation per table — what the catalog flip publishes
    val staged = scala.collection.mutable.LinkedHashMap[String, String]()
    // every staged generation incl. intermediates — what an abort deletes
    val allGens = scala.collection.mutable.Map[String, List[String]]()
    // commit-coupled callbacks (see Warehouse.onCommit) — run after the
    // catalog flip, never on abort
    val onCommit = scala.collection.mutable.ListBuffer[() => Unit]()
    var committed = false
  }

  /** See [[Warehouse.snapshot]]. */
  final class Snapshot private[etl] (wh: Warehouse,
                                     manifest: Map[String, String],
                                     laterManaged: Set[String]) {
    def currentDir(table: String): Option[Path] =
      wh.resolveAgainst(table, manifest, laterManaged)
    def exists(table: String): Boolean = currentDir(table).isDefined
    def read(table: String, schema: StructType): DataFrame =
      wh.readDir(currentDir(table), schema)
  }
}
