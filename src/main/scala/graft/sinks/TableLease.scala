package graft.sinks

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.nio.file.StandardOpenOption.{CREATE, READ, WRITE}
import scala.collection.mutable

/** Checked mutual exclusion between a DRAIN window (streaming batches
  * that may replay) and a MAINTENANCE window (compact / truncate /
  * retainFrom / refit) over a parquet state table — the runtime teeth
  * for the contract every writer in this package documented but nothing
  * enforced: a maintenance pass racing a replayable batch folds that
  * batch's delta files mid-contract, and the replayed batch then
  * re-appends rows the compaction already merged.
  *
  * Exclusion is BETWEEN classes:
  *
  *  - a maintenance op refuses to start while a drain window is open
  *    ([[withMaintenance]]), and a drain refuses while a maintenance
  *    window is open;
  *  - a writer merge/append refuses while a FOREIGN maintenance window
  *    is open ([[requireNoForeignMaintenance]] — "foreign" means not
  *    this thread's own maintenance pass, so compact's internal rewrite
  *    and refit's reassignment merges pass their own gate).
  *
  * Within a class, a second holder of the same kind is refused; the
  * same holder re-acquiring is a no-op.
  *
  * KERNEL LOCKS: a window is held exactly while its holder holds an
  * exclusive `fcntl` lock ([[java.nio.channels.FileLock]]) on the
  * table's lock file for that kind, `<table>.__drain-lease` or
  * `<table>.__maint-lease`. The kernel drops the lock when the holding
  * process exits, however it exits, so:
  *
  *  - a crashed holder's window frees the moment its process is gone;
  *  - a live but hung holder is never stolen from — the operator kills
  *    it;
  *  - a lock file that no process holds grants nothing and refuses
  *    nothing.
  *
  * There is no clock, no staleness bound and no renewal. A drain that
  * crashed mid-batch may still REPLAY that batch after its window
  * freed, which no lock can see (nothing is running). That window is
  * closed for the append path by [[UpsertWriter.compact]]'s folded-tag
  * sidecar, which makes a replayed append idempotent across a
  * compaction. Lock files are never unlinked: a lock on an unlinked
  * file still excludes holders of that inode only, so a later acquirer
  * would lock a new file beside a live window. The file's content is
  * the last holder's name, for refusal messages only.
  *
  * CROSS-KIND: an acquirer locks its own kind's file, then PROBES the
  * opposite kind's (a shared `tryLock` plus release, on a channel
  * opened without CREATE) and backs out if it is held. Each of two
  * opposite-kind acquirers locks before it probes, so at least one sees
  * the other: at most one proceeds, and both may back out (safe; the
  * caller retries into an empty field). A probe holds the probed file's
  * lock for one `tryLock`, so an acquirer of that kind racing it is
  * refused — the safe side.
  *
  * ONE JVM: a JVM holds `fcntl` locks as one process. A second
  * `tryLock` on a file it holds throws `OverlappingFileLockException`,
  * and closing ANY channel on a lock file drops every lock the process
  * holds on that file. So every window this JVM holds sits in one
  * registry ([[held]]) under this object's monitor, with the one
  * channel that holds it open for the window's lifetime. In-process
  * conflicts are answered from the registry, and a lock file is opened
  * — to lock or to probe — only under the monitor and only when the
  * registry does not hold it. `graft.LeaseGuardSpec` keeps every file
  * lock in the code base inside this object.
  *
  * FILESYSTEM MODEL: one host's local filesystem with POSIX `fcntl`
  * locks — the deployment this package targets (scheduled jobs and
  * streaming workers on one host writing one warehouse).
  */
object TableLease {

  sealed trait Kind { private[sinks] def suffix: String }
  /** Held for the duration of a streaming drain over the table. */
  case object Drain extends Kind {
    private[sinks] val suffix = ".__drain-lease"
  }
  /** Held for the duration of a maintenance pass over the table. */
  case object Maintenance extends Kind {
    private[sinks] val suffix = ".__maint-lease"
  }

  private def opposite(kind: Kind): Kind =
    if (kind == Drain) Maintenance else Drain

  private def lockFile(path: String, kind: Kind): Path =
    Paths.get(path + kind.suffix)

  /** Registry key of a lock file: its directory's real path plus its
    * name, so two spellings of one table path share one window. */
  private def key(f: Path): Path = {
    val abs = f.toAbsolutePath
    try abs.getParent.toRealPath().resolve(abs.getFileName)
    catch { case _: java.io.IOException => abs.normalize }
  }

  /** A window this JVM holds: its holder, and the one channel whose
    * lock holds it. */
  private final case class Held(holder: String, channel: FileChannel)

  /** Every window this JVM holds, by lock-file [[key]]. Guarded by this
    * object's monitor. */
  private val held = mutable.Map.empty[Path, Held]

  /** The holder name a lock file records (diagnostic only). */
  private def content(ch: FileChannel): String = {
    val buf = ByteBuffer.allocate(math.min(ch.size, 4096L).toInt)
    ch.read(buf, 0L)
    val s = new String(buf.array, 0, buf.position(), UTF_8).trim
    if (s.isEmpty) "<unknown>" else s
  }

  /** Who holds the `kind` window on `path`, if anyone: this JVM's
    * registry answers for its own windows; any other lock file is
    * probed with a shared `tryLock` plus release on a channel that
    * cannot create it. Caller holds the monitor. */
  private def holderOf(path: String, kind: Kind): Option[String] = {
    val f = lockFile(path, kind)
    held.get(key(f)) match {
      case Some(h) => Some(h.holder)
      case None if !Files.exists(f) => None
      case None =>
        val ch = FileChannel.open(f, READ)
        try {
          val probe = ch.tryLock(0L, Long.MaxValue, true)
          if (probe == null) Some(content(ch))
          else { probe.release(); None }
        } finally ch.close()
    }
  }

  /** Take the `kind` window on `path` for `holder`, refusing loudly if
    * the OPPOSITE kind is held, or the SAME kind is held by a different
    * holder (in this JVM or another process). Re-acquiring one's own
    * window is a no-op. */
  def acquire(path: String, kind: Kind, holder: String): Unit =
    synchronized {
      val f = lockFile(path, kind)
      Files.createDirectories(f.toAbsolutePath.getParent)
      val k = key(f)
      def refuse(why: String): Nothing =
        throw new IllegalStateException(
          s"cannot open a $kind window on $path: $why")
      def sameKind(h: String): Nothing =
        refuse(s"another $kind lease is held by '$h' — two concurrent " +
          s"$kind holders violate the single-writer contract")
      held.get(k) match {
        case Some(h) if h.holder == holder => ()
        case Some(h) => sameKind(h.holder)
        case None =>
          val ch = FileChannel.open(f, CREATE, READ, WRITE)
          try {
            if (ch.tryLock() == null) sameKind(content(ch))
            held(k) = Held(holder, ch)
            holderOf(path, opposite(kind)).foreach { h =>
              refuse(s"a ${opposite(kind)} lease is held by '$h' — wait " +
                "for the window to close, or kill the holder if it is hung")
            }
            ch.truncate(0L)
            ch.write(ByteBuffer.wrap(holder.getBytes(UTF_8)), 0L)
            ()
          } catch {
            case e: Throwable =>
              held.remove(k)
              ch.close() // drops the lock, if this channel took it
              throw e
          }
      }
    }

  /** Release `holder`'s `kind` window on `path`. A window this JVM does
    * not hold for `holder` is left alone. */
  def release(path: String, kind: Kind, holder: String): Unit =
    synchronized {
      val k = key(lockFile(path, kind))
      held.get(k).filter(_.holder == holder).foreach { h =>
        held.remove(k)
        h.channel.close() // closing the holding channel drops its lock
      }
    }

  // ── enforcement hooks the writers call ──────────────────────────────

  /** Paths whose maintenance window THIS thread holds — so a
    * maintenance pass's own internal writes (compact's rewrite, refit's
    * reassignment merge) pass [[requireNoForeignMaintenance]] while
    * every other writer is refused. Thread-local because the package's
    * maintenance ops are synchronous driver-side calls; a streaming
    * worker's foreachBatch runs on a different thread and is correctly
    * treated as foreign. */
  private val ownMaintenance = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  /** Acquire `kind` on every path, ROLLING BACK the ones already taken
    * if a later acquire is refused — without this, a two-table window
    * refused on its second table would hold the first table's window
    * until this process exits. */
  private def acquireAll(
      paths: Seq[String], kind: Kind, holder: String): Unit = {
    val taken = mutable.ListBuffer.empty[String]
    try paths.foreach { p => acquire(p, kind, holder); taken += p }
    catch {
      case e: Throwable =>
        taken.foreach(release(_, kind, holder))
        throw e
    }
  }

  /** Run `body` inside a maintenance window over `paths`: refuse if any
    * has a drain window open, take maintenance windows on all (all-or-
    * nothing), mark them owned for this thread, and always release.
    *
    * RE-ENTRANT per thread: a path this thread's OUTER maintenance
    * window already owns is not re-acquired (a nested acquire under a
    * different holder name would refuse its own caller) and not
    * released on the inner exit — the outer window's lifetime governs.
    * This is what lets a multi-table op (e.g. a worker takedown over
    * survivors + index) take ONE window over all its tables and call
    * the per-table maintenance primitives ([[graft.sinks.UpsertWriter
    * .deleteWhere]]) inside it: the pair of deletes is then
    * all-or-nothing against concurrent windows — a foreign window on
    * EITHER table refuses the whole op before the first delete runs,
    * never between them. */
  def withMaintenance[A](paths: Seq[String], holder: String)(body: => A): A = {
    val prev = ownMaintenance.get()
    val fresh = paths.filterNot(prev.contains)
    acquireAll(fresh, Maintenance, holder)
    ownMaintenance.set(prev ++ fresh)
    try body
    finally {
      ownMaintenance.set(prev)
      fresh.foreach(release(_, Maintenance, holder))
    }
  }

  /** Run `body` inside a drain window over `paths` — the bracket an
    * orchestrator puts around a drain-and-stop streaming cycle so a
    * concurrently scheduled maintenance pass is refused instead of
    * racing the drain's replayable batches. Acquisition is
    * all-or-nothing, like [[withMaintenance]]. Windows over one path
    * don't nest. */
  def withDrain[A](paths: Seq[String], holder: String)(body: => A): A = {
    acquireAll(paths, Drain, holder)
    try body
    finally paths.foreach(release(_, Drain, holder))
  }

  /** Writer-side gate: refuse the write while a maintenance window is
    * held by anyone other than this thread's own maintenance pass. */
  private[graft] def requireNoForeignMaintenance(path: String): Unit =
    if (!ownMaintenance.get().contains(path))
      synchronized(holderOf(path, Maintenance)).foreach { h =>
        throw new IllegalStateException(
          s"write to $path refused: a maintenance window is open " +
            s"(lease held by '$h') — a merge or append racing " +
            "compact/truncate/refit would be folded or double-applied; " +
            "retry after the window closes")
      }
}
