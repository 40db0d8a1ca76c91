package graft.tables

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

/** The two atomic publish primitives the cross-process commit protocol
  * needs from a store, extracted behind an interface so a deployment can
  * match them to what its store actually guarantees — the protocol
  * semantics (put-if-absent record create arbitrates racing writers; the
  * pointer publish is atomic for lock-free readers) never change, only
  * the mechanism:
  *
  *  - [[RenameCommitArbiter]] — tmp write + rename, for stores with
  *    atomic rename (HDFS, ABFS). The original mechanism.
  *  - [[PosixCommitArbiter]] — java.nio hard-link create (put-if-absent
  *    is `link(2)`: atomic, fails `EEXIST`) + `rename(2)` overwrite
  *    publish. The local-filesystem fast path: Hadoop's `FileContext`
  *    rename on the checksummed local FS costs ~18 ms per call (measured)
  *    and degrades overwrite to delete+rename (a visible absent-pointer
  *    window the crash fuzz caught); `link`/`rename` are atomic syscalls.
  *  - [[ConditionalPutCommitArbiter]] — direct conditional writes, for
  *    object stores with no rename but atomic per-object PUT
  *    (S3 `If-None-Match`, GCS generation preconditions). No tmp files,
  *    no rename: `putIfAbsent` maps to the store's conditional create,
  *    `putAtomic` to a plain PUT (readers see old or new object, never a
  *    torn one — the store's own atomicity contract).
  *
  * Selection: `spark.graft.commit.arbiter` = `rename` | `posix` |
  * `condput` | `auto` (default). `auto` picks [[PosixCommitArbiter]] for
  * `file:` tables and [[RenameCommitArbiter]] otherwise.
  */
private[tables] sealed trait CommitArbiter {

  /** Publish `content` at `target` if and only if no file exists there —
    * the commit ARBITER: of two processes racing to publish the same
    * version record, exactly one wins; the loser gets a
    * [[ConcurrentWriteException]]. A published record is always complete
    * (never a torn prefix). */
  def putIfAbsent(target: Path, content: String): Unit

  /** Publish `content` at `target`, replacing any previous content
    * atomically: a lock-free reader sees the old content or the new,
    * never a truncated file. */
  def putAtomic(target: Path, content: String): Unit
}

/** Atomic-rename stores (HDFS, ABFS, test filesystems): bytes land in a
  * tmp file under `tmpDir` first, a rename moves them into place.
  * Rename-without-overwrite is the put-if-absent arbiter;
  * rename-with-overwrite the pointer publish. */
private[tables] final class RenameCommitArbiter(
    fs: FileSystem, fc: FileContext, tmpDir: Path) extends CommitArbiter {

  private def writeTmp(name: String, content: String): Path = {
    val tmp = new Path(tmpDir, s"$name.tmp.${UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    tmp
  }

  override def putIfAbsent(target: Path, content: String): Unit = {
    val tmp = writeTmp(target.getName, content)
    try fc.rename(tmp, target, Options.Rename.NONE)
    catch {
      case e: java.io.IOException =>
        try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
        // losing the race is only ONE way a rename fails: report a
        // conflict only when the record DEMONSTRABLY exists — a
        // disk-full or permission error must surface as itself, not as
        // "another writer won" (which callers treat as retryable).
        // Exception type alone cannot decide: Hadoop raises
        // FileAlreadyExistsException for a non-directory PARENT too, so
        // the post-failure existence probe is the arbiter (records are
        // never deleted in this window, so a winner is still visible)
        val lostRace =
          try fs.exists(target) catch { case _: java.io.IOException => false }
        if (lostRace)
          throw new ConcurrentWriteException(
            s"concurrent commit detected at $target: another writer created " +
              "this record first", e)
        else throw e
    }
  }

  override def putAtomic(target: Path, content: String): Unit = {
    val tmp = writeTmp(target.getName, content)
    fc.rename(tmp, target, Options.Rename.OVERWRITE)
  }
}

/** Local-filesystem fast path: `link(2)` put-if-absent + `rename(2)`
  * overwrite, both single atomic syscalls (~0.05 ms vs ~18 ms through
  * Hadoop's checksummed FileContext). `rename(2)` also removes the
  * delete+rename absent-pointer window ChecksumFs exposes. Tmp and
  * target live in the same directory, so the link/rename never crosses
  * filesystems. Stale checksum twins from a previous rename-arbiter life
  * are dropped so checksummed readers never verify new content against
  * an old `.crc`. */
private[tables] final class PosixCommitArbiter(tmpDir: Path)
    extends CommitArbiter {

  import java.nio.file.{Files, Paths, StandardCopyOption, FileAlreadyExistsException}

  private def nio(p: Path): java.nio.file.Path = Paths.get(p.toUri.getPath)

  private def writeTmp(target: Path, content: String): java.nio.file.Path = {
    Files.createDirectories(nio(tmpDir))
    val tmp = nio(tmpDir).resolve(s"${target.getName}.tmp.${UUID.randomUUID()}")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    tmp
  }

  /** A checksummed-FS writer that previously owned this table left a
    * `.crc` twin; our raw writes would no longer match it and a
    * checksummed reader would fail verification — remove it. */
  private def dropStaleCrc(target: Path): Unit = {
    val crc = nio(target.getParent).resolve(s".${target.getName}.crc")
    try Files.deleteIfExists(crc)
    catch { case _: java.io.IOException => () }
  }

  override def putIfAbsent(target: Path, content: String): Unit = {
    val tmp = writeTmp(target, content)
    try {
      dropStaleCrc(target)
      // link(2): atomic, EEXIST if the record is already there — the
      // same arbiter contract rename-without-overwrite gives on HDFS
      Files.createLink(nio(target), tmp)
      Files.deleteIfExists(tmp)
    } catch {
      case e: FileAlreadyExistsException =>
        try Files.deleteIfExists(tmp)
        catch { case _: java.io.IOException => () }
        throw new ConcurrentWriteException(
          s"concurrent commit detected at $target: another writer created " +
            "this record first", e)
    }
  }

  override def putAtomic(target: Path, content: String): Unit = {
    val tmp = writeTmp(target, content)
    dropStaleCrc(target)
    Files.move(tmp, nio(target),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Conditional-put stores (S3-style): arbitration needs no tmp and no
  * rename — the store's per-object atomicity carries the contract.
  * `putIfAbsent` maps to a conditional create (`overwrite = false`,
  * the filesystem-level equivalent of S3 `If-None-Match: *`);
  * `putAtomic` to a plain overwrite PUT. On a real object store both are single
  * requests and the object swap is atomic; on a local filesystem (as
  * tests run it) `putAtomic` keeps that contract with a same-directory
  * rename, while a `putIfAbsent` record could still be observed torn in
  * flight — the property the STORE, not this class, must provide. A
  * crash inside the filesystem simulation's create→write window leaves a
  * zero-length or truncated record; `ManagedTable.maybeDropTornRecord`
  * (age-gated) frees the slot so the table never wedges.
  *
  * The torn window cuts the other way too: a concurrent prober running
  * with a zero torn-record grace can judge OUR in-flight object torn,
  * drop it, and claim the slot itself — after which our create has
  * already "won" arbitration and our writes land on an unlinked inode.
  * Without a check that is a SILENT LOST UPDATE (the racing-writer
  * SIGKILL fuzz caught it: the stolen writer keeps committing on top of
  * a version that never became visible). So `putIfAbsent` verifies by
  * read-back after close: the slot's winner is whoever's content is
  * visible at the target — if it is not ours, the claim was stolen and
  * we surface [[ConcurrentWriteException]] so the caller rebases, never
  * a lost update. A real conditional PUT has no observable in-flight
  * state, so the read-back there is one redundant GET per commit.
  *
  * The read-back distinguishes outcomes the way the create does: only a
  * DEMONSTRABLY stolen slot (record gone, or holding someone else's
  * bytes) is a lost race. A transient IO failure on the GET after a
  * durably-visible PUT must NOT read as "stolen" — the caller would
  * rebase and re-commit the same files at a new version, duplicating
  * rows for writers without an embedded txn — so transient IOExceptions
  * retry a bounded number of times and then surface as themselves.
  *
  * Residual TOCTOU, simulation only: a prober that stat'ed our record
  * zero-length mid-write (torn-record grace 0) can execute its delete
  * AFTER our read-back verified — both sides then believe they won.
  * `ManagedTable.maybeDropTornRecord` narrows this by re-stating
  * immediately before the delete and skipping records that have grown,
  * but only a real conditional PUT (no observable in-flight state) or a
  * nonzero grace closes it completely; production configs keep the
  * default 60 s grace. */
private[tables] final class ConditionalPutCommitArbiter(fs: FileSystem)
    extends CommitArbiter {

  /** Test seam: fires between close and the read-back verification —
    * the window a concurrent torn-record drop can steal. */
  private[tables] var onBeforeVerify: () => Unit = () => ()

  override def putIfAbsent(target: Path, content: String): Unit = {
    val out =
      try fs.create(target, false)
      catch {
        case e: java.io.IOException =>
          // same distinction as the rename arbiter: only an
          // actually-existing record is a lost race (probed, never
          // inferred from exception type); IO failures (disk full,
          // permissions) surface as themselves
          val lostRace =
            try fs.exists(target) catch { case _: java.io.IOException => false }
          if (lostRace)
            throw new ConcurrentWriteException(
              s"concurrent commit detected at $target: another writer " +
                "created this record first", e)
          else throw e
      }
    val bytes = content.getBytes(StandardCharsets.UTF_8)
    try out.write(bytes)
    finally out.close()
    onBeforeVerify()
    // the GET decides between three outcomes, and only the first two are
    // lost races: record GONE (FileNotFoundException — a prober dropped
    // it), record holding OTHER bytes (a rival claimed the freed slot),
    // or the store merely hiccuping. A throttled/transient IO error
    // after a durably-visible PUT reported as "lost race" would make the
    // blind-append rebase re-commit the same files at a new version —
    // duplicated rows — so transient errors retry and then rethrow.
    var stolen = false
    var attempt = 0
    var verified = false
    while (!verified) {
      attempt += 1
      try {
        val in = fs.open(target)
        val visible =
          try {
            val buf = new java.io.ByteArrayOutputStream(bytes.length)
            val chunk = new Array[Byte](8192)
            var n = in.read(chunk)
            while (n >= 0) {
              buf.write(chunk, 0, n)
              n = in.read(chunk)
            }
            buf.toByteArray
          } finally in.close()
        stolen = !java.util.Arrays.equals(visible, bytes)
        verified = true
      } catch {
        case _: java.io.FileNotFoundException =>
          stolen = true
          verified = true
        case e: java.io.IOException =>
          if (attempt >= ConditionalPutCommitArbiter.MaxVerifyAttempts)
            throw e
          Thread.sleep(50L * attempt)
      }
    }
    if (stolen)
      throw new ConcurrentWriteException(
        s"commit record at $target was dropped or replaced while being " +
          "written (a concurrent prober judged the in-flight object torn " +
          "and claimed the slot): treating as a lost race")
  }

  /** A plain overwrite PUT. On a local filesystem, where an overwriting
    * create truncates first (a racing reader could see an empty object),
    * the store's atomic swap is a same-directory tmp write + `rename(2)`. */
  override def putAtomic(target: Path, content: String): Unit =
    if (fs.getUri.getScheme == "file")
      new PosixCommitArbiter(target.getParent).putAtomic(target, content)
    else {
      val out = fs.create(target, true)
      try out.write(content.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
}

private[tables] object ConditionalPutCommitArbiter {
  /** Bounded read-back retries before a transient GET failure surfaces
    * as the IO error it is (never as a false lost race). */
  val MaxVerifyAttempts = 3
}
