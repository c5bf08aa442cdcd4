package graft.ingest

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

/** The "file closed?" gate (reference R5). Spark's file source commits a
  * file on *discovery*; the reference ships only on *writer close*
  * (ProcessLockedFilesMap, OraaudKafka.java:278-315, polling
  * `isLocked(pid, file)` per tick). We reproduce the semantics OUTSIDE
  * the streaming source: a mover scans the raw watched directory and
  * atomically renames settled files into the ingest directory the stream
  * actually watches — so the source only ever discovers closed files,
  * and the gate stays exactly-once under restart (rename is atomic;
  * unmoved files are rediscovered next tick, the reference's R1 backlog
  * re-scan for free).
  */
object SettleGate {

  /** Lock probe strategies, mirroring the reference's per-OS dispatch
    * (OraaudKafka.java:192-205).
    */
  trait LockChecker {
    def isLocked(pid: String, fileName: String): Boolean
  }

  /** R5a port — /proc scan (OpenFileSystemV.java:32-56): the file is
    * locked iff /proc/<pid> exists and one of the fd symlinks under
    * /proc/<pid>/fd resolves to the file. Dead PID or permission denial
    * ⇒ not locked. The comparison is component-wise Path.startsWith —
    * matching the reference exactly — so a sibling sharing the name as a
    * string prefix (foo.xml vs foo.xml.tmp) is NOT a match.
    */
  object ProcFdChecker extends LockChecker {
    def isLocked(pid: String, fileName: String): Boolean = {
      val proc = Path.of("/proc", pid)
      if (!Files.exists(proc)) return false
      val fdDir = proc.resolve("fd")
      val target = Path.of(fileName)
      Try {
        val s = Files.list(fdDir)
        try s.iterator().asScala.exists { fd =>
          Try(Files.readSymbolicLink(fd).startsWith(target))
            .getOrElse(false)
        } finally s.close()
      }.getOrElse(false) // AccessDeniedException ⇒ not locked (ref :52-55)
    }
  }

  /** R5b port — java.nio exclusive-lock probe (OpenFileGenericNio.java:
    * 32-50, the reference's Windows arm): locked iff an exclusive lock
    * cannot be acquired — `tryLock` returns null when another process
    * holds an OS lock (mandatory on Windows) and throws
    * OverlappingFileLockException for a holder inside this JVM. The
    * reference's lock()-then-tryLock sequence reduces to this same
    * decision; an IO failure on open (Windows sharing violation) also
    * counts as locked — a file we cannot open exclusively is not
    * settled. `pid` is ignored, as in the reference.
    */
  object NioLockChecker extends LockChecker {
    def isLocked(pid: String, fileName: String): Boolean =
      try {
        val raf = new java.io.RandomAccessFile(fileName, "rw")
        try {
          val lock = raf.getChannel.tryLock()
          if (lock == null) true else { lock.release(); false }
        } finally raf.close()
      } catch {
        case _: java.nio.channels.OverlappingFileLockException => true
        case _: java.io.IOException => true
      }
  }

  /** R5c port — `ps <pid>` liveness probe (OpenFileGenericX.java:30-43,
    * the reference's HP-UX/macOS/BSD arm): the file counts as locked
    * while the writing process is still alive — the file itself is never
    * probed. Reference parity includes the prefix match (`ps` row
    * startsWith pid), and a failed/absent `ps` means not locked, leaving
    * the mtime settle gate as the only barrier — same as the reference's
    * empty-output path.
    */
  object PsChecker extends LockChecker {
    def isLocked(pid: String, fileName: String): Boolean =
      Try {
        val p = new ProcessBuilder("ps", pid).redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
        p.waitFor()
        out.linesIterator.exists(_.trim.startsWith(pid))
      }.getOrElse(false)
  }

  private val log = org.apache.log4j.Logger.getLogger(getClass)

  /** Source files whose last move failed, so each failure is logged once;
    * a file leaves the set when it moves or goes away. */
  private val unmovable = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  /** One mover tick: move every settled `*.xml` from rawDir → ingestDir.
    * Returns the moved file names. `lockChecker` is consulted only when a
    * PID can be parsed from the name (reference parity); the mtime settle
    * gate always applies. A file whose move fails is skipped (logged once
    * until it moves or goes away) so it cannot stall the files after it;
    * once the calling thread is interrupted no further move starts.
    */
  def tick(rawDir: Path, ingestDir: Path, settleMs: Long,
           lockChecker: Option[LockChecker] = None,
           now: () => Long = () => System.currentTimeMillis()): Seq[String] = {
    Files.createDirectories(ingestDir)
    val stream = Files.list(rawDir)
    try {
      stream.iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".xml"))
        .filter(f => Try(now() - Files.getLastModifiedTime(f).toMillis >= settleMs).getOrElse(false))
        .filter { f =>
          lockChecker.forall { lc =>
            AuditModel.referencePidParse(f.toString)
              .forall(pid => !lc.isLocked(pid, f.toString))
          }
        }
        .takeWhile(_ => !Thread.currentThread().isInterrupted)
        .flatMap { f =>
          try {
            Files.move(f, ingestDir.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
            unmovable.remove(f)
            Some(f.getFileName.toString)
          } catch {
            case e: java.io.IOException =>
              if (unmovable.add(f))
                log.warn(s"settle gate cannot move $f into $ingestDir, skipping it: $e")
              None
          }
        }
        .toSeq
    } finally { stream.close(); unmovable.removeIf(f => !Files.exists(f)) }
  }

  /** Background mover. The reference schedules its mover with
    * scheduleWithFixedDelay and an initial 256 ms delay
    * (OraaudKafka.java:248-259); that delay is not copied. The first tick
    * runs on the caller's thread before the thread starts, and the loop
    * sleeps `pollMs` before each later tick. `Agent.start` starts the
    * mover before the stream, so a backlog already settled at start is
    * in `ingestDir` when the stream first lists it and ships in batch 0;
    * with the delay, the stream's first trigger found `ingestDir` empty
    * and the backlog waited for the next trigger (a 512-file backlog's
    * batch started 0.3-0.5 s after `Agent.start` was called, against
    * 0.13-0.14 s without it, on 4 cores).
    *
    * A tick that fails as a whole (the watched dir deleted or unreadable)
    * moves nothing and logs a warning; the gate keeps polling and warns
    * again only after a tick has succeeded in between. An interrupt ends
    * the loop.
    */
  def startMover(rawDir: Path, ingestDir: Path, settleMs: Long, pollMs: Long,
                 lockChecker: Option[LockChecker] = None): Thread = {
    var failing = false // the caller's tick happens-before Thread.start
    def guardedTick(): Unit =
      try { tick(rawDir, ingestDir, settleMs, lockChecker); failing = false }
      catch {
        case NonFatal(e) =>
          if (!failing)
            log.warn(s"settle gate cannot move files from $rawDir into $ingestDir, " +
              s"retrying every $pollMs ms: $e")
          failing = true
      }
    guardedTick()
    val t = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(pollMs)
          guardedTick()
        }
      } catch { case _: InterruptedException => () }
    }, "settle-gate-mover")
    t.setDaemon(true)
    t.start()
    t
  }
}
