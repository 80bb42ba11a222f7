package graft

import graft.engine.Locks

/** The cross-process lock primitive under same-JVM contention.
  *
  * The load-bearing invariant: POSIX fcntl record locks are per-PROCESS —
  * closing ANY file descriptor on a file drops every lock the process holds
  * on it (the documented [[java.nio.channels.FileLock]] hazard). An
  * open/lock/close-per-call scheme therefore lets thread B's FAILED
  * `withTryFileLock` claim silently void thread A's HELD lock: the JVM's
  * lock table still shows it held (so an in-JVM assertion passes) while a
  * second driver process can acquire it and interleave writes. The fix is
  * one cached, never-closed channel per lock path; this spec observes the
  * OS-level state from an actual second process (a python3 fcntl probe —
  * same lock family as Java's FileLock on Linux), so the hazard itself is
  * what's asserted, not an implementation detail.
  */
class LocksSpec extends SparkTestBase {

  private def python3: Option[String] =
    Seq("/usr/bin/python3", "/usr/local/bin/python3").find(p => new java.io.File(p).canExecute)

  /** Try to fcntl-lock `path` from a SECOND process; returns true if that
    * process could acquire it (i.e. this JVM does NOT hold the OS lock).
    */
  private def foreignProcessCanLock(py: String, path: String): Boolean = {
    val script =
      """import fcntl, sys
        |f = open(sys.argv[1], 'w')
        |try:
        |    fcntl.lockf(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
        |    print('ACQUIRED')
        |except OSError:
        |    print('BUSY')
        |""".stripMargin
    val pb = new ProcessBuilder(py, "-c", script, path)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8").trim
    proc.waitFor()
    out == "ACQUIRED"
  }

  test("a failed same-JVM try-claim must not void a sibling thread's held OS lock") {
    val py = python3
    assume(py.isDefined, "python3 not available for the cross-process probe")
    val dir = tempDir("graft_locks")
    val target = s"$dir/manifest.json"
    val lockFile = s"$target.lock"

    val holderReady = new java.util.concurrent.CountDownLatch(1)
    val releaseHolder = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      Locks.withFileLock(target) {
        holderReady.countDown()
        releaseHolder.await()
      })
    holder.start()
    assert(holderReady.await(10, java.util.concurrent.TimeUnit.SECONDS))
    try {
      // sanity: while held, a foreign process cannot take it
      assert(!foreignProcessCanLock(py.get, lockFile),
        "holder's OS lock not visible to a second process")
      // thread B's claim fails (same-JVM overlap counts as busy)...
      assert(Locks.withTryFileLock(target)(fail("claim must not succeed")).isEmpty)
      // ...and — the regression — the holder's OS lock must SURVIVE it
      assert(!foreignProcessCanLock(py.get, lockFile),
        "failed try-claim dropped the sibling thread's OS lock (POSIX close hazard)")
    } finally {
      releaseHolder.countDown()
      holder.join(10000)
    }
    // released: a fresh try-claim succeeds and runs the body
    assert(Locks.withTryFileLock(target)(42).contains(42))
  }
}
