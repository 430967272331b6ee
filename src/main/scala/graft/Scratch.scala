package graft

import org.apache.spark.sql.SparkSession

/** Scratch-tree lifecycle for paths that are written then read back
  * (persisted IVF/PQ indexes, format round-trips, test temp dirs): every
  * registered tree is deleted by a JVM shutdown hook, so Verify/Bench/test
  * runs leave /tmp clean instead of accreting one tree per
  * (query, run) forever. The sweep is best-effort by design: a SIGKILL'd
  * run leaves its trees, but the next run's keys never collide with them
  * (fresh application id), so correctness never depends on the cleanup.
  *
  * The registry is a class so tests can exercise [[ScratchRegistry.sweep]]
  * on a private instance without draining the process-global [[Scratch]]
  * queue out from under concurrently-running suites.
  */
class ScratchRegistry {
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val hooked = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Register a path for the end-of-JVM sweep and return it. */
  def register(p: String): String = {
    created.add(p)
    if (hooked.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => sweep(), "graft-scratch-sweep"))
    p
  }

  /** Delete every registered tree now (what the shutdown hook runs). */
  def sweep(): Unit = {
    var p = created.poll()
    while (p != null) {
      deleteRecursively(new java.io.File(p))
      p = created.poll()
    }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    // Never follow symlinks: File.isDirectory resolves links, so a stray
    // link inside a registered tree would let this unconditional shutdown
    // sweep recurse into (and delete) files OUTSIDE the tree. A link is
    // deleted as a link; only real directories are descended into.
    if (!java.nio.file.Files.isSymbolicLink(f.toPath) && f.isDirectory) {
      val children = f.listFiles()
      if (children != null) children.foreach(deleteRecursively)
    }
    f.delete(): Unit
  }
}

/** The process-global registry every query scratch site and test temp dir
  * registers with.
  */
object Scratch extends ScratchRegistry {

  /** A per-(tag, dir, applicationId) scratch path — keyed by data dir AND
    * Spark application id so two concurrent runs over the same dir (or a
    * hash collision between dirs) never race on one half-rewritten tree —
    * registered for the end-of-JVM sweep.
    */
  def path(spark: SparkSession, tag: String, dir: String): String =
    register(s"/tmp/graft_${tag}_${math.abs(dir.hashCode.toLong)}_" +
      spark.sparkContext.applicationId)
}
