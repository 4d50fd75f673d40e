package graft.runtime

import java.nio.file.{Files, Path, Paths}

/** The JVM temp directory (`java.io.tmpdir`) as the query registry uses
  * it. Query scratch has two lifetimes:
  *
  *  - per invocation: stream staging, sinks and checkpoints, deleted
  *    before the query returns ([[graft.streaming.StreamRig]] owns
  *    these);
  *  - per JVM: build-once caches reused by later invocations (ANN index
  *    directories, the shared WARC fixtures). [[cacheDir]] creates them
  *    and a shutdown hook deletes them, so they never outlive the JVM.
  *
  * [[entries]] is what a harness diffs around one query to find
  * per-invocation leaks.
  */
object TempDirs {

  private val caches = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      caches.forEach(p => graft.streaming.StreamFiles.deleteTree(p))))

  /** A fresh temp directory that lives until JVM exit. */
  def cacheDir(prefix: String): Path = {
    cleanupHook
    val dir = Files.createTempDirectory(prefix)
    caches.add(dir)
    dir
  }

  /** Names of the entries in `java.io.tmpdir` a query could leak. Left
    * out are the per-JVM entries that appear on first use: [[cacheDir]]
    * directories, the native libraries (`*.so` and their `.lck` locks)
    * that snappy, lz4 and zstd unpack, and Spark's `artifacts-<uuid>`
    * root, which Spark creates lazily once per JVM and deletes at
    * shutdown.
    */
  def entries(): Set[String] = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val cached = caches.toArray(Array.empty[Path]).map(_.getFileName.toString).toSet
    val ls = Files.list(tmp)
    try {
      val names = Set.newBuilder[String]
      ls.forEach(p => names += p.getFileName.toString)
      names.result().filterNot(n =>
        cached(n) || n.endsWith(".so") || n.endsWith(".so.lck") ||
          n.startsWith("artifacts-"))
    } finally ls.close()
  }
}
