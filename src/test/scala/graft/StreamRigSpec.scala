package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The [[graft.streaming.StreamRig]] contracts, checked on one registered
  * rig of each kernel shape at sf0.001: after the result has been
  * consumed, `java.io.tmpdir` holds no new entry, the symlinked source
  * table is untouched (cleanup deletes the link, never its target), and
  * the rig still returns its known row count.
  */
class StreamRigSpec extends AnyFunSuite {

  private val spark = SparkSessionFixture.spark
  private val sf = "/root/testdata/sf0.001"
  private val events = Paths.get(s"$sf/events.parquet")
  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

  /** Top-level tmpdir entries, without the native libraries (`*.so` and
    * their `.lck` locks) that codecs unpack once per JVM.
    */
  private def tmpEntries(): Set[String] = {
    val ls = Files.list(tmp)
    try {
      val names = Set.newBuilder[String]
      ls.forEach((p: Path) => names += p.getFileName.toString)
      names.result().filterNot(n => n.endsWith(".so") || n.endsWith(".so.lck"))
    } finally ls.close()
  }

  // (rig, its kernel shape, its row count on sf0.001)
  private val rigs = Seq(
    ("g98_stream_dedup", "memory sink over a symlinked table", 994L),
    ("g104_stream_file_sink", "file sink plus sentinel", 868L),
    ("g114_stream_ann_serve", "foreachBatch output", 100L),
    ("g125_stream_cusum_restart", "RocksDB, two incarnations on one checkpoint",
      5L))

  for ((name, shape, rows) <- rigs)
    test(s"$name ($shape) cleans up after itself and keeps its result") {
      val fn = SparkEntry.queries(name)
      val eventsSize = Files.size(events)
      // first run: builds the JVM-lifetime caches (g114's ANN index) and
      // loads the codecs, so the measured run below sees only its own dirs
      assert(fn(spark, sf).count() == rows)
      val before = tmpEntries()
      val n = fn(spark, sf).count()
      val leaked = tmpEntries() -- before
      assert(leaked.isEmpty, s"$name left ${leaked.toSeq.sorted.mkString(", ")}")
      assert(Files.exists(events), s"$name deleted the symlinked source")
      assert(Files.size(events) == eventsSize, s"$name changed the source")
      assert(n == rows)
    }
}
