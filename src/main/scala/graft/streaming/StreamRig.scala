package graft.streaming

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryProgress,
  Trigger}

/** The kernel every bounded streaming replay runs on: stage the inputs,
  * drive the query to the end of its input, return the result, delete
  * what was made.
  *
  * '''Cleanup contract.''' Every directory a rig creates comes from
  * [[dir]] (directly or through [[link]] and [[stage]]), and
  * [[StreamRig.run]] deletes all of them in one `finally`, whether the
  * body returned or threw. A staged table is a symbolic link inside a
  * rig directory; deleting the directory removes the link and never its
  * target. After `run` returns, `java.io.tmpdir` holds nothing the rig
  * made.
  *
  * '''Result-lifetime contract.''' Because the directories are gone by
  * the time the caller sees the result, a rig must return a DataFrame
  * that reads none of them:
  *  - [[drain]] returns `spark.table(sink)` over a memory sink, which
  *    holds its rows in the JVM heap; the analyzed plan keeps them alive
  *    after `run` drops the sink's view, until the caller drops the
  *    DataFrame;
  *  - a result read from a rig directory (a file sink, `foreachBatch`
  *    output, a restart rig's parquet sink) goes through [[collect]]
  *    into a local DataFrame before `run` returns.
  *
  * Each rig keeps its own trigger, output mode, source options and
  * checkpoint use: the kernel only names the steps they share.
  */
final class StreamRig private (spark: SparkSession, name: String) {

  private val made = scala.collection.mutable.ArrayBuffer.empty[Path]
  private var last = Array.empty[StreamingQueryProgress]

  /** A fresh directory owned by this rig. */
  def dir(tag: String): Path = {
    val d = Files.createTempDirectory(s"${name}_$tag")
    made += d
    d
  }

  /** A fresh directory holding one symbolic link, `as`, to the file
    * `target`: the file-stream source only reads directories (it anchors
    * its listing at a base path), and a table is a single parquet file.
    */
  def link(target: String, as: String): Path = {
    val d = dir("src")
    Files.createSymbolicLink(d.resolve(as), Paths.get(target))
    d
  }

  /** Stage split files into `into`, one parquet part per `(name, df)`,
    * processed in `files` order (see [[StreamFiles.writeMany]]).
    */
  def stage(files: Seq[(String, DataFrame)], into: Path): Path = {
    StreamFiles.writeMany(files, into)
    into
  }

  /** [[stage]] into a fresh directory. */
  def stage(files: Seq[(String, DataFrame)]): Path = stage(files, dir("split"))

  /** Stage the far-future sentinel event into `into` as
    * `z_sentinel.parquet`, `afterLastNs` past the last event of `evRaw`
    * (see [[StreamRig.sentinelRow]]).
    */
  def sentinel(into: Path, evRaw: DataFrame, afterLastNs: Long): Unit = {
    val maxNs = graft.queries.EventTs.toNanos(evRaw)
      .agg(org.apache.spark.sql.functions.max("ts")).collect()(0).getLong(0)
    StreamFiles.writeOne(StreamRig.sentinelRow(evRaw, maxNs + afterLastNs),
      into, "z_sentinel")
  }

  /** Drive `w` to the end of its input and return the query's progress.
    * AvailableNow runs the bounded trigger to termination; otherwise the
    * default trigger processes all available input and is stopped (the
    * resume path for sources whose offsets AvailableNow snapshots before
    * a checkpoint seeds them).
    */
  def complete(w: DataStreamWriter[_], availableNow: Boolean = true)
      : Array[StreamingQueryProgress] = {
    val q =
      if (availableNow) w.trigger(Trigger.AvailableNow()).start() else w.start()
    if (availableNow) q.awaitTermination()
    else try q.processAllAvailable() finally q.stop()
    last = q.recentProgress
    last
  }

  /** Progress of the query [[complete]] ran last. */
  def progress: Array[StreamingQueryProgress] = last

  /** Run `df` into a fresh uuid-named memory sink and return the sink
    * as a table. `minBatches` pins how many micro-batches must have read
    * input, so a rig whose split files collapse into one batch fails
    * loudly instead of testing less than it claims.
    */
  def drain(df: Dataset[_], mode: String, availableNow: Boolean = true,
      minBatches: Int = 0): DataFrame = {
    val sink = s"${name}_sink_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    complete(df.writeStream.format("memory").queryName(sink).outputMode(mode),
      availableNow)
    val batches = last.count(_.numInputRows > 0)
    require(batches >= minBatches,
      s"expected >= $minBatches data micro-batches, got $batches")
    spark.table(sink)
  }

  /** Append `df` to a parquet file sink at `path`, checkpointed at
    * `ckpt`; returns the rows the query read (the restart rigs'
    * resume-not-reprocess check).
    */
  def toParquet(df: Dataset[_], path: Path, ckpt: Path,
      availableNow: Boolean = true): Long =
    complete(df.writeStream.format("parquet")
      .option("path", path.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append"), availableNow).map(_.numInputRows).sum

  /** `df` collected into a local DataFrame: for results that read a rig
    * directory, which is deleted before the caller sees them.
    */
  def collect(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  private def deleteAll(): Unit = made.foreach(StreamFiles.deleteTree)
}

object StreamRig {

  val NoDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** Run one bounded streaming replay named `name` (the prefix of its
    * directories and memory sinks) under the replay scope:
    *  - `spark.sql.shuffle.partitions` = 8. Stateful operators clone one
    *    state-store instance per shuffle partition and checkpoint each of
    *    them every micro-batch, so the default 32 partitions pay 32 store
    *    commits per batch for kilobyte-scale state (measured 3x the whole
    *    query time on the interval joins). 8 is right for a single-JVM
    *    replay; on a real cluster the stateful shuffle should track
    *    executor count instead (set before the query first starts, since
    *    state partitioning is fixed at the first run). The previous value
    *    is restored afterwards so batch queries keep the session default.
    *  - every `_sink_` temp view is dropped afterwards. Each replay
    *    registers a fresh memory sink holding its full result, and without
    *    the drop N bench reps would retain N result sets for the rest of
    *    the JVM. The DataFrame [[StreamRig.drain]] returned is already
    *    analyzed, so it keeps its sink's rows alive until the caller drops
    *    it.
    *  - every directory the rig made is deleted (the cleanup contract).
    */
  def run(s: SparkSession, name: String)(body: StreamRig => DataFrame)
      : DataFrame =
    try withConf(s, "spark.sql.shuffle.partitions" -> "8")(files(s, name)(body))
    finally s.catalog.listTables().collect().foreach { t =>
      if (t.name.contains("_sink_")) s.catalog.dropTempView(t.name)
    }

  /** The rig's directory ownership alone, without the replay scope: for
    * batch queries that stage files and must still leave nothing behind.
    */
  def files(s: SparkSession, name: String)(body: StreamRig => DataFrame)
      : DataFrame = {
    val rig = new StreamRig(s, name)
    try body(rig) finally rig.deleteAll()
  }

  /** Run `f` with the given session confs set, restoring each previous
    * value (or unsetting it) afterwards.
    */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(f: => T): T = {
    val olds = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Scope a replay to the RocksDB state-store provider with changelog
    * checkpointing: a commit appends a delta instead of uploading a full
    * RocksDB snapshot per store per micro-batch — the production setting
    * for frequent-commit stateful queries, with the same restart
    * semantics (g133/g135 prove checkpoint recovery under it; state
    * content is unchanged either way).
    */
  def withRocksDb[T](s: SparkSession)(f: => T): T =
    withConf(s,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        "true")(f)

  /** The far-future sentinel event: one out-of-band row (ids -1, type
    * `sentinel`) at `ns`. Rigs stage it after the data to advance the
    * final watermark past every real key's window or timer. Its `ts` is
    * written in the raw file's type (long nanos or a timestamp) because
    * the stream reads with the raw schema.
    */
  def sentinelRow(evRaw: DataFrame, ns: Long): DataFrame = {
    import org.apache.spark.sql.functions.{lit, timestamp_micros}
    val ts = evRaw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => lit(ns)
      case t => timestamp_micros(lit(ns / 1000L)).cast(t)
    }
    evRaw.limit(1).select(
      lit(-1L).as("event_id"), ts.as("ts"), lit(-1L).as("user_id"),
      lit("sentinel").as("event_type"), lit(0.0).as("value"),
      lit("").as("props"))
  }
}
