package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Row and byte counts of what a sink wrote, read back from its files. */
object Outputs {
  /** Regular files directly under `dir` whose name passes `keep`. */
  def list(dir: String, keep: String => Boolean): Seq[Path] = {
    val ls = Files.list(Paths.get(dir))
    try ls.iterator.asScala.filter(p => Files.isRegularFile(p) && keep(p.getFileName.toString))
      .toSeq.sortBy(_.toString)
    finally ls.close()
  }
  def dataFiles(dir: String): Seq[Path] =
    list(dir, n => !n.startsWith(".") && !n.startsWith("_"))
  def bytes(files: Seq[Path]): Long = files.map(Files.size).sum
  def lines(files: Seq[Path]): Long = files.map { p =>
    val in = Files.newInputStream(p)
    val buf = new Array[Byte](1 << 16)
    var n = 0L
    try {
      var r = in.read(buf)
      while (r >= 0) {
        var i = 0
        while (i < r) { if (buf(i) == '\n') n += 1; i += 1 }
        r = in.read(buf)
      }
      n
    } finally in.close()
  }.sum
  def parquetRows(files: Seq[Path]): Long = files.map { p =>
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), new org.apache.hadoop.conf.Configuration()))
    try r.getRecordCount finally r.close()
  }.sum
}

/** Order-independent digest of a DataFrame's rows. */
object Digest {
  def of(df: DataFrame): Long =
    df.agg(bit_xor(xxhash64(to_json(struct(df.columns.map(col).toIndexedSeq: _*)))))
      .head().getLong(0)
}

// ------------------------------------------------------------------ generate

/** Generate a fixed batch of one schema and write it through a real sink.
  * `layer` is "fast" (ColumnCompiler), "interp" (the interpreter) or "api".
  */
final class SinkOp(b: Bench, name: String, val layer: String, val format: String,
    val rows: Long, gen: (SparkSession, Long) => DataFrame) extends Op(name, "batch") {
  val path: String = b.dir("gen", name)

  def run(ctx: OpCtx): () => Checked = {
    val df = ctx.construct(layer)(gen(ctx.spark, rows))
    ctx.action(format) {
      val w = df.write.mode("overwrite")
      if (format == "graft-shards") w.format(format).option("path", path).save()
      else w.format(format).save(path)
    }
    () => {
      val files = Outputs.dataFiles(path)
      val written = format match {
        case "graft-shards" =>
          // the sink's own manifest is the published row count
          val m = new String(Files.readAllBytes(Paths.get(path, "_MANIFEST.json")), "UTF-8")
          val fromManifest = "\"rows\":(\\d+)".r.findAllMatchIn(m).map(_.group(1).toLong).sum
          val fromFiles = Outputs.lines(files.filter(_.toString.endsWith(".jsonl")))
          if (fromManifest == fromFiles) fromFiles else -1L
        case "json" => Outputs.lines(files)
        case "parquet" => Outputs.parquetRows(files)
      }
      Checked(rows,
        if (written == rows) None else Some(s"wrote $written rows, requested $rows"),
        Map("layer" -> layer, "sink_bytes" -> Outputs.bytes(files)))
    }
  }

  /** The same op written to `noop`: generation without the sink. */
  def noopTwin: Op = new Op(name + ":noop", "batch") {
    def run(ctx: OpCtx): () => Checked = {
      val df = ctx.construct(layer)(gen(ctx.spark, rows))
      ctx.action("noop")(df.write.format("noop").mode("overwrite").save())
      () => Checked(rows, None, Map("layer" -> layer))
    }
  }

  /** Two same-seed regenerations of a small batch must digest identically. */
  def reproducible(spark: SparkSession): Option[String] = {
    val n = math.min(rows, 1000L)
    val (x, y) = (Digest.of(gen(spark, n)), Digest.of(gen(spark, n)))
    if (x == y) None else Some(s"same-seed regeneration differs: $x vs $y")
  }
}

final class Generate(b: Bench) extends Workload {
  import graft.synth.Synth
  private val seed = b.seed
  private val wide = """[{"name": "i", "class": "id"},
      {"name": "u", "class": "uuid"},
      {"name": "ip", "class": "ipv4"},
      {"name": "n", "class": "int", "min": 0, "max": 1000000},
      {"name": "d", "class": "date", "start": "2020-01-01", "end": "2024-12-31"},
      {"name": "st", "class": "state"},
      {"name": "b", "class": "browser"},
      {"name": "phone", "class": "join", "separator": "-",
       "value": {"class": "sequence", "array": [
         {"class": "int", "min": 200, "max": 999},
         {"class": "int", "min": 200, "max": 999},
         {"class": "int", "min": 1000, "max": 9999}]}}]"""
  /** The stateful simulations, one record per id: commuter trips, a
    * state-changer track and a DNS session.
    */
  private val sims = """[{"name": "id", "class": "id"},
      {"name": "trips", "class": "commuter", "flat": false, "days": 5, "home": "10001"},
      {"name": "track", "class": "changer", "count": 8, "rate": "1/d", "values": [
        {"name": "state", "class": "state"},
        {"name": "score", "class": "int", "min": 300, "max": 850}]},
      {"name": "dns", "class": "dns", "flat": false, "meanQueries": 20}]"""

  val ops: Seq[SinkOp] = Seq(
    new SinkOp(b, "wide_fast", "fast", "graft-shards", 200000L,
      (s, n) => Synth.dataFrameAuto(s, wide, n, seed)),
    new SinkOp(b, "iot_fast", "fast", "parquet", 2000L * 100,
      (s, n) => Synth.dataFrameAuto(s, graft.api.CannedSources.iotSchemaJson, n / 100, seed)),
    new SinkOp(b, "sims_interp", "interp", "json", 12L,
      (s, n) => Synth.dataFrame(s, sims, n, seed)),
    new SinkOp(b, "tx_enrich", "api", "parquet", 20000L,
      (s, n) => graft.api.Processors.transactions(
        s.range(n).select((col("id") * 7919L + seed).as("key")), "key", seed = seed)))

  def mix: Seq[Op] = ops

  override def probes(b: Bench): Unit = ops.foreach(o => b.runOp(o.noopTwin, "probe", -1))

  override def checks(b: Bench): Seq[(String, Option[String])] =
    ops.map(o => s"${o.name}:reproducible" -> o.reproducible(b.spark))
}

// ----------------------------------------------------------- corpus_pipeline

object CorpusPipeline {
  val Shards = 2
  val DocsPerShard = 400
  /** Every tenth document gets a near-duplicate with this id offset. */
  val DupOffset = 1000000L
  val Boilerplate =
    "subscribe to our newsletter for the latest updates and exclusive offers from our team"
  val BoilerTokens: Int = Boilerplate.split(" ").length
  val Words = 40
  val Dims = 16
  val JlDims = 8
  val LshThreshold = 0.7
  val SetSimTauPpm = 700000L
  /** The minimum share of injected pairs MinHash LSH must recover. */
  val MinRecall = 0.9
}

/** The training-data chain over one seeded shard of a generated corpus. */
final class CorpusPipeline(b: Bench) extends Workload {
  import CorpusPipeline._
  import graft.ops._

  private var shardDirs: Seq[String] = Nil
  private var splits = 0
  /** Per shard: (documents, injected near-duplicate pairs). */
  private var sizes: Seq[(Long, Long)] = Nil
  /** Shards in seeded order; each run of `Shards` chains covers them all. */
  private val shardOrder: Iterator[Int] = {
    val rng = new scala.util.Random(b.seed)
    Iterator.continually(rng.shuffle((0 until Shards).toList)).flatten
  }

  override def setup(b: Bench): Unit = {
    val spark = b.spark
    // many small files, as a corpus at scale is split: Spark would
    // otherwise pack small files into about one partition per core
    val files = 4 * spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.files.minPartitionNum", files.toString)
    shardDirs = (0 until Shards).map { s =>
      val schema = s"""[{"name": "id", "class": "id", "start": ${s * 100000}},
        {"name": "text", "class": "join", "separator": " ", "value": {"class": "sequence",
         "lengthDistribution": $Words, "base": {"class": "word"}}},
        {"name": "vec", "class": "vector", "length": $Dims, "mean": 0, "sd": 1}]"""
      val base = graft.synth.Synth.dataFrame(spark, schema, DocsPerShard, b.seed * 31 + s)
        .select(col("id"), col("text"), col("vec"))
      // near-duplicate: the same text with its fifth word replaced
      val dups = base.where(pmod(xxhash64(col("id"), lit(b.seed)), lit(10)) === 0)
        .select((col("id") + DupOffset).as("id"),
          regexp_replace(col("text"), "^((?:\\S+ ){4})\\S+", "$1zzdup").as("text"),
          col("vec"))
      val dir = b.dir("corpus", s"shard-$s")
      base.unionByName(dups)
        .select(col("id"), concat_ws(" ", col("text"), lit(Boilerplate)).as("text"), col("vec"))
        .repartition(files, col("id"))
        .write.option("parquet.block.size", 16384L).mode("overwrite").parquet(dir)
      dir
    }
    splits = spark.read.parquet(shardDirs.head).rdd.getNumPartitions
    sizes = shardDirs.map { d =>
      val r = spark.read.parquet(d)
        .agg(count(lit(1)), sum(when(col("id") >= DupOffset, 1L).otherwise(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
  }

  override def info: Map[String, Any] = Map("input_splits" -> splits,
    "docs_per_shard" -> sizes.map(_._1), "injected_pairs_per_shard" -> sizes.map(_._2),
    "oracle_sql" -> RegistrySf.oracles(RegistrySf.Streaming))

  /** Counts observed on an op's output during its `noop` write. */
  private def observed(ctx: OpCtx, step: String, out: DataFrame,
      extra: (String, org.apache.spark.sql.Column)*): Map[String, Long] = {
    val obs = Observation(step)
    val cols = count(lit(1)).as("rows") +: extra.map { case (n, c) => coalesce(c, lit(0L)).as(n) }
    ctx.action(step)(out.observe(obs, cols.head, cols.tail: _*)
      .write.format("noop").mode("overwrite").save())
    obs.get.map { case (k, v) => k -> v.asInstanceOf[Number].longValue }
  }

  private def injectedFound: org.apache.spark.sql.Column =
    sum(when(col("b") - col("a") === DupOffset, 1L).otherwise(0L))

  private object Chain extends Op("chain", "batch") {
    def run(ctx: OpCtx): () => Checked = {
      val shard = shardOrder.next()
      val (docs, injected) = sizes(shard)
      val df = ctx.spark.read.parquet(shardDirs(shard))
      def step(name: String, extra: (String, org.apache.spark.sql.Column)*)(
          build: => DataFrame): Map[String, Long] = {
        val out = ctx.construct(name)(build)
        val got = observed(ctx, name, out, extra: _*)
        ctx.span.attrs(s"$name.rows") = got("rows")
        got
      }
      val rep = step("repetition")(TextAnalysis.repetitionSignals(df, "id", "text"))
      val lsh = step("minhash_lsh", "found" -> injectedFound)(
        Dedup.minHashLsh(df, "id", "text", LshThreshold))
      val ssj = step("setsim_join", "found" -> injectedFound)(
        SetSimJoin.jaccardJoin(df, "id", "text", SetSimTauPpm))
      val exs = step("exact_substr",
        "unflagged" -> sum(when(col("n_dropped") < BoilerTokens, 1L).otherwise(0L)))(
        ExactSubstrDedup.report(df, "id", "text"))
      step("inverted_index")(TextAnalysis.invertedIndex(df, "id", "text"))
      val pca = step("pca_gram")(Pca.gramMicro(df, "vec"))
      val jl = step("jl_project")(Quantization.jlProject(df, "id", "vec", JlDims))
      val pack = step("pack")(Packing.packSequences(
        df.withColumn("ntok", size(split(col("text"), " "))), "id", "ntok", 512))
      () => {
        val recall = lsh("found").toDouble / injected
        val problems = Seq(
          Option.when(rep("rows") != docs)(s"repetition rows ${rep("rows")} != $docs"),
          Option.when(recall < MinRecall)(f"minhash recall $recall%.3f < $MinRecall"),
          Option.when(ssj("found") != injected)(s"setsim found ${ssj("found")} of $injected pairs"),
          Option.when(exs("rows") != docs || exs("unflagged") != 0)(
            s"exact_substr left ${exs("unflagged")} of ${exs("rows")} docs unflagged"),
          Option.when(pca("rows") != Dims * Dims)(s"pca rows ${pca("rows")} != ${Dims * Dims}"),
          Option.when(jl("rows") != docs * JlDims)(s"jl rows ${jl("rows")} != ${docs * JlDims}"),
          Option.when(pack("rows") != docs)(s"pack rows ${pack("rows")} != $docs")).flatten
        Checked(docs, problems.headOption,
          Map("shard" -> shard, "recall" -> recall, "setsim_rows" -> ssj("rows")))
      }
    }
  }

  /** The chain, then one registered streaming rig over the sf tables, so
    * the streaming layer is measured on this workload too.
    */
  val mix: Seq[Op] = Seq(Chain, new QueryOp(b, RegistrySf.Streaming.head, items = 0))

  /** One pass per shard, so every input is read and every plan compiled
    * before timing; after a single pass the chain still ran ~20 % slower
    * in the first timed mix than in the third.
    */
  override def warmupPasses: Int = Shards

  /** SetSimJoin's candidate count on every shard, against its result rows. */
  override def probes(b: Bench): Unit =
    shardDirs.zipWithIndex.foreach { case (dir, i) =>
      b.runOp(new Op(s"setsim_candidates:$i", "batch") {
        def run(ctx: OpCtx): () => Checked = {
          val df = ctx.spark.read.parquet(dir)
          val cands = ctx.action("setsim_candidates")(
            SetSimJoin.candidateCount(df, "id", "text", SetSimTauPpm))
          val rows = ctx.action("setsim_rows")(
            SetSimJoin.jaccardJoin(df, "id", "text", SetSimTauPpm).count())
          () => Checked(0, None, Map("candidates" -> cands, "results" -> rows))
        }
      }, "probe", -1)
    }
}

// --------------------------------------------------------------- registry_sf

/** One registered `SparkEntry.queries` entry, written to parquet for the
  * DuckDB oracle replay that follows the run.
  */
final class QueryOp(b: Bench, name: String, items: Long = 1)
    extends Op(name, if (name.contains("_stream")) "stream" else "batch") {
  private val fn = graft.SparkEntry.queries(name)
  private var n = 0
  def run(ctx: OpCtx): () => Checked = {
    val out = b.dir("registry", name, s"exec-$n")
    n += 1
    val df = ctx.construct(name)(fn(ctx.spark, b.dataDir))
    ctx.action(name)(df.write.mode("overwrite").parquet(out))
    () => Checked(items, None, Map("output" -> out))
  }
}

object RegistrySf {
  val Batch: Seq[String] = Seq("g46_minhash_lsh", "q98_setsim_join", "q154_exact_substr",
    "q94_inverted_index", "q49_repetition", "q75_pca_gram", "q74_jl_project",
    "q70_semantic_dedup")
  val Streaming: Seq[String] = Seq("g98_stream_dedup")

  def oracles(names: Seq[String]): Map[String, String] = {
    val all = graft.SparkEntry.oracleSql
    names.flatMap(q => all.get(q).map(q -> _)).toMap
  }
}

final class RegistrySf(b: Bench) extends Workload {
  import RegistrySf._
  val mix: Seq[Op] = (Batch ++ Streaming).map(new QueryOp(b, _))

  override def info: Map[String, Any] = Map("oracle_sql" -> oracles(Batch ++ Streaming),
    "input_splits" -> b.spark.read.parquet(s"${b.dataDir}/documents.parquet")
      .rdd.getNumPartitions)
}
