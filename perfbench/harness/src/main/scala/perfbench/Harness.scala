package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run in one JVM: set the workload's base state up,
  * then run a cold pass and warm passes (or rounds) until the
  * measuring time is spent, and write everything measured to
  * `<out>/result.json`. The Python driver (`perfbench/run.py`)
  * generates the inputs, checks the outputs and prints the metrics.
  *
  *   java -cp <classpath> perfbench.Harness --workload eth_jobs
  *     --data <dir> --out <dir> --seconds 15 --trace 0
  *     --cores 4 --launch-ns <epoch ns>
  */
object Harness {
  final case class Args(workload: String, data: String, out: String,
      seconds: Double, trace: Boolean, cores: Int, launchNs: Long)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("out"), m("seconds").toDouble,
      m("trace") == "1", m("cores").toInt, m("launch-ns").toLong)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w: Workload = a.workload match {
      case "eth_jobs"        => new EthJobs(a)
      case "corpus_pipeline" => new CorpusPipeline(a)
      case "gseg_upsert"     => new GsegUpsert(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.createDirectories(Paths.get(a.out))
    val result = w.run()
    Files.write(Paths.get(a.out, "result.json"),
      Json.render(result).getBytes("UTF-8"))
  }
}

/** Shared run loop: set-up, then the warm-up passes and measured
  * passes until the measuring time is spent. */
abstract class Workload(val a: Harness.Args) {
  protected val work: String = a.out
  protected var spark: SparkSession = _
  protected var tracer: Tracer = _
  protected val extraResult = mutable.LinkedHashMap[String, Any]()

  /** Session confs this workload adds to the graft builder's. */
  protected def confs: Seq[(String, String)] = Nil
  /** Build the workload's base state in the new session. */
  protected def baseState(): Unit = ()
  /** Tear the base state down (streams etc.) before the session stops. */
  protected def release(): Unit = ()
  /** One pass or round; returns its step timings in seconds. Work
    * done only to check outputs runs inside `untimed`. */
  protected def pass(i: Int): Seq[(String, Double)]
  /** Ops per pass, for the attempted count. */
  def opsPerPass: Int
  /** Whether pass `i` has inputs (a workload with finite inputs ends
    * its measurement when they run out). */
  protected def more(i: Int): Boolean = true

  private var untimedNs = 0L
  protected def untimed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally untimedNs += System.nanoTime() - t0
  }

  protected def step[T](name: String)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = if (tracer != null) tracer.span(name)(f) else f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def newSession(): SparkSession = {
    val b = graft.GraftSession.builder(master = s"local[${a.cores}]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    confs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def run(): Map[String, Any] = {
    // set-up counts from the JVM launch: class loading, the heap
    // pre-touch and Spark's start-up are what a submitted job pays
    spark = newSession()
    baseState()
    val now = java.time.Instant.now()
    val setup = (now.getEpochSecond * 1000000000L + now.getNano - a.launchNs) / 1e9
    if (a.trace) tracer = new Tracer(spark, a.cores)
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var i = 0
    while (more(i) && (i < Workload.WarmUpPasses + Workload.MinMeasuredPasses ||
        System.nanoTime() < deadline)) {
      untimedNs = 0L
      val t0 = System.nanoTime()
      val gc0 = Tracer.gcMs()
      val cc0 = Tracer.compileNs()
      if (tracer != null) tracer.beginPass(i)
      val steps = pass(i)
      if (tracer != null) tracer.endPass(i)
      val wall = (System.nanoTime() - t0 - untimedNs) / 1e9
      passes += Map("wall_s" -> wall,
        "steps" -> steps.map { case (n, s) => Map("name" -> n, "s" -> s) },
        "gc_s" -> (Tracer.gcMs() - gc0) / 1e3,
        "compile_ms" -> (Tracer.compileNs() - cc0) / 1e6)
      i += 1
    }
    val layers = if (tracer != null) tracer.summary() else Map.empty[String, Any]
    release()
    spark.stop()
    Map("workload" -> a.workload, "setup_s" -> setup,
      "ops_per_pass" -> opsPerPass, "warm_up" -> Workload.WarmUpPasses,
      "passes" -> passes.toSeq,
      "layers" -> layers) ++ extraResult
  }

  protected def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }
  }
}

object Workload {
  /** Passes that only warm the JVM up: the cold first pass and the
    * first warm one, whose times still fall as the JIT compiles. */
  val WarmUpPasses = 2
  /** Measured passes every run makes, however long they take. */
  val MinMeasuredPasses = 2
}

/** The reference's six jobs over the generated Ethereum CSVs, with the
  * session configured the way `EthParity.main` configures it. */
final class EthJobs(args: Harness.Args) extends Workload(args) {
  import graft.queries.EthParity
  import graft.sources.EthSources

  override protected def confs = Seq("spark.sql.files.maxPartitionBytes" -> "16m")
  def opsPerPass: Int = EthParity.jobs.size

  private val layerName = Map(
    "transactionsAnalysis" -> "EthParity.transactions_s",
    "top10Contracts" -> "EthParity.top10_contracts_s",
    "topMiners" -> "EthParity.top_miners_s",
    "scams" -> "EthParity.scams_s",
    "gasGuzzlers" -> "EthParity.gas_s",
    "dataOverhead" -> "EthParity.overhead_s")

  protected def pass(i: Int): Seq[(String, Double)] = {
    val out = s"$work/eth/pass$i"
    val steps = EthParity.jobs.map { case (name, job) =>
      layerName(name) -> step(layerName(name))(job(spark, a.data, out))._2
    }
    if (tracer != null) untimed {
      // the validated sources materialised, timed on their own after
      // the jobs, so the cold pass stays as cold as an untraced one
      val (n, _) = tracer.timed("EthSources.scan_s") {
        EthSources.transactions(spark, s"${a.data}/transactions.csv",
          needValue = true, needTimestamp = true).count() +
          EthSources.blocks(spark, s"${a.data}/blocks.csv").count()
      }
      val lines = spark.read.text(s"${a.data}/transactions.csv").count() +
        spark.read.text(s"${a.data}/blocks.csv").count()
      tracer.count("EthSources.rows_dropped", (lines - n).toDouble)
    }
    steps
  }
}

/** Documents through quality filter → dedup → decontamination →
  * temperature mixing and packing → one gseg CTAS, each stage reading
  * the previous stage's output. */
final class CorpusPipeline(args: Harness.Args) extends Workload(args) {
  import graft.Tables
  import graft.functions.{Decontam, Dedup, Sampling, TextOps}

  def opsPerPass: Int = 5
  private val wh = s"$work/corpus-wh"
  private lazy val budget: Int =
    scala.io.Source.fromFile(s"${a.data}/budget.txt").mkString.trim.toInt
  override protected def confs = Seq(
    "spark.sql.catalog.bench" -> "graft.sources.SegCatalog",
    "spark.sql.catalog.bench.warehouse" -> wh)

  private def writeDocs(df: DataFrame, dir: String): Unit =
    df.select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  protected def pass(i: Int): Seq[(String, Double)] = {
    val p = s"$work/corpus/pass$i"
    val (s1, s2, s3) = (s"$p/s1", s"$p/s2", s"$p/s3")
    val docs = Tables.documents(spark, a.data)
    val q = step("TextOps.quality_s") {
      writeDocs(docs.join(TextOps.gopherFilter(spark, a.data)
        .filter(col("keep")).select("doc_id"), "doc_id"), s1)
    }._2
    val d = step("Dedup.dedup_s") {
      writeDocs(Tables.documents(spark, s1).join(Dedup.dedupCorpus(spark, s1)
        .filter(col("keep")).select("doc_id"), "doc_id"), s2)
    }._2
    val c = step("Decontam.decon_s") {
      val s2docs = Tables.documents(spark, s2)
      val contaminated = Decontam.ngramOverlap(spark, s2)
        .select(col("train_doc").as("doc_id"))
      val train = Sampling.splitAssign(spark, s2)
        .filter(col("split") === "train").select("doc_id")
      writeDocs(s2docs.join(train, "doc_id")
        .join(contaminated, Seq("doc_id"), "left_anti"), s3)
      spark.catalog.clearCache() // the gram persist is caller-owned
    }._2
    val s3docs = Tables.documents(spark, s3)
    val (mixed, m) = step("Sampling.mix_s") {
      val mx = Sampling.mixTemperature(spark, s3, budget)
        .select("doc_id", "quota").persist()
      mx.count()
      mx
    }
    val (fin, k) = step("Sampling.pack_s") {
      val tok = s3docs.join(mixed.select("doc_id"), "doc_id")
        .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
      val f = Sampling.packChunksOf(tok, 2048, a.cores)
        .join(s3docs.select("doc_id", "lang", "text"), "doc_id")
        .persist()
      f.count()
      f
    }
    val table = s"bench.ns.corpus_p$i"
    val w = step("SegDml.ctas_s") {
      fin.createOrReplaceTempView("bench_final")
      spark.sql(s"CREATE TABLE $table USING gseg AS SELECT * FROM bench_final")
    }._2
    untimed {
      // copies for the independent checks: the final frame and the
      // table as read back
      fin.write.mode("overwrite").parquet(s"$p/final.parquet")
      spark.table(table).write.mode("overwrite").parquet(s"$p/readback.parquet")
      mixed.unpersist(); fin.unpersist()
      spark.catalog.clearCache()
      extraResult("table_bytes") = dirBytes(s"$wh/ns/corpus_p$i")
      if (i > 0) spark.sql(s"DROP TABLE bench.ns.corpus_p${i - 1}")
    }
    if (tracer != null) untimed {
      // LSH blocking: candidate pairs from band collisions versus the
      // pairs the exact Jaccard verification keeps
      val bands = Dedup.minhashBands(spark, s1).toDF()
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
      tracer.count("Dedup.candidate_pairs", cand.toDouble)
      tracer.count("Dedup.verified_pairs", Dedup.minhashLsh(spark, s1).count().toDouble)
      spark.catalog.clearCache()
    }
    Seq("TextOps.quality_s" -> q, "Dedup.dedup_s" -> d, "Decontam.decon_s" -> c,
      "Sampling.mix_s" -> m, "Sampling.pack_s" -> k, "SegDml.ctas_s" -> w)
  }
}

/** A range-clustered gseg table taking one MERGE per round from a
  * key-banded feed, a zone-map-prunable range read, and a long-running
  * changefeed stream that must emit each commit's changes. */
final class GsegUpsert(args: Harness.Args) extends Workload(args) {
  import org.apache.spark.sql.streaming.StreamingQuery
  import graft.sources.{SegCdf, SegManifest}

  def opsPerPass: Int = 3
  private val wh = s"$work/gseg-wh"
  private val dir = s"$wh/ns/kv"
  private var stream: StreamingQuery = _
  /** generation -> (change type -> rows, nanoTime the consumer emitted it) */
  private val emitted = new java.util.concurrent.ConcurrentHashMap[Long, (Map[String, Long], Long)]()
  private val rounds = mutable.ArrayBuffer[Map[String, Any]]()
  private lazy val readBands: IndexedSeq[Array[Long]] =
    scala.io.Source.fromFile(s"${a.data}/reads.csv").getLines()
      .map(_.split(",").map(_.toLong)).toIndexedSeq

  override protected def confs = Seq(
    "spark.sql.catalog.bench" -> "graft.sources.SegCatalog",
    "spark.sql.catalog.bench.warehouse" -> wh)

  /** The base table, range-clustered on k, and the changefeed consumer
    * started at the next commit. */
  override protected def baseState(): Unit = {
    spark.read.parquet(s"${a.data}/base.parquet")
      .repartitionByRange(a.cores * 8, col("k")).sortWithinPartitions("k")
      .writeTo("bench.ns.kv").using("gseg").create()
    val gen0 = SegManifest.read(dir).get._1
    stream = spark.readStream.format("gseg")
      .schema(spark.table("bench.ns.kv").schema)
      .option(SegCdf.ReadChangefeedOption, "true")
      .option(SegCdf.KeysOption, "k")
      .option(SegCdf.FromOption, (gen0 + 1).toString)
      .load(dir)
      .writeStream.option("checkpointLocation", s"$work/gseg-ckpt")
      .foreachBatch { (b: DataFrame, _: Long) =>
        val got = b.groupBy(col(SegCdf.CommitGenCol), col("_change_type")).count()
          .collect().groupBy(_.getLong(0))
        val now = System.nanoTime()
        got.foreach { case (g, rows) =>
          emitted.put(g, (rows.map(r => r.getString(1) -> r.getLong(2)).toMap, now))
        }
      }.start()
  }

  override protected def more(i: Int): Boolean =
    Files.exists(Paths.get(s"${a.data}/feeds/$i.parquet"))

  protected def pass(i: Int): Seq[(String, Double)] = {
    val before = SegManifest.read(dir).get._2.toSet
    val bytes0 = dirBytes(dir)
    spark.read.parquet(s"${a.data}/feeds/$i.parquet").createOrReplaceTempView("feed")
    val merge = step("SegDml.merge_s") {
      spark.sql(
        """MERGE INTO bench.ns.kv t USING feed s ON t.k = s.k
          |WHEN MATCHED AND s.op = 'D' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = s.v, pad = s.pad
          |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (k, v, pad) VALUES (s.k, s.v, s.pad)"""
          .stripMargin)
    }._2
    val committed = System.nanoTime()
    val (gen, after) = SegManifest.read(dir).get
    val wait = step("SegCdf.lag_s") {
      while (!emitted.containsKey(gen)) {
        require(System.nanoTime() - committed < 60L * 1000000000L,
          s"the changefeed never emitted generation $gen")
        Thread.sleep(1)
      }
    }._2
    val Array(lo, hi) = readBands(i)
    val (row, read) = step("SegSource.read_ms") {
      spark.sql("SELECT count(*), coalesce(sum(v), 0) FROM bench.ns.kv " +
        s"WHERE k BETWEEN $lo AND $hi").head()
    }
    val (changes, emittedAt) = emitted.get(gen)
    rounds += Map("round" -> i, "generation" -> gen, "merge_s" -> merge,
      "lag_s" -> (emittedAt - committed) / 1e9, "read_s" -> read,
      "count" -> row.getLong(0), "sum" -> row.getLong(1), "changes" -> changes,
      "written_bytes" -> (dirBytes(dir) - bytes0),
      "files_rewritten" -> (before -- after).size)
    Seq("SegDml.merge_s" -> merge, "SegCdf.lag_s" -> wait, "SegSource.read_ms" -> read)
  }

  /** Stop the consumer; record the rounds and the table's final state. */
  override protected def release(): Unit = {
    stream.stop()
    val agg = spark.sql("SELECT count(*), coalesce(sum(v), 0), " +
      "coalesce(sum(k * 7 + v % 1000003), 0) FROM bench.ns.kv").head()
    val files = spark.sql("SELECT count(*), coalesce(sum(bytes), 0) FROM bench.ns.kv.files").head()
    extraResult("rounds") = rounds.toSeq
    extraResult("final") = Map("count" -> agg.getLong(0), "sum" -> agg.getLong(1),
      "mix" -> agg.getLong(2), "files_live" -> files.getLong(0),
      "table_bytes" -> files.getLong(1), "dir_bytes" -> dirBytes(dir))
  }
}
