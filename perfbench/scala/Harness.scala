package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.Ckpt
import graft.operators.{Dedup, Joins, Sampling, TextAnalysis => TA}

/** Closed-loop benchmark client: one thread runs a workload's operation
  * list pass after pass against the library's public entry points.
  *
  *   1. set-up: session, inputs, one warm-up pass;
  *   2. timed window: whole passes until `--seconds` have elapsed, and
  *      at least [[MinPasses]];
  *   3. retained heap after full GCs.
  *
  * Every operation's result is consumed in full, and digested once the
  * pass's operations are done. With `--trace 1` a [[Tracer]] wraps every
  * call into the library with listener counters and phase spans. Raw
  * per-operation samples go to the `--out` JSON file; `run.py` turns
  * them into metrics and checks the digests. */
object Harness {

  /** What a timed operation leaves to check: rows, pulled after the clock
    * stops. */
  type Verify = () => Array[Row]

  trait Workload {
    def names: Seq[String]
    /** Runs one operation; the returned thunk yields its checked rows. */
    def run(name: String, probe: Probe): Verify
    def endPass(): Unit = ()
  }

  /** Iterative-operator queries: `SparkEntry.queries` builders, results
    * collected, in a fixed order so every run ends in the same state. */
  final class Queries(spark: SparkSession, dir: String, val names: Seq[String])
      extends Workload {
    def run(name: String, probe: Probe): Verify = {
      val df = SparkEntry.queries(name)(spark, dir)
      probe.constructed()
      probe.planned(df)
      val rows = df.collect()
      () => rows
    }
  }

  /** Curation parameters; `gen.py` derives the ground truth from the same
    * values, and `run.py` passes them to the harness. */
  final case class CurationParams(prefixTokens: Int, chunkTokens: Int,
      packBudget: Int, mixAlpha: Double, mixBudget: Long, qualityMin: Double)

  /** The corpus-curation pipeline. Each stage reads the previous stage's
    * checkpointed output; the pipeline's last two stages collect. */
  final class Curation(spark: SparkSession, dir: String, val names: Seq[String],
                       p: CurationParams) extends Workload {
    private val corpus = spark.read.parquet(s"$dir/corpus.parquet")
    private val blocklist = spark.read.parquet(s"$dir/benchmark_docs.parquet")
    private val held = mutable.ArrayBuffer.empty[DataFrame]
    private var gate, exact, near, clean, chunks: DataFrame = _

    private def prefix(text: org.apache.spark.sql.Column) =
      array_join(slice(TA.tokens(text), 1, p.prefixTokens), " ")

    private def stage(df: DataFrame, probe: Probe): DataFrame = {
      probe.constructed()
      probe.planned(df)
      val c = Ckpt(df)
      held += c
      c
    }

    def run(name: String, probe: Probe): Verify = name match {
      case "gate" =>
        gate = stage(corpus.select(col("doc_id"), col("text"),
            TA.langId(col("text")).as("lang"),
            TA.qualityScore(col("text")).as("quality"),
            TA.tokenCount(col("text")).as("n_tokens"))
          .filter(col("quality") >= p.qualityMin), probe)
        () => gate.select("doc_id", "lang").collect()
      case "exact" =>
        exact = stage(Dedup.exactCanonical(gate, "doc_id", "text",
          Seq("text", "lang", "n_tokens")), probe)
        () => exact.select("id").collect()
      case "neardup" =>
        val pairs = Dedup.minhashNearDups(exact, "id", "text")
        near = stage(exact.join(pairs.select(col("b").as("id")).distinct(),
          Seq("id"), "left_anti"), probe)
        () => near.select("id").collect()
      case "decontam" =>
        clean = stage(Joins.bloomAntiJoin(near,
          blocklist.select(prefix(col("text")).as("k")),
          prefix(col("text")), col("k")), probe)
        () => clean.select("id").collect()
      case "mix" =>
        val df = Sampling.temperatureMix(clean, "lang", col("n_tokens"),
          alpha = p.mixAlpha, budgetTokens = p.mixBudget)
        probe.constructed()
        probe.planned(df)
        val rows = df.collect()
        () => rows
      case "chunk" =>
        chunks = stage(TA.chunkByTokens(clean, "id", "text", p.chunkTokens)
          .select("id", "chunk", "n_chunk_tokens"), probe)
        () => chunks.collect()
      case "pack" =>
        val df = TA.packChunks(chunks, "id", "chunk", "n_chunk_tokens", budget = p.packBudget)
          .select("id", "chunk", "cum_tokens", "bin")
        probe.constructed()
        probe.planned(df)
        val rows = df.collect()
        () => rows
    }

    override def endPass(): Unit = {
      held.foreach(_.queryExecution.analyzed match {
        case lr: LogicalRDD => lr.rdd.unpersist(blocking = true)
        case _ => ()
      })
      held.clear()
    }
  }

  /** Tracing hooks a workload calls inside a timed operation. */
  trait Probe {
    def constructed(): Unit
    def planned(df: DataFrame): Unit
  }
  object NoProbe extends Probe {
    def constructed(): Unit = ()
    def planned(df: DataFrame): Unit = ()
  }

  /** Each operation's median drops the first timed pass, which still runs
    * measurably slower while the JIT settles. Four passes also put the
    * pooled percentiles of both workloads on the middle samples of one
    * operation rather than on another's first-pass excess. */
  val MinPasses = 4

  def session(cores: Int, partitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String, spark: SparkSession, dir: String,
               opt: Map[String, String]): Workload = {
    val ops = opt("ops").split(",").toSeq
    name match {
      case "iterative" => new Queries(spark, dir, ops)
      case "curation" => new Curation(spark, dir, ops, CurationParams(
        opt("prefix-tokens").toInt, opt("chunk-tokens").toInt, opt("pack-budget").toInt,
        opt("mix-alpha").toDouble, opt("mix-budget").toLong, opt("quality-min").toDouble))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  final case class Sample(op: String, pass: Int, ms: Double, rows: Long,
                          digest: String, error: String)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val wlName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val dir = opt("data")
    val cores = opt("cores").toInt
    val partitions = opt("partitions").toInt

    var spark = session(cores, partitions)
    val tracer = if (traced) Some(new Tracer(spark, cores)) else None
    val wl = workload(wlName, spark, dir, opt)
    val samples = mutable.ArrayBuffer.empty[Sample]

    // The checks run after the traced pass has closed, so their jobs and
    // their time stay out of the pass's per-layer record; the workload's
    // clean-up runs after them, as they read its checkpoints.
    def runPass(w: Workload, pass: Int, t: Option[Tracer]): Unit = {
      t.foreach(_.beginPass())
      val done = w.names.map { name =>
        val probe = t.map(_.begin(name)).getOrElse(NoProbe)
        val t0 = System.nanoTime()
        val outcome = try Right(w.run(name, probe)) catch { case e: Throwable => Left(e) }
        val ms = (System.nanoTime() - t0) / 1e6 - t.map(_.end()).getOrElse(0.0)
        (name, ms, outcome)
      }
      t.foreach(_.endPass(pass))
      for ((name, ms, outcome) <- done) {
        samples += (outcome.flatMap(v => try Right(v()) catch { case e: Throwable => Left(e) }) match {
          case Right(rows) => Sample(name, pass, ms, rows.length, Digest.of(rows), "")
          case Left(e) => Sample(name, pass, ms, 0L, "", s"${e.getClass.getName}: ${e.getMessage}")
        })
      }
      w.endPass()
    }

    runPass(wl, -1, tracer)
    val readyEpochMs = System.currentTimeMillis()
    val host0 = Host.read()
    val windowStart = System.nanoTime()
    var pass = 0
    while (pass < MinPasses || (System.nanoTime() - windowStart) / 1e9 < seconds) {
      runPass(wl, pass, tracer)
      pass += 1
    }
    val windowS = (System.nanoTime() - windowStart) / 1e9
    val host = Host.delta(host0, Host.read())
    val heapMb = Host.retainedHeapMb()

    // curation.cores_speedup: one pass of the same JVM at local[1]
    if (traced && wlName == "curation") {
      spark.stop()
      spark = session(1, partitions)
      runPass(workload(wlName, spark, dir, opt), -2, None)
    }

    val out = Json.obj(
      "workload" -> wlName, "seed" -> seed, "cores" -> cores,
      "partitions" -> partitions, "spark_version" -> spark.version,
      "jvm_start_epoch_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "ready_epoch_ms" -> readyEpochMs, "window_s" -> windowS,
      "passes" -> pass, "retained_heap_mb" -> heapMb, "host" -> host,
      "samples" -> samples.toSeq.map(s => Json.obj("op" -> s.op,
        "pass" -> s.pass, "ms" -> s.ms, "rows" -> s.rows,
        "digest" -> s.digest, "error" -> s.error)),
      "oracle_sql" -> (wl match {
        case q: Queries => q.names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap
        case _ => Map.empty[String, String]
      }),
      "trace" -> tracer.map(_.record()).orNull)
    spark.stop()
    val path = java.nio.file.Paths.get(opt("out"))
    java.nio.file.Files.write(path, Json.render(out).getBytes("UTF-8"))
  }
}
