package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.storage.perfbench.SparkInternals
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.EngineConf
import graft.dedup.Dedup
import graft.functions.TextFunctions

/** The calls into the engine for one op, each under a span and a
  * phase tag. In the dump pass (the warm-up) results are written to
  * parquet for the output checks; otherwise to the noop sink. */
final class Ctx(spark: SparkSession, dump: Option[String]) {
  var op = ""

  private def phase[T](p: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.PhaseKey, p)
    sc.setLocalProperty(Trace.OpKey, op)
    val t0 = System.nanoTime()
    try f
    finally {
      Trace.span(p, (System.nanoTime() - t0) / 1e6)
      sc.setLocalProperty(Trace.PhaseKey, null)
      sc.setLocalProperty(Trace.OpKey, null)
    }
  }

  /** A call into the source layer (Tables). */
  def load[T](f: => T): T = phase("load")(f)
  /** A call into a query's or operator's builder. */
  def build[T](f: => T): T = phase("build")(f)
  /** The final action: every column of every row materialized. */
  def finish(df: DataFrame, part: String = ""): Unit = phase("action") {
    dump match {
      case Some(d) => df.write.mode("overwrite").parquet(s"$d/$op$part.parquet")
      case None    => df.write.format("noop").mode("overwrite").save()
    }
  }
  /** An action whose output a later op reads back (the near-duplicate
    * pairs, the dedup index). */
  def write(df: DataFrame, path: String): Unit = phase("action") {
    df.write.mode("overwrite").parquet(path)
  }
  /** Extra output the checks need, written in the dump pass only. */
  def dumpOnly(df: DataFrame, part: String): Unit =
    dump.foreach(d => df.write.mode("overwrite").parquet(s"$d/$op$part.parquet"))
}

/** Peak bytes of cached and checkpointed partitions, sampled every
  * 10 ms. */
final class StoragePeak extends AutoCloseable {
  private val peak = new AtomicLong(0)
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      peak.accumulateAndGet(SparkInternals.rddBytes(), math.max)
      Thread.sleep(10)
    }
  }, "perfbench-storage")
  thread.setDaemon(true)
  thread.start()
  def reset(): Unit = peak.set(SparkInternals.rddBytes())
  def mb: Double = peak.get / 1048576.0
  def close(): Unit = { running = false; thread.join() }
}

final case class Failure(op: String, cls: String, cause: String, stage: String, message: String)

/** Runs one workload: set-up (repeated, median reported), an uncounted
  * warm-up pass that also dumps results for the checks, then the
  * counted passes that fill `--seconds` at the workload's nominal pass
  * length (at least one). Writes result.json to --out.
  *
  * Usage: perfbench.Main --workload W --input DIR --work DIR --out DIR
  *        --seed N --seconds S --trace 0|1 --cpus N */
object Main {
  val SetupReps = 5
  val MinPasses = 1
  /** Rows of the text probe the function kernels are timed on. */
  val ProbeRows = 10000

  def main(argv: Array[String]): Unit = {
    val o = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val trace = o("trace") == "1"
    val seed = o("seed").toLong
    val out = o("out")
    Trace.enabled = trace
    Files.createDirectories(Paths.get(out, "outputs"))

    var spark: SparkSession = null
    var ops: Seq[Op] = Nil
    var wl: Workload = null
    val setupS = (1 to SetupReps).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      Trace.begin("setup", reset = true)
      val t0 = System.nanoTime()
      spark = session(o, trace)
      wl = Workload(o("workload"), o("input"), o("work"), seed)
      ops = wl.setup(spark, new Ctx(spark, None))
      (System.nanoTime() - t0) / 1e9
    }
    wl.describe(out)
    val sc = spark.sparkContext
    val storage = new StoragePeak
    val failures = mutable.ArrayBuffer.empty[Failure]
    var attempted = 0
    val leftover = mutable.ArrayBuffer.empty[Double]

    /** One pass: op name → ms (None if it failed), peak storage MB. */
    def pass(n: Int, dump: Option[String]): (Seq[(String, Option[Double])], Double) = {
      val ctx = new Ctx(spark, dump)
      storage.reset()
      val times = wl.order(ops, n).map { op =>
        ctx.op = op.name
        val kept = sc.getPersistentRDDs.keySet
        attempted += 1
        val t0 = System.nanoTime()
        val ok = try { op.run(ctx); true } catch {
          case e: Exception => failures += failure(op.name, e); false
        }
        val ms = (System.nanoTime() - t0) / 1e6
        if (trace) {
          // what the op left persisted, read before the cache is cleared
          SparkInternals.drain(sc)
          leftover += sc.getRDDStorageInfo.filter(r => !kept(r.id))
            .map(r => r.memSize + r.diskSize).sum / 1048576.0
        }
        sc.getPersistentRDDs.foreach { case (id, r) => if (!kept(id)) r.unpersist(blocking = true) }
        spark.catalog.clearCache()
        op.name -> (if (ok) Some(ms) else None)
      }
      (times, storage.mb)
    }

    if (trace) SparkInternals.drain(sc)
    Trace.begin("warmup", reset = true)
    val w0 = System.nanoTime()
    pass(0, Some(s"$out/outputs"))
    val warmupS = (System.nanoTime() - w0) / 1e9

    if (trace) SparkInternals.drain(sc)
    Trace.begin("pass", reset = true)
    leftover.clear()
    val nPasses = math.max(MinPasses, math.ceil(o("seconds").toDouble / wl.nominalPassS).toInt)
    val passes = (1 to nPasses).map(pass(_, None))
    storage.close()

    val layers = if (!trace) Map.empty[String, Double] else {
      SparkInternals.drain(sc)
      Trace.begin("extra", reset = true)
      layerMetrics(passes.size, leftover.sum / passes.size) ++
        functionRates(spark, seed) ++ wl.traceCounts(spark)
    }
    Files.writeString(Paths.get(out, "result.json"), Json.write(Map(
      "setup_s" -> setupS,
      "warmup_s" -> warmupS,
      "passes" -> passes.map { case (t, peak) =>
        Map("ops" -> ListMap(t: _*), "storage_peak_mb" -> peak) },
      "attempted" -> attempted,
      "failures" -> failures.map(f => Map("op" -> f.op, "class" -> f.cls,
        "cause" -> f.cause, "stage" -> f.stage, "message" -> f.message)),
      "layers" -> layers)))
    spark.stop()
  }

  def session(o: Map[String, String], trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${o("cpus")}]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o("work")}/warehouse")
      .config("spark.sql.shuffle.partitions", EngineConf.harnessShufflePartitions(o("input")))
    if (trace) b.config("spark.extraListeners", classOf[TraceListener].getName)
      .config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    val s = EngineConf.localHarness(b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Op name, exception class, root-cause class, and the failing stage
    * as Spark names it in the job-abort message. */
  def failure(op: String, e: Throwable): Failure = {
    var root = e
    while (root.getCause != null && root.getCause != root) root = root.getCause
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString("\n")
    val stage = "stage (\\d+\\.\\d+)".r.findFirstMatchIn(msgs).map(_.group(1)).getOrElse("")
    Failure(op, e.getClass.getName, root.getClass.getName, stage,
      msgs.linesIterator.nextOption().getOrElse("").take(300))
  }

  /** Per-layer figures: the last set-up plus one counted pass (the
    * mean over the counted passes). */
  def layerMetrics(nPasses: Int, leftoverMb: Double): Map[String, Double] = {
    val s = Trace.acc("setup")
    val p = Trace.acc("pass")
    def v(k: String) = s.count(k) + p.count(k) / nPasses
    def perPass(n: Long) = n.toDouble / nPasses
    // the convergence actions of connected components' builder, in
    // start order
    val ccRounds = p.execRecords.toSeq.collect { case ((op, _), r) if op == "clusters" => r }
      .take(ccRoundsPerPass(p, nPasses))
    Map(
      "sources.load_ms" -> (v("span.load") + v("load_job_ms")),
      "sources.load_jobs" -> v("load_jobs"),
      // schema-inference jobs a builder runs count as source time only
      "queries.build_ms" -> (v("span.build") - v("build_load_job_ms")),
      "queries.build_jobs" -> v("build_jobs"),
      "plans.optimization_ms" -> v("plan_optimization_ms"),
      "plans.planning_ms" -> v("plan_planning_ms"),
      "spark.jobs" -> v("jobs"),
      "spark.stages" -> v("stages"),
      "spark.tasks" -> v("tasks"),
      "spark.task_deser_ms" -> v("task_deser_ms"),
      "spark.task_cpu_ms" -> v("task_cpu_ms"),
      "spark.gc_ms" -> v("gc_ms"),
      "spark.shuffle_write_bytes" -> v("shuffle_write_bytes"),
      "spark.shuffle_read_bytes" -> v("shuffle_read_bytes"),
      "dedup.cc_jobs" -> perPass(p.opJobs("clusters")),
      "operators.cc_round1_shuffle_records" -> ccRounds.headOption.getOrElse(0L).toDouble,
      "operators.cc_last_round_shuffle_records" -> ccRounds.lastOption.getOrElse(0L).toDouble,
      "storage.leftover_mb" -> leftoverMb)
  }

  /** SQL executions of one connected-components op (the first pass). */
  private def ccRoundsPerPass(p: Acc, nPasses: Int): Int =
    p.execRecords.keys.count(_._1 == "clusters") / nPasses

  /** Rows per second of two codegen'd kernels timed alone over a seeded
    * text probe: the whitespace tokenizer and the MinHash signature
    * aggregation (the near-duplicate configuration). Best of 3. */
  def functionRates(spark: SparkSession, seed: Long): Map[String, Double] = {
    val words = array((0 until 500).map(i => lit(s"w${i * 7919 % 1000}")): _*)
    val probe = Workload.materialize(spark.range(ProbeRows).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(60)), i =>
        element_at(words, (pmod(xxhash64(col("id"), i, lit(seed)), lit(500)) + 1).cast("int"))))
        .as("text")))
    def rate(df: => DataFrame): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      ProbeRows / ((System.nanoTime() - t0) / 1e9)
    }.max
    Map(
      "functions.tokens_rows_per_s" ->
        rate(probe.select(TextFunctions.tokens(col("text")).as("t"))),
      "functions.minhash_rows_per_s" ->
        rate(Dedup.minhashSignatures(probe, col("doc_id"), col("text"), Workload.Lsh)))
  }
}

/** result.json and oracle.json, written with the Jackson that Spark
  * ships. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def write(v: Any): String = mapper.writeValueAsString(v)
}
