package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.dedup.{Dedup, MinHashConfig}
import graft.queries.RelationalQueries
import graft.sources.Tables
import graft.text.{LexiconSentiment, NlpPipeline, TfIdf}

/** One engine operation of a pass. `run` builds the operation's frames
  * and materializes its results through `ctx`. */
final case class Op(name: String, run: Ctx => Unit)

/** A workload: how to load its generated inputs (part of set-up) and
  * the ops of one pass over them. */
trait Workload {
  /** A warm pass's length on a 4-CPU box, which sets how many passes a
    * run counts: the same number whatever the machine's speed, so every
    * run's figures come from the same passes of the JIT's warm-up. */
  def nominalPassS: Double
  /** Loads and materializes the inputs; returns the ops of a pass. */
  def setup(spark: SparkSession, ctx: Ctx): Seq[Op]
  /** The order of the ops in pass `pass`. */
  def order(ops: Seq[Op], pass: Int): Seq[Op] = ops
  /** Writes what the output checks need besides the results. */
  def describe(out: String): Unit = ()
  /** Engine-side counts only a traced run reports; zero where the
    * workload runs no near-duplicate detection. */
  def traceCounts(spark: SparkSession): Map[String, Double] = Map(
    "dedup.lsh_candidates" -> 0.0, "dedup.verified_pairs" -> 0.0, "dedup.candidate_yield" -> 0.0)
}

object Workload {
  /** 64 permutations in 16 bands over xxhash64 shingle hashes: the
    * production-shaped near-duplicate configuration. */
  val Lsh: MinHashConfig = MinHashConfig.generated(64, 16, portable = false)
  val Threshold = 0.8

  def apply(name: String, input: String, work: String, seed: Long): Workload = name match {
    case "relational" => new Relational(input, seed)
    case "corpus"     => new Corpus(input, work)
    case other        => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The input frames stay materialized across ops: checkpointed, not
    * cached, so clearing the cache manager between ops leaves them. */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
}

/** A fixed subset of the relational registry, one query per shape
  * family, run in a seeded order per pass by one closed-loop client. */
final class Relational(dir: String, seed: Long) extends Workload {
  import Relational._
  val nominalPassS = 5.0
  def setup(spark: SparkSession, ctx: Ctx): Seq[Op] = {
    // every table's schema discovered once, as each query's loads will
    ctx.load(Tables.all.filterNot(_ == "embeddings").foreach(Tables.load(spark, dir, _)))
    val byName = RelationalQueries.queries.map(q => q.name -> q).toMap
    Names.map { n =>
      val q = byName(n)
      Op(n, c => c.finish(c.build(q.run(spark, dir))))
    }
  }
  override def order(ops: Seq[Op], pass: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
  /** The DuckDB oracle SQL of each query, for the output checks. */
  override def describe(out: String): Unit = {
    val sql = RelationalQueries.queries.filter(q => Names.contains(q.name))
      .flatMap(q => q.oracle.map(q.name -> _))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "oracle.json"),
      Json.write(sql.toMap))
  }
}

object Relational {
  val Names: Seq[String] = Seq(
    "q01_pricing_summary", "q02_scan_pushdown", "q06_time_buckets",
    "q08_join_dims", "q11_anti_join", "q13_window_running", "q15_global_topn",
    "q24_rollup", "q26_json_props", "q50_asof_join")
}

/** The corpus pipeline over base documents plus an arriving batch:
  * NLP stage, near-duplicate pairs, duplicate clusters (connected
  * components over the pairs), index build, and classification of the
  * batch against the index read back from parquet. */
final class Corpus(dir: String, work: String) extends Workload {
  import Workload._
  val nominalPassS = 12.5
  private var all: DataFrame = _

  def setup(spark: SparkSession, ctx: Ctx): Seq[Op] = {
    all = ctx.load(materialize(Tables.documents(spark, dir)))
    val base = all.filter(!col("batch")).drop("batch")
    val batch = all.filter(col("batch")).drop("batch")
    Seq(
      Op("nlp", c => {
        val cleaned = c.build(NlpPipeline.clean(all, col("text")))
        c.finish(c.build(TfIdf.topKPerDoc(cleaned, col("doc_id"), col("tokens"), 5)), "_topk")
        c.finish(c.build(LexiconSentiment.score(all, col("text")))
          .select("doc_id", "n_pos", "n_neg", "sentiment", "polarity"), "_sentiment")
        c.dumpOnly(cleaned.select("doc_id", "tokens"), "_tokens")
      }),
      Op("neardup", c => c.write(c.build(
        Dedup.nearDuplicates(all, col("doc_id"), col("text"), Threshold, Lsh)), s"$work/$Pairs.parquet")),
      Op("clusters", c => {
        val pairs = c.load(Tables.load(spark, work, Pairs))
        c.finish(c.build(Dedup.connectedComponents(pairs, col("d1"), col("d2"))))
      }),
      Op("index_build", c => c.write(c.build(
        Dedup.buildIndex(base, col("doc_id"), col("text"), Lsh)), s"$work/$Index.parquet")),
      Op("classify", c => {
        val index = c.load(Tables.load(spark, work, Index))
        c.finish(c.build(Dedup.incrementalDedupAgainstIndex(
          index, batch, col("doc_id"), col("text"), Threshold, Lsh)))
      }))
  }

  /** Op outputs later ops read back, written beside the inputs. */
  val Pairs = "neardup_pairs"
  val Index = "dedup_index"

  override def traceCounts(spark: SparkSession): Map[String, Double] = {
    val cand = Dedup.lshCandidates(
      Dedup.minhashSignatures(all, col("doc_id"), col("text"), Lsh), Lsh).count()
    val pairs = Dedup.nearDuplicates(all, col("doc_id"), col("text"), Threshold, Lsh).count()
    Map("dedup.lsh_candidates" -> cand.toDouble, "dedup.verified_pairs" -> pairs.toDouble,
      "dedup.candidate_yield" -> (if (cand == 0) 0.0 else pairs.toDouble / cand))
  }
}
