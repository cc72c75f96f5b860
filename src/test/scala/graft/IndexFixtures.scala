package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.operators.{Contam, Dedup, IndexGen, Similarity}
import graft.pipeline.Pins

/** One persisted-index family under test: its fixture rows, its writer
  * at small fixed parameters, and its probe over a fixed probe batch.
  * `batch(shift)` holds new ids (`shift` + a corpus id) whose rows
  * near-duplicate part of the corpus AND of the probe batch, so an
  * absorbed batch always changes the probe's answer. */
abstract class IndexFixture(val label: String, val idCol: String,
    val srcCol: String, val probeTable: String) {
  type M
  def family: IndexGen.Family[M]
  def corpus: DataFrame
  def batch(shift: Long): DataFrame
  def write(df: DataFrame, path: String, name: String): IndexGen.Index[M]
  def probeFrame(idx: IndexGen.Index[M]): DataFrame

  /** The probe's answer, canonical: doubles at 6 dp, rows sorted. */
  def probe(idx: IndexGen.Index[M]): Seq[Seq[Any]] = {
    val got = IndexFixtures.rows(probeFrame(idx))
    Pins.flush()
    got
  }
}

object IndexFixtures {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def tmp(): String =
    java.nio.file.Files.createTempDirectory("idx").toString

  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => math.rint(d * 1e6)
      case v => v
    }).sortBy(_.mkString("|"))

  def parquetFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir.stripPrefix("file:")).listFiles).toSeq
      .flatten.map(_.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("."))

  /** For every scan of catalog table `table` in `df`'s physical plan
    * (broadcast joins disabled, AQE's initial plan): whether it is a
    * bucketed scan, and how many shuffle exchanges sit between it and
    * its nearest shuffle join — the "index side contributes no
    * exchange" contract is (true, 0) everywhere. */
  def indexScans(df: DataFrame, table: String): Seq[(Boolean, Int)] = {
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    def walk(p: SparkPlan, ex: Int): Seq[(Boolean, Int)] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.inputPlan, ex)
      case s: FileSourceScanExec =>
        if (s.tableIdentifier.exists(_.table == table))
          Seq((s.bucketedScan, ex))
        else Nil
      case e: ShuffleExchangeExec => walk(e.child, ex + 1)
      case j @ (_: SortMergeJoinExec | _: ShuffledHashJoinExec) =>
        j.children.flatMap(walk(_, 0))
      case o => o.children.flatMap(walk(_, ex))
    }
    try walk(df.queryExecution.executedPlan, 0)
    finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      Pins.flush()
    }
  }

  /** 30 documents of 12 words; a variant drops the first word, which
    * keeps a high 3-shingle Jaccard with its original. */
  lazy val docs: DataFrame = (0L until 30L).map { i =>
    (i, (0 until 12).map(k => s"w${(i * 7 + k * 3) % 50}").mkString(" "))
  }.toDF("doc_id", "text")

  def variants(df: DataFrame, shift: Long): DataFrame =
    df.select((col("doc_id") + shift).as("doc_id"),
      regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))

  object Lsh extends IndexFixture("LSH", "doc_id", "text", "bands") {
    type M = Dedup.LshIndexMeta
    def family = Dedup.Lsh
    def corpus = docs
    def batch(shift: Long) = variants(docs.filter(col("doc_id") % 4 === 0),
      shift)
    def write(df: DataFrame, path: String, name: String) =
      Dedup.writeLshIndex(df, "doc_id", "text", path, name, shingleSize = 3,
        numHashes = 64, bands = 16, numBuckets = 4)
    def probeFrame(idx: Dedup.LshIndex) =
      Dedup.probeLshIndex(idx, batch(2000), "doc_id", "text", threshold = 0.5)
  }

  object Ann extends IndexFixture("ANN", "vec_id", "vec", "lists") {
    type M = Similarity.AnnIndexMeta
    def family = Similarity.Ann
    lazy val corpus: DataFrame = spark.range(0, 120).toDF("vec_id")
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(15)),
          i => sin(col("vec_id") * 0.37 + i * 1.13)
            + cos(col("vec_id") % 5 * 2.1 - i * 0.5)).as("vec"))
    /** Near-twins (scaled 1.01) of every fourth vector. */
    def batch(shift: Long) = corpus.filter(col("vec_id") % 4 === 0)
      .select((col("vec_id") + shift).as("vec_id"),
        transform(col("vec"), x => x * 1.01).as("vec"))
    def queries = corpus.filter(col("vec_id") % 30 === 0)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    def write(df: DataFrame, path: String, name: String) =
      Similarity.writeAnnIndex(df, "vec_id", "vec", path, name, m = 4, k = 8,
        nlist = 8, numBuckets = 4)
    def probeFrame(idx: Similarity.AnnIndex) =
      Similarity.probeAnnIndex(idx, queries, "qid", "qvec", k = 5, nprobe = 3)
  }

  object Ngram extends IndexFixture("ngram", "doc_id", "text", "grams") {
    type M = Contam.NgramIndexMeta
    def family = Contam.Ngram
    /** 6 benchmark documents. */
    lazy val corpus: DataFrame = (0L until 6L).map { i =>
      (i, (0 until 8).map(k => s"b${(i * 5 + k) % 40}").mkString(" "))
    }.toDF("doc_id", "text")
    def batch(shift: Long) = corpus.select((col("doc_id") + shift)
      .as("doc_id"), concat(col("text"), lit(" tail")).as("text"))
    /** 12 training documents, ids 2000+; every fourth embeds a benchmark
      * document verbatim (planted contamination). */
    lazy val probeBatch: DataFrame = (0L until 12L).map { i =>
      val own = (0 until 6).map(k => s"p${(i * 3 + k) % 30}").mkString(" ")
      val text = if (i % 4 == 0)
        own + " " + (0 until 8).map(k => s"b${((i / 4) * 5 + k) % 40}")
          .mkString(" ")
      else own
      (i + 2000L, text)
    }.toDF("doc_id", "text")
    def write(df: DataFrame, path: String, name: String) =
      Contam.writeNgramIndex(df, "doc_id", "text", path, name, n = 4,
        numBuckets = 4)
    def probeFrame(idx: Contam.NgramIndex) =
      Contam.probeNgramIndex(idx, probeBatch, "doc_id", "text")
  }

  val all: Seq[IndexFixture] = Seq(Lsh, Ann, Ngram)
}
