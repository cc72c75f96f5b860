package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IndexGen, Similarity}
import graft.streaming.VecStream

/** Streaming ANN ingest over the persisted IVF-PQ index
  * (VecStream.ingestAnnStream): probe -> absorb -> probe across a
  * checkpoint restart equals the sequential batch API; replayed batches
  * never double-absorb; the auto-compaction trigger bounds files per
  * bucket without changing results. */
class VecStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Dim = 16

  private def vecsDF(ids: Seq[Long], scale: Double = 1.0): DataFrame =
    ids.toDF("vec_id").select(col("vec_id"),
      transform(sequence(lit(0), lit(Dim - 1)),
        i => (sin(col("vec_id") % 100 * 0.37 + i * 1.13)
          + cos(col("vec_id") % 5 * 2.1 - i * 0.5)) * scale)
        .cast("array<float>").as("embedding"))

  private def tmp() =
    java.nio.file.Files.createTempDirectory("vecstream").toString

  private def pairsOf(dir: String) =
    spark.read.parquet(dir)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("c"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sorted.toSeq

  test("two-batch streaming ingest == the sequential batch API") {
    val base = tmp()
    val corpus = vecsDF(0L until 80L)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val idx = Similarity.writeAnnIndex(corpus, "vec_id", "vec",
      s"$base/idx", "vecstream_eq", m = 4, k = 8, nlist = 8,
      numBuckets = 4)
    // batch1 ids 1000+: near-twins of ids 0..19 (vec_id % 100 folds the
    // shifted id back onto the original's vector, scaled slightly)
    val batch1 = vecsDF(1000L until 1020L, scale = 1.01)
    val batch2 = vecsDF(2000L until 2020L, scale = 1.02)
    val (docs, out, ckpt) = (s"$base/docs", s"$base/out", s"$base/ckpt")
    batch1.coalesce(1).write.mode("append").parquet(docs)
    VecStream.ingestAnnStream(spark, docs, idx, out, ckpt, k = 3,
      nprobe = 3)
    batch2.coalesce(1).write.mode("append").parquet(docs)
    VecStream.ingestAnnStream(spark, docs, idx, out, ckpt, k = 3,
      nprobe = 3)
    val got = pairsOf(out)

    // sequential reference: probe b1, absorb b1, probe b2 — batch API
    val ref = tmp()
    val refIdx = Similarity.writeAnnIndex(corpus, "vec_id", "vec",
      s"$ref/idx", "vecstream_ref", m = 4, k = 8, nlist = 8,
      numBuckets = 4)
    def qs(b: DataFrame) = b.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qvec"))
    def vb(b: DataFrame) = b.select(col("vec_id"),
      col("embedding").cast("array<double>").as("vec"))
    val p1 = Similarity.probeAnnIndex(refIdx, qs(batch1), "qid", "qvec",
      k = 3, nprobe = 3)
    p1.write.mode("append").parquet(s"$ref/out")
    IndexGen.append(refIdx, vb(batch1), "vec_id", "vec")
    val p2 = Similarity.probeAnnIndex(refIdx, qs(batch2), "qid", "qvec",
      k = 3, nprobe = 3)
    p2.write.mode("append").parquet(s"$ref/out")
    val want = pairsOf(s"$ref/out")

    assert(got.nonEmpty && got == want)
    // batch2 must see batch1's absorbed vectors (same folded vector
    // family, closer scale than the corpus originals)
    assert(got.exists(p => p._1 >= 2000L && p._3 >= 1000L && p._3 < 2000L),
      s"batch2 should retrieve batch1 neighbors: $got")
  }

  test("a replayed stream never double-absorbs (marker discipline)") {
    val base = tmp()
    val corpus = vecsDF(0L until 40L)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val idx = Similarity.writeAnnIndex(corpus, "vec_id", "vec",
      s"$base/idx", "vecstream_replay", m = 4, k = 8, nlist = 8,
      numBuckets = 4)
    val batch = vecsDF(1000L until 1010L, scale = 1.01)
    batch.coalesce(1).write.mode("append").parquet(s"$base/docs")
    VecStream.ingestAnnStream(spark, s"$base/docs", idx, s"$base/out",
      s"$base/ckpt", k = 3, nprobe = 3)
    val filesAfterOnce = new java.io.File(idx.dir("lists")).listFiles()
      .count(_.getName.endsWith(".parquet"))
    // replay the SAME batch id against a fresh checkpoint: the absorb
    // marker (not the checkpoint) is what prevents the double append
    assert(!IndexGen.absorbOnce(idx, batch.select(col("vec_id"),
        col("embedding").cast("array<double>").as("vec")), "vec_id", "vec", 0L),
      "batchId 0 was already absorbed; the marker must skip it")
    val filesAfterReplay = new java.io.File(idx.dir("lists")).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesAfterReplay == filesAfterOnce)
  }

  test("compactAtFilesPerBucket bounds files without changing results") {
    def run(compact: Option[Int]): (Seq[(Long, Int, Long, Double)], Int, Int) = {
      val base = tmp()
      val corpus = vecsDF(0L until 60L)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      var idx = Similarity.writeAnnIndex(corpus, "vec_id", "vec",
        s"$base/idx", s"vecstream_cpt_${compact.isDefined}", m = 4,
        k = 8, nlist = 8, numBuckets = 4)
      for ((lo, i) <- Seq(1000L, 2000L, 3000L).zipWithIndex) {
        vecsDF(lo until lo + 10L, scale = 1.0 + 0.01 * (i + 1))
          .coalesce(1).write.mode("append").parquet(s"$base/docs")
        VecStream.ingestAnnStream(spark, s"$base/docs", idx, s"$base/out",
          s"$base/ckpt", k = 3, nprobe = 3,
          compactAtFilesPerBucket = compact)
        // track the live generation like a long-running stream would
        idx = IndexGen.open(spark, Similarity.Ann, s"$base/idx",
          s"vecstream_cpt_${compact.isDefined}")
      }
      val files = new java.io.File(idx.dir("lists")).listFiles()
        .count(_.getName.endsWith(".parquet"))
      (pairsOf(s"$base/out"), files, idx.gen)
    }
    val (plain, filesPlain, genPlain) = run(None)
    val (bounded, filesBounded, genBounded) = run(Some(1))
    assert(plain == bounded,
      "compaction must never change probe results")
    assert(genPlain == 0 && genBounded >= 1,
      s"the trigger must have compacted: gen $genBounded")
    assert(filesBounded <= 4 && filesBounded < filesPlain,
      s"files must stay bounded: $filesBounded vs $filesPlain")
  }
}
