package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.IndexFixtures.{Ngram, tmp}
import graft.operators.{Contam, IndexGen}
import graft.pipeline.Pins

/** Persisted n-gram contamination index, family-specific behaviour:
  * result equivalence with an inline gram join, decontamination, the
  * streaming screen, and the countDistinct probe's immunity to duplicated
  * rows. The shared lifecycle (append/retract/compact, the exchange-free
  * probe, crash safety) runs for every family in IndexCrashSpec. */
class ContamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val N = 4 // small gram width so the tiny fixture overlaps

  /** Inline reference: distinct-gram join, no index. */
  private def inlineProbe(b: org.apache.spark.sql.DataFrame) = {
    val bg = Contam.gramDigests(Ngram.probeBatch, "doc_id", "text", N)
    val ig = Contam.gramDigests(b, "doc_id", "text", N)
      .select(col("gram"), col("id").as("src"))
    val hits = bg.join(ig, Seq("gram")).groupBy(col("id"))
      .agg(countDistinct(col("gram")).as("n_hits"),
        countDistinct(col("src")).as("n_sources"))
    IndexFixtures.rows(bg.groupBy(col("id")).agg(count(lit(1)).as("n_grams"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), col("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_sources"), lit(0L)).as("n_sources")))
  }

  /** id -> (n_grams, n_hits, n_sources) */
  private def stats(rows: Seq[Seq[Any]]): Map[Long, (Long, Long, Long)] =
    rows.map(r => r.head.asInstanceOf[Long] -> ((r(1).asInstanceOf[Long],
      r(2).asInstanceOf[Long], r(3).asInstanceOf[Long]))).toMap

  test("probe over the persisted index == inline gram join; hits planted") {
    val idx = Ngram.write(Ngram.corpus, tmp(), "contam_eq")
    val got = Ngram.probe(idx)
    assert(got == inlineProbe(Ngram.corpus))
    assert(stats(got).count(_._2._2 > 0) == 3, "3 planted contaminated docs")
    assert(got.size == 12, "every batch doc answers, hit or not")
  }

  test("decontaminate: kept ∪ dropped partition the corpus, provenance right") {
    val idx = Ngram.write(Ngram.corpus, tmp(), "contam_act")
    val batch = Ngram.probeBatch
    // conservative screen: ANY shared gram drops the doc — exactly the 3
    // planted contaminated batch docs must fall
    val (kept, dropped) = Contam.decontaminate(idx, batch, "doc_id",
      "text", maxHitFrac = 0.0)
    val keptRows = kept.collect().map(r => (r.getLong(0), r.getString(1)))
    val dropRows = dropped.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    Pins.flush()
    val want = stats(inlineProbe(Ngram.corpus))
    assert(dropRows.keySet == want.filter(_._2._2 > 0).keySet,
      "dropped = exactly the docs with any benchmark hit")
    assert(dropRows.keySet.size == 3)
    for ((id, (ng, nh, ns)) <- dropRows)
      assert(want(id) == ((ng, nh, ns)), s"provenance for $id")
    // kept keeps ORIGINAL columns (text intact) and partitions the corpus
    val original = batch.collect().map(r => (r.getLong(0), r.getString(1)))
      .toMap
    assert(keptRows.toMap == (original -- dropRows.keySet))
    assert(keptRows.map(_._1).toSet.intersect(dropRows.keySet).isEmpty)
    assert(keptRows.size + dropRows.size == 12)
    // a permissive bar keeps everything and drops nothing
    val (k2, d2) = Contam.decontaminate(idx, batch, "doc_id", "text",
      maxHitFrac = 1.0)
    assert(d2.isEmpty && k2.count() == 12)
    Pins.flush()
  }

  test("an untagged double append cannot change a probe answer " +
      "(countDistinct)") {
    val idx = Ngram.write(Ngram.corpus, tmp(), "contam_dup")
    def grams = spark.table(idx.table("grams"))
    val g0 = grams.count()
    IndexGen.append(idx, Ngram.batch(100), "doc_id", "text")
    val g1 = grams.count()
    val once = Ngram.probe(idx)
    IndexGen.append(idx, Ngram.batch(100), "doc_id", "text")
    assert(grams.count() == g1 + (g1 - g0),
      "sanity: an untagged re-append duplicates the batch's rows")
    assert(Ngram.probe(idx) == once)
  }

  test("streaming decontamination screen == batch probe over both batches") {
    import java.nio.file.Files
    val idx = Ngram.write(Ngram.corpus, tmp(), "contam_stream")
    val in = Files.createTempDirectory("contam-in")
    val out = Files.createTempDirectory("contam-out").toString + "/stats"
    val ckpt = Files.createTempDirectory("contam-ckpt").toString
    val b1 = Ngram.probeBatch.filter(col("doc_id") < 2006L)
    val b2 = Ngram.probeBatch.filter(col("doc_id") >= 2006L)
    b1.coalesce(1).write.parquet(in.resolve("b1").toString)
    graft.streaming.DocStream.screenContamStream(spark,
      in.toString + "/*", idx, out, ckpt)
    b2.coalesce(1).write.parquet(in.resolve("b2").toString)
    graft.streaming.DocStream.screenContamStream(spark,
      in.toString + "/*", idx, out, ckpt)
    val got = IndexFixtures.rows(spark.read.parquet(out))
    Pins.flush()
    assert(got == Ngram.probe(idx), "streamed stats must equal the batch probe")
    assert(got.size == 12, "second micro-batch processed exactly once")
  }
}
