package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.IndexFixtures.{Ann, tmp}
import graft.operators.Similarity

/** Persisted IVF-PQ ANN index, family-specific behaviour: probe == inline
  * pqTopK by construction, and the exact re-rank over the ADC candidates.
  * The shared lifecycle (append/retract/compact, the exchange-free probe,
  * crash safety) runs for every family in IndexCrashSpec. */
class AnnIndexSpec extends AnyFunSuite {

  private def corpus: DataFrame = Ann.corpus

  test("probe over the persisted index == inline pqTopK (residual model)") {
    val got = Ann.probe(Ann.write(corpus, tmp(), "annspec_eq"))
    val model = Similarity.pqTrainResidual(corpus, "vec_id", "vec",
      m = 4, k = 8, nlist = 8)
    val want = IndexFixtures.rows(Similarity.pqTopK(corpus, "vec_id", "vec",
      Ann.queries, "qid", "qvec", k = 5, model, nlist = 8, nprobe = 3))
    assert(got.nonEmpty && got == want)
  }

  // ------------------------------------------------------------- re-rank

  /** Exact brute-force top-k with the probe contract's order (round-6
    * cosine desc, neighbor id asc), computed in plain Scala. */
  private def bruteTopK(c: Seq[(Long, Seq[Double])], k: Int)
      : Map[Long, Seq[Long]] = {
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    val qs = c.filter(_._1 % 30 == 0)
    qs.map { case (qid, qv) =>
      val qn = math.sqrt(dot(qv, qv))
      qid -> c.filter(_._1 != qid).map { case (id, v) =>
        val cos = math.rint(dot(qv, v) / (qn * math.sqrt(dot(v, v))) * 1e6)
        (-cos, id)
      }.sorted.take(k).map(_._2)
    }.toMap
  }

  test("rerank at full routing and candK >= corpus == exact brute force") {
    // with every list probed and no candidate cut, the re-rank IS the
    // exact top-k: quantization decides nothing, the output order is the
    // round-6 exact-cosine contract — the recall-1.0 anchor of the
    // PLANS.md r15 operating-point curve
    val idx = Ann.write(corpus, tmp(), "annspec_rr")
    val got = Similarity.probeAnnIndexRerank(idx, Ann.queries,
        "qid", "qvec", k = 5, vectors = corpus, vecIdCol = "vec_id",
        vecCol = "vec", nprobe = 8, candK = 200)
      .orderBy(col("query_id"), col("rank"))
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val rows = corpus.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    assert(got == bruteTopK(rows, 5))
  }

  test("rerank candidates come from the ADC probe: a routed-away true " +
      "neighbor stays missing (routing is the only residual loss)") {
    val idx = Ann.write(corpus, tmp(), "annspec_rr2")
    // nprobe = 1: candidates confined to each query's best list — the
    // re-ranked output must be the exact order RESTRICTED to the ADC
    // candidate set (subset check), never better than routing allows
    val cands = Similarity.probeAnnIndex(idx, Ann.queries,
        "qid", "qvec", k = 200, nprobe = 1)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rr = Similarity.probeAnnIndexRerank(idx, Ann.queries,
        "qid", "qvec", k = 5, vectors = corpus, vecIdCol = "vec_id",
        vecCol = "vec", nprobe = 1, candK = 200)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rr.nonEmpty && rr.subsetOf(cands),
      "re-ranked neighbors must be drawn from the routed candidate set")
  }
}
