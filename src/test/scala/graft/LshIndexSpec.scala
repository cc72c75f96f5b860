package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.IndexFixtures.{Lsh, tmp}
import graft.operators.{Dedup, IndexGen}
import graft.pipeline.Pins

/** Persisted LSH index, family-specific behaviour: output equivalence
  * with the inline incremental path, and cross-session re-registration
  * of an index built with a shingle doc-frequency cap. The shared
  * lifecycle (append/retract/compact, the exchange-free probe, crash
  * safety) runs for every family in IndexCrashSpec. */
class LshIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("probe over the persisted index == inline incrementalLshPairs") {
    val viaIndex = Lsh.probe(Lsh.write(Lsh.corpus, tmp(), "lshspec_eq"))
    val inline = IndexFixtures.rows(Dedup.incrementalLshPairs(Lsh.corpus,
      Lsh.batch(2000), "doc_id", "text", shingleSize = 3, numHashes = 64,
      bands = 16, threshold = 0.5))
    Pins.flush()
    assert(viaIndex.nonEmpty, "fixture must plant near-dup pairs")
    assert(viaIndex == inline)
    // every pair has a batch-side member (ids are disjoint by contract)
    assert(viaIndex.forall(_(1).asInstanceOf[Long] >= 2000L))
  }

  test("readLshIndex re-registers the bucketed tables from meta.json (cross-session)") {
    val path = tmp()
    val written = Dedup.writeLshIndex(Lsh.corpus, "doc_id", "text", path,
      "lshspec_xs", shingleSize = 3, numHashes = 64, bands = 16,
      numBuckets = 4, maxDocFreq = Some(25L))
    val expected = Lsh.probe(written)
    // simulate a later session: the catalog entries are gone, only the
    // files + meta.json remain
    spark.sql(s"DROP TABLE ${written.table("bands")}")
    spark.sql(s"DROP TABLE ${written.table("posts")}")
    val idx = IndexGen.open(spark, Dedup.Lsh, path, "lshspec_xs")
    assert(idx.meta == written.meta &&
      idx.meta.maxDocFreq.contains(25L), s"meta round-trip: ${idx.meta}")
    assert(Lsh.probe(idx) == expected)
  }

  test("index under a file:-qualified URI: meta writes where probes read") {
    // meta.json must resolve its FileSystem from the session conf
    // (IndexGen.fs) like the table writers do — with a default
    // `new Configuration()` a Spark-conf-only fs.defaultFS would send
    // meta.json to a different filesystem than the probe reads. Here the
    // catalog entries stay: open re-points the live tables.
    val path = "file:" + tmp()
    val written = Lsh.write(Lsh.corpus, path, "lshspec_uri")
    val expected = Lsh.probe(written)
    val idx = IndexGen.open(spark, Dedup.Lsh, path, "lshspec_uri")
    assert(idx.meta == written.meta, "meta.json round-trip under file: URI")
    val got = Lsh.probe(idx)
    assert(got == expected && got.nonEmpty)
  }
}
