package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.IndexFixtures.{parquetFiles, rows, tmp, Ann, Lsh, Ngram}
import graft.operators.{Dedup, IndexGen, Similarity}

/** The on-disk format is a contract: indexes written before the shared
  * lifecycle core must open and probe under it. Per family this pins the
  * exact meta.json bytes the per-family writers wrote for fixed
  * parameters, the directory and catalog table names with their DDL, and
  * the manifest format — then lays an index out BY HAND in exactly that
  * format (plain bucketed Spark writes, literal manifests and meta) and
  * probes it through [[IndexGen.open]]. */
class IndexFormatSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def read(file: String): String =
    new String(Files.readAllBytes(Paths.get(file)), "UTF-8")

  private def put(file: String, body: String): Unit =
    Files.write(Paths.get(file), body.getBytes("UTF-8"))

  /** `layout`: (table dir = catalog suffix, schema DDL, bucket columns),
    * in commit order. `idx` was just written from `corpus`. */
  private def pinned(f: IndexFixture)(idx: IndexGen.Index[f.M], json: String,
      layout: Seq[(String, String, Seq[String])], corpus: DataFrame,
      probe: IndexGen.Index[f.M] => DataFrame): Unit = {
    val n = f.family.numBuckets(idx.meta)
    assert(read(s"${idx.path}/meta.json") == json)
    assert(IndexGen.decodeMeta(f.family, json, "golden") == idx.meta)
    assert(new java.io.File(idx.path).list.filterNot(_.startsWith(".")).toSet
      == layout.map(_._1).toSet + "meta.json")
    for ((base, ddl, bucketCols) <- layout) {
      val md = spark.sessionState.catalog.getTableMetadata(
        TableIdentifier(s"${idx.name}_$base"))
      assert(md.schema.toDDL == ddl)
      assert(md.bucketSpec.map(b => (b.numBuckets, b.bucketColumnNames))
        .contains((n, bucketCols)))
      // a manifest is `_manifest.N`: the sorted data-file names, one a line
      val dir = s"${idx.path}/$base"
      assert(read(s"$dir/_manifest.1") == parquetFiles(dir).sorted.mkString("\n"))
    }
    // the same index laid out by hand
    val hand = tmp()
    val tables = f.family.rows(idx.meta, corpus, f.idCol, f.srcCol).tables
    for (((base, _, bucketCols), df) <- layout.zip(tables)) {
      df.repartition(n, bucketCols.map(col): _*).write
        .bucketBy(n, bucketCols.head, bucketCols.tail: _*)
        .option("path", s"$hand/$base").saveAsTable("golden_layout")
      spark.sql("DROP TABLE golden_layout")
      put(s"$hand/$base/_manifest.1",
        parquetFiles(s"$hand/$base").sorted.mkString("\n"))
    }
    put(s"$hand/meta.json", json)
    val opened = IndexGen.open(spark, f.family, hand, s"${idx.name}_hand")
    assert(opened.meta == idx.meta)
    assert(rows(probe(opened)) == rows(probe(idx)))
    // a tagged commit heads the manifest with its `#tag:` line
    IndexGen.append(opened, corpus.withColumn(f.idCol, col(f.idCol) + 1000),
      f.idCol, f.srcCol, batchTag = Some("absorb_0"))
    for ((base, _, _) <- layout) assert(read(s"$hand/$base/_manifest.2") ==
      ("#tag:absorb_0" +: parquetFiles(s"$hand/$base").sorted).mkString("\n"))
  }

  test("LSH on-disk format: meta.json bytes, tables, DDL and manifests") {
    val idx = Lsh.write(Lsh.corpus, tmp(), "gold_lsh")
    pinned(Lsh)(idx, """{"shingleSize":3,"numHashes":64,"bands":16,""" +
      """"numBuckets":4,"maxDocFreq":-1}""",
      Seq(("bands", "id BIGINT,band INT,bucket BIGINT", Seq("band", "bucket")),
        ("posts", "id BIGINT,shingle BIGINT", Seq("id"))),
      Lsh.corpus, Lsh.probeFrame)
    val capped = Dedup.LshIndexMeta(3, 64, 16, 4, Some(25L))
    val json = """{"shingleSize":3,"numHashes":64,"bands":16,""" +
      """"numBuckets":4,"maxDocFreq":25}"""
    assert(IndexGen.encodeMeta(Dedup.Lsh, capped) == json)
    assert(IndexGen.decodeMeta(Dedup.Lsh, json, "golden") == capped)
  }

  test("ANN on-disk format: meta.json bytes, tables, DDL and manifests") {
    val vecs = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
      (2L, Seq(2.0, 0.0)), (3L, Seq(0.0, 3.0)), (4L, Seq(1.0, 1.0)),
      (5L, Seq(3.0, 1.0))).toDF("vec_id", "vec")
    val idx = Similarity.writeAnnIndex(vecs, "vec_id", "vec", tmp(),
      "gold_ann", m = 2, k = 2, nlist = 2, numBuckets = 2)
    pinned(Ann)(idx, """{"m":2,"ds":1,"numBuckets":2,""" +
      """"cents":"1.0 0.0;0.0 1.0","codebooks":"1.0;0.0|0.0;2.0"}""",
      Seq(("lists", "id BIGINT,cent_id INT,codes ARRAY<TINYINT>,rnorm DOUBLE",
        Seq("cent_id"))),
      vecs, i => Similarity.probeAnnIndex(i,
        vecs.select(col("vec_id").as("qid"), col("vec").as("qvec")),
        "qid", "qvec", k = 2, nprobe = 2))
  }

  test("ngram on-disk format: meta.json bytes, tables, DDL and manifests") {
    val idx = Ngram.write(Ngram.corpus, tmp(), "gold_ng")
    pinned(Ngram)(idx, """{"n":4,"numBuckets":4}""",
      Seq(("grams", "id BIGINT,gram BIGINT", Seq("gram"))),
      Ngram.corpus, Ngram.probeFrame)
  }
}
