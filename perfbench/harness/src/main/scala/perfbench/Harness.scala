package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The in-process `registry_ops` workload, driven by `perfbench/run.py`:
  *
  *   Harness --data <dir> --out <dir> --queries a,b,... --seconds <n>
  *          --cpus <n> --trace 0|1 [--probe 1]
  *
  * Prints `READY <epoch ms>` once the SparkSession is up, then one
  * `UNIT {json}` line per pass over the queries, timed from the first pass
  * on, until `--seconds` have passed (at least one pass). `--probe 1` stops
  * after READY (a set-up sample). `--trace 1` registers the benchmark's
  * listeners ([[Trace]]). */
object Harness {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cpus = opt.getOrElse("cpus", "4")

    val b = SparkSession.builder() // graft.Bench's settings
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.join.preferSortMergeJoin", "false")
    if (opt.get("trace").contains("1")) b
      .config("spark.extraListeners", "perfbench.Trace")
      .config("spark.sql.queryExecutionListeners", "perfbench.TraceQe")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(s"READY ${System.currentTimeMillis()}")
    if (opt.get("probe").contains("1")) { spark.stop(); return }

    val data = opt("data")
    val out = opt("out")
    val names = opt("queries").split(",").toSeq
    // the oracle SQL of the named queries, for tools/check_oracle.py
    val sql = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
      .map { case (n, s) => s"${Trace.str(n)}:${Trace.str(s)}" }
      .mkString("{", ",", "}")
    new java.io.File(out).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      sql.getBytes("UTF-8"))

    val seconds = opt("seconds").toDouble
    val start = System.nanoTime()
    var k = 0
    while (k == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      println(s"""UNIT {"k":$k,${registryUnit(spark, data, names, s"$out/u$k")}}""")
      k += 1
    }
    spark.stop()
  }

  /** Untimed between queries, as graft.Bench does: drop every cache and
    * checkpoint a query left, so queries stay independent. */
  private def cleanup(spark: SparkSession): Unit = {
    graft.pipeline.Pins.flush()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** One pass over the query set: each query is built (the QueryDef call,
    * which runs any eager jobs), then materialized by a parquet write under
    * `dir`, which perfbench/run.py compares with the DuckDB oracle. */
  private def registryUnit(spark: SparkSession, data: String,
      names: Seq[String], dir: String): String = {
    val qs = names.map { n =>
      val t0 = System.currentTimeMillis()
      try {
        val df = SparkEntry.queries(n)(spark, data)
        val t1 = System.currentTimeMillis()
        df.write.mode("overwrite").parquet(s"$dir/$n")
        val t2 = System.currentTimeMillis()
        cleanup(spark)
        s""""$n":{"ok":true,"t0":$t0,"t1":$t1,"t2":$t2}"""
      } catch { case e: Throwable =>
        cleanup(spark)
        s""""$n":{"ok":false,"t0":$t0,"err":${Trace.str(String.valueOf(e))}}"""
      }
    }
    s""""ok":${!qs.exists(_.contains("\"ok\":false"))},"dir":${Trace.str(dir)},""" +
      s""""queries":${qs.mkString("{", ",", "}")}"""
  }
}
