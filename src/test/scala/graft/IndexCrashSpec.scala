package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.IndexFixtures.{parquetFiles, tmp}
import graft.operators.{Contam, Dedup, IndexGen}

/** The persisted-index lifecycle and its crash protocol, run over every
  * family in [[IndexFixtures.all]] (LSH, ANN, n-gram): torn-append
  * repair, tagged exactly-once replay, the writer lease, append ==
  * rebuild, retract == rebuild-without, compaction, the exchange-free
  * probe, cross-session open, the compaction trigger, the BIGINT id
  * contract and one file per bucket. A torn append is simulated by
  * re-installing the pre-append manifests after a REAL append, i.e. a
  * crash anywhere before the manifest commits. Family-specific crash
  * cases (the LSH two-table commit window) and the lease protocol
  * itself follow the loop. */
class IndexCrashSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def dirs(idx: IndexGen.Index[_]): Seq[String] =
    idx.family.tables.map(t => idx.dir(t.base))

  private def counts(idx: IndexGen.Index[_]): Seq[Long] =
    idx.family.tables.map(t => spark.table(idx.table(t.base)).count())

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val saved = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally saved.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  for (f <- IndexFixtures.all) {
    val key = f.label.toLowerCase
    def fresh(name: String): (String, IndexGen.Index[f.M]) = {
      val path = tmp()
      (path, f.write(f.corpus, path, s"${name}_$key"))
    }
    def rebuilt(like: IndexGen.Index[f.M], rows: org.apache.spark.sql.DataFrame) =
      IndexGen.write(f.family, rows, f.idCol, f.srcCol, tmp(),
        s"${like.name}_ref")(like.meta)
    def add(idx: IndexGen.Index[f.M], shift: Long,
        tag: Option[String] = None): Unit =
      IndexGen.append(idx, f.batch(shift), f.idCol, f.srcCol, tag)

    test(s"${f.label}: a torn batch append is repaired — probes answer as " +
        "before") {
      val (path, idx) = fresh("crash_torn")
      val base = f.probe(idx)
      val snaps = dirs(idx).map(d => d -> IndexGen.manifestSnapshot(spark, d))
      val files = dirs(idx).map(parquetFiles(_).size)
      add(idx, 1000)
      assert(dirs(idx).map(parquetFiles(_).size) != files, "sanity")
      // the data files landed but no manifest committed
      snaps.foreach { case (d, m) => IndexGen.restoreManifest(spark, d, m) }
      val reopened = IndexGen.open(spark, f.family, path, idx.name)
      assert(f.probe(reopened) == base,
        "after repair the probe must not see any of the torn append")
    }

    test(s"${f.label}: a TAGGED replay of a fully-committed append is " +
        "exactly-once (the commit-to-marker crash window)") {
      // the streaming absorb writes its _absorbed_ marker AFTER the
      // append; a crash in between replays a batch whose manifests
      // already committed. Untagged, the batch lands twice — duplicated
      // LSH postings double one side of every jaccard rescore count, a
      // duplicated ANN list row holds two top-k ranks. The tag commits
      // atomically with each manifest, so the replay appends nothing.
      val (path, idx) = fresh("crash_tag")
      val base = f.probe(idx)
      add(idx, 1000, Some("absorb_0")) // absorbOnce's tag for batchId 0
      val rows1 = counts(idx)
      val probe1 = f.probe(idx)
      assert(probe1 != base)
      val marker = new java.io.File(path, "_absorbed_0")
      assert(!marker.exists)
      assert(IndexGen.absorbOnce(idx, f.batch(1000), f.idCol, f.srcCol, 0L),
        "the replay runs the (no-op) append and writes the marker")
      assert(marker.exists)
      assert(counts(idx) == rows1, "the replay must not re-append any table")
      assert(f.probe(idx) == probe1)
      assert(!IndexGen.absorbOnce(idx, f.batch(1000), f.idCol, f.srcCol, 0L),
        "the marker short-circuits the next replay")
      // a DIFFERENT tag is a new batch and does append
      add(idx, 3000, Some("absorb_1"))
      assert(counts(idx).zip(rows1).forall { case (n, n1) => n > n1 })
    }

    test(s"${f.label}: append and retract take the writer lease") {
      // commitManifest snapshots the directory's CURRENT file set, so two
      // concurrent appends would have each other's half-written files
      // legitimized; a tombstone appended between a compaction's
      // tombstones read and its clear would be silently dropped. A live
      // lease makes both raise with nothing written.
      val (path, idx) = fresh("crash_lease")
      val base = f.probe(idx)
      val lock = new java.io.File(path, "_writer_lock")
      assert(lock.createNewFile(), "simulated concurrent writer")
      val ids = f.batch(1000).select(col(f.idCol))
      for (e <- Seq(
          intercept[IllegalStateException](add(idx, 1000)),
          intercept[IllegalStateException](
            IndexGen.retract(idx, ids, f.idCol))))
        assert(e.getMessage.contains("single-writer"))
      assert(!new java.io.File(path, "tombstones").exists)
      assert(f.probe(IndexGen.open(spark, f.family, path, idx.name)) == base,
        "the locked-out writers must have written nothing")
      assert(lock.delete())
      add(idx, 1000)
      assert(!lock.exists, "the append lease is released")
      assert(f.probe(idx) != base)
      IndexGen.retract(idx, ids, f.idCol)
      assert(!lock.exists, "the retract lease is released")
      assert(f.probe(idx) == base, "retracting the appended ids hides them")
    }

    test(s"${f.label}: append == index rebuilt from scratch with the same " +
        "meta") {
      val (_, idx) = fresh("app")
      val base = f.probe(idx)
      add(idx, 1000)
      val got = f.probe(idx)
      // the same meta: an ANN reference encodes with the model trained on
      // the ORIGINAL corpus (the persisted model is frozen at write time)
      assert(got == f.probe(rebuilt(idx, f.corpus.unionByName(f.batch(1000)))))
      assert(got != base, "the appended batch must reach the probe")
    }

    test(s"${f.label}: retraction == index rebuilt without the retracted " +
        "ids; compaction keeps it") {
      val (path, idx) = fresh("rtr")
      val base = f.probe(idx)
      val gone = f.corpus.filter(col(f.idCol) % 3 === 0)
      IndexGen.retract(idx, gone.select(col(f.idCol)), f.idCol)
      val got = f.probe(idx)
      assert(got == f.probe(rebuilt(idx,
        f.corpus.filter(col(f.idCol) % 3 =!= 0))))
      assert(got != base, "the retraction must reach the probe")
      // compaction applies the tombstones physically and clears them
      val compacted = IndexGen.compact(spark, idx)
      assert(!new java.io.File(path, "tombstones").exists)
      assert(f.probe(compacted) == got)
      // a retracted id can be re-added AFTER compaction
      IndexGen.append(compacted, gone, f.idCol, f.srcCol)
      assert(f.probe(compacted) == base)
    }

    test(s"${f.label}: compaction packs one file per bucket; the compacted " +
        "generation reopens and takes appends") {
      val (path, idx) = fresh("cpt")
      add(idx, 1000)
      add(idx, 3000)
      val before = f.probe(idx)
      assert(dirs(idx).exists(IndexGen.maxFilesPerBucket(spark, _) > 1),
        "two appends must leave several files in some bucket")
      val compacted = IndexGen.compact(spark, idx)
      assert(compacted.gen == 1)
      for (d <- dirs(compacted)) {
        assert(d.endsWith(".c1") && parquetFiles(d).size <= 4)
        assert(IndexGen.maxFilesPerBucket(spark, d) == 1, d)
      }
      dirs(idx).foreach(d => assert(parquetFiles(d).isEmpty,
        s"generation 0 must be retention-swept: $d"))
      assert(f.probe(compacted) == before)
      // a later session resolves the committed generation from its marker
      f.family.tables.foreach(t =>
        spark.sql(s"DROP TABLE ${compacted.table(t.base)}"))
      val reopened = IndexGen.open(spark, f.family, path, idx.name)
      assert(reopened.gen == 1 && f.probe(reopened) == before)
      val rows = counts(reopened)
      add(reopened, 5000)
      assert(counts(reopened).zip(rows).forall { case (n, n0) => n > n0 },
        "appends land in the compacted generation")
    }

    test(s"${f.label}: the probe's index side is a bucketed scan with NO " +
        "exchange (after write, append, retract and compaction)") {
      val (_, idx) = fresh("plan")
      def check(i: IndexGen.Index[f.M], state: String): Unit = {
        val scans = IndexFixtures.indexScans(f.probeFrame(i),
          i.table(f.probeTable))
        assert(scans.nonEmpty && scans.forall(_ == ((true, 0))),
          s"$state: (bucketed, exchanges) per index scan = $scans")
      }
      check(idx, "fresh write")
      add(idx, 1000)
      check(idx, "after append")
      // tombstones filter through a BROADCAST anti-join, which keeps the
      // bucketed partitioning
      IndexGen.retract(idx, f.batch(1000).select(col(f.idCol)), f.idCol)
      check(idx, "with tombstones")
      check(IndexGen.compact(spark, idx), "after compaction")
    }

    test(s"${f.label}: open re-registers the tables from meta.json under a " +
        "file: URI (cross-session)") {
      // meta.json resolves its FileSystem through the session conf, like
      // the table writers: a default `new Configuration()` would drop a
      // Spark-conf-only fs.defaultFS and write it elsewhere
      val path = "file:" + tmp()
      val written = f.write(f.corpus, path, s"uri_$key")
      val want = f.probe(written)
      // a later session: the catalog entries are gone, only files remain
      f.family.tables.foreach(t =>
        spark.sql(s"DROP TABLE ${written.table(t.base)}"))
      val idx = IndexGen.open(spark, f.family, path, written.name)
      assert(idx.meta == written.meta && idx.gen == 0)
      assert(want.nonEmpty && f.probe(idx) == want)
    }

    test(s"${f.label}: maybeCompact triggers only past the files-per-bucket " +
        "bar") {
      val (_, idx) = fresh("mcpt")
      assert(IndexGen.maybeCompact(spark, idx, 1) eq idx,
        "a fresh write is already packed")
      add(idx, 1000)
      val appended = f.probe(idx)
      assert(IndexGen.maybeCompact(spark, idx, 2) eq idx)
      val compacted = IndexGen.maybeCompact(spark, idx, 1)
      assert(compacted.gen == 1 && f.probe(compacted) == appended)
    }

    test(s"${f.label}: write, append and retract refuse non-BIGINT ids") {
      val bad = f.corpus.withColumn(f.idCol, col(f.idCol).cast("int"))
      val (_, idx) = fresh("bad")
      for (e <- Seq(
          intercept[IllegalArgumentException](f.write(bad, tmp(), "bad")),
          intercept[IllegalArgumentException](
            IndexGen.append(idx, bad, f.idCol, f.srcCol)),
          intercept[IllegalArgumentException](
            IndexGen.retract(idx, bad.select(col(f.idCol)), f.idCol))))
        assert(e.getMessage.contains("BIGINT"))
    }

    test(s"${f.label}: a fresh write and each append leave at most one file " +
        "per bucket") {
      // without partition coalescing every post-shuffle task holds rows of
      // every bucket: only the bucket-hash repartition keeps it to one file
      withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
        val (_, idx) = fresh("fpb")
        def worst = dirs(idx).map(IndexGen.maxFilesPerBucket(spark, _)).max
        assert(worst == 1)
        for (n <- 1 to 2) {
          add(idx, 1000L * (2 * n - 1))
          assert(worst <= n + 1, s"append $n")
        }
      }
    }
  }

  // ------------------------------------------------ LSH: two-table commits

  private val lsh = IndexFixtures.Lsh

  private def seesBatch(pairs: Seq[Seq[Any]], lo: Long): Boolean =
    pairs.exists(p => p.head.asInstanceOf[Long] >= lo &&
      p.head.asInstanceOf[Long] < lo + 1000)

  private def lshIndex(path: String, name: String): Dedup.LshIndex =
    lsh.write(lsh.corpus, path, name)

  test("LSH: bands-committed/posts-torn leaves probes unchanged; a retry " +
      "append lands the batch exactly once") {
    val path = tmp()
    val idx = lshIndex(path, "crash_lsh2")
    val basePairs = lsh.probe(idx)
    val mPosts = IndexGen.manifestSnapshot(spark, idx.dir("posts"))
    // crash BETWEEN the two manifest commits: bands committed (ghost
    // rows), posts torn — the documented benign asymmetry
    IndexGen.append(idx, lsh.batch(1000), "doc_id", "text")
    IndexGen.restoreManifest(spark, idx.dir("posts"), mPosts)
    val reopened = IndexGen.open(spark, Dedup.Lsh, path, "crash_lsh2")
    assert(lsh.probe(reopened) == basePairs,
      "ghost bands rows must not change the rescored pair set")
    // the retry (streaming replay path): the batch must land exactly
    // once — probe equals a scratch-built index with the same one append
    IndexGen.append(reopened, lsh.batch(1000), "doc_id", "text")
    val got = lsh.probe(reopened)
    val ref = lshIndex(tmp(), "crash_lsh2_ref")
    IndexGen.append(ref, lsh.batch(1000), "doc_id", "text")
    assert(got == lsh.probe(ref))
    assert(seesBatch(got, 1000),
      "the retried append must be visible (batchA partners batchB)")
  }

  test("LSH: a TAGGED retry of a bands-committed/posts-torn crash lands " +
      "the batch exactly once — no ghost band rows at all") {
    val path = tmp()
    val idx = lshIndex(path, "crash_tag2")
    val mPosts = IndexGen.manifestSnapshot(spark, idx.dir("posts"))
    IndexGen.append(idx, lsh.batch(1000), "doc_id", "text",
      batchTag = Some("absorb_3"))
    // crash between the two commits
    IndexGen.restoreManifest(spark, idx.dir("posts"), mPosts)
    val reopened = IndexGen.open(spark, Dedup.Lsh, path, "crash_tag2")
    IndexGen.append(reopened, lsh.batch(1000), "doc_id", "text",
      batchTag = Some("absorb_3")) // the replay
    // equal to a scratch build + ONE clean append — bands included
    // (the untagged path duplicates them until compaction)
    val ref = lshIndex(tmp(), "crash_tag2_ref")
    IndexGen.append(ref, lsh.batch(1000), "doc_id", "text")
    val bands = spark.table(reopened.table("bands"))
    assert(bands.count() == spark.table(ref.table("bands")).count(),
      "the tagged retry must skip the committed bands directory")
    assert(bands.count() == bands.distinct().count(), "no duplicates")
    assert(lsh.probe(reopened) == lsh.probe(ref))
  }

  test("LSH: compaction dedupes the retried append's ghost band rows") {
    // bands-committed/posts-torn crash + an UNTAGGED retry: the retried
    // bands land a second time; probes stay correct but the duplication
    // must not survive compaction
    val path = tmp()
    val idx = lshIndex(path, "crash_bdup")
    val mPosts = IndexGen.manifestSnapshot(spark, idx.dir("posts"))
    IndexGen.append(idx, lsh.batch(1000), "doc_id", "text")
    IndexGen.restoreManifest(spark, idx.dir("posts"), mPosts)
    val reopened = IndexGen.open(spark, Dedup.Lsh, path, "crash_bdup")
    IndexGen.append(reopened, lsh.batch(1000), "doc_id", "text") // retry
    val bands = spark.table(reopened.table("bands"))
    assert(bands.count() > bands.distinct().count(),
      "the retry duplicates the batch's committed band rows (the honest " +
        "pre-compaction state)")
    val compacted = IndexGen.compact(spark, reopened)
    val b2 = spark.table(compacted.table("bands"))
    assert(b2.count() == b2.distinct().count(),
      "compaction must fold the duplicated band rows")
    // and the compacted index equals a scratch build + one clean append
    val ref = lshIndex(tmp(), "crash_bdup_ref")
    IndexGen.append(ref, lsh.batch(1000), "doc_id", "text")
    assert(b2.count() == spark.table(ref.table("bands")).count())
    assert(lsh.probe(compacted) == lsh.probe(ref))
  }

  // ------------------------------------------------ n-gram: single table

  private val ngram = IndexFixtures.Ngram

  test("ngram: dropping ONE bucket file of a torn append still repairs") {
    // a crash that leaves only SOME of the append's files — delete one
    // new file, keep the rest, no manifest commit; repair removes the
    // remainder too
    val path = tmp()
    val idx = ngram.write(ngram.corpus, path, "crash_ng2")
    val base = ngram.probe(idx)
    val m0 = IndexGen.manifestSnapshot(spark, idx.dir("grams"))
    val before = parquetFiles(idx.dir("grams")).toSet
    IndexGen.append(idx, ngram.batch(100), "doc_id", "text")
    IndexGen.restoreManifest(spark, idx.dir("grams"), m0)
    val dir = new java.io.File(idx.dir("grams"))
    val fresh = parquetFiles(idx.dir("grams")).filterNot(before)
    assert(fresh.nonEmpty)
    assert(new java.io.File(dir, fresh.head).delete())
    val reopened = IndexGen.open(spark, Contam.Ngram, path, "crash_ng2")
    assert(ngram.probe(reopened) == base)
    // repair removed every other torn file as well
    assert(parquetFiles(idx.dir("grams")).toSet == before)
  }

  test("absorbOnce closes the commit-to-marker window end-to-end") {
    // the exact crash: the append committed (tagged) but the process died
    // before the _absorbed_ marker landed; the streaming replay re-enters
    // absorbOnce, which must recognize the committed tag, append nothing
    // to EITHER table of the two-table family, and write the marker
    val path = tmp()
    val idx = lshIndex(path, "crash_absorb")
    val batchA = lsh.batch(1000)
    IndexGen.append(idx, batchA, "doc_id", "text",
      batchTag = Some("absorb_0")) // absorbOnce's tag for batchId 0
    val bands1 = spark.table(idx.table("bands")).count()
    val posts1 = spark.table(idx.table("posts")).count()
    assert(!new java.io.File(path, "_absorbed_0").exists)
    assert(IndexGen.absorbOnce(idx, batchA, "doc_id", "text", 0L),
      "the replay runs the (no-op) append and writes the marker")
    assert(new java.io.File(path, "_absorbed_0").exists)
    assert(spark.table(idx.table("bands")).count() == bands1 &&
      spark.table(idx.table("posts")).count() == posts1,
      "the replayed absorb must not re-append the committed batch")
    // and the NEXT replay short-circuits on the marker
    assert(!IndexGen.absorbOnce(idx, batchA, "doc_id", "text", 0L))
  }

  // ----------------------------------------------------------- writer lock

  test("a second concurrent compaction raises; stale leases expire") {
    val path = tmp()
    val idx = ngram.write(ngram.corpus, path, "crash_lock")
    val lock = new java.io.File(path, "_writer_lock")
    assert(lock.createNewFile(), "simulated concurrent writer")
    val e = intercept[IllegalStateException] {
      IndexGen.compact(spark, idx)
    }
    assert(e.getMessage.contains("single-writer"))
    // a crashed holder's lease expires by age and is broken
    assert(lock.setLastModified(
      System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    val c1 = IndexGen.compact(spark, idx)
    assert(c1.gen > idx.gen)
    assert(!lock.exists, "the lease is released after the rewrite")
    // and the lease is reusable: a later compaction acquires it again
    val c2 = IndexGen.compact(spark, c1)
    assert(c2.gen > c1.gen)
    assert(ngram.probe(c2) == ngram.probe(idx))
  }

  test("ngram: the same append lease guards the single-table family") {
    val path = tmp()
    val idx = ngram.write(ngram.corpus, path, "crash_applock2")
    val base = ngram.probe(idx)
    val lock = new java.io.File(path, "_writer_lock")
    assert(lock.createNewFile())
    intercept[IllegalStateException] {
      IndexGen.append(idx, ngram.batch(100), "doc_id", "text")
    }
    assert(lock.delete())
    assert(ngram.probe(IndexGen.open(spark, Contam.Ngram, path,
      "crash_applock2")) == base, "the locked-out append wrote nothing")
  }

  test("retract holds the lease: a tombstone cannot race a compaction") {
    // the lost-update race: a tombstone appended between a compaction's
    // tombstones read and its tombstones clear is cleared WITHOUT being
    // folded into the files — the retracted ids resurface. A concurrent
    // writer makes the retract raise with nothing written.
    val path = tmp()
    val idx = ngram.write(ngram.corpus, path, "crash_retract")
    val lock = new java.io.File(path, "_writer_lock")
    assert(lock.createNewFile(), "simulated concurrent compaction")
    intercept[IllegalStateException] {
      IndexGen.retract(idx, ngram.corpus.select(col("doc_id")), "doc_id")
    }
    assert(!new java.io.File(path, "tombstones").exists,
      "the locked-out retract must not have appended tombstones")
    assert(lock.delete())
    // and with the lease free the retract lands and probes hide the ids
    IndexGen.retract(idx, ngram.corpus.select(col("doc_id")), "doc_id")
    assert(!lock.exists, "the retract lease is released")
    val got = ngram.probe(idx)
    assert(got.nonEmpty && got.forall(r => r(2) == 0L && r(3) == 0L),
      s"tombstoned benchmark docs must stop contaminating probes: $got")
  }

  // ----------------------------------------------------- manifest versions

  private def manifestNames(dir: String): Seq[String] =
    new java.io.File(dir.stripPrefix("file:")).listFiles.map(_.getName)
      .filter(n => n == "_manifest" || n.matches("_manifest\\.\\d+"))
      .toSeq.sorted

  test("versioned manifests: no crash point leaves repair disabled") {
    // the r14 single-name commit deleted the old manifest BEFORE renaming
    // the new one in — a crash between the two silently disabled repair.
    // The versioned commit never deletes on the read path: a fresh name
    // is renamed in first, superseded versions swept after.
    val path = tmp()
    val idx = ngram.write(ngram.corpus, path, "crash_mver")
    val grams = idx.dir("grams")
    assert(manifestNames(grams).size == 1,
      "exactly one committed version after the initial write")
    IndexGen.append(idx, ngram.batch(100), "doc_id", "text")
    assert(manifestNames(grams).size == 1,
      "the commit sweeps superseded versions after the rename")
    val appended = ngram.probe(IndexGen.open(spark, Contam.Ngram, path,
      "crash_mver"))

    // crash between the tmp write and the rename of a LATER commit:
    // stray _manifest.tmp + a torn data file; the surviving committed
    // version still drives repair
    val dir = new java.io.File(grams)
    val fw = new java.io.FileWriter(new java.io.File(dir, "_manifest.tmp"))
    try fw.write("part-torn.parquet") finally fw.close()
    val torn = new java.io.FileWriter(
      new java.io.File(dir, "part-torn.parquet"))
    try torn.write("not parquet") finally torn.close()
    val reopened = IndexGen.open(spark, Contam.Ngram, path, "crash_mver")
    assert(!new java.io.File(dir, "part-torn.parquet").exists,
      "repair must use the surviving committed version")
    assert(ngram.probe(reopened) == appended)

    // legacy fixed-name `_manifest` (a pre-versioning index) still reads
    // as version 0, and the next commit migrates it to a versioned name
    assert(manifestNames(grams).exists(_.matches("_manifest\\.\\d+")))
    val legacySnap = IndexGen.manifestSnapshot(spark, grams)
    IndexGen.restoreManifest(spark, grams, ("_manifest", legacySnap._2))
    assert(ngram.probe(IndexGen.open(spark, Contam.Ngram, path, "crash_mver"))
      == appended, "legacy manifests must keep driving repair")
    IndexGen.commitManifest(spark, grams)
    val after = manifestNames(grams)
    assert(after.size == 1 && after.head.matches("_manifest\\.\\d+"),
      s"the next commit must migrate off the legacy name, got $after")
  }

  // ------------------------------------------------------ stale-lock break

  private def writeLock(dir: String, token: String): Unit = {
    val f = IndexGen.fs(spark, dir)
    val out = f.create(new org.apache.hadoop.fs.Path(dir, "_writer_lock"),
      true)
    try out.write(token.getBytes("UTF-8")) finally out.close()
  }

  private def lockToken(dir: String): Option[String] =
    IndexGen.readLockToken(IndexGen.fs(spark, dir),
      new org.apache.hadoop.fs.Path(dir, "_writer_lock"))

  test("breakStaleLock is token-identified: a same-mtime re-created lock " +
      "is never stolen") {
    val dir = tmp()
    val f = IndexGen.fs(spark, dir)
    val lock = new org.apache.hadoop.fs.Path(dir, "_writer_lock")
    // 1) genuine stale lease: observed TOKEN matches -> broken
    writeLock(dir, "T0-crashed-holder")
    IndexGen.breakStaleLock(f, lock, "T0-crashed-holder")
    assert(!f.exists(lock), "a genuinely stale lease must be broken")
    // 2) the r15 coarse-mtime hazard: between this breaker's age check
    // and its break, another breaker broke the same stale lease and
    // re-acquired — possibly within the SAME filesystem timestamp. The
    // fresh lock carries a different token, so the break must not touch
    // it no matter what the mtimes say.
    writeLock(dir, "T1-live-winner")
    val stale = System.currentTimeMillis() - 2L * 60 * 60 * 1000
    assert(new java.io.File(dir, "_writer_lock").setLastModified(stale))
    IndexGen.breakStaleLock(f, lock, "T0-crashed-holder")
    assert(lockToken(dir).contains("T1-live-winner"),
      "a re-created lock is LIVE regardless of mtime — keep it")
    // no stray broken-rename leftovers in either case
    val leftovers = new java.io.File(dir).listFiles.map(_.getName)
      .filter(_.startsWith("_writer_lock.broken"))
    assert(leftovers.isEmpty, s"leftover break files: ${leftovers.toSeq}")
    f.delete(lock, false)
  }

  test("breakStaleLock race seams: a lock swapped after the token read is " +
      "restored; with a third writer the breaker raises and the winner's " +
      "lock survives") {
    val dir = tmp()
    val f = IndexGen.fs(spark, dir)
    val lock = new org.apache.hadoop.fs.Path(dir, "_writer_lock")
    // (a) swap after the read, rename-back SUCCEEDS: the stolen fresh
    // lock is restored for its holder and nothing is broken
    writeLock(dir, "T0-stale")
    IndexGen.breakStaleLock(f, lock, "T0-stale",
      raceAfterRead = () => writeLock(dir, "T1-fresh-holder"))
    assert(lockToken(dir).contains("T1-fresh-holder"),
      "the stolen fresh lock must be renamed back for its live holder")
    f.delete(lock, false)

    // (b) the TRIPLE race: stale break in flight, the lock re-created by
    // a fresh holder after the token read (so the rename steals a LIVE
    // lock), and a THIRD writer locking before the rename-back — the
    // breaker must RAISE naming the stranded lease (r15 deleted it,
    // leaving the fresh holder silently lockless and its release
    // deleting the third writer's lock), and the third writer's lock
    // must survive untouched.
    writeLock(dir, "T0-stale")
    val e = intercept[IllegalStateException] {
      IndexGen.breakStaleLock(f, lock, "T0-stale",
        raceAfterRead = () => writeLock(dir, "T1-fresh-holder"),
        raceAfterRename = () => writeLock(dir, "T2-third-writer"))
    }
    assert(e.getMessage.contains("stranded"))
    assert(lockToken(dir).contains("T2-third-writer"),
      "the third writer's (winner's) lock must remain intact")
    val stranded = new java.io.File(dir).listFiles.map(_.getName)
      .filter(_.startsWith("_writer_lock.broken"))
    assert(stranded.size == 1,
      "the stolen lease must be preserved for manual resolution, not deleted")
  }

  test("release verifies ownership: a stolen lease raises loudly and " +
      "never deletes the next holder's lock") {
    val dir = tmp()
    // the holder acquires normally; mid-body a misbehaving breaker
    // deletes its lease and a different writer re-locks — release must
    // throw (this holder's writes raced an unknown writer) and leave the
    // new holder's lock in place, not silently delete it (r15's
    // unverified finally-delete)
    val e = intercept[IllegalStateException] {
      IndexGen.withWriterLock(spark, dir) {
        writeLock(dir, "T9-next-holder") // overwrite = steal + re-lock
      }
    }
    assert(e.getMessage.contains("lease was broken mid-run"))
    assert(lockToken(dir).contains("T9-next-holder"),
      "the next holder's lock must survive the verified release")
  }

  test("release failure does not mask the body's own exception") {
    val dir = tmp()
    val e = intercept[RuntimeException] {
      IndexGen.withWriterLock(spark, dir) {
        writeLock(dir, "T9-next-holder")
        throw new RuntimeException("body failed first")
      }
    }
    assert(e.getMessage == "body failed first")
    assert(e.getSuppressed.exists(
      _.getMessage.contains("lease was broken mid-run")),
      "the release failure must ride along as a suppressed exception")
    assert(lockToken(dir).contains("T9-next-holder"))
  }

  test("heartbeat keeps a legitimately long-running lease live past " +
      "staleMs") {
    val dir = tmp()
    val staleMs = 600L
    IndexGen.withWriterLock(spark, dir, staleMs = staleMs) {
      // body runs 3x the stale bar: without the heartbeat a contender
      // would see an expired lease, break it, and acquire concurrently
      Thread.sleep(3 * staleMs)
      val e = intercept[IllegalStateException] {
        IndexGen.withWriterLock(spark, dir, staleMs = staleMs) { fail() }
      }
      assert(e.getMessage.contains("another writer holds"),
        s"the heartbeat must keep the lease younger than $staleMs ms; " +
          s"got: ${e.getMessage}")
    }
    assert(lockToken(dir).isEmpty, "released after the body")
  }
}
