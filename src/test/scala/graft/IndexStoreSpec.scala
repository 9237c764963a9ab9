package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import graft.index.{IndexReader, IndexStore, IndexWriter, Indexer, MergePolicy, Merger}
import graft.search.{BmwSearch, DoubleOracle, ExactSearch, Float32Lucene}
import graft.stats.GlobalStats
import graft.synth.CorpusSynth

/** Durable layout: resumable checkpointed build, atomic snapshot publish,
  * lineage/metrics manifests, merge equivalence (SURVEY.md §5.2.4).
  */
class IndexStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def tmpDir(): String =
    SparkTestBase.tempDir("graft-index")

  private def corpus(n: Long) =
    Indexer.asDocInput(spark, CorpusSynth.corpusWithIds(spark, n, seed = 5L))

  /** The commit's collection stats equal the docmeta aggregate. */
  private def assertCommittedStats(view: graft.index.IndexView): Unit = {
    assert(view.committedStats.isDefined)
    assert(GlobalStats.collectionStats(view) == GlobalStats.docmetaStats(view.docmeta))
  }

  private def topDocs(view: graft.index.IndexView, terms: Seq[String]) =
    ExactSearch.topK(spark, view, terms, 10, DoubleOracle)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList

  test("write → read roundtrip: loaded index answers queries identically") {
    val dir = tmpDir()
    val snap = IndexWriter.build(spark, corpus(800), dir, segSize = 128L, nBatches = 3)
    assert(snap.version == 1)
    val loaded = IndexReader.load(spark, dir)
    val direct = Indexer.buildTables(spark, corpus(800), 128L)
    assert(topDocs(loaded, Seq("w0001", "w0042")) == topDocs(direct, Seq("w0001", "w0042")))
  }

  test("single-pass docmeta (META blocks) == direct count-pass docmeta") {
    val dir = tmpDir()
    IndexWriter.build(spark, corpus(800), dir, segSize = 128L, nBatches = 3)
    val loaded = IndexReader.load(spark, dir)
    val direct = Indexer.buildDocMeta(spark, corpus(800), 128L,
      graft.analysis.Analyzer.EnglishStopWords)
    assert(loaded.docmeta.collect().toSet == direct.collect().toSet)
    // and no META sentinel leaks into the loaded postings/terms
    import org.apache.spark.sql.functions.col
    assert(loaded.postings.filter(col("field") === Indexer.MetaField).count() == 0)
    assert(loaded.terms.filter(col("field") === Indexer.MetaField).count() == 0)
  }

  test("manifests carry lineage + metrics per batch") {
    val dir = tmpDir()
    IndexWriter.build(spark, corpus(600), dir, segSize = 128L, nBatches = 2)
    val m0 = IndexStore.readManifest(dir, 0).get
    val m1 = IndexStore.readManifest(dir, 1).get
    assert(m0.firstDocId == 0 && m0.lastDocIdExclusive == m1.firstDocId)
    assert(m0.docs > 0 && m0.postings > 0 && m0.bytes > 0 && m0.terms > 0)
    assert(m0.sumTotalTermFreq > 0 && m1.sumTotalTermFreq > 0)
    assert(m0.segmentIds.nonEmpty)
    assert(m0.docs + m1.docs == 600)
    assertCommittedStats(IndexReader.load(spark, dir))
  }

  test("a manifest without sumTotalTermFreq is refused, naming dir and batch") {
    val dir = tmpDir()
    IndexWriter.build(spark, corpus(300), dir, segSize = 128L, nBatches = 1)
    // the manifest as written before the field existed
    val legacy = """{"batch":0,"firstDocId":0,"lastDocIdExclusive":300,""" +
      """"segmentIds":[0,1,2],"docs":300,"postingRows":10,"postings":10,""" +
      """"bytes":10,"terms":10,"committedAtEpochMs":0}"""
    Files.write(IndexStore.manifestPath(dir, 0), legacy.getBytes("UTF-8"))
    val e = intercept[IllegalStateException](IndexReader.load(spark, dir))
    assert(e.getMessage.contains(dir) && e.getMessage.contains("batch 0"), e.getMessage)
    assert(e.getMessage.contains("sumTotalTermFreq"), e.getMessage)
  }

  test("collection stats of a loaded view cost no Spark job; a view with no commit aggregates once") {
    val dir = tmpDir()
    IndexWriter.build(spark, corpus(300), dir, segSize = 128L, nBatches = 2)
    val loaded = IndexReader.load(spark, dir)
    val inMemory = Indexer.buildTables(spark, corpus(300), 128L)
    val sc = spark.sparkContext
    def inGroup(g: String)(body: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    def jobs(g: String) = sc.statusTracker.getJobIdsForGroup(g).length
    inGroup("stats-loaded")(GlobalStats.collectionStats(loaded))
    inGroup("stats-memory-1")(GlobalStats.collectionStats(inMemory))
    inGroup("stats-memory-2")(GlobalStats.collectionStats(inMemory))
    // job events reach the status tracker in submission order: once the
    // fence job is visible, every job submitted before it is too
    inGroup("stats-fence")(sc.parallelize(Seq(1)).count())
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (jobs("stats-fence") == 0 && System.nanoTime() < deadline) Thread.sleep(10)
    assert(jobs("stats-fence") > 0)
    assert(jobs("stats-loaded") == 0)
    assert(jobs("stats-memory-1") > 0)
    assert(jobs("stats-memory-2") == 0)
    assert(GlobalStats.collectionStats(loaded) == GlobalStats.collectionStats(inMemory))
  }

  test("resumability: killed build resumes to an identical snapshot (north rule)") {
    val dirA = tmpDir(); val dirB = tmpDir()
    // A: clean build in 3 batches
    IndexWriter.build(spark, corpus(700), dirA, segSize = 128L, nBatches = 3)
    // B: crash after batch 0, then resume
    intercept[RuntimeException] {
      IndexWriter.build(spark, corpus(700), dirB, segSize = 128L, nBatches = 3,
        failAfterBatch = 0)
    }
    assert(IndexStore.currentSnapshot(dirB).isEmpty) // nothing published yet
    assert(IndexStore.readManifest(dirB, 0).isDefined) // batch 0 checkpointed
    IndexWriter.build(spark, corpus(700), dirB, segSize = 128L, nBatches = 3)
    def signature(dir: String) = {
      val v = IndexReader.load(spark, dir)
      v.postings.collect()
        .map(b => (b.segment_id, b.term, b.block_id, b.first_doc_id,
          b.docs.toList, b.freqs.toList, b.norms.toList))
        .sortBy(t => (t._1, t._2, t._3)).toList
    }
    assert(signature(dirA) == signature(dirB))
    assertCommittedStats(IndexReader.load(spark, dirB))
    // resumed build skipped batch 0: its manifest is the one from the failed run
    assert(IndexStore.readManifest(dirB, 0).get.docs ==
      IndexStore.readManifest(dirA, 0).get.docs)
  }

  test("tiered merge policy: size-tiered groups respect the cap; query-equivalent") {
    val view = Indexer.buildTables(spark, corpus(900), 128L).persisted()
    val sizes = MergePolicy.segmentDocCounts(view)
    val mapping = MergePolicy.select(sizes, maxMergeAtOnce = 3, maxMergedDocs = 300L)
    assert(mapping.nonEmpty)
    val groups = mapping.groupBy(_._2).map { case (t, m) => t -> m.keys.toSeq }
    groups.foreach { case (target, members) =>
      assert(members.size >= 2 && members.size <= 3)
      assert(members.map(sizes).sum <= 300L, s"cap exceeded for group $target")
      assert(target == members.min)
    }
    val merged = Merger.mergeByMapping(spark, view, sid => mapping.getOrElse(sid, sid))
    assert(merged.postings.select("segment_id").distinct().count() <
      view.postings.select("segment_id").distinct().count())
    // merged segments hold NON-consecutive doc ranges (size-tiered, not
    // range-tiered) — both search paths must still agree
    for (q <- Seq(Seq("w0000"), Seq("w0003", "w0017"))) {
      assert(topDocs(merged, q) == topDocs(view, q), s"exact mismatch for $q")
      val bmwPost = BmwSearch.topK(spark, merged, q, 10, DoubleOracle)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
      assert(bmwPost == topDocs(view, q), s"bmw mismatch for $q")
    }
    val pre = view.terms.groupBy("term").sum("df", "ctf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toList
    val post = merged.terms.groupBy("term").sum("df", "ctf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toList
    assert(pre == post)
  }

  test("merge rewrites ONLY the merge group: untouched blocks byte-identical") {
    val view = Indexer.buildTables(spark, corpus(900), 128L).persisted()
    val segs = view.postings.select("segment_id").distinct()
      .collect().map(_.getInt(0)).sorted
    assert(segs.length >= 4)
    // merge just the two smallest-id segments; leave the rest alone
    val group = segs.take(2).toSet
    val merged = Merger.mergeByMapping(spark, view,
      sid => if (group(sid)) group.min else sid)
    def payloads(v: graft.index.IndexView, keep: Int => Boolean) =
      v.postings.collect().filter(b => keep(b.segment_id))
        .map(b => (b.segment_id, b.term, b.block_id, b.first_doc_id,
          b.last_doc_id, b.docs.toList, b.freqs.toList, b.norms.toList,
          b.positions.toList))
        .sortBy(t => (t._1, t._2, t._3)).toList
    // untouched segments: block rows (incl. encoded payload bytes) pass
    // through unchanged — a tier sweep must not rewrite the whole index
    assert(payloads(merged, s => !group(s)) == payloads(view, s => !group(s)))
    // the merge group really collapsed, and queries still agree
    assert(merged.postings.select("segment_id").distinct().count() ==
      segs.length - 1)
    for (q <- Seq(Seq("w0000"), Seq("w0003", "w0017")))
      assert(topDocs(merged, q) == topDocs(view, q), s"mismatch for $q")
  }

  test("addIndexes: foreign blocks append byte-identical; equals fresh union build") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.synth.CorpusSynth
    val full = CorpusSynth.corpusWithIds(spark, 900, seed = 11L)
    def build(df: org.apache.spark.sql.DataFrame) =
      Indexer.buildTables(spark, Indexer.asDocInput(spark, df), segSize = 128L)
    val a = build(full.where(col("doc_id") < 400))
    val b = build(full.where(col("doc_id") >= 400))
    val combined = Merger.addIndexes(spark, a, b)
    val fresh = build(full.toDF())
    // query equivalence incl. scores (stats re-derived over the union)
    val terms = Seq("w0001", "w0004")
    val got = graft.search.ExactSearch
      .topK(spark, combined, terms, 10, graft.search.DoubleOracle)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    val want = graft.search.ExactSearch
      .topK(spark, fresh, terms, 10, graft.search.DoubleOracle)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(got == want && got.nonEmpty)
    // the foreign index's blocks passed through byte-identical
    val bBlocks = b.postings.collect()
      .map(r => (r.term, r.first_doc_id) -> r.docs.toSeq).toMap
    val inCombined = combined.postings.filter(_.first_doc_id >= 400)
      .collect().map(r => (r.term, r.first_doc_id) -> r.docs.toSeq).toMap
    assert(inCombined == bBlocks)
    // global term stats equal the fresh build's
    def stats(v: graft.index.IndexView) = v.terms.groupBy("term")
      .agg(org.apache.spark.sql.functions.sum("df").as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats(combined) == stats(fresh))
  }

  test("splitShard: sides equal per-half fresh builds; non-straddling blocks byte-identical") {
    import org.apache.spark.sql.functions.col
    import graft.synth.CorpusSynth
    val full = CorpusSynth.corpusWithIds(spark, 900, seed = 13L)
    val view = Indexer.buildTables(spark,
      Indexer.asDocInput(spark, full.toDF()), segSize = 128L).persisted()
    val mid = 450L
    val (l, r) = Merger.splitShard(spark, view, mid)
    // each side answers exactly like a fresh build of its half corpus
    val freshL = Indexer.buildTables(spark,
      Indexer.asDocInput(spark, full.where(col("doc_id") < mid)), 128L)
    val freshR = Indexer.buildTables(spark,
      Indexer.asDocInput(spark, full.where(col("doc_id") >= mid)), 128L)
    for (q <- Seq(Seq("w0001"), Seq("w0003", "w0017"))) {
      assert(topDocs(l, q) == topDocs(freshL, q), s"left $q")
      assert(topDocs(r, q) == topDocs(freshR, q), s"right $q")
    }
    // doc counts partition exactly
    assert(l.docmeta.count() + r.docmeta.count() == view.docmeta.count())
    // blocks that never straddled the midpoint passed through byte-identical
    val passL = view.postings.filter(_.last_doc_id < mid).collect()
      .map(b => (b.segment_id, b.term, b.first_doc_id) -> b.docs.toSeq).toMap
    val gotL = l.postings.collect()
      .filter(b => passL.contains((b.segment_id, b.term, b.first_doc_id)))
      .map(b => (b.segment_id, b.term, b.first_doc_id) -> b.docs.toSeq).toMap
    assert(passL.nonEmpty && gotL == passL)
  }

  test("time travel: past snapshot versions stay readable after NRT append") {
    import graft.index.{IndexReader, Snapshot}
    val dir = tmpDir()
    IndexWriter.build(spark, corpus(600), dir, segSize = 128L, nBatches = 2) // v1
    // NRT-append 300 more docs as batch 2 and publish v2 (the streaming
    // micro-batch path: write-once batch + next snapshot)
    val extra = Indexer.asDocInput(spark,
      CorpusSynth.corpusWithIds(spark, 900, seed = 5L)).filter(_.doc_id >= 600L)
    IndexWriter.writeBatch(spark, extra, dir, 2, 128L,
      graft.analysis.Analyzer.EnglishStopWords, 600L, 900L)
    assert(IndexStore.tryPublishSnapshot(dir, Snapshot(2, 128L, Seq(0, 1, 2))))
    // live read sees v2; time-travel read reconstructs v1 exactly
    assert(IndexReader.load(spark, dir).docmeta.count() == 900)
    assertCommittedStats(IndexReader.load(spark, dir))
    val v1 = IndexReader.loadVersion(spark, dir, 1)
    assert(v1.docmeta.count() == 600)
    assertCommittedStats(v1)
    assert(topDocs(v1, Seq("w0001", "w0042")) ==
      topDocs(Indexer.buildTables(spark, corpus(600), 128L), Seq("w0001", "w0042")))
    intercept[IllegalArgumentException] {
      IndexReader.loadVersion(spark, dir, 9)
    }
  }

  test("snapshot versions are write-once; lost race re-merges batches") {
    import graft.index.Snapshot
    val dir = tmpDir()
    assert(IndexStore.tryPublishSnapshot(dir, Snapshot(1, 64L, Seq(0))))
    // second writer computing the same version loses — nothing replaced
    assert(!IndexStore.tryPublishSnapshot(dir, Snapshot(1, 64L, Seq(1))))
    val cur = IndexStore.currentSnapshot(dir).get
    assert(cur.version == 1 && cur.batches == Seq(0))
    // the loser's retry merges both batch sets at version+1
    assert(IndexStore.tryPublishSnapshot(dir,
      Snapshot(cur.version + 1, 64L, (cur.batches :+ 1).distinct.sorted)))
    assert(IndexStore.currentSnapshot(dir).get.batches == Seq(0, 1))
  }

  test("merge: merged index is query-equivalent to pre-merge (both paths)") {
    val view = Indexer.buildTables(spark, corpus(900), 128L).persisted()
    val merged = Merger.merge(spark, view, factor = 4)
    assert(merged.postings.select("segment_id").distinct().count() <
      view.postings.select("segment_id").distinct().count())
    for (q <- Seq(Seq("w0000"), Seq("w0003", "w0017"), Seq("w0000", "w0900", "w1500"))) {
      assert(topDocs(merged, q) == topDocs(view, q), s"exact mismatch for $q")
      val bmwPre = BmwSearch.topK(spark, view, q, 10, Float32Lucene)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
      val bmwPost = BmwSearch.topK(spark, merged, q, 10, Float32Lucene)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
      assert(bmwPre == bmwPost, s"bmw mismatch for $q")
    }
    // term dictionaries: global stats unchanged by merge
    val pre = view.terms.groupBy("term").sum("df", "ctf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toList
    val post = merged.terms.groupBy("term").sum("df", "ctf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toList
    assert(pre == post)
  }
}
