package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.index.{Deletes, Indexer, Merger}
import graft.search.{BmwSearch, DoubleOracle, ExactSearch}
import graft.synth.CorpusSynth

/** Deletes/tombstones: search-time exclusion (stats untouched),
  * BMW/exact agreement under deletes, merge-time physical purge,
  * durable tombstone batches.
  */
class DeletesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  lazy val view = {
    val v = Indexer.buildTables(spark,
      Indexer.asDocInput(spark, CorpusSynth.corpusWithIds(spark, 1500, seed = 5L)),
      segSize = 256L).persisted()
    v.postings.count()
    v
  }

  test("delete-then-search: excluded from results, stats untouched, BMW agrees") {
    import spark.implicits._
    val terms = Seq("w0001", "w0004")
    val full = ExactSearch.topK(spark, view, terms, 10, DoubleOracle)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    // tombstone the current top hit plus a spread of ids
    val deadIds = (full.take(1).map(_._1) ++ (0L until 1500L by 7)).distinct
    val tomb = deadIds.toDF("doc_id")
    val got = Deletes.topKExcluding(spark, view, terms, tomb, 10, DoubleOracle)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(got.nonEmpty && got.map(_._1).toSet.intersect(deadIds.toSet).isEmpty)
    assert(got != full) // the deleted top hit really vanished
    // surviving docs keep their ORIGINAL scores (stats not adjusted)
    val fullScores = ExactSearch.scored(spark, view, terms, DoubleOracle)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    got.foreach { case (d, s) => assert(fullScores(d) == s) }
    // BMW with the deleted set matches the exact path exactly
    val bmw = BmwSearch.topK(spark, view, terms, 10, DoubleOracle,
      deleted = deadIds.toSet)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(bmw == got)
    // conjunctive kernel too
    val exactAnd = ExactSearch.scored(spark, view, terms, DoubleOracle,
      minShouldMatch = 2)
      .join(tomb, Seq("doc_id"), "left_anti")
      .orderBy(col("score").desc, col("doc_id").asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    val fastAnd = BmwSearch.topKAnd(spark, view, terms, 10, DoubleOracle,
      deleted = deadIds.toSet)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(fastAnd == exactAnd)
  }

  test("merge purges tombstones physically; stats shrink") {
    import spark.implicits._
    val deadIds = (0L until 1500L by 5).toSet
    val tomb = deadIds.toSeq.toDF("doc_id")
    val merged = Merger.merge(spark, view, 4, tombstones = Some(tomb))
    // no tombstoned doc survives in postings or docmeta
    val survivors = merged.postings.flatMap(b =>
      graft.codec.VByte.decodeDeltas(b.docs)).collect().toSet
    assert(survivors.intersect(deadIds).isEmpty)
    assert(merged.docmeta.collect().map(_.doc_id).toSet.intersect(deadIds).isEmpty)
    assert(merged.docmeta.count() == view.docmeta.count() - deadIds.size)
    // df for a common term genuinely shrank
    def df0(v: graft.index.IndexView, t: String): Long =
      v.terms.filter(col("term") === t).agg(sum("df")).head().getLong(0)
    assert(df0(merged, "w0000") < df0(view, "w0000"))
    // a deleted-doc query on the merged index returns nothing for them
    val hits = ExactSearch.topK(spark, merged, Seq("w0000"), 2000, DoubleOracle)
      .collect().map(_.getLong(0)).toSet
    assert(hits.intersect(deadIds).isEmpty)
  }

  test("durable tombstone batches round-trip (write-once, distinct union)") {
    import spark.implicits._
    val dir = SparkTestBase.tempDir("graft-del")
    Deletes.write(spark, dir, Seq(1L, 2L, 3L).toDF("doc_id"))
    Deletes.write(spark, dir, Seq(3L, 4L).toDF("doc_id"))
    val got = Deletes.load(spark, dir).collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L, 4L))
    // empty dir → empty frame
    val none = SparkTestBase.tempDir("graft-del2")
    assert(Deletes.load(spark, none).count() == 0)
  }

  test("expungeDeletes: identity remap purges; clean segments byte-identical") {
    import spark.implicits._
    // tombstones confined to ONE segment's doc range (segSize 256)
    val deadIds = (10L until 50L by 3).toSet
    val tomb = deadIds.toSeq.toDF("doc_id")
    val purged = Merger.mergeByMapping(spark, view, identity, Some(tomb))
    val survivors = purged.postings.flatMap(b =>
      graft.codec.VByte.decodeDeltas(b.docs)).collect().toSet
    assert(survivors.intersect(deadIds).isEmpty)
    assert(purged.docmeta.count() == view.docmeta.count() - deadIds.size)
    // segments WITHOUT tombstones pass through byte-identical
    def key(r: graft.index.PostingBlockRow) =
      (r.segment_id, r.term, r.first_doc_id)
    val before = view.postings.collect()
      .filter(_.segment_id != 0).map(r => key(r) -> r.docs.toSeq).toMap
    val after = purged.postings.collect()
      .filter(_.segment_id != 0).map(r => key(r) -> r.docs.toSeq).toMap
    assert(before == after)
  }
}
