package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.analysis.{Analyzer, StopHash}
import graft.codec.{PostingCodec, SmallFloat}
import graft.stats.{CollectionStats, GlobalStats}

/** Input row of the indexer: dense global doc_id + analyzable text.
  * docIDs must be a pure function of the data (never of partition
  * scheduling) so results are identical at any parallelism
  * (SURVEY.md §7.5 #4).
  */
final case class DocInput(doc_id: Long, url: String, text: String)

/** One posting occurrence after document-local inversion (the analog of
  * the reference's per-thread in-RAM invert, DocumentsWriterPerThread
  * [8x index/DocumentsWriterPerThread.java]): term + tf + positions, plus
  * the doc's norm byte carried along so blocks embed norms without a join.
  */
final case class PostingInput(segment_id: Int, term: String, doc_id: Long,
                              tf: Int, norm_byte: Int, positions: Array[Int])

/** Columnar posting-block row — one row per ≤128-doc block of one
  * (segment, term) posting list (SURVEY.md §2.2: delta+VByte payloads,
  * skip metadata first/last_doc_id, block-max impact columns).
  */
final case class PostingBlockRow(
    segment_id: Int, field: String, term: String, block_id: Int,
    first_doc_id: Long, last_doc_id: Long, doc_count: Int,
    max_tf: Int, min_norm_len: Int, sum_tf: Long,
    docs: Array[Byte], freqs: Array[Byte], norms: Array[Byte],
    positions: Array[Byte])

final case class DocMetaRow(segment_id: Int, doc_id: Long, url: String,
                            dl: Int, norm_byte: Int, lossy_dl: Int)

/** One analyzed document: metadata + document-local inverted terms, from
  * a single analysis pass (both postings and docmeta derive from this).
  */
final case class AnalyzedDoc(segment_id: Int, doc_id: Long, url: String,
                             dl: Int, norm_byte: Int,
                             terms: Array[graft.analysis.TermInDoc])

/** Partition-local posting sub-list of one (segment, term), already in
  * the compact codec format (docIDs delta+VByte in ascending order, tfs
  * VByte, norms raw bytes, positions per-entry delta+VByte): the
  * two-phase posting build shuffles ~1.5 B/posting instead of raw
  * primitives (~13 B) — at 10⁸⁺ postings per task batch, shuffle I/O is
  * the scaling term and this is the fix.
  */
final case class PostingChunk(segment_id: Int, term: String, n: Int,
                              docs: Array[Byte], tfs: Array[Byte],
                              norms: Array[Byte], pos: Array[Byte])

private[index] final class ChunkBuilder {
  // primitive growable buffers — generic ArrayBuffers would box every
  // docID/tf/norm (~10⁹ allocations per 10M-doc build)
  private var docsA = new Array[Long](4); private var nD = 0
  private var tfsA = new Array[Int](4)
  private var normsA = new Array[Byte](4)
  private var posA = new Array[Array[Int]](4)
  def add(docId: Long, tf: Int, normByte: Int, positions: Array[Int]): Unit = {
    if (nD == docsA.length) {
      val n2 = nD * 2
      docsA = java.util.Arrays.copyOf(docsA, n2)
      tfsA = java.util.Arrays.copyOf(tfsA, n2)
      normsA = java.util.Arrays.copyOf(normsA, n2)
      posA = java.util.Arrays.copyOf(posA, n2)
    }
    docsA(nD) = docId; tfsA(nD) = tf; normsA(nD) = normByte.toByte
    posA(nD) = positions; nD += 1
  }
  private def docs = docsA
  private def tfs = tfsA
  private def norms = normsA
  private def pos = posA
  /** Encode in ascending docID order (input order is usually already
    * ascending; an index sort makes the chunk format independent of
    * partition row order).
    */
  def result(seg: Int, term: String): PostingChunk = {
    val n = nD
    val idx = Array.range(0, n)
    val d = docs
    var sorted = true
    var i = 1
    while (i < n) { if (d(i) < d(i - 1)) { sorted = false; i = n }; i += 1 }
    val order = if (sorted) idx else idx.sortBy(d(_))
    val docsOut = new java.io.ByteArrayOutputStream(n * 2)
    val tfsOut = new java.io.ByteArrayOutputStream(n)
    val posOut = new java.io.ByteArrayOutputStream(64)
    val normsOut = new Array[Byte](n)
    var prev = 0L
    var k = 0
    while (k < n) {
      val j = order(k)
      graft.codec.VByte.writeVLong(docsOut, if (k == 0) d(j) else d(j) - prev)
      prev = d(j)
      graft.codec.VByte.writeVLong(tfsOut, tfs(j).toLong)
      normsOut(k) = norms(j)
      val ps = pos(j)
      var pprev = 0
      var m = 0
      while (m < ps.length) {
        graft.codec.VByte.writeVLong(posOut,
          if (m == 0) ps(m).toLong else (ps(m) - pprev).toLong)
        pprev = ps(m); m += 1
      }
      k += 1
    }
    PostingChunk(seg, term, n, docsOut.toByteArray, tfsOut.toByteArray,
      normsOut, posOut.toByteArray)
  }
}

/** The three segment tables of an index snapshot (SURVEY.md §1.1), and
  * the collection statistics its commit recorded: `committedStats` is
  * set by [[IndexReader]] from the snapshot's manifests and is `None`
  * for a view with no commit (in-memory builds, merges, tests). They
  * must describe `docmeta`: a view built from other tables leaves them
  * out.
  */
final case class IndexView(postings: Dataset[PostingBlockRow],
                           terms: DataFrame,
                           docmeta: Dataset[DocMetaRow],
                           committedStats: Option[CollectionStats] = None) {
  /** docCount and sumTotalTermFreq: the commit's, or one docmeta
    * aggregate per view instance.
    */
  lazy val collectionStats: CollectionStats =
    committedStats.getOrElse(GlobalStats.docmetaStats(docmeta))

  def persisted(): IndexView =
    copy(postings.persist(), terms.persist(), docmeta.persist())
}

/**
 * Distributed inverted-index builder: Dataset pipeline of
 * flatMap-tokenize → repartition(segment, term) →
 * sortWithinPartitions(segment, term, docID) → delta+VByte block encode.
 *
 * Scale design (north rule): documents are sharded into doc-range
 * *segments* (the analog of Lucene segments / Solr shards); every
 * posting list is local to a segment, so even a stopword's list is
 * bounded by the segment size — doc-range sharding is the primary
 * term-skew control, with salted two-phase aggregation additionally
 * used for the global term-statistics aggregate (see salt usage in
 * [[GlobalStats]]). One wide shuffle builds all blocks; AQE handles
 * residual imbalance.
 */
object Indexer {
  val DefaultSegmentSize: Long = 1L << 16 // 65536 docs per segment

  val Field = "text"

  /** Separator for field-qualified term keys in multi-field inputs
    * (see [[MultiFieldIndex]]); never occurs in analyzer output.
    */
  val FieldSep = '\u0001'

  def segmentOf(docId: Long, segSize: Long): Int = (docId / segSize).toInt

  /** Sentinel (term, field) of the per-doc metadata rows that ride the
    * posting shuffle when the fused build emits docmeta in the SAME
    * corpus pass (analyzer terms are [a-z0-9]+ and multi-field keys
    * embed [[FieldSep]], so '\u0000…' can never collide). META block
    * rows reuse the posting columns: docs = delta+VByte docIDs,
    * freqs = VByte dls, norms = raw norm bytes, positions = per-doc
    * [VByte len][UTF-8 url] records.
    */
  val MetaTerm = "\u0000meta"
  val MetaField = "__meta__"

  /** Analyze each document ONCE (the reference also tokenizes once per
    * doc, feeding both postings and norms from the same token stream —
    * DocumentsWriterPerThread): a single narrow pass producing the
    * per-doc inverted terms + the doc metadata. Docs whose tokens are all
    * stop-filtered carry no indexed terms and are excluded (docCount
    * semantics: docs with ≥1 indexed token).
    */
  def analyzeCorpus(spark: SparkSession, corpus: Dataset[DocInput],
                    segSize: Long, stopWords: Set[String]): Dataset[AnalyzedDoc] = {
    import spark.implicits._
    corpus.flatMap { d =>
      val a = Analyzer.analyze(d.text, stopWords)
      if (a.dl == 0) Iterator.empty
      else {
        val nb = SmallFloat.intToByte4(a.dl).toInt & 0xff
        Iterator.single(AnalyzedDoc(segmentOf(d.doc_id, segSize), d.doc_id,
          d.url, a.dl, nb, a.terms))
      }
    }
  }

  /** Posting occurrences from the analyzed stream (narrow).
    * `indexPositions=false` is the analog of Lucene's
    * `IndexOptions.DOCS_AND_FREQS` (vs `…_AND_POSITIONS`): BM25 scoring
    * needs only docs/freqs/norms, and dropping positions cuts the
    * shuffle + segment bytes by more than half — at 100 TB the position
    * payload is the single largest I/O term. Phrase queries require a
    * positions-enabled index.
    */
  def invertAnalyzed(spark: SparkSession, analyzed: Dataset[AnalyzedDoc],
                     indexPositions: Boolean = true): Dataset[PostingInput] = {
    import spark.implicits._
    if (indexPositions)
      analyzed.flatMap { d =>
        d.terms.iterator.map(t =>
          PostingInput(d.segment_id, t.term, d.doc_id, t.tf, d.norm_byte, t.positions))
      }
    else
      analyzed.flatMap { d =>
        d.terms.iterator.map(t =>
          PostingInput(d.segment_id, t.term, d.doc_id, t.tf, d.norm_byte,
            Array.emptyIntArray))
      }
  }

  /** Doc metadata from the analyzed stream (narrow). */
  def docMeta(spark: SparkSession,
              analyzed: Dataset[AnalyzedDoc]): Dataset[DocMetaRow] = {
    import spark.implicits._
    analyzed.map(d => DocMetaRow(d.segment_id, d.doc_id, d.url, d.dl,
      d.norm_byte, SmallFloat.byte4ToInt(d.norm_byte.toByte)))
  }

  /** Document-local inversion: one narrow pass, no shuffle. */
  def invert(spark: SparkSession, corpus: Dataset[DocInput],
             segSize: Long, stopWords: Set[String]): Dataset[PostingInput] =
    invertAnalyzed(spark, analyzeCorpus(spark, corpus, segSize, stopWords))

  /** Per-doc metadata incl. the lossy norm (SmallFloat byte4), via the
    * count-only analysis pass (no inversion state — the docmeta stage
    * doesn't need term lists).
    */
  def buildDocMeta(spark: SparkSession, corpus: Dataset[DocInput],
                   segSize: Long, stopWords: Set[String]): Dataset[DocMetaRow] = {
    import spark.implicits._
    corpus.mapPartitions { docs =>
      val stops = new StopHash(stopWords) // one probe table per partition
      docs.flatMap { d =>
        val dl = Analyzer.countTokensWith(d.text, stops)
        if (dl == 0) Iterator.empty
        else {
          val nb = SmallFloat.intToByte4(dl).toInt & 0xff
          Iterator.single(DocMetaRow(segmentOf(d.doc_id, segSize), d.doc_id,
            d.url, dl, nb, SmallFloat.byte4ToInt(nb.toByte)))
        }
      }
    }
  }

  /** The one wide stage, two-phase (the north rule's "salted
    * repartitioning plus two-phase aggregation", realized as a map-side
    * combine — the analog of Lucene's per-thread in-RAM segment,
    * DocumentsWriterPerThread):
    *
    * Phase 1 (narrow): each input partition locally inverts its postings
    * into per-(segment, term) packed-array chunks. A stopword occurring
    * in every doc of the partition becomes ONE chunk row instead of
    * thousands of posting rows — the shuffle moves ~100× fewer rows
    * (primitive arrays, no per-row overhead), and hot-term skew is
    * flattened to ≤ #input-partitions chunk rows per term.
    *
    * Phase 2 (shuffle by (segment, term)): merge each term's chunks by
    * docID and stream-encode 128-doc blocks. Per-group state is bounded
    * by the segment size (doc-range segments), so no reducer can blow up
    * on a hot term.
    */
  /** RAM budget of the phase-1 map-side combine, per task (the DWPT
    * `ramBufferSizeMB` analog [8x index/DocumentsWriterPerThread.java]):
    * once the in-RAM inverted state reaches the budget the combiner
    * EMITS its chunks and resets, so task heap is O(budget) instead of
    * O(input split) — a positions-enabled dense-text split no longer
    * OOMs on the default 128 MB parquet partitions. Multiple chunks per
    * (segment, term) are merge-safe by construction (phase 2 re-sorts).
    */
  val DefaultCombineBudget: Long =
    sys.env.get("GRAFT_COMBINE_MB").map(_.toLong << 20).getOrElse(64L << 20)

  /** Shuffle width of phase 2 is `spark.sql.shuffle.partitions` (set it
    * in the session; a per-call override would force a second
    * exchange on top of groupByKey's own).
    */
  def buildPostings(spark: SparkSession, inverted: Dataset[PostingInput],
                    combineBudgetBytes: Long = DefaultCombineBudget): Dataset[PostingBlockRow] = {
    import spark.implicits._
    val budget = combineBudgetBytes
    val chunks: Dataset[PostingChunk] = inverted.mapPartitions { it =>
      new Iterator[PostingChunk] {
        private var pending: Iterator[PostingChunk] = Iterator.empty
        private def refill(): Unit = {
          val acc = scala.collection.mutable.HashMap.empty[(Int, String), ChunkBuilder]
          var bytes = 0L
          while (it.hasNext && bytes < budget) {
            val p = it.next()
            val b = acc.getOrElseUpdate((p.segment_id, p.term), {
              bytes += 64L + 2L * p.term.length // map entry + key
              new ChunkBuilder
            })
            b.add(p.doc_id, p.tf, p.norm_byte, p.positions)
            // conservative per-posting heap estimate incl. 2x growth slack
            bytes += 48L + 8L * p.positions.length
          }
          pending = acc.toArray.iterator
            .map { case ((seg, term), b) => b.result(seg, term) }
        }
        def hasNext: Boolean = {
          while (!pending.hasNext && it.hasNext) refill()
          pending.hasNext
        }
        def next(): PostingChunk = {
          if (!hasNext) throw new NoSuchElementException
          pending.next()
        }
      }
    }
    encodeChunks(spark, chunks)
  }

  /** Fused phase 1: analysis + document inversion + map-side chunk
    * combine in ONE `mapPartitions`, over ONE partition-global
    * [[TermsHash]] per combine batch (the DWPT termsHash analog) — no
    * AnalyzedDoc/PostingInput object stream, no per-doc term table, no
    * per-doc String interning: a term's String is materialized once per
    * BATCH, stop words are recognized by the allocation-free
    * [[graft.analysis.StopHash]] probe, and position buffers are reused
    * across docs. The allocation rate is the measured scaling ceiling of
    * the build (BASELINE.md), so every allocation removed from this loop
    * is directly scaling headroom. Same RAM budget discipline as
    * [[buildPostings]] (flush at doc boundaries once the estimate tops
    * the budget).
    */
  def buildPostingsFused(spark: SparkSession, corpus: Dataset[DocInput],
                         segSize: Long, stopWords: Set[String],
                         indexPositions: Boolean = true,
                         combineBudgetBytes: Long = DefaultCombineBudget,
                         emitDocMeta: Boolean = false): Dataset[PostingBlockRow] = {
    import spark.implicits._
    val budget = combineBudgetBytes
    val doPositions = indexPositions
    val doMeta = emitDocMeta
    val chunks: Dataset[PostingChunk] = corpus.mapPartitions { docs =>
      val stops = new StopHash(stopWords)
      new Iterator[PostingChunk] {
        private var pending: Iterator[PostingChunk] = Iterator.empty
        private def refill(): Unit = {
          val th = new TermsHash(stops, doPositions)
          val meta = if (doMeta)
            scala.collection.mutable.LongMap.empty[MetaBuf] else null
          while (docs.hasNext && th.bytes < budget) {
            val d = docs.next()
            val seg = segmentOf(d.doc_id, segSize)
            val dl = th.addDoc(seg, d.doc_id, d.text)
            if (dl > 0) {
              val nb = SmallFloat.intToByte4(dl).toInt & 0xff
              th.endDoc(d.doc_id, nb)
              if (doMeta) {
                meta.getOrElseUpdate(seg.toLong, new MetaBuf)
                  .add(d.doc_id, dl, nb.toByte, d.url)
                th.bytes += 40L + d.url.length
              }
            }
          }
          val metaChunks =
            if (doMeta) meta.iterator.map { case (seg, mb) => mb.result(seg.toInt) }
            else Iterator.empty
          pending = th.results() ++ metaChunks
        }
        def hasNext: Boolean = {
          while (!pending.hasNext && docs.hasNext) refill()
          pending.hasNext
        }
        def next(): PostingChunk = {
          if (!hasNext) throw new NoSuchElementException
          pending.next()
        }
      }
    }
    encodeChunks(spark, chunks)
  }

  /** Per-segment buffer of the docmeta rows riding the posting shuffle
    * (one [[MetaTerm]] chunk per (batch, segment)).
    */
  private[index] final class MetaBuf {
    private var ids = new Array[Long](16)
    private var dls = new Array[Int](16)
    private var nbs = new Array[Byte](16)
    private var urls = new Array[String](16)
    private var n = 0
    def add(id: Long, dl: Int, nb: Byte, url: String): Unit = {
      if (n == ids.length) {
        val c = n * 2
        ids = java.util.Arrays.copyOf(ids, c)
        dls = java.util.Arrays.copyOf(dls, c)
        nbs = java.util.Arrays.copyOf(nbs, c)
        urls = java.util.Arrays.copyOf(urls, c)
      }
      ids(n) = id; dls(n) = dl; nbs(n) = nb; urls(n) = url; n += 1
    }
    def result(seg: Int): PostingChunk = {
      val order = Array.range(0, n)
      var sorted = true
      var i = 1
      while (i < n) { if (ids(i) < ids(i - 1)) { sorted = false; i = n }; i += 1 }
      val ord = if (sorted) order else order.sortBy(ids(_))
      val docsOut = new java.io.ByteArrayOutputStream(n * 2)
      val dlsOut = new java.io.ByteArrayOutputStream(n)
      val urlsOut = new java.io.ByteArrayOutputStream(n * 12)
      val normsOut = new Array[Byte](n)
      var prev = 0L
      var k = 0
      while (k < n) {
        val j = ord(k)
        graft.codec.VByte.writeVLong(docsOut, if (k == 0) ids(j) else ids(j) - prev)
        prev = ids(j)
        graft.codec.VByte.writeVLong(dlsOut, dls(j).toLong)
        normsOut(k) = nbs(j)
        val ub = urls(j).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        graft.codec.VByte.writeVLong(urlsOut, ub.length.toLong)
        urlsOut.write(ub, 0, ub.length)
        k += 1
      }
      PostingChunk(seg, MetaTerm, n, docsOut.toByteArray, dlsOut.toByteArray,
        normsOut, urlsOut.toByteArray)
    }
  }

  /** Phase 2 (shared): shuffle chunks by (segment, term), merge and
    * stream-encode 128-doc blocks.
    */
  private def encodeChunks(spark: SparkSession,
                           chunks: Dataset[PostingChunk]): Dataset[PostingBlockRow] = {
    import spark.implicits._
    chunks
      .groupByKey(c => (c.segment_id, c.term))
      .flatMapGroups { (key: (Int, String), chunkIt: Iterator[PostingChunk]) =>
        val (seg, term) = key
        if (term == MetaTerm) encodeMetaBlocks(seg, chunkIt)
        else encodePostingBlocks(seg, term, chunkIt)
      }
  }

  private def encodePostingBlocks(seg: Int, term: String,
                                  chunkIt: Iterator[PostingChunk]): Iterator[PostingBlockRow] = {
        // merge chunks: entries are unique per doc, so a global sort by
        // docID over the concatenated decoded chunks is a correct k-way
        // merge (chunks themselves are ascending — doc-range disjoint
        // when input partitions are doc-ranged)
        val all = chunkIt.toArray
        val n = all.iterator.map(_.n).sum
        val entries = new Array[(Long, Int, Byte, Array[Int])](n)
        var k = 0
        all.foreach { c =>
          val ids = graft.codec.VByte.decodeDeltas(c.docs)
          val tfs = graft.codec.VByte.decodeAll(c.tfs).map(_.toInt)
          val hasPos = c.pos.length > 0
          val ps = if (hasPos) PostingCodec.decodePositions(c.pos, tfs) else null
          var i = 0
          while (i < ids.length) {
            entries(k) = (ids(i), tfs(i), c.norms(i),
              if (hasPos) ps(i) else Array.emptyIntArray)
            i += 1; k += 1
          }
        }
        java.util.Arrays.sort(entries, Ordering.by((e: (Long, Int, Byte, Array[Int])) => e._1))
        // multi-field inputs carry the field as a `fieldterm` key
        // through the (field-agnostic) chunk phase; split it back into
        // the block row's first-class field column here. Analyzer terms
        // are [a-z0-9]+, so the separator is unambiguous.
        val sep = term.indexOf(FieldSep)
        val (f, t) =
          if (sep >= 0) (term.substring(0, sep), term.substring(sep + 1))
          else (Field, term)
        PostingCodec.encodeBlocks(entries).iterator.map(b =>
          PostingBlockRow(seg, f, t, b.blockId, b.firstDocId,
            b.lastDocId, b.docCount, b.maxTf, b.minNormLen, b.sumTf,
            b.docs, b.freqs, b.norms, b.positions))
  }

  /** Merge + re-block the [[MetaTerm]] chunks of one segment into
    * ≤128-doc META block rows (same column layout discipline as real
    * posting blocks, so the one parquet write carries both).
    */
  private def encodeMetaBlocks(seg: Int,
                               chunkIt: Iterator[PostingChunk]): Iterator[PostingBlockRow] = {
    val all = chunkIt.toArray
    val n = all.iterator.map(_.n).sum
    val ids = new Array[Long](n)
    val dls = new Array[Int](n)
    val nbs = new Array[Byte](n)
    val urls = new Array[Array[Byte]](n)
    var k = 0
    all.foreach { c =>
      val cid = graft.codec.VByte.decodeDeltas(c.docs)
      val cdl = graft.codec.VByte.decodeAll(c.tfs)
      var off = 0
      var i = 0
      while (i < cid.length) {
        val (lenArr, o1) = graft.codec.VByte.decodeN(c.pos, off, 1)
        val len = lenArr(0).toInt
        ids(k) = cid(i); dls(k) = cdl(i).toInt; nbs(k) = c.norms(i)
        urls(k) = java.util.Arrays.copyOfRange(c.pos, o1, o1 + len)
        off = o1 + len
        i += 1; k += 1
      }
    }
    val order = Array.range(0, n).sortBy(ids(_))
    val blockSize = PostingCodec.BlockSize
    Iterator.range(0, (n + blockSize - 1) / blockSize).map { blockId =>
      val s = blockId * blockSize
      val e = math.min(s + blockSize, n)
      val m = e - s
      val docsOut = new java.io.ByteArrayOutputStream(m * 2)
      val dlsOut = new java.io.ByteArrayOutputStream(m)
      val urlsOut = new java.io.ByteArrayOutputStream(m * 12)
      val normsOut = new Array[Byte](m)
      var prev = 0L
      var sumDl = 0L
      var j = s
      while (j < e) {
        val i = order(j)
        graft.codec.VByte.writeVLong(docsOut, if (j == s) ids(i) else ids(i) - prev)
        prev = ids(i)
        graft.codec.VByte.writeVLong(dlsOut, dls(i).toLong)
        normsOut(j - s) = nbs(i)
        graft.codec.VByte.writeVLong(urlsOut, urls(i).length.toLong)
        urlsOut.write(urls(i), 0, urls(i).length)
        sumDl += dls(i)
        j += 1
      }
      PostingBlockRow(seg, MetaField, MetaTerm, blockId,
        ids(order(s)), ids(order(e - 1)), m, 0, 0, sumDl,
        docsOut.toByteArray, dlsOut.toByteArray, normsOut, urlsOut.toByteArray)
    }
  }

  /** Decode the META block rows written by the single-pass fused build
    * back into the docmeta table (narrow map over the compact blocks —
    * no text re-scan).
    */
  def metaRowsFromBlocks(spark: SparkSession,
                         blocks: Dataset[PostingBlockRow]): Dataset[DocMetaRow] = {
    import spark.implicits._
    blocks.filter(col("field") === MetaField).as[PostingBlockRow].flatMap { b =>
      val ids = graft.codec.VByte.decodeDeltas(b.docs)
      val dls = graft.codec.VByte.decodeAll(b.freqs)
      var off = 0
      Iterator.tabulate(ids.length) { i =>
        val (lenArr, o1) = graft.codec.VByte.decodeN(b.positions, off, 1)
        val len = lenArr(0).toInt
        val url = new String(b.positions, o1, len,
          java.nio.charset.StandardCharsets.UTF_8)
        off = o1 + len
        val nb = b.norms(i).toInt & 0xff
        DocMetaRow(b.segment_id, ids(i), url, dls(i).toInt, nb,
          SmallFloat.byte4ToInt(nb.toByte))
      }
    }
  }

  /** Term dictionary: per (segment, term) stats derived from the (much
    * smaller) block table — the analog of the reference's .tim entries
    * [8x codecs/blocktree/BlockTreeTermsWriter.java].
    */
  def buildTerms(postings: Dataset[PostingBlockRow]): DataFrame = {
    postings.groupBy("segment_id", "field", "term")
      .agg(sum("doc_count").as("df"), sum("sum_tf").as("ctf"),
        count(lit(1)).as("n_blocks"))
  }

  /** Build all three segment tables for the in-memory view: fused
    * postings path + a separate count-only docmeta pass. (The durable
    * [[IndexWriter.writeBatch]] is SINGLE-pass — its docmeta rides the
    * posting shuffle as META blocks; this lazy view keeps the two-pass
    * shape because nothing is materialized until an action anyway.)
    */
  def buildTables(spark: SparkSession, corpus: Dataset[DocInput],
                  segSize: Long = DefaultSegmentSize,
                  stopWords: Set[String] = Analyzer.EnglishStopWords,
                  indexPositions: Boolean = true): IndexView = {
    val postings = buildPostingsFused(spark, corpus, segSize, stopWords, indexPositions)
    IndexView(postings, buildTerms(postings),
      buildDocMeta(spark, corpus, segSize, stopWords))
  }

  /** Read a (doc_id, url, text) corpus DataFrame as Dataset[DocInput]. */
  def asDocInput(spark: SparkSession, df: DataFrame): Dataset[DocInput] = {
    import spark.implicits._
    df.select(col("doc_id").cast("long").as("doc_id"),
      col("url").cast("string").as("url"),
      col("text").cast("string").as("text")).as[DocInput]
  }
}
