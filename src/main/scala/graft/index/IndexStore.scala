package graft.index

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{SparkSession}
import org.apache.spark.sql.functions._

/** Lineage + metrics of one committed build batch — the north rule's
  * "resumable from per-partition checkpoints with lineage + rows/bytes/
  * postings metrics recorded per segment" (BASELINE.json:14).
  */
final case class BatchManifest(
    batch: Int,
    firstDocId: Long,      // lineage: input doc-id range covered
    lastDocIdExclusive: Long,
    segmentIds: Seq[Int],
    docs: Long,            // metrics
    sumTotalTermFreq: Long, // Σ dl over the batch's docmeta (BM25 avgdl)
    postingRows: Long,     // block rows
    postings: Long,        // posting entries (Σ doc_count)
    bytes: Long,           // postings bytes on disk
    terms: Long,
    committedAtEpochMs: Long)

final case class Snapshot(version: Int, segSize: Long, batches: Seq[Int])

/**
 * Durable index layout — an emulated-Iceberg table (no Iceberg jar in
 * this sandbox, SURVEY.md §7.2; swapping in real Iceberg is a
 * writer/catalog substitution, not a semantic change):
 *
 *   dir/segments/batch-<b>/{postings,terms,docmeta}/   (parquet)
 *   dir/manifests/manifest-<b>.json                     (per-batch commit)
 *   dir/snapshots/v<N>.json                             (live batch set)
 *
 * Commit protocol (analog of the reference's write-once segment files +
 * fsync'd `segments_N` generation [8x index/SegmentInfos.java]):
 * batch data is written to its final path idempotently (overwrite), the
 * manifest is published by temp-file + atomic rename, and a snapshot
 * rename is the single atomic publish point. A killed build resumes by
 * skipping batches whose manifest exists (see [[IndexWriter.build]]).
 */
object IndexStore {
  // a missing field is an error, not a silent 0: a manifest written
  // before `sumTotalTermFreq` existed would otherwise read as avgdl = 0
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES)

  def manifestPath(dir: String, batch: Int): Path =
    Paths.get(dir, "manifests", f"manifest-$batch%05d.json")

  def batchDir(dir: String, batch: Int): String =
    f"$dir%s/segments/batch-$batch%05d"

  private def atomicWrite(path: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def writeManifest(dir: String, m: BatchManifest): Unit =
    atomicWrite(manifestPath(dir, m.batch), mapper.writeValueAsBytes(m))

  def readManifest(dir: String, batch: Int): Option[BatchManifest] = {
    val p = manifestPath(dir, batch)
    if (!Files.exists(p)) None
    else try Some(mapper.readValue(Files.readAllBytes(p), classOf[BatchManifest]))
    catch {
      case e: JsonProcessingException => throw new IllegalStateException(
        s"manifest of batch $batch in $dir is unreadable (${e.getOriginalMessage}); " +
          "an index written by an older format must be rebuilt", e)
    }
  }

  /** Single-writer publish (bulk build owns the dir; see
    * [[tryPublishSnapshot]] for the multi-writer streaming path).
    */
  def publishSnapshot(dir: String, s: Snapshot): Unit =
    atomicWrite(Paths.get(dir, "snapshots", f"v${s.version}%05d.json"),
      mapper.writeValueAsBytes(s))

  /** Optimistic multi-writer publish: each snapshot VERSION is
    * write-once (hard-link creation is atomic and fails if the version
    * file exists — plain rename would silently replace on POSIX).
    * Returns false when another writer won this version; the caller
    * re-reads the new current snapshot, merges its batches and retries
    * with version+1 — so concurrent streams/writers can never publish a
    * snapshot that loses the other's batches (round-1 advisor finding).
    */
  def tryPublishSnapshot(dir: String, s: Snapshot): Boolean = {
    val path = Paths.get(dir, "snapshots", f"v${s.version}%05d.json")
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(
      s"${path.getFileName}.tmp-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    Files.write(tmp, mapper.writeValueAsBytes(s))
    try { Files.createLink(path, tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally { Files.deleteIfExists(tmp) }
  }

  def currentSnapshot(dir: String): Option[Snapshot] = {
    val d = Paths.get(dir, "snapshots")
    if (!Files.exists(d)) return None
    val listing = Files.list(d) // close: each unclosed list() leaks an fd
    val vs =
      try listing.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("v") && n.endsWith(".json"))
        .toSeq.sorted
      finally listing.close()
    vs.lastOption.map { n =>
      mapper.readValue(Files.readAllBytes(d.resolve(n)), classOf[Snapshot])
    }
  }

  /** A specific published snapshot version — snapshots are write-once,
    * so every past version stays readable (the reference's IndexCommit
    * history / an Iceberg time-travel read).
    */
  def snapshotAt(dir: String, version: Int): Option[Snapshot] = {
    val p = Paths.get(dir, "snapshots", f"v$version%05d.json")
    if (!Files.exists(p)) None
    else Some(mapper.readValue(Files.readAllBytes(p), classOf[Snapshot]))
  }
}

/** Checkpointed, resumable index build (SURVEY.md §2.2 flush/commit row).
  * The corpus is split into doc-range batches (the checkpoint unit); each
  * batch is one Spark job writing its own segment parquet + manifest, so
  * a killed build re-run skips committed batches and converges to the
  * identical snapshot (deterministic docIDs + deterministic encode).
  */
object IndexWriter {

  /** On-disk bytes of a directory (driver-side, no Spark job). */
  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) f.listFiles().map(dirBytes).sum
    else if (f.isFile) f.length() else 0L

  /** Write + commit ONE batch (idempotent: a batch whose manifest exists
    * is never rewritten). Shared by the bulk build and streaming NRT
    * ingestion ([[graft.streaming.NrtIngest]]) — the micro-batch path is
    * literally the bulk path on a smaller slice.
    */
  def writeBatch(spark: SparkSession,
                 slice: org.apache.spark.sql.Dataset[DocInput], dir: String,
                 b: Int, segSize: Long, stopWords: Set[String],
                 lo: Long, hi: Long, indexPositions: Boolean = true): Unit = {
    IndexStore.readManifest(dir, b) match {
      case Some(m) =>
        // resume validation: a committed batch is only skippable if it
        // covers the SAME doc range — a rerun with a different batch
        // split would otherwise silently publish an incomplete index
        require(m.firstDocId == lo && m.lastDocIdExclusive == hi,
          s"batch $b manifest covers docs [${m.firstDocId}, " +
            s"${m.lastDocIdExclusive}) but this build expects [$lo, $hi) " +
            "— resume must use the original batch split")
        return
      case None => ()
    }
    // ONE analysis pass over the batch text (rounds 1-2 ran two — a
    // postings pass and a docmeta count pass; at 100 TB the second full
    // corpus read is the single largest avoidable I/O term): the fused
    // kernel emits per-doc metadata as META block rows riding the SAME
    // posting shuffle, and the docmeta table is decoded from the compact
    // WRITTEN blocks (like terms already is) — no text re-scan. Caching
    // the analyzed Dataset instead was measured 3× worse (columnar cache
    // serialization of the nested term arrays, probed at 1M docs).
    val postings = Indexer.buildPostingsFused(spark, slice, segSize, stopWords,
      indexPositions, emitDocMeta = true)
    val bd = IndexStore.batchDir(dir, b)
    postings.write.mode("overwrite").parquet(s"$bd/postings")
    import spark.implicits._
    val written = spark.read.parquet(s"$bd/postings").as[PostingBlockRow]
    // doc count and Σ dl observed DURING the docmeta decode — no
    // separate action (driver-side fixed costs are the Amdahl term of
    // the two-cluster-size ratio at small batch sizes)
    val obs = new org.apache.spark.sql.Observation()
    Indexer.metaRowsFromBlocks(spark, written).toDF()
      .observe(obs, count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("sttf"))
      .write.mode("overwrite").parquet(s"$bd/docmeta")
    val nDocs = obs.get("n").asInstanceOf[Long]
    // terms from one scan of the written postings (consistency by
    // construction with what's on disk); META rows excluded
    Indexer.buildTerms(written.filter(col("field") =!= Indexer.MetaField))
      .write.mode("overwrite").parquet(s"$bd/terms")
    // manifest metrics from the (small) terms table + file sizes — no
    // second scan of the heavy postings payloads
    val tstats = spark.read.parquet(s"$bd/terms")
      .agg(count(lit(1)), coalesce(sum("df"), lit(0L)),
        coalesce(sum("n_blocks"), lit(0L))).head()
    IndexStore.writeManifest(dir, BatchManifest(
      batch = b, firstDocId = lo, lastDocIdExclusive = hi,
      segmentIds = (Indexer.segmentOf(lo, segSize) to Indexer.segmentOf(math.max(lo, hi - 1), segSize)).toList,
      docs = nDocs, sumTotalTermFreq = obs.get("sttf").asInstanceOf[Long],
      postingRows = tstats.getLong(2), postings = tstats.getLong(1),
      bytes = dirBytes(new java.io.File(s"$bd/postings")), terms = tstats.getLong(0),
      committedAtEpochMs = System.currentTimeMillis()))
  }

  def build(spark: SparkSession, corpus: org.apache.spark.sql.Dataset[DocInput],
            dir: String, segSize: Long = Indexer.DefaultSegmentSize,
            nBatches: Int = 1,
            stopWords: Set[String] = graft.analysis.Analyzer.EnglishStopWords,
            failAfterBatch: Int = Int.MaxValue,
            knownMaxDoc: Long = -1L,
            indexPositions: Boolean = true): Snapshot = {
    import spark.implicits._
    // pass knownMaxDoc when the caller already knows the id range — skips
    // a full corpus scan (at 100 TB that scan is a real job)
    val maxDoc = if (knownMaxDoc > 0) knownMaxDoc
                 else corpus.agg(max("doc_id")).head().getLong(0) + 1
    val perBatch = math.max(1L, (maxDoc + nBatches - 1) / nBatches)
    // align batch boundaries to segment boundaries so a segment never
    // spans two checkpoint units
    val alignedPerBatch = math.max(segSize, (perBatch + segSize - 1) / segSize * segSize)
    val batches = (0 until math.ceil(maxDoc.toDouble / alignedPerBatch).toInt)

    batches.foreach { b =>
      if (IndexStore.readManifest(dir, b).isEmpty) {
        if (b > failAfterBatch) // test hook: simulate a crash mid-build
          throw new RuntimeException(s"injected failure before batch $b")
        val lo = b * alignedPerBatch
        val hi = math.min(maxDoc, lo + alignedPerBatch)
        val slice = corpus.filter($"doc_id" >= lo && $"doc_id" < hi)
        writeBatch(spark, slice, dir, b, segSize, stopWords, lo, hi, indexPositions)
      }
    }
    val version = IndexStore.currentSnapshot(dir).map(_.version + 1).getOrElse(1)
    val snap = Snapshot(version, segSize, batches)
    IndexStore.publishSnapshot(dir, snap)
    snap
  }
}

object IndexReader {
  /** Load the live snapshot as an IndexView (union of batch parquet). */
  def load(spark: SparkSession, dir: String): IndexView =
    ofSnapshot(spark, dir, IndexStore.currentSnapshot(dir)
      .getOrElse(throw new IllegalStateException(s"no snapshot in $dir")))

  /** Time-travel read: the index exactly as of a PAST published version
    * (write-once snapshots + write-once batch segments make every
    * committed state permanently reconstructable — the reference's
    * IndexCommit / DirectoryReader.open(commit) [8x index/IndexCommit
    * .java]; an Iceberg snapshot read at scale).
    */
  def loadVersion(spark: SparkSession, dir: String, version: Int): IndexView =
    ofSnapshot(spark, dir, IndexStore.snapshotAt(dir, version)
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot v$version in $dir")))

  private def ofSnapshot(spark: SparkSession, dir: String,
                         snap: Snapshot): IndexView = {
    import spark.implicits._
    val dirs = snap.batches.map(IndexStore.batchDir(dir, _))
    // the single-pass fused build stores docmeta as META block rows
    // INSIDE the postings parquet; exclude them here (a pushed
    // min/max-prunable field predicate) so every search-path consumer
    // sees real postings only
    val postings = spark.read.parquet(dirs.map(_ + "/postings"): _*)
      .where(org.apache.spark.sql.functions.col("field") =!= Indexer.MetaField)
      .as[PostingBlockRow]
    val terms    = spark.read.parquet(dirs.map(_ + "/terms"): _*)
    val docmeta  = spark.read.parquet(dirs.map(_ + "/docmeta"): _*).as[DocMetaRow]
    // collection stats from the commit: Σ over the snapshot's manifests,
    // read on the driver (the reference's SegmentInfos, not a scan)
    val manifests = snap.batches.map(b => IndexStore.readManifest(dir, b)
      .getOrElse(throw new IllegalStateException(
        s"snapshot v${snap.version} in $dir lists batch $b, which has no manifest")))
    IndexView(postings, terms, docmeta, Some(graft.stats.CollectionStats(
      manifests.map(_.docs).sum, manifests.map(_.sumTotalTermFreq).sum)))
  }
}
