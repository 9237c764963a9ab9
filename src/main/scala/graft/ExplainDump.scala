package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan audit: dumps `explain(formatted)` of the headline
  * queries to PLANS.md, with the scale-critical properties to check
  * noted per plan (pushed filters, pruned schemas, broadcast vs
  * shuffle joins, partial aggregation, TakeOrderedAndProject).
  *
  * runMain graft.ExplainDump [sfDir] [outFile]
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "/root/repo/PLANS.md"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of headline queries\n\n")
    sb.append("Generated by `runMain graft.ExplainDump` on `" + sfDir + "`.\n")
    sb.append("Each section lists the scale property the plan must show,\n")
    sb.append("then the `explain(formatted)` output (truncated to the\n")
    sb.append("operator tree — the interesting part).\n")

    def section(name: String, why: String, df: DataFrame): Unit = {
      val full = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val blocks = full.split("\n\n")
      // operator tree + the scan-node details (PushedFilters/ReadSchema)
      val keep = blocks.head +: blocks.tail.filter(b =>
        b.contains("Scan parquet") || b.contains("PushedFilters"))
      sb.append(s"\n## $name\n\n$why\n\n```\n${keep.mkString("\n\n")}\n```\n")
    }

    val view = IndexCache.documentsIndex(spark, sfDir)

    section("bm25_topk_exact",
      "Catalyst plans the top-k cut as TakeOrderedAndProject (per-partition " +
      "partial top-k + driver merge — the reference's per-leaf collect + " +
      "TopDocs.merge); posting blocks are filtered on the query terms " +
      "before decode.",
      graft.search.ExactSearch.topK(spark, view, Seq("spark", "join"), 10))

    section("bmw_block_scan",
      "The BMW fast path scans ONLY the block rows of the query terms — " +
      "the `term` filter must reach the scan (on a disk-backed index " +
      "this is a parquet PushedFilter over the term-sorted block rows, " +
      "the FST analog).",
      view.postings.filter(org.apache.spark.sql.functions.col("term")
        .isin("merge", "dup", "scan")).toDF())

    section("relational: hash_join_topk",
      "Dimension side must be BroadcastHashJoin (no shuffle of the fact " +
      "side), then TakeOrderedAndProject.",
      graft.operators.Relational.hashJoinTopK(spark, sfDir))

    section("relational: rollup_agg",
      "HashAggregate must appear twice (partial + final) around the " +
      "exchange — map-side combine.",
      graft.operators.Relational.rollupAgg(spark, sfDir))

    section("relational: select_expr",
      "The shipdate predicate must appear in PushedFilters and ReadSchema " +
      "must contain only the projected columns (scan prunes both).",
      graft.operators.Relational.selectExpr(spark, sfDir))

    section("training: dedup_minhash_lsh",
      "Signature/banding is a narrow flatMap over the corpus scan (no " +
      "shuffle before the band-bucket aggregation); exact verification " +
      "joins only the candidate pairs.",
      graft.operators.TrainingData.dedupMinhashLsh(spark, sfDir))

    section("training: dedup_embedding (sign-sketch LSH + exact verify)",
      "Hashed-TF vectors are one typed narrow pass; the sketch flatMap " +
      "is narrow off the persisted vectors; candidates come from the " +
      "band-bucket self-join (star-capped) and the exact integer cosine " +
      "verify joins ONLY candidate pairs — no all-pairs product anywhere.",
      graft.operators.TrainingData.dedupEmbeddingLazy(spark,
        graft.operators.TrainingData.hashedTfVecs(spark,
          spark.read.parquet(s"$sfDir/documents.parquet")).persist(), 9801L))

    section("training: ann_cosine_topk",
      "Brute-force cosine is a single narrow pass over the embeddings " +
      "scan (BroadcastNestedLoopJoin with the 1-row query vector, " +
      "codegen'd zip_with/aggregate), cut by TakeOrderedAndProject.",
      graft.operators.Vectors.annBruteTopK(spark, sfDir))

    section("relational: window_collapse",
      "The partition-key predicate (o_custkey % 10 = 0) must sit BELOW " +
      "the window exchange — i.e. in the scan's filter, before the " +
      "row_number shuffle (round-1 VERDICT item #9: 10x less shuffled).",
      graft.operators.Relational.windowCollapse(spark, sfDir))

    section("training: ann_lsh_topk (sketch + radius filter + rerank)",
      "Stage 1 must be a NARROW popcount map + `ham <= radius` Filter " +
      "over the cached sketch table — NO global sort and NO " +
      "proportional-k limit/single-partition exchange anywhere before " +
      "the final top-k (round-2 VERDICT item #3); stage 2 an exact " +
      "cosine over only the radius survivors.",
      graft.operators.Vectors.annLshTopK(spark, sfDir))

    section("index_sort_topk remap (range-partitioned rank)",
      "The sort-field docID remap must be a range-partitioned sort " +
      "(Exchange rangepartitioning) — no single-partition window " +
      "(round-2 VERDICT item #5). The rank itself is zipWithIndex over " +
      "the range-sorted partitions.",
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("n_chars"))
        .repartitionByRange(org.apache.spark.sql.functions.col("n_chars").asc,
          org.apache.spark.sql.functions.col("doc_id").asc)
        .sortWithinPartitions(
          org.apache.spark.sql.functions.col("n_chars").asc,
          org.apache.spark.sql.functions.col("doc_id").asc))

    section("multifield_dismax (prebuilt two-field index)",
      "Queries the CACHED (title, body) index: the plan must read the " +
      "in-memory posting blocks with a (field, term) filter and contain " +
      "NO analysis/build stages (round-2 VERDICT item #4: query cost " +
      "only).",
      graft.search.MultiField.dismaxTopK(spark, sfDir,
        Seq("spark", "merge"), 0.3, 10, IndexCache.TestSegmentSize))

    section("facet_nested (bucket-in-bucket)",
      "ONE aggregation pass at the finest grain; the parent cut is a " +
      "TakeOrdered over the tiny re-aggregated frame and broadcasts " +
      "into the child-rank window join — no second scan of the fact " +
      "table, no global window.",
      graft.operators.Relational.facetNested(spark, sfDir))

    section("join_query (JoinQParser semi-join)",
      "The inner query's join-key set must BROADCAST into a " +
      "left-semi join of the outer doc set — no shuffle of the outer " +
      "side on the join key.",
      SparkEntry.queries("join_query")(spark, sfDir))

    section("query_compile_nested",
      "The compiled boolean tree must lower to ONE dataflow: per-term " +
      "scored scans unioned/aggregated, broadcast semi/anti joins for " +
      "FILTER/MUST_NOT (no shuffle of the scored side for the small doc " +
      "sets), TakeOrderedAndProject on top.",
      SparkEntry.queries("query_compile_nested")(spark, sfDir))

    section("decontaminate (benchmark 8-gram collision)",
      "The benchmark side must be filtered BEFORE shingling (the doc_id " +
      "predicate sits directly on its scan, below the Generate — modulo " +
      "is not parquet-pushable, so it stays a Filter node) and enter as a " +
      "BroadcastHashJoin LeftSemi build side; the training side is one " +
      "narrow scan -> generate (no window, no wide shuffle before the " +
      "per-doc count agg).",
      graft.operators.TrainingData.decontaminate(spark, sfDir))

    section("sharded_topk (two-phase distributed search)",
      "Per-shard cut via WindowGroupLimit/row_number partitioned by " +
      "shard (NO single-partition window), then a global TakeOrdered " +
      "over only k x #shards survivors.",
      SparkEntry.queries("sharded_topk")(spark, sfDir))

    section("training: ann_ivf_topk (coarse-quantizer probe)",
      "Stage 1 is driver-side over the TINY centroid/size tables (no " +
      "job); the data-side plan must be a narrow `cell IN (probed)` " +
      "filter on the cell-assigned corpus (bucket pruning at scale) " +
      "followed by the same codegen'd cosine kernel as the brute path " +
      "and a TakeOrderedAndProject — no global sort of the corpus, no " +
      "per-cell driver loop.",
      graft.operators.Vectors.annIvfTopK(spark, sfDir))

    section("index_build single-pass (META docmeta blocks)",
      "ONE corpus text scan feeds postings AND docmeta: the plan below " +
      "(the docmeta decode) must read the compact WRITTEN posting " +
      "blocks with a `field = __meta__` predicate (parquet min/max " +
      "prunable), NOT re-scan the corpus text.",
      {
        val tmp = java.nio.file.Files.createTempDirectory("graft-plan-meta").toString
        val corpus = graft.index.Indexer.asDocInput(spark,
          spark.read.parquet(s"$sfDir/documents.parquet")
            .selectExpr("doc_id", "CAST(doc_id AS STRING) AS url", "text"))
        graft.index.IndexWriter.build(spark, corpus, tmp, 1L << 14)
        import spark.implicits._
        graft.index.Indexer.metaRowsFromBlocks(spark,
          spark.read.parquet(graft.index.IndexStore.batchDir(tmp, 0) + "/postings")
            .as[graft.index.PostingBlockRow]).toDF()
      })

    section("training: pack_sequences (distributed prefix sum)",
      "The staging dataflow (audit twin; production eagerly checkpoints " +
      "the tiny bin-level result and frees the staging): " +
      "RangePartitioning exchange + mapPartitions running sums + " +
      "two-phase hash aggregate over seq_id — NO single-partition " +
      "window anywhere for the global prefix sum (per-partition " +
      "offsets are broadcast scalars).",
      graft.operators.TrainingData.packSequencesPlan(spark, sfDir))

    section("training: dup_ngram_prune (duplicate 5-grams)",
      "Shingles are generated NARROW per row (Generate directly over " +
      "the scan, no window), then ONE hash shuffle on the shingle for " +
      "the df agg and a shuffle join back — the standard two-pass " +
      "dedup-signal shape.",
      graft.operators.TrainingData.dupNgramPrune(spark, sfDir))

    section("significant_terms (index-routed, round 4)",
      "The doc-term pairs must come from the POSTING BLOCK scan (decode " +
      "of docID streams; freqs/norms/positions pruned from ReadSchema), " +
      "NOT from a documents.parquet re-tokenize; the foreground docset " +
      "is a separate pushed-term-filter scan broadcast into the tag " +
      "join; one partial+final aggregate per term.",
      graft.operators.Relational.significantTermsPlan(spark, sfDir))

    section("text_logit feature frame (pushed feature-term filter)",
      "The 8 feature terms must filter the BLOCK rows before decode " +
      "(term IN (...) on the postings scan — parquet-stat prunable), so " +
      "only 8 posting lists are ever decoded.",
      graft.operators.Relational.docTermsFromIndex(spark, sfDir,
        Some(org.apache.spark.sql.functions.col("term")
          .isin(graft.operators.Relational.LogitFeatures: _*))))

    section("payload_score (index position payloads)",
      "One pushed-filter block scan of the query term's posting list + " +
      "position decode; the corpus text is never read.",
      SparkEntry.queries("payload_score")(spark, sfDir))

    section("porter_stem_df (dictionary-level stemming)",
      "Stems are computed on the DISTINCT vocabulary off the term " +
      "dictionary (dictionary-sized frame), broadcast back onto the " +
      "decoded posting pairs for the doc-distinct df; ctf comes from " +
      "the dictionary sums — no corpus re-tokenize anywhere.",
      SparkEntry.queries("porter_stem_df")(spark, sfDir))

    section("qparse_lucene (parsed mixed-occur query)",
      "The parsed string must lower to the SAME one-dataflow shape as " +
      "the typed tree: per-term scored scans with pushed term filters, " +
      "broadcast anti-join for MUST_NOT, TakeOrderedAndProject on top.",
      SparkEntry.queries("qparse_lucene")(spark, sfDir))

    section("block_join_parent (nested-block index, round 4)",
      "Child hits come from the children's own postings (pushed " +
      "two-term filter), the parent bitset is the sentinel term's " +
      "posting list, and the child->parent mapping is arithmetic + a " +
      "join against the parent docset — no corpus scan, no explode.",
      SparkEntry.queries("block_join_parent")(spark, sfDir))

    section("let_regress (math-stream eval, round 4)",
      "Both let vectors come from ONE sorted+limited scan each (the " +
      "stream's rows= contract is a LocalLimit/GlobalLimit above the " +
      "scan — bounded before the single-partition ord window, which is " +
      "legal exactly because the limit runs first, like the reference " +
      "materializing the vector in the /stream handler); the regression " +
      "itself is ONE exact-integer-moments aggregate over the joined " +
      "bounded vectors — never a corpus-scale shuffle.",
      SparkEntry.queries("let_regress")(spark, sfDir))

    section("highlight_topk (passage-scored, candidate-bounded)",
      "Everything after the top-k cut must operate on the BROADCAST " +
      "top-k doc set (passage enumeration joins are per-doc within k " +
      "docs); the corpus scan is pruned to (doc_id, text).",
      SparkEntry.queries("highlight_topk")(spark, sfDir))

    section("shingle_df (index-position bigrams, round 4)",
      "Shingles are decoded from the POSTING position payloads (no " +
      "documents.parquet scan anywhere in the plan); the only shuffle " +
      "is the per-doc window over (doc_id, pos) — partitioned by " +
      "doc_id, so it scales with docs, never a global sort.",
      SparkEntry.queries("shingle_df")(spark, sfDir))

    section("block_join_facet (child-domain facet, round 4)",
      "The matching-parent frame must BROADCAST into the children's " +
      "decoded posting stream (facet pass = one semi-join + hash " +
      "aggregate over the children of matching blocks); top-k cut is " +
      "TakeOrderedAndProject.",
      graft.search.MoreQueries.blockJoinChildFacet(spark,
        graft.index.NestedBlocks.nestedIndex(spark, sfDir), "spark", 10))

    section("asof_join (sorted-window as-of, round 4)",
      "The as-of attribution is ONE exchange on user_id + ONE Window " +
      "carrying the last view forward — no self-join anywhere in the " +
      "plan (a pair join would be quadratic on active users); the scan " +
      "is pruned to the four event columns.",
      graft.operators.Relational.asofJoin(spark, sfDir))

    section("leading_wildcard (reversed-dictionary rewrite, round 4)",
      "A *suffix pattern is rewritten to a PREFIX predicate over the " +
      "REVERSED dictionary (StartsWith on rterm — the sargable form; " +
      "at production scale rterm is a stored sorted column beside term " +
      "and parquet stats prune it); the doc set is the usual pushed " +
      "In(term, ...) posting decode, never a corpus scan.",
      SparkEntry.queries("leading_wildcard")(spark, sfDir))

    section("common_grams_phrase (stop-adjacent gram postings, round 4)",
      "The phrase-with-stopword query must read ONE gram's postings — " +
      "an equality filter on the gram key pushed into the cached gram " +
      "table scan; no stopword posting list and no raw-text scan " +
      "anywhere in the query plan (the tokenize pass is the WRITE path, " +
      "paid once per corpus like any index build).",
      graft.index.CommonGrams.phraseDocs(spark, sfDir, "the", "spark"))

    section("chunk_documents (context-window chunking, round 4)",
      "Chunking must be FULLY NARROW — one Generate over a per-row " +
      "transform/sequence fused with the pruned (doc_id, text) scan; " +
      "no Exchange anywhere in the plan (a window/shuffle formulation " +
      "would serialize the corpus at 100 TB for a per-row operation).",
      graft.operators.TrainingData.chunkDocuments(spark, sfDir, 40, 10))

    section("facet_range_other (one-scan range facet + other buckets)",
      "Every order maps to ONE label (bucket start / before / after) in " +
      "a single partial+final hash aggregate over the scan; `between` " +
      "re-aggregates the already-tiny bucket frame — the fact table is " +
      "read exactly once.",
      graft.operators.Relational.facetRangeOther(spark, sfDir,
        5000000L, 40000000L, 5000000L))

    section("explain_score (per-term decomposition, candidate-bounded)",
      "The decomposition joins the decoded posting rows to the BROADCAST " +
      "top-k (no shuffle of the posting side, never a second corpus " +
      "pass) and to the broadcast per-term stats frame; posting blocks " +
      "are term-filtered before decode.",
      graft.search.MoreQueries.explainTopK(spark, view,
        Seq("spark", "join"), 3))

    section("qparse_edismax_mm (minimum-should-match dismax)",
      "The matched-term count rides the SAME per-doc combine as the " +
      "score (one groupByKey pass over the term-filtered multi-field " +
      "postings); mm filters after — no second aggregation or join.",
      graft.search.MultiField.dismaxScoredMm(spark, sfDir,
        Seq("spark", "merge", "dup"), 0.3, IndexCache.TestSegmentSize,
        boosts = Map("title" -> 2.0))
        .where(org.apache.spark.sql.functions.col("n_terms") >= 2))

    section("percolate_monitor (stored-query registry, one pass)",
      "The registry is a tiny BROADCAST frame joined into ONE decoded " +
      "posting scan of the union of registered terms (pushed In(term,...) " +
      "— the presearcher's pruning); every conjunction evaluates in a " +
      "single count-equals-arity hash aggregate and MUST_NOT is a " +
      "broadcast anti-join — no per-query job, no corpus scan, at any " +
      "registry size.",
      graft.search.Monitor.percolate(spark, view))

    section("classify_nb (index-trained naive Bayes)",
      "The training pass is two hash aggregates over ONE full posting " +
      "decode (the only full-index scan — paid once per MODEL, not per " +
      "query, like a segment merge); classification joins the same " +
      "decoded pairs against the (term x class) log-prob table with the " +
      "tiny per-class constants broadcast. No text re-analysis anywhere.",
      graft.search.Classify.naiveBayes(spark, sfDir, view))

    section("classic_tfidf_topk (pluggable similarity, round 4)",
      "Similarity swap reuses the BM25 exact path's plan shape exactly: " +
      "pushed term filter on the posting blocks, broadcast per-term df " +
      "frame, one partial+final per-doc aggregate, TakeOrderedAndProject " +
      "— scoring model changes, dataflow does not.",
      graft.search.Similarities.topK(spark, view,
        Seq("spark", "join"), 10, graft.search.Similarities.classicTfidf))

    section("semdedup (within-cluster near-identical pairs)",
      "Cluster assignment is a narrow broadcast-centroid map; the " +
      "candidate pair join is keyed on the CLUSTER id (self-join per " +
      "cluster, never all-pairs), and the cosine verify runs only on " +
      "in-cluster pairs — the SemDeDup scale contract.",
      graft.operators.TrainingData.semDedup(spark, sfDir))

    section("scored_join (cross-collection score join, round 4)",
      "The inner-query score map is ONE map-side-combinable per-key " +
      "aggregate whose output is key-cardinality-sized, then BROADCAST " +
      "onto the outer side (look for BroadcastHashJoin with the " +
      "aggregate on the build side) — the fromIndex join shape; the " +
      "outer side reads docmeta only, and the cut is " +
      "TakeOrderedAndProject.",
      SparkEntry.queries("scored_join")(spark, sfDir))

    section("group_query_topk (query-defined result grouping, round 4)",
      "ONE scored pass of the main query: the group domains are " +
      "labeled constant-score docID frames UNIONED first and joined " +
      "to the scored frame once, so the scoring subtree appears a " +
      "single time in the plan (a per-group semi-join union would " +
      "re-execute it per group); the per-group cut is a rank window " +
      "partitioned by grp — WindowGroupLimit shape, never a global " +
      "sort.",
      SparkEntry.queries("group_query_topk")(spark, sfDir))

    section("geo_polygon (ray-cast polygon filter, round 4)",
      "The whole query must be ONE WholeStageCodegen Filter over the " +
      "scan — bbox band + per-edge crossing test fused, no join, no " +
      "trig, no shuffle anywhere. The coordinates here are key-DERIVED " +
      "(synthetic), so the bbox cannot push past the projection; with " +
      "stored lat/lon columns the same two between() predicates are " +
      "raw-column comparisons and become PushedFilters + parquet " +
      "min/max pruning (the BKD-pruning role).",
      SparkEntry.queries("geo_polygon")(spark, sfDir))

    section("covering_query (per-doc min-match threshold, round 4)",
      "ONE decoded-postings pass: the per-doc hash aggregate sums " +
      "scores AND counts matched clauses in the same partial+final " +
      "agg, and the per-doc threshold (1 + doc_id % 3) is a narrow " +
      "filter on the grouping key — no join, no second pass, no " +
      "re-aggregation anywhere in the plan.",
      SparkEntry.queries("covering_query")(spark, sfDir))

    section("stream_kmeans (integer-grid Lloyd, round 4)",
      "Each assignment round is a BroadcastNestedLoopJoin against the " +
      "k-row centroid frame (k x dim — always broadcastable) feeding " +
      "ONE argmin hash aggregate per point (min over struct(dist, cid) " +
      "— no window, no sort exchange); each centroid update is one " +
      "(cluster, dim) partial+final hash aggregate. Nothing quadratic, " +
      "no driver loop over rows — iteration count is the only serial " +
      "dimension, exactly like dedup_clusters.",
      SparkEntry.queries("stream_kmeans")(spark, sfDir))

    section("text_profile_sig (fuzzy ingest-dedup signature, round 4)",
      "One (doc, term) count shuffle is the whole cost: the quant rule " +
      "is a per-doc max over that frame, the profile serialization is " +
      "a per-doc collect_list sort (bounded by per-doc vocabulary), " +
      "and md5 is narrow — the corpus text is read exactly once and " +
      "nothing global exists in the plan.",
      SparkEntry.queries("text_profile_sig")(spark, sfDir))

    section("subquery_transform (fl=[subquery] decorator, round 4)",
      "The k-hit window is a LOCAL relation (pass 1 ran exactly once), " +
      "its distinct parameter values BROADCAST-semi-join the sub " +
      "term's pushed posting decode, and the per-parameter rank is a " +
      "window partitioned by source — decoration cost is O(sub hits " +
      "of k parameter values), never a per-parent job or corpus scan.",
      SparkEntry.queries("subquery_transform")(spark, sfDir))

    section("shard_local_idf (LocalStatsCache sharding, round 4)",
      "ONE pushed posting decode feeds everything: the per-shard " +
      "df and collection-stats frames are TINY broadcast aggregates " +
      "(shard-count-sized), the local top-k is a rank window " +
      "partitioned by shard (WindowGroupLimit shape, never a global " +
      "sort), and the merge sorts k x #shards rows.",
      SparkEntry.queries("shard_local_idf")(spark, sfDir))

    section("docvalues_update (generation-stamped DV overlays, round 4)",
      "Each overlay is a narrow decode of ONE term's pushed posting " +
      "blocks; the newest-generation resolve is a single struct-max " +
      "hash aggregate; the docmeta join ships only updated docs — no " +
      "reindex, no corpus scan, the .dvu update-file cost class.",
      SparkEntry.queries("docvalues_update")(spark, sfDir))

    section("minhash_query ({!min_hash} batch similarity, round 4)",
      "The dedup LSH machinery as a SEARCH surface: corpus band rows " +
      "are narrow per-doc signatures (no shuffle), the query side's " +
      "band rows are a tiny BROADCAST frame, and exact Jaccard " +
      "shuffles only candidate (q,doc) pairs — the quadratic " +
      "query x corpus comparison never materializes.",
      SparkEntry.queries("minhash_query")(spark, sfDir))

    section("combined_field_topk (BM25F CombinedFieldQuery, round 4)",
      "One posting decode over the two-field cached index feeds a " +
      "per-(doc, term) weighted-tf hash aggregate; the blended norm is " +
      "a second tiny per-doc aggregate over fieldmeta joined back; " +
      "per-term pseudo-df is a collected map (query-term-sized) and " +
      "the cut is TakeOrderedAndProject — same cost class as the " +
      "dismax path, no corpus re-read for stats.",
      SparkEntry.queries("combined_field_topk")(spark, sfDir))

    section("export_sorted (/export full-sort handler, round 4)",
      "The term's doc set comes from a PUSHED posting decode, joins " +
      "the stored fields, and the FULL export order is a " +
      "RANGE-PARTITIONED sort (Exchange rangepartitioning) + " +
      "partition-offset zipWithIndex — no single-partition window at " +
      "any hit count, the docID-assignment pattern reused.",
      SparkEntry.queries("export_sorted")(spark, sfDir))

    section("facet_relatedness (SKG relatedness agg, round 4)",
      "The foreground doc set is one pushed posting decode BROADCAST " +
      "into a left join, and the per-bucket z-score is ONE conditional " +
      "partial+final hash aggregate over the bucket field — the " +
      "bucket frame is facet-cardinality-sized; the corpus is scanned " +
      "exactly once.",
      SparkEntry.queries("facet_relatedness")(spark, sfDir))

    section("sharded_group_topk (two-phase distributed grouping, round 4)",
      "Every cut is a rank window PARTITIONED BY shard (WindowGroupLimit " +
      "shape — per-shard proposals, then per-(shard, group) doc cuts), " +
      "the elected group set is a tiny broadcast, and only the final " +
      "merge (nGroups x perGroup x #shards rows) sorts globally. No " +
      "stage touches a shard's full hit set after phase 1's group-best " +
      "aggregate.",
      SparkEntry.queries("sharded_group_topk")(spark, sfDir))

    section("bloom_url_filter (seen-URL Bloom probe, round 5 build)",
      "The build side is DISTRIBUTED (round-5): each partition ORs its " +
      "keys' k bit positions into a packed Array[Long] and treeAggregate " +
      "merges the partials — the driver holds only the m-bit filter " +
      "(~1 B/key), never the keys. The probe side shown here is FULLY " +
      "NARROW — a codegen'd projection checking k positions per row " +
      "against the broadcast bitmap, no join and no shuffle.",
      SparkEntry.queries("bloom_url_filter")(spark, sfDir))

    section("qparse_lucene_or (parsed front door → BMW kernel, round 5)",
      "A user-typed pure disjunction now lowers to the BMW kernel: the " +
      "plan must show the posting-block scan filtered to the query " +
      "terms (term IN (...) reaches PushedFilters), one repartition on " +
      "segment_id + sortWithinPartitions feeding the per-segment " +
      "streaming kernel, and a final TakeOrderedAndProject — NOT the " +
      "exact path's per-term union + groupBy sum. This is the " +
      "reference's automatic WANDScorer applied to what users type.",
      SparkEntry.queries("qparse_lucene_or")(spark, sfDir))

    section("cluster_keep_best (near-dup keeper selection)",
      "Keeper election is ONE hash aggregate (max quality, doc tie-break " +
      "packed into a single struct max — no window over the corpus) over " +
      "the cluster frame; the cluster frame itself comes from the " +
      "session-cached LSH + pointer-jumping CC chain whose cost is " +
      "counted once per session, and every verify join is " +
      "candidates-only.",
      SparkEntry.queries("cluster_keep_best")(spark, sfDir))

    section("add_indexes (wholesale segment adoption)",
      "IndexWriter.addIndexes semantics: the incoming index's segment " +
      "tables are adopted with a constant segment-id offset — the plan " +
      "must be pure narrow projections (renumber columns) + union, NO " +
      "shuffle, NO re-tokenization, NO posting rewrite.",
      SparkEntry.queries("add_indexes")(spark, sfDir))

    section("classify_knn (index-routed kNN classifier)",
      "The query document's term vector is dictionary-sized and " +
      "BROADCAST into the scored join against decoded postings of the " +
      "query's terms only; class vote is one small aggregate over the " +
      "k nearest — the corpus is never re-tokenized and never " +
      "cross-joined at full width.",
      SparkEntry.queries("classify_knn")(spark, sfDir))

    section("suggest_context (context-filtered completion)",
      "The suggester dictionary is a dictionary-sized aggregate " +
      "(term, context, weight) built once; the context filter is a " +
      "pushed predicate on that small frame, then a top-k cut — " +
      "no corpus scan at lookup time.",
      SparkEntry.queries("suggest_context")(spark, sfDir))

    section("group_func_topk (group.func two-phase grouping, round 5)",
      "Grouping on a computed value source: phase 1 elects top groups " +
      "via a partial+final hash aggregate (max score per group), the " +
      "elected set is BROADCAST back, and only surviving groups pay the " +
      "per-group rank window (WindowGroupLimit shape).",
      SparkEntry.queries("group_func_topk")(spark, sfDir))

    section("cluster_merge_stc membership frame (STC entries, round 5)",
      "The DISTRIBUTED part of both STC entries (the merge closure " +
      "itself then runs driver-side on ≤ 10×100 collected rows — " +
      "cluster-count-sized, never corpus-sized): this is the shared " +
      "hitBigramLabels frame, whose plan must show the sargable " +
      "first/last_doc_id range predicates reaching the posting-block " +
      "scan (PushedFilters), the hit-bounded decode flatMap, and ONE " +
      "per-doc rank window over hit rows only.",
      SparkEntry.hitBigramLabels(spark, view, "spark", 100))

    section("shape_polygon_query (LatLonShape relations, round 5)",
      "Fully NARROW: one projection computing the integer shape " +
      "columns, the bbox candidate filter as plain integer " +
      "predicates, and the exact SAT/containment UDF only on " +
      "candidates — no join, no shuffle, no corpus-wide geometry. " +
      "The coordinates here are doc_id-DERIVED (synthetic), so the " +
      "bbox filter runs after the projection; with STORED shape bbox " +
      "columns the identical predicates push to parquet min/max stats " +
      "(the BKD-prune role) — same honest caveat as geo_polygon.",
      SparkEntry.queries("shape_polygon_query")(spark, sfDir))

    section("porter2_stem_df (Snowball stemmer over the dictionary, round 5)",
      "Stems are computed ONCE on the distinct term dictionary " +
      "(dictionary-sized, millions at 100 TB) and BROADCAST into the " +
      "doc-term join; df is doc-distinct off decoded postings and ctf " +
      "off dictionary sums — the corpus text is never re-tokenized.",
      SparkEntry.queries("porter2_stem_df")(spark, sfDir))

    section("qparse_json (JSON Request API front door, round 5)",
      "The JSON bool DSL parses to the SAME Query AST as the classic " +
      "string (tree equality test-pinned), so the plan below is " +
      "byte-identical to qparse_lucene's: one broadcast term-stats " +
      "lookup, posting semi-join on the query terms, per-doc score " +
      "sum, TakeOrderedAndProject(k). A second front door adds ZERO " +
      "new execution surface — pure-bag JSON queries route to the " +
      "block-max kernels through the same kernelChoice.",
      SparkEntry.queries("qparse_json")(spark, sfDir))

    section("analysis_field_stages (/analysis/field handler, round 5)",
      "Dictionary-sized by construction: ONE distinct over the " +
      "tokenized corpus (the only shuffle), then a narrow per-term " +
      "stage explode — ~4 rows per VOCABULARY term, never per " +
      "occurrence. At 100 TB the vocabulary is ~10^6 while " +
      "occurrences are ~10^13; the handler introspects the chain, it " +
      "never replays the corpus per probe.",
      SparkEntry.queries("analysis_field_stages")(spark, sfDir))

    section("qparse_json_request (JSON envelope with fq, round 5)",
      "The envelope's filter clauses are Occur.FILTER: non-scoring, " +
      "lowered to a BROADCAST semi-join on the filter term's postings " +
      "before the scoring sum — candidates shrink FIRST, the BM25 " +
      "arithmetic runs only on survivors, and the filter never " +
      "touches the score (the reference's fq/filterCache contract).",
      SparkEntry.queries("qparse_json_request")(spark, sfDir))

    section("geo_polygon_holes (interior-ring polygon, round 5)",
      "Still ONE narrow codegen'd predicate: both crossing counts " +
      "(outer + hole) evaluate per row with no join and no trig, " +
      "behind the outer ring's sargable bbox band (the BKD-prune " +
      "role). Holes add zero plan surface — exactly how Polygon2D " +
      "treats interior rings.",
      SparkEntry.queries("geo_polygon_holes")(spark, sfDir))

    section("atomic_add_remove (multivalued modifier replay, round 5)",
      "Generation membership is index-routed (decoded postings of the " +
      "three selector terms → ONE doc-flag hash aggregate, posting-" +
      "bounded); the add/add-distinct/remove algebra itself is a " +
      "NARROW array expression fused with the stored-fields scan — at " +
      "100 TB: one bounded shuffle, zero corpus re-tokenization.",
      SparkEntry.queries("atomic_add_remove")(spark, sfDir))

    section("epoch_shuffle (training-order permutation, round 5)",
      "Global positions WITHOUT a single-partition window: range " +
      "exchange on the md5 sort key, per-partition linear-scan local " +
      "ranks, offsets from a partition-count-sized aggregate (the " +
      "pack_sequences prefix-sum shape). The one driver-side " +
      "materialization is bounded by the partition count. The output " +
      "is checkpointed once — at 100 TB that is the epoch's " +
      "training-order manifest written to storage, read back by rank. " +
      "Plan below is the AUDIT-ONLY lazy twin (same pattern as " +
      "pack_sequences): the real entry checkpoints its result, which " +
      "truncates lineage to a Scan of the materialized manifest — " +
      "exactly what a reader of the manifest would see.",
      graft.operators.TrainingData.epochShufflePlan(spark, sfDir))

    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"[explain] wrote $out (${sb.length} chars)")
    spark.stop()
  }
}
