package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

import graft.SparkEntry

/** Dumps formatted physical plans of gate queries so plan-shape
  * regressions (lost pushdown, broken codegen, surprise shuffles) are
  * reviewable in diffs without running Spark. Two forms, both over the
  * fixture in `SPARK_GRAFT_SF_DIR` (default sf0.01):
  *  - no arguments: the representative gates below, each with what its
  *    plan should show, to docs/PLANS.md;
  *  - `<tag> <suffix> <gate ...|ALL>`: each named gate (ALL = every
  *    declared gate) to plans/<tag>/<gate>_<suffix>.txt, the before/after
  *    evidence of an optimization round. A gate that fails to plan is
  *    skipped with a message.
  *
  * Run: sbt "runMain graft.tools.PlanDump"
  *  or  sbt "runMain graft.tools.PlanDump r15 before q_pagerank q_skipping_index"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.isEmpty || args.length >= 3,
      "usage: PlanDump | PlanDump <tag> <suffix> <gate ...|ALL>")
    // A broadcast stage's runtime size is its hash relation's memory pages,
    // and Spark derives the default page size from the heap: fixed here (the
    // session's SparkConf reads spark.* system properties), the dump reads
    // the same under any -Xmx or launcher.
    sys.props("spark.buffer.pageSize") = "32m"
    val spark = graft.LocalSpark.session(defaultCpus = 4)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    def plan(name: String): String =
      canonical(SparkEntry.queries(name)(spark, dir).queryExecution.explainString(FormattedMode))
    if (args.isEmpty) writeReview(plan)
    else writeTagged(args(0), args(1), args.drop(2).toSeq, plan)
    graft.LocalSpark.stop(spark)
  }

  /** The ids a run draws afresh, each masked to one token: expression ids
    * (`#12L`), plan ids, object hashes (`@1a2b3c`), lambda classes, RDD ids
    * and `graft_shared_rel_<n>` directories. Two dumps of the same plans
    * are then byte-identical, so a diff shows only real plan changes.
    */
  def canonical(plan: String): String = Seq(
    "#[0-9]+L?" -> "#N",
    "plan_id=[0-9]+" -> "plan_id=N",
    "@[0-9a-f]{4,}" -> "@H",
    "Lambda\\$[0-9]+/0x[0-9a-f]+" -> "Lambda\\$N",
    "RDD\\[[0-9]+\\]" -> "RDD[N]",
    "graft_shared_rel_[0-9]+" -> "graft_shared_rel_N"
  ).foldLeft(plan) { case (text, (id, token)) => text.replaceAll(id, token) }

  private def writeTagged(tag: String, suffix: String, gates: Seq[String],
      plan: String => String): Unit = {
    val names = if (gates.contains("ALL")) SparkEntry.queries.keys.toSeq.sorted else gates
    Files.createDirectories(Paths.get(s"plans/$tag"))
    names.foreach { name =>
      val out = Paths.get(s"plans/$tag/${name}_$suffix.txt")
      try {
        Files.writeString(out, plan(name))
        println(s"wrote $out")
      } catch { case e: Throwable =>
        println(s"SKIP $name: ${e.getMessage}")
      }
    }
  }

  private def writeReview(plan: String => String): Unit = {
    val picks = Seq(
      "q_fuse_semijoin" -> "scalar-subquery probe: single codegen'd scan, single-column read, no join",
      "q1_agg" -> "grouped aggregation: 5-column pruned scan, partial+final hash agg",
      "q2_join_agg" -> "broadcast join: pushed IsNotNull, pruned schemas, small side broadcast",
      "q_bloom_semijoin" -> "per-group filters joined back: ObjectHashAggregate partial/final + broadcast join",
      "q_ann_topk" -> "brute-force ANN: broadcast query side, one pass over embeddings, bounded-heap topk_agg ranking (round 9 — no per-query Window sort)",
      "q_ann_lsh" -> "LSH ANN: signature-prefix bucket equi-join, then ObjectHashAggregate topk_agg — no corpus-fraction Window partition anywhere",
      "q_ann_ivf" -> "IVF ANN: cell equi-join (a query's nprobe cells), then ObjectHashAggregate topk_agg — the per-query candidate set never sorts in one task; corpus cell assignment is a zero-shuffle codegen'd argmax projection (round 9)",
      "q_ann_pq" -> "PQ ANN: the candidate stream carries ids + ARRAY<INT> codes only (raw vectors never join the scoring), integer ADC in one codegen'd expression, topk_agg ranking",
      "q_quotient_merge" -> "FoldSingleRowJoin: the blob-carrying cross join is rewritten to a scalar-subquery filter over the scan",
      "q_fuse_golden" -> "MergeScalarSubqueries builds both filter families in one pass; probes read the merged subquery's struct fields once per task",
      "q5_regional_revenue" -> "5-way star join: three dims broadcast, orders-lineitem shuffle join, partial aggregation above",
      "q_sessionize" -> "sessionization: ONE exchange on user_id serves both window passes and the per-session rollup",
      "q_minhash_near_dup" -> "minhash-LSH: band shuffle carries doc_ids only; deduped pairs join signatures back (AQE broadcasts the small side)",
      "q_embed_quant" -> "quantization: per-row scalars projected before the element lambdas — one pass, no lambda-inlined rescans",
      "q_sample_strat" -> "stratified take: single exchange on the stratum, in-partition sort, rank filter",
      "q_decontaminate" -> "decontamination: FoldSingleRowJoin scalar-subquery fuse probe on the scan (no nested-loop join) + broadcast LeftSemi exact verify",
      "q_chunks" -> "chunking: shuffle-free per-row explode, single scan",
      "q_minhash_fast" -> "cross-mode recall gate: two full LSH pipelines + planted-pair left joins; each pipeline keeps the doc_id-only band shuffle, planted side built from one pruned documents scan",
      "q_repetition" -> "repetition metrics: array HOFs ride the scan (no shuffle); top-bigram is explode -> hash agg on (doc_id, bigram) -> window top-1 -> doc_id-copartitioned join back",
      "q_multimodal_decode" -> "real-codec round-trip: two chained mapPartitions (PNG encode, PNG decode+featurize) with no exchange until the final single aggregation",
      "q_asof_join" -> "as-of join: tagged union, ONE exchange on the key, running last(ignoreNulls) window — no range join, no per-key collect",
      "q_bm25" -> "BM25: tf computed inside the row (codegen'd HOFs on the scan), corpus stats a broadcast single-row aggregate — no document- or term-keyed exchange",
      "q_kmeans" -> "k-means assignment: pure map through the nearest_centroid kernel (zero exchange before the final per-cluster rollup)",
      "q_range_join" -> "bucketed range join: interval explode to time bins, EQUI-join on __bin + residual BETWEEN — no BroadcastNestedLoopJoin anywhere in the plan",
      "q_interval_overlap" -> "interval overlap: both sides bin-exploded, equi-join + ownership-bin residual — pair set exact with zero dedup exchange",
      "q_normalize" -> "canonicalization: nfc/strip_accents/lower/regexp ride the scan in one codegen stage; no shuffle before the final sort",
      "q_hll" -> "HLL gate: sketch agg and COUNT(DISTINCT) as separate aggregations joined on 3 rows — no Expand over the scan; estimate projected once per group below the register explode",
      "q_salted_join" -> "skew-salted join: hot-key count broadcast to split both sides; hot stream joins on (key, salt) with the small side exploded, rest stream joins plain; union feeds one partial+final agg",
      "q_curation" -> "curation pipeline: quality + language filters ride the single documents scan in one codegen stage; ONE content-hash exchange (dedup window), split label and token count computed post-dedup, small final agg",
      "q_filter_join" -> "filter-pruned join: the fuse16 blob folds to a scalar subquery and the probe predicate prunes the lineitem side ON THE SCAN before the join — no blob-carrying nested-loop join anywhere",
      "q_line_dedup" -> "line dedup: line counting groups on md5 keys, survivors join co-partitioned with the counting agg, one document-keyed rebuild — same shape as span dedup",
      "q_pack" -> "sequence packing: ONE exchange (the stratum window) serves the cumsum, block ids and the per-source rollup",
      "q_domain_mix" -> "domain mix: quota arithmetic folds to a broadcast (tiny counts agg + 1-row min); the data pays one stratum-window exchange only",
      "q_bigram_lp" -> "bigram LM: pairs built row-locally (zip_with, no window), token-keyed LM aggregates, scoring joins co-partitioned on token keys, one doc-keyed rollup",
      "q_incremental_dedup" -> "incremental near-dup: new slice's bands equi-join the old corpus's band buckets (ids only); old-vs-old never paired; estimate joins on the deduped collision set",
      "q_semdedup" -> "SemDeDup: zero-shuffle centroid assignment on the scan; ONE cid-keyed self-join (quadratic only within a cluster), dropped ids collapse through a partial-agg distinct before the id-keyed keep join",
      "q_keep_best" -> "keep-best resolution: prefix-pair graph feeds label propagation (sized by duplicates, not corpus); winner = one cluster-keyed partial-agg struct max, then a co-partitioned keep join",
      "q_contamination" -> "graded contamination: ONE broadcast exact-set left join on the shingle stream, ONE doc-keyed aggregation computing denominator and hit count together — no persist, no second pass, no redundant filter probe",
      "q_text_vectors" -> "feature-hash vectorizer: token explode -> partial-agg (doc,bucket) counts -> doc-keyed map assembly; dense expansion and normalization are per-row projections with the norm hoisted out of the lambda",
      "q_hybrid_search" -> "hybrid retrieval: BM25 candidate selection is TakeOrderedAndProject (parallel per-partition top-k, round 6 — no single-partition Window over the corpus); the rank/RRF windows below operate on the <= candidates rows only",
      "q_simhash_near_dup" -> "simhash near-dup: multi-index banding (round 6) — 20 concatenated-block band keys per doc explode row-locally, ONE (band_id, band_val) groupBy, in-bucket pair lambdas + codegen'd xor/popcount verify; no self-join",
      "q_ann_hamming" -> "binary ANN: Hamming prescreen is a bounded-heap topk_agg (ObjectHashAggregate partial+final — no per-query Window sort over the corpus, round 8); rerank joins the <= candidates*queries survivors back broadcast",
      "q_pca_cov" -> "PCA Gram: ONE fused gram_agg sweep (ObjectHashAggregate partial per partition, dim^2-bounded state) — no per-pair Generate rows; the explode below unpacks a single driver-sized array row",
      "q_mmr_rerank" -> "MMR rerank: candidate stage bounded (broadcast queries + WindowGroupLimit top-20), then ONE exchange on the query key feeds the typed greedy (MapGroups) — per-group state = the candidate budget, corpus untouched",
      "q_adaptive_filter" -> "adaptive quality trim: per-source hist sketch is an ObjectHashAggregate partial+final on the source key (nbins state), thresholds broadcast back over a second narrow scan — no corpus shuffle, no per-document sort",
      "q_doc_line_dedup" -> "within-doc line strip: the split/filter/join HOF chain rides the single documents scan in one codegen stage — zero exchanges before the final singleton aggregation",
      "q_editdist_join" -> "edit-distance join: segment/substring explodes ride the two scans, candidates are ONE equi-join on (len, segIdx, segText) carrying ids only, partial-agg distinct, then string join-back + codegen'd bounded levenshtein — no cross join except the empty short-string sliver",
      "q_bpe_encode" -> "BPE encode: the learned merge table folds into per-row HOF constants (driver-held, vocab-sized); the merge fold runs on the distinct-word vocab relation, explode + hash-agg count — one exchange on the token key, TakeOrdered(20) on top",
      "q_editdist_names" -> "deletion-neighborhood edit join: hashed <=1-deletion variants explode row-locally on both scans, ONE equi-join on the 64-bit variant hash (no degenerate shared-prefix cell), partial-agg distinct pairs, bounded levenshtein verify",
      "q_skipping_index" -> "skipping-index lookup: the pruned scan lists ONLY candidate files (file pruning happened at planning time via the broadcast index probe); the exact semi-join removes filter false positives",
      "q_events_sliding" -> "sliding windows: the 4x window multi-assignment is a row-local Expand on the scan; one exchange on (window, event_type) feeds partial+final agg",
      "q_pagerank" -> "PageRank: Pregel-shaped power iteration — the persisted src-partitioned edge relation is joined each step by the 16 B/node rank table only (InMemoryTableScan reused), contributions partial-agg on dst; ppb integer arithmetic end to end",
      "q_upsert" -> "changelog compaction: ONE key exchange; SortAggregate(max(struct)) in partial+final mode ships <= 1 candidate per (partition, key) — no Window, no history shuffle",
      "q_tfidf" -> "TF-IDF keywords: token explode -> (doc, token) partial+final hash agg; df aggregates the already-token-keyed tf relation; N is a broadcast single-row; the top-N window partitions by doc_id (document-sized partitions) with WindowGroupLimit pushing the rank filter down",
      "q_join_card" -> "join-size estimation: both sketch sides are ObjectHashAggregate partial+final over one events scan each; the exact side aggregates per-(user, type) counts (no pair blowup); cms_inner_product runs on 5x5 blob pairs — the joins under estimation are never executed",
      "q_neg_sample" -> "contrastive negatives: anchors explode k row-locally, corpus count broadcasts as a single row, the draw is pure projection (codegen'd hash), and the payload fetch is ONE id-keyed join — no window, no collect",
      "q_resample" -> "grid resample: the LOCF fill is asofJoin's tagged union + ONE user-key exchange + running last(ignoreNulls) — no per-grid-point probe, no range join; grid explode rides the per-key span aggregate",
      "q_outliers" -> "centroid outliers: nearest_centroid argmax on the scan (zero-shuffle assignment), k-row broadcast re-join, per-cluster bottom-m window with WindowGroupLimit",
      "q_span_ranges" -> "any-alignment repeated spans: one window per token rides the scan (transform + posexplode, no shuffle), ONE md5-keyed count, flag join co-partitioned on the window key, document-partitioned range-merge window",
      "q_vocab_coverage" -> "vocab coverage: token explode on the scan, the 500-row vocab BroadcastHashJoins into the stream, one source-keyed partial+final agg — the corpus never exchanges on tokens",
      "q_image_dedup" -> "image dHash dedup: payloads synthesized/hashed once per distinct pattern (mapPartitions, no shuffle), hashes broadcast back over the documents scan, hash-keyed partial+final agg + TakeOrdered",
      "q_winsorize" -> "winsorize: ONE hist_sketch aggregate pass -> single-row broadcast thresholds -> row-local clip; no sort, no data-keyed exchange",
      "q_token_drift" -> "token drift: top-K vocab via TakeOrderedAndProject broadcasts into the count join; ONE (group, token) partial agg; the KL contribution table is groups x K rows",
      "q_collocations" -> "collocations: adjacent pairs assemble row-locally (transform over the token array — no self-join); pair-keyed partial agg, token-keyed unigram joins, single-row totals broadcast, TakeOrdered(topK)",
      "q_knn_eval" -> "kNN label eval: broadcast query side rides one corpus scan (the exact ANN baseline), bounded-heap topk_agg ranking (round 9), id-keyed label joins, per-label partial+final agg",
      "q_upsert_incr" -> "incremental merge: union of snapshot + slice feeds the SAME partial+final struct-argmax as q_upsert — one key exchange, no history re-fold",
      "q_qbin" -> "quantile binning: ONE hist_sketch aggregate, broadcast thresholds, CASE bucket in the scan projection, bucket-keyed rollup",
      "q_graph_stats" -> "degree distribution: two chained partial+final aggregates (node degree then histogram) over the checkpointed edge relation",
      "q_copurchase" -> "co-occurrence graph build: group-keyed collect_set (partial ObjectHashAggregate), row-local pair explode (quadratic only within capped groups), pair-keyed partial+final count, TakeOrdered",
      "q_url_canon" -> "URL canonicalization: the whole contract (case/fragment/ports/params/path) is ONE codegen'd string-function projection on the scan; one domain-keyed partial+final agg",
      "q_html_extract" -> "HTML->text: the regex pipeline rides the scan in one codegen stage - per-doc md5 output, zero exchanges before the final sort",
      "q_asof_forward" -> "forward as-of: the SAME tagged-union single-exchange running-window plan as backward, time axis reversed - no range join, no per-key collect",
      "q_quantiles_auto" -> "unknown-domain quantiles: two narrow aggregate-only scans (min/max, then hist_sketch); no sort, no data-keyed exchange",
      "q_classifier_eval" -> "classifier sweep: one aggregation pass carries every threshold's four conditional sums; the explode unpacks a single driver-sized row")
    val sb = new StringBuilder
    sb.append("# Physical plans of representative gate queries (sf0.01)\n\n")
    sb.append("Generated by `graft.tools.PlanDump`; regenerate after plan-affecting changes.\n")
    picks.foreach { case (name, why) =>
      sb.append(s"\n## $name\n\n$why\n\n```\n")
      sb.append(plan(name))
      sb.append("```\n")
    }
    Files.createDirectories(Paths.get("docs"))
    Files.writeString(Paths.get("docs/PLANS.md"), sb.toString)
    println(s"wrote docs/PLANS.md (${sb.length} chars)")
  }
}
