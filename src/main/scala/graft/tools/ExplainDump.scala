package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import graft.kg._

/** Writes docs/PLANS.md: `explain(formatted)` for the load-bearing plans,
  * so plan-shape regressions are reviewable in diffs. With arguments it
  * instead dumps each named SparkEntry key's plan to
  * `plans/r07/<key>_<suffix>.txt` — the optimization evidence trail
  * (before/after plan shapes). For iterative keys (CC, k-core, converged
  * PageRank) building the DataFrame runs the loop, so the captured plan
  * is the final round's shape. Run:
  *   sbt 'runMain graft.tools.ExplainDump'
  *   sbt 'runMain graft.tools.ExplainDump <suffix> <sfDir> <key> [<key> ...]'
  */
object ExplainDump {
  private val KeyPlansDir = "plans/r07"

  /** `explain(formatted)`, capped at `max` chars. */
  private def formatted(df: DataFrame, max: Int): String = {
    val s = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    if (s.length <= max) s else s.take(max) + s"\n... [truncated ${s.length - max} chars]\n"
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq() => dumpDoc(session(4))
    case Seq(suffix, sfDir, keys @ _*) if keys.nonEmpty =>
      dumpKeys(session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt), suffix, sfDir, keys)
    case _ => sys.error("usage: ExplainDump [<suffix> <sfDir> <key>...]")
  }

  private def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def dumpKeys(spark: SparkSession, suffix: String, sfDir: String,
                       keys: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(KeyPlansDir))
    for (k <- keys) {
      val out = s"$KeyPlansDir/${k}_$suffix.txt"
      Files.writeString(Paths.get(out), s"# $k ($suffix) — sfDir=$sfDir, explain(formatted)\n" +
        formatted(graft.SparkEntry.queries(k)(spark, sfDir), 60000))
      println(s"[explain] wrote $out")
    }
    spark.stop()
  }

  private def dumpDoc(spark: SparkSession): Unit = {
    import spark.implicits._

    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.tools.ExplainDump — do not hand-edit)\n\n")
    sb.append("Review checklist per SURVEY §4.4: filters/projections reach the scan\n")
    sb.append("(`PushedFilters`/`ReadSchema`), `content` never appears under an\n")
    sb.append("`Exchange`, small dims broadcast, hot operators sit inside\n")
    sb.append("`WholeStageCodegen` spans.\n")

    def dump(title: String, note: String, df: DataFrame): Unit = {
      sb.append(s"\n## $title\n\n$note\n\n```\n")
      // large literals (e.g. a bloom-filter binary) render as hex blobs —
      // cap each plan at 20k chars to keep the doc reviewable
      sb.append(formatted(df, 20000))
      sb.append("```\n")
    }

    // 1. KG pipeline (the flagship DAG)
    val corpus = graft.fixtures.CorpusGen.corpus(200).toDF()
    val dict = KgPipeline.dictDataset(spark)
    val hashed = corpus.withColumn("file_sha", sha2(col("content"), 256))
      .select("repo", "path", "commit", "lang", "content", "file_sha")
      .as[HashedFile]
    val triples = Extract.canonicalTriples(hashed,
      Extract.broadcastFnAliases(spark, dict),
      Canonicalize.broadcastLinkMap(spark, dict))
    dump("KG pipeline: corpus → canonical triples",
      "Narrow MapPartitions only (scan+pair+classify, then the map-side " +
        "link-map lookup; content dies in the first), then a single two-phase " +
        "HashAggregate for the triple dedup — the only corpus-proportional shuffle.",
      triples.toDF())

    val sfDir = "/root/testdata/sf0.001"
    def q(name: String) = graft.SparkEntry.queries(name)(spark, sfDir)

    dump("scan_parquet", "Filter pushed to the parquet scan; ReadSchema pruned to 4 columns.", q("scan_parquet"))
    dump("join_broadcast", "Dimension side broadcast (BroadcastHashJoin), partial+final HashAggregate.", q("join_broadcast"))
    dump("join_range", "Band join: equi-join on (user, minute-block) with residual range filter — no BroadcastNestedLoop.", q("join_range"))
    dump("join_salted", "Deterministic salt on the big side, dimension replicated ×8; AQE shuffle join on (key, salt).", q("join_salted"))
    dump("dedup_minhash_lsh", "Typed minhash map → band explode → CAPPED self equi-join on (band, hash): small buckets all-pairs, over-cap buckets rank-adjacent chain with rn+1 in the join key — never an all-pairs product, join cost bounded.", q("dedup_minhash_lsh"))
    dump("dedup_ngram_jaccard", "Content-derived block keys (set min/max word + size band) through the same capped self-join; exact integer Jaccard gate after.", q("dedup_ngram_jaccard"))
    dump("simsearch_bruteforce", "Query vectors broadcast; cosine via codegen'd higher-order functions; TakeOrdered per group via window.", q("simsearch_bruteforce"))
    dump("mention_scan_plan", "Custom whole-operator node (MentionScanExec) directly over the corpus scan — no DeserializeToObject/SerializeFromObject fences around the scan stage.", q("mention_scan_plan"))
    dump("join_bloom_prune", "Build-side bloom as a SCALAR SUBQUERY (round 3 — no driver-collected binary literal in the plan) probing ahead of the exact broadcast semi-join — the exact shape of Spark's own injected runtime bloom filter.", q("join_bloom_prune"))
    dump("dedup_embed_cosine", "Round 3: self-join EQUI-KEY is the deterministic IVF cluster id (broadcast 8-centroid assignment + row_number argmax) — sub-quadratic; exact cosine verify inside the join.", q("dedup_embed_cosine"))
    dump("sink_partition_prune", "Read-back of a partitionBy(lang) sink with a partition-column filter: PartitionFilters prune the scan to the single lang=en directory before IO.", q("sink_partition_prune"))
    dump("kg_triples_counts", "Round 4: the full oracled DAG — the same emitter as the KG pipeline: narrow MapPartitions (scan+pair+classify fused, content dies inside; canonicalization is a map-side lookup in the broadcast link map), then the two-phase triple-dedup HashAggregate and the count aggregate; the only corpus-proportional shuffle is the dedup.", q("kg_triples_counts"))
    dump("sample_stratified", "Round 5: stratified sampling is a pure per-row predicate (stratum CASE → hex threshold) — the whole plan is one scan with the filter applied in a single WholeStageCodegen span, no Exchange.", q("sample_stratified"))
    dump("decontam_ngram", "Round 5: 3-gram decontamination — eval-slice grams distinct then BROADCAST into the semi-match; the training side is a narrow scan+explode; the per-doc countDistinct is the only data-proportional shuffle (partial_count map-side).", q("decontam_ngram"))
    dump("text_repetition", "Round 6: repetition gate is a typed per-partition HashMap count — O(len) per row (the round-5 nested-HOF form was O(distinct×len) per row, a straggler hazard on high-vocabulary docs), still scan→mapPartitions only, zero Exchange at any corpus size.", q("text_repetition"))
    dump("mix_quota", "Round 6: the exact hash-rank window runs over a HISTOGRAM-PRUNED survivor set — per-(source, 16-bit sha prefix) map-side count, cumulative cut at the quota over the tiny histogram, broadcast-join prune (pfx <= cut_pfx), THEN row_number. The corpus-scale work is one scan + one map-side-combined aggregate; the round-5 form shuffled the whole corpus on the mix dimension and sorted the hottest source on one task.", q("mix_quota"))
    dump("graph_pagerank", "Round 5: 3 unrolled integer fixed-point PageRank iterations — per iteration one shuffle join of (node,val) onto the edge list plus one map-side-combined sum; the capped pair-gen window bounds the edge build.", q("graph_pagerank"))
    dump("graph_triangles", "Round 5: oriented wedge join (src<dst twice → each triangle once) over a checkpoint-materialized edge list, closure checked by a shuffle-hash LEFT SEMI (hash 1.2M edges, never sort the ~49M wedges), corners counted from ONE join execution via explode — the union-of-projections form re-ran the wedge join per corner (56 s → 3.4 s at sf0.1).", q("graph_triangles"))
    dump("sessionize", "Round 6: lag window, running-sum window, and the per-session aggregate all key on user_id with one sort order — Catalyst plans ONE Exchange for the whole chain (spec-asserted); user_id is high-cardinality, so no mix-dimension hot-task risk.", q("sessionize"))
    dump("text_inverted_index", "Round 6: df is a map-side-combined count over distinct (doc,term); the 100-doc posting cap rides Catalyst's WindowGroupLimit rewrite — row_number<=100 runs as a PARTIAL group-limit below the exchange (spillable local sort, <=100 rows/term per map task), so a stopword's corpus-sized posting list never crosses one task and task memory stays flat at web vocabularies.", q("text_inverted_index"))
    dump("text_inverted_index_str", "Round 7: the same inverted-index build with the posting list STRINGIFIED (concat_ws — the agg_collect idiom) so the driver's pandas oracle compare can hash it; identical Partial WindowGroupLimit cap below the exchange.", q("text_inverted_index_str"))
    dump("text_bm25", "Round 6: corpus side is one explode filtered to the query terms + a map-side-combined (doc,term) count; per-term df and the 1-row corpus stats join in as BROADCASTs; per-term scores are rounded to integer micros before the per-doc BIGINT sum (order-invariant).", q("text_bm25"))
    dump("funnel_steps", "Round 6: each funnel stage is one map-side-combined conditional min over the events scan plus one join — every stage keyed on high-cardinality user_id (per-stage state: one BIGINT per user), never a per-user sort or state machine.", q("funnel_steps"))
    dump("cohort_retention", "Round 6: one groupBy(user) min, one user-keyed join of first_us back onto the scan, one exact two-phase countDistinct onto the tiny (cohort_week, week_offset) grid — integer div week arithmetic.", q("cohort_retention"))
    dump("graph_kcore", "Round 6: iterative k-core peel — per round one map-side-combined degree count plus two shuffle-hash LEFT SEMI survivor joins (hash the node set, never sort the edges) with a lazy localCheckpoint truncating lineage; the plan shown is the FINAL round's shape.", q("graph_kcore"))
    dump("dedup_incremental", "Round 7: continuous-crawl increment — both sides project to the narrow bag-normalization key BEFORE the LEFT ANTI shuffle, and the corpus side now carries a scalar-subquery bloom pre-filter built from the batch keys (might_contain ahead of the exact anti-join — the join_bloom_prune shape), so at corpus>>batch scale almost no corpus row reaches the exchange.", q("dedup_incremental"))
    dump("kg_cooccur_pmi", "Round 6: PMI edge weighting — per-row array_distinct (no dedup shuffle), pair-gen self-join keyed on high-cardinality doc_id, map-side-combined pair count with the c12>=5 support floor applied BEFORE the vocabulary-sized doc-frequency and 1-row corpus-stat BROADCAST joins.", q("kg_cooccur_pmi"))
    dump("kg_cooccur_pmi_cap", "Round 6: the production per-doc term cap — row_number<=16 over (tf desc, word) rides Catalyst's WindowGroupLimit partitioned on HIGH-CARDINALITY doc_id (Partial group-limit below the exchange), bounding pair-gen at O(n*16^2) regardless of per-doc vocabulary.", q("kg_cooccur_pmi_cap"))

    Files.createDirectories(Paths.get("docs"))
    Files.writeString(Paths.get("docs/PLANS.md"), sb.toString)
    println(s"[explain] wrote docs/PLANS.md (${sb.length} chars)")
    spark.stop()
  }
}
