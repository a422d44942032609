package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Query

/** The query registry behind SparkEntry's driver-contract maps: one
  * declaration per name, the oracled and rows-only sets, and the query
  * scratch directories cleaned up after each run. */
class QueryRegistrySpec extends AnyFunSuite {

  /** The query names the driver contract exposes (crawl_schedule and
    * extract_text are the rows-only pair). */
  private val Names = Seq(
    "anchor_texts", "budget_limit", "canon_strip_fragment", "cdx_index",
    "corpus_chunk", "corpus_clean", "corpus_mix", "counters_uniq_overwrite",
    "crawl_schedule", "decontaminate", "decontaminate_ship", "dedup_anti",
    "dedup_anti_cuckoo", "dedup_clusters", "dedup_embedding_cosine",
    "dedup_exact_text", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "dedup_paragraphs", "dedup_repeated_spans", "dedup_semantic",
    "dedup_simhash", "dedup_survivors", "embed_ann_ivf", "embed_ann_ivf_probe",
    "embed_ann_lsh", "embed_topk", "events_funnel", "events_props_agg",
    "events_retention", "events_sessionize", "events_window_agg",
    "extract_text", "frontier_union_dedup", "host_blocklist",
    "host_boilerplate", "host_components", "host_extract", "index_postings",
    "lm_score", "multimodal_features", "opic_hosts", "pack_sequences",
    "page_directives", "page_metadata", "pagerank_hosts", "parser_dispatch",
    "politeness_topk", "politeness_topk_adaptive", "politeness_topk_salted",
    "priority_clamp", "quality_buckets", "quality_linear", "recrawl_schedule",
    "redirect_resolve", "registered_domain", "robots_crawl_delay",
    "robots_filter", "robots_filter_rfc", "robots_filter_wildcard",
    "sample_stratified", "search_bm25", "shard_pack", "sitemap_index_parse",
    "sitemap_parse", "sitemap_recrawl", "skew_salt", "source_profile",
    "split_assign", "text_c4_clean", "text_fingerprint",
    "text_gopher_quality", "text_lang_id", "text_normalize", "text_pii",
    "text_quality", "text_repetition", "text_token_counts", "throttle_decay",
    "title_date_parse", "title_date_parse_zh", "url_latest_revision",
    "url_trap_detect", "warc_parse", "wave_counts")

  test("a name declared in two modules throws, naming it") {
    def q(name: String) = Query(name, (_, _) => null, None)
    val e = intercept[IllegalArgumentException] {
      SparkEntry.registry(Seq(Seq(q("a"), q("twice")), Seq(q("twice"), q("b"))))
    }
    assert(e.getMessage.contains("twice"))
    assert(SparkEntry.registry(Seq(Seq(q("a")), Seq(q("b")))).keySet == Set("a", "b"))
  }

  test("83 queries carry an oracle; crawl_schedule and extract_text are rows-only") {
    val names = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.size == 83)
    assert(names -- SparkEntry.oracleSql.keySet == Set("crawl_schedule", "extract_text"))
    assert(SparkEntry.oracleSql.keySet.subsetOf(names))
    assert(SparkEntry.observability.keySet.subsetOf(names))
    assert(names.toSeq.sorted == Names)
  }

  test("crawl_schedule and dedup_anti_cuckoo leave no scratch directory behind") {
    val probe = FrontierBench.scratchDir("graft-registry-probe")
    val scratch = probe.getParent
    Files.delete(probe)
    def leftovers(): Set[Path] = {
      val s = Files.list(scratch)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("graft-q-crawl") || n.startsWith("graft-cuckoo-q")
      }.toSet finally s.close()
    }
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = Files.createTempDirectory("graft-registry-sf")
    try {
      spark.range(0, 3000).select(col("id").as("o_orderkey"))
        .write.parquet(s"$sfDir/orders.parquet")
      val before = leftovers()
      Seq("crawl_schedule", "dedup_anti_cuckoo").foreach { name =>
        val rows = SparkEntry.queries(name)(spark, sfDir.toString).collect()
        assert(rows.nonEmpty, name)
      }
      assert((leftovers() -- before).isEmpty, leftovers() -- before)
    } finally {
      graft.plans.Checkpoint.deleteRecursively(sfDir)
      spark.stop()
    }
  }
}
