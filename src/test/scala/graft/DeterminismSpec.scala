package graft

import org.apache.spark.sql.SparkSession

/** The engine's exact-arithmetic stance, actually exercised: queries whose
  * scaladoc claims "bit-identical under any partial-agg order" must return
  * identical rows when the shuffle width changes (different partition
  * counts ⇒ different partial-aggregation grouping and merge order — the
  * thing that varies between a laptop and a 1000-executor cluster).
  *
  * Float-free queries are covered implicitly by the DuckDB hash-match; this
  * spec pins the claim for the fixed-point/iterative ones where an
  * order-dependence bug would NOT show up at one fixed local width.
  */
class DeterminismSpec extends SparkSpec {

  /** Re-run `name` in a cloned session with a different shuffle width and
    * compare full collected output (queries end in a total ORDER BY, so
    * row order is part of the contract). */
  private def pinned(name: String): Unit = test(
    s"$name is bit-identical across shuffle widths (4 vs 7)") {
    val fn = SparkEntry.queries(name)
    def run(s: SparkSession, w: Int): Seq[String] = {
      s.conf.set("spark.sql.shuffle.partitions", w.toString)
      try fn(s, sf("sf0.01")).collect().toSeq.map(_.toString)
      finally Caches.releaseAll()
    }
    val a = run(spark.newSession(), 4)
    val b = run(spark.newSession(), 7)
    assert(a == b, s"$name diverged between shuffle widths")
  }

  pinned("q117_pagerank")        // fixed-point rank recurrence
  pinned("q154_pagerank_dangling") // + dangling-mass redistribution
  pinned("q122_triangles")       // degree-ordered wedge enumeration
  pinned("q18_approx_stats")     // integer HLL + bucket-histogram median
  pinned("q156_semantic_dedup")  // kmeans fixed point + LSH bands + int cosine
  pinned("q157_bloom_semijoin")  // md5 bit positions, OR-folded words
  pinned("q110_kmeans_train")    // exact fixed-point Lloyd's
  pinned("q116_countmin_sketch") // mergeable counter grid
  pinned("q113_mixture_sample")  // integer water-filling allocation
  pinned("q118_basket_pairs")    // ppm lift, basket-local pair expansion
  pinned("q119_weighted_median") // integer cumulative weights
  pinned("q124_mad_outliers")    // bucket-refinement median selection
  pinned("q48_dedup_clusters")   // iterative min-label propagation
  // repartition fan-outs ahead of the native kernels (doc_id-hashed at the
  // shuffle width for shingles, round-robin for q53's vectors): row-local
  // work, so the split must not show in results
  pinned("q46_minhash_lsh_pairs")   // shingle-md5 kernel → minhash bands
  pinned("q53_pq_topk")             // PQ encode/LUT/ADC kernels, top-k window
  pinned("q106_ngram_jaccard_join") // shingle-md5 kernel → prefix-filter join
  pinned("q127_hll_distinct")    // integer HLL registers + harmonic sum
  pinned("q132_bitmap_rollup")   // bit_or word bitmaps, popcount rollup
  pinned("q142_rolling_bitmap")  // windowed bitmap OR-merge
  pinned("q146_table_digest")    // commutative md5-slice sum digest
  pinned("q136_range_boundaries") // sampled cumulative-count selection
  pinned("q159_priority_sample")  // division-only priority keys + micros audit sum
  pinned("q162_equidepth_histogram") // two-level integer boundary refinement
  pinned("q164_bottomk_quantile") // merge-truncated bottom-k sample, selected medians
  pinned("q181_bpe_train")       // k merge rounds, total-order argmax per round
  pinned("q184_lr_train")        // k gradient steps, fixed-point hard-sigmoid
  pinned("q199_source_divergence") // DECIMAL(38) abs-difference sums
  pinned("q200_bm25_retrieval")  // pre-scored postings, long-sum fan-out
}
