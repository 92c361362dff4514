package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A repeated plan must reuse its generated classes: Spark's codegen cache
  * holds the session's whole working set ([[Sessions.CodegenCacheEntries]]),
  * and nothing in a plan's generated source or compiling class loader may
  * change from one execution to the next. A compile is a cache miss, so the
  * JVM-wide compile counter must not move on a repeat execution. */
class CodegenReuseSpec extends SparkTestBase {

  private val registry = SparkEntry.queries ++ BenchOnly.queries

  /** Generated classes compiled while running `names` once, in order. */
  private def compiles(names: Seq[String]): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    names.foreach { n =>
      // as graft.Bench: without the reset the clusters query reads its
      // memoized labels instead of running the iterative pipeline
      if (n == "dedup_minhash_clusters") operators.DedupOps.resetClusterCache()
      registry(n)(spark, sfDir).count()
      streaming.Streams.purgeMemorySinks(spark)
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("a second pass of the llm_curation workload compiles no generated class") {
    // the benchmark's llm_curation workload (perfbench/workloads.json),
    // whose ~180-class working set overflowed Spark's 100-entry default
    val llm = Seq("dedup_minhash_clusters", "dedup_minhash_ml", "docs_token_budget",
      "docs_vocab_topk", "emb_cosine_topk_fast", "mm_binary_meta", "pipeline_curation")
    compiles(llm)
    assert(compiles(llm) == 0)
  }

  test("a second streaming execution compiles no generated class") {
    // each stream runs on a cloned session: its task-side classes must
    // still hit the cache entries of the first execution
    val q = Seq("stream_session_append")
    compiles(q)
    assert(compiles(q) == 0)
  }
}
