package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-11 gate for SCALING.md's central claim: NO SERIAL FUNNEL — no
  * stage that moves real corpus data through one task. The 10x
  * measurements in SCALING.md came from a hand-run probe; this spec wires
  * a scaled-down version into `sbt test` so a future funnel regression (a lost
  * repartition, a nullable join key splitting an exchange, a collect-and-
  * rebroadcast creeping into a hot path) fails the suite automatically.
  *
  * The sf0.001 spec fixture is far too small to distinguish a funnel
  * from a bounded-relation aggregate (codebooks, offsets — 1-task by
  * design), so the spec replicates sf0.01 FACTOR-fold with a
  * character-preserving replica ([[replicate]]) and asserts, over a 3-query sample with
  * distinct shuffle spines (shingle self-join / signature agg+band join /
  * sharded prefix-sum):
  *  - no 1-task stage moved more than HEAVY bytes (input + shuffle read);
  *  - at least one stage moved more than HEAVY bytes across MANY tasks —
  *    the non-vacuity guard: if the probe corpus ever shrinks below the
  *    threshold, the spec fails loudly instead of passing emptily.
  */
class ScaleGateSpec extends SparkTestBase {

  /** Spec-scale analog of the 10x probe's 16 MB threshold, calibrated to the
    * x12 sf0.01 replica. r12 measured the widest multi-task stage at 9 MB
    * (32-char hex-string shingle keys); the round-13 int64-key redesign
    * shrank the same shuffle to 3.3 MB — a direct artifact of the 4x key
    * narrowing — so the threshold recalibrates to 1.5 MB. Bounded-relation
    * 1-task stages remain KB-scale here, so 1.5 MB still separates funnel
    * from machinery by ~3 orders of magnitude. */
  private val HEAVY = 1536L * 1024
  private val FACTOR = 12

  private class StageStats extends SparkListener {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val m = sc.stageInfo.taskMetrics
      buf += ((sc.stageInfo.numTasks,
        m.inputMetrics.bytesRead + m.shuffleReadMetrics.totalBytesRead))
    }
    def reset(): Unit = synchronized(buf.clear())
    def snapshot(): Seq[(Int, Long)] = synchronized(buf.toSeq)
  }

  // ngram_jaccard carries the guaranteed-heavy md5-keyed shingle
  // self-join; minhash_pairs is the signature-exchange shape whose reuse
  // regressions round 5 chased; token_budget is the two-phase sharded
  // prefix sum that replaced the round-9 serial clamp.
  private val SAMPLE = Seq("dedup_ngram_jaccard", "dedup_minhash_pairs", "docs_token_budget")

  private val ID_OFF = 1000000000000L

  /** FACTOR-fold replica of `base`'s documents/embeddings/events that
    * preserves workload CHARACTER, not just row count:
    *  - `documents`: copy c tags every token with `_xc`, so copies are NOT
    *    near-duplicates of each other (cross-copy shingles disjoint). An
    *    untagged replica would turn every document into a FACTOR-member
    *    identical cluster and grow the pair OUTPUT quadratically — that
    *    would measure the replica artifact, not the engine. Within-copy
    *    duplicate structure is untouched, so the near-dup workload is
    *    FACTOR independent corpora — exactly how a bigger corpus behaves.
    *  - `embeddings`/`events`: ids shift by c*1e12; values unchanged. The
    *    bounded ANN query sets (vec_id < NQ) stay in copy 0, so query
    *    count is fixed while the searched corpus grows FACTOR-fold. */
  private def replicate(s: SparkSession, base: String, out: String, factor: Int): Unit = {
    if (new java.io.File(out, "_DONE").exists()) return
    new java.io.File(out).mkdirs()
    def copies(name: String, f: (DataFrame, Int) => DataFrame): Unit = {
      val src = graft.sources.Tables.load(s, base, name)
      (0 until factor).map(c => f(src, c)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    copies("documents", (d, c) =>
      if (c == 0) d
      else d.select(
        (col("doc_id") + lit(c * ID_OFF)).as("doc_id"),
        array_join(transform(split(col("text"), "\\s+"),
          t => concat(t, lit(s"_x$c"))), " ").as("text"),
        col("lang"), col("source"), col("n_chars")))
    copies("embeddings", (d, c) =>
      if (c == 0) d
      else d.select((col("vec_id") + lit(c * ID_OFF)).as("vec_id"),
        col("embedding"), col("label")))
    copies("events", (d, c) =>
      if (c == 0) d
      else d.select((col("event_id") + lit(c * ID_OFF)).as("event_id"), col("ts"),
        (col("user_id") + lit(c * ID_OFF)).as("user_id"),
        col("event_type"), col("value"), col("props")))
    new java.io.File(out, "_DONE").createNewFile()
  }

  test("no serial funnel: 1-task stages move no real data on a replicated corpus") {
    // Round-12 advice hardening: the fixture root comes from the shared
    // test config, and an environment without the sf0.01 fixture cancels
    // LOUDLY (scalatest reports the cancellation + reason) instead of
    // failing the suite for a non-funnel reason.
    val base = s"$testDataRoot/sf0.01"
    assume(new java.io.File(base, "documents.parquet").exists(),
      s"sf0.01 fixture absent at $base — scale gate not runnable here")
    // Memoized by the _DONE marker — deliberately NOT cleaned up, so
    // repeated `sbt test` runs share one build. Footprint is bounded and
    // small: the x12 sf0.01 replica measures ~5 MB of parquet under
    // /tmp/graft_scale, rebuilt only after a /tmp wipe.
    val out = s"/tmp/graft_scale/sf0.01_x$FACTOR"
    replicate(spark, base, out, FACTOR)
    val stats = new StageStats
    spark.sparkContext.addSparkListener(stats)
    try {
      var sawWideHeavy = false
      var widestWide = 0L
      SAMPLE.foreach { name =>
        val fn = SparkEntry.queries(name)
        fn(spark, out).count() // warm: codegen + file listing
        stats.reset()
        fn(spark, out).count()
        Thread.sleep(800) // async listener bus drain
        val st = stats.snapshot()
        val funnels = st.filter { case (n, b) => n == 1 && b > HEAVY }
        assert(funnels.isEmpty,
          s"$name: serial funnel — 1-task stage(s) moved " +
            s"${funnels.map(_._2 / 1024 / 1024).mkString(", ")} MB")
        widestWide = math.max(widestWide,
          st.collect { case (n, b) if n > 1 => b }.foldLeft(0L)(math.max))
        if (st.exists { case (n, b) => n > 1 && b > HEAVY }) sawWideHeavy = true
      }
      assert(sawWideHeavy,
        s"probe corpus never crossed the ${HEAVY / 1024 / 1024} MB stage " +
          s"threshold (widest multi-task stage: $widestWide bytes) — raise " +
          "FACTOR or recalibrate HEAVY so the funnel assert stays non-vacuous")
    } finally spark.sparkContext.removeSparkListener(stats)
  }
}
