package graft

import org.apache.spark.sql.SparkSession

/** The library's session entry point: one place for the recommended
  * configuration instead of four drifting copies (Verify / Bench / Smoke /
  * the test harness all build the same session).
  *
  * What a "graft session" means:
  *  - AQE on (runtime coalesce / skew-split — the 100 TB posture);
  *  - `spark.sql.shuffle.partitions` sized to the local thread count
  *    (NOT the 200 default, which at local scale just multiplies task
  *    overhead — a cluster deployment sizes this to executor-cores ×
  *    target-partitions-per-core instead);
  *  - UTC session timezone (oracle parity and reproducibility);
  *  - nanos-timestamp parquet read enabled (the events table contract,
  *    see Tables.events);
  *  - the native kernels SQL-registered (GraftExtensions), so
  *    `spark.sql("... cosine_sim(...)")` works out of the box;
  *  - Spark's JVM-wide generated-class cache sized to the catalog's
  *    working set ([[CodegenCacheEntries]]), so a query run again in the
  *    same JVM reuses its compiled classes instead of recompiling them.
  *    The default 100 entries hold less than one pass of the 14-query
  *    tail panel (~210 classes); a cold sf0.01 pass over all 288 queries
  *    compiles ~4,300 distinct classes. Metaspace used after a second
  *    full pass goes from 198 MB (100 entries) to 230 MB (8192).
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries`: ~2x the ~4,300 distinct
    * classes one cold sf0.01 pass over all 288 queries compiles. A static
    * conf, read when Spark's CodeGenerator is first used, so it takes
    * effect only if GraftSession builds the JVM's first session. */
  val CodegenCacheEntries = 8192

  /** Build (or reuse) the recommended local session. */
  def local(threads: Int, appName: String = "graft"): SparkSession = {
    // Locale.ROOT for the whole JVM, not just the mains that format JSON:
    // Spark's lower()/upper() on non-ASCII strings fall back to
    // String.toLowerCase() under the DEFAULT locale, so a Turkish/Azeri/
    // Lithuanian host locale would lowercase 'I' to 'ı' in Spark while
    // the DuckDB oracle is locale-independent — q_unicode_tokens (the one
    // plan that lowercases non-ASCII text) would hash-mismatch only on
    // such hosts. Pin here so every entry point (Verify/Bench/Smoke/
    // tools/tests) shares the contract.
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // NOTE (r14): spark.sql.join.preferSortMergeJoin=false (+ the AQE
      // maxShuffledHashJoinLocalMapThreshold=64m runtime conversion) was
      // A/B-measured on a 12-query join panel and REVERTED: q_hits
      // 2.8 → 8.0 s, q_dedup_eval 3.0 → 8.3 s, q_dedup_winnow 3.3 → 4.4 s
      // at sf0.1. Sort-merge's by-product ordering is load-bearing across
      // this suite — downstream windows/sorts get it for free, and SHJ
      // forces them to re-sort. Keep the default.
      .config(graft.io.Tables.EventsNanosConf._1, graft.io.Tables.EventsNanosConf._2)
      // recursive-CTE volume guard: Spark's 1M-row default is data-size-
      // dependent (the sf1 decade run failed RECURSION_ROW_LIMIT_EXCEEDED
      // because a chain walk legitimately emits one row per order and sf1
      // has 1.5M orders), and the limit is enforced at EXECUTION time
      // (UnionLoopExec), so a per-query save/restore around analysis
      // cannot carry it. Session-level guard goes to the int ceiling;
      // runaway recursion stays bounded by the per-query LEVEL limit.
      .config("spark.sql.cteRecursionRowLimit", Int.MaxValue.toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(s)
    s
  }
}
