package graft

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Pins [[Bench.measure]], the one per-iteration measurement the bench
  * runs: the listener-bus drain keeps job counts from bleeding between
  * iterations, jobs run while a query is CONSTRUCTED (eager
  * `localCheckpoint` cuts) are counted, the construct/exec split adds
  * up to the timed wall, and the compile counters show a query panel
  * reusing its generated classes across passes. */
class BenchCensusSpec extends SparkSpec {

  /** q_kcore, wordcount, then q_kcore twice, under one registered census.
    * The first q_kcore is a cold run: it also pays one-time jobs (the
    * schema inference that `Tables` caches per path), so only the last
    * two are compared. */
  private lazy val measured: Seq[Bench.Layers] = {
    val census = new Bench.Census
    spark.sparkContext.addSparkListener(census)
    try Seq("q_kcore", "wordcount", "q_kcore", "q_kcore").map { q =>
      Bench.measure(spark, census, SparkEntry.queries(q), sf)
        .fold(e => fail(s"$q failed: $e"), identity)
    } finally spark.sparkContext.removeSparkListener(census)
  }

  test("census: measuring q_kcore twice counts identical jobs, stages and tasks") {
    val Seq(_, _, k1, k2) = measured
    assert(k1.jobs > 0 && k1.tasks > 0)
    assert((k1.jobs, k1.stages, k1.tasks) == (k2.jobs, k2.stages, k2.tasks))
  }

  test("census: q_kcore's construct-phase checkpoint jobs are counted") {
    val Seq(_, wc, k1, _) = measured
    assert(k1.jobs > wc.jobs, s"q_kcore jobs ${k1.jobs} vs wordcount ${wc.jobs}")
  }

  test("phase split: construct_s + exec_s equals the timed wall") {
    measured.foreach { l =>
      assert(l.constructS > 0 && l.execS > 0)
      assert(math.abs(l.constructS + l.execS - l.wallS) < 1e-9, l.toString)
    }
  }

  /** The benchmark's tail panel (perfbench/run.py `TAIL`): one sub-second
    * query per tier. */
  private val tail = Seq(
    "q_seasonality", "q_asof_join", "q_group_sample", "q_dedup_embedding",
    "q_locf", "q_textrank", "q_csv_ingest", "q_media_metadata",
    "q5_local_supplier", "q_embed_quantize", "q_lateral_topn",
    "q_stream_join_outer", "q_fingerprint", "wordcount_topk")

  /** Empties Spark's JVM-wide generated-class cache (a private member of
    * CodeGenerator), so the panel's first pass compiles cold, as in a fresh
    * JVM, whatever earlier suites in this JVM already compiled. */
  private def emptyCodegenCache(): Unit = {
    val get = CodeGenerator.getClass.getDeclaredMethod("cache")
    get.setAccessible(true)
    val cache = get.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  test("codegen cache: the tail panel compiles > 100 classes once, then none") {
    emptyCodegenCache()
    val census = new Bench.Census
    spark.sparkContext.addSparkListener(census)
    val perPass = try (1 to 3).map { _ =>
      tail.map { q =>
        Bench.measure(spark, census, SparkEntry.queries(q), sf)
          .fold(e => fail(s"$q failed: $e"), _.codegenN)
      }.sum
    } finally spark.sparkContext.removeSparkListener(census)
    // more classes than Spark's default 100-entry cache holds, so a
    // default-sized cache evicts and recompiles them on every pass
    assert(perPass.head > 100, s"classes compiled per pass: $perPass")
    assert(perPass.last == 0, s"classes compiled per pass: $perPass")
  }
}
