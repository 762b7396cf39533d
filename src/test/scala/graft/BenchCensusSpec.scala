package graft

/** Pins [[Bench.measure]], the one per-iteration measurement the bench
  * runs: the listener-bus drain keeps job counts from bleeding between
  * iterations, jobs run while a query is CONSTRUCTED (eager
  * `localCheckpoint` cuts) are counted, and the construct/exec split adds
  * up to the timed wall. */
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
}
