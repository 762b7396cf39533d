package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.graftbridge.Bridge

/** Driver-run benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR.
  *
  * Output contract: the LAST stdout line is one compact JSON summary
  * (<1.5 KB — the invoking harness keeps only a 2000-char stdout tail, so
  * the summary must fit inside it together with sbt's trailing status
  * line): total/failed/iters, the slowest ~18 query medians under
  * `"queries"`, and `"detail"` pointing at BENCH_DETAIL.json, which holds
  * the complete per-query medians, mins, raw runs, errors, and the
  * partitioned-variant pass (also echoed to stdout one line earlier for
  * full-log consumers).
  *
  * Each query executes through the `noop` sink — unlike `count()`, this
  * runs the COMPLETE physical plan (Catalyst legally elides final sorts
  * and projects under a count, which would under-report), with zero sink
  * I/O cost. An untimed warm-up pass over one query per broad plan class
  * absorbs session/JIT setup, and queries execute in a deterministic
  * murmur3(name) order (not alphabetical) so residual warm-up cost can't
  * correlate with query names round over round — see SURVEY §8.11 for
  * the three-run adjudication that motivated both.
  *
  * Methodology: 3 timed iterations per query, MEDIAN reported (JIT and
  * scheduler noise would otherwise land directly in round-over-round
  * regression tracking); while the raw spread exceeds 2× (same-process GC /
  * adjacent-heavy-query pollution) the query gets a GC settle plus 2 extra
  * iterations, repeated up to a 9-iteration cap, so one polluted run can't
  * dominate the median. Per-query `"min"` ships beside the median — a
  * stable min with a high median is bench noise, not a plan regression.
  * All raw iteration times ship in `"runs"`, in execution order, so the
  * variance and the first-iteration cost are inspectable. A query whose PRIMARY iterations throw reports -1, lands
  * in `"errors"`, and bumps `"failed"` — `total` covers succeeded queries
  * only, so regression comparison must gate on `failed == 0` first (a
  * broken query must never look fast). A failure during a spread-triggered
  * EXTRA iteration does not bump `failed` (the primary runs were clean);
  * it is reported separately in `"retry_errors"`.
  *
  * A second one-iteration pass runs the suite against the multi-file +
  * lang-partitioned fixture mirror (graft.io.PartitionedFixture) and ships
  * as `"partitioned"` — evidence that split planning and partition pruning
  * hold under bench conditions, not just in specs. Entries re-timed by the
  * >3x-median GC-settle retry report the min of two runs; their both
  * readings ship under `"retried"` so consumers can tell best-of-two from
  * single-shot numbers.
  *
  * Every timed iteration is split at one timestamp taken after
  * `fn(spark, dir)`: `construct_s` (DataFrame building, analysis and any
  * eager `localCheckpoint` jobs the query runs while assembling its plan)
  * and `exec_s` (the noop-sink write). A [[Census]] listener counts the
  * iteration's Spark jobs, stages, tasks and summed executor run time;
  * the listener bus is drained after each iteration, so no count bleeds
  * into the next one. Two JVM-wide counters, read next to the drains,
  * give the iteration's compile cost: `codegen_n` classes compiled by
  * Janino and `codegen_s` seconds spent compiling them (a query that
  * reuses cached classes reads 0). BENCH_DETAIL.json ships these as
  * `"layers"`, taken from each query's median iteration.
  *
  * Both summary lines carry a `"load"` contention stamp (loadavg
  * before/after, process cpu-vs-wall ratio): round 7 shipped a bench
  * captured on a busy machine and the artifact had no way to show it.
  * A run with elevated loadavg and a depressed cpu/wall ratio is
  * self-identifying as contaminated — rerun it; don't diff it.
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** One timed iteration: wall time split into construct and exec, plus
    * the Spark work it scheduled and the generated code it compiled. */
  final case class Layers(wallS: Double, constructS: Double, execS: Double,
                          jobs: Int, stages: Int, tasks: Int, taskS: Double,
                          codegenN: Long, codegenS: Double) {
    def json: String =
      s"""{"construct_s":$constructS,"exec_s":$execS,"jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_s":$taskS,"codegen_n":$codegenN,"codegen_s":$codegenS}"""
  }

  /** (classes compiled, nanoseconds compiling) since JVM start. */
  private def codegenCounters: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Counts finished jobs, completed stages, their tasks and summed
    * executor run time since the last [[reset]]. */
  final class Census extends SparkListener {
    private val jobs = new AtomicInteger
    private val stages = new AtomicInteger
    private val tasks = new AtomicInteger
    private val taskMs = new AtomicLong
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(e.stageInfo.numTasks)
      taskMs.addAndGet(e.stageInfo.taskMetrics.executorRunTime)
    }
    def reset(): Unit = { jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0L) }
    private[graft] def layers(t0: Long, t1: Long, t2: Long,
                              compiled: Long, compileNs: Long): Layers =
      Layers((t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
        jobs.get, stages.get, tasks.get, taskMs.get / 1e3,
        compiled, compileNs / 1e9)
  }

  /** One timed iteration of `fn` on `dir` through the noop sink.
    * `census` must be registered on `spark`; the listener bus is drained
    * and the compile counters are read on both sides of the iteration,
    * outside the timed region. */
  def measure(spark: SparkSession, census: Census, fn: Query,
              dir: String): Either[String, Layers] = {
    Bridge.drainListenerBus(spark)
    census.reset()
    val (n0, ns0) = codegenCounters
    val t0 = System.nanoTime()
    try {
      val df = fn(spark, dir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      Bridge.drainListenerBus(spark)
      val (n1, ns1) = codegenCounters
      Right(census.layers(t0, t1, t2, n1 - n0, ns1 - ns0))
    } catch { case e: Throwable =>
      Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}") }
  }

  private final case class Result(name: String, median: Double, min: Double,
    runs: Seq[Double], layers: Option[Layers], err: Option[String],
    retryErr: Option[String])

  def main(args: Array[String]): Unit = {
    // f-interpolators format through the default locale; a comma-decimal
    // locale would make the JSON summary unparseable
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt, "graft-bench")
    val census = new Census
    spark.sparkContext.addSparkListener(census)
    def timeOnce(fn: Query, dir: String = sfDir) = measure(spark, census, fn, dir)
    // Warm-up: session/codegen/scan/shuffle setup paid once, not by the
    // first queries. One query per broad plan class (scan+agg+sort,
    // window+join, HOF-array/hash, stateful exchange-heavy) — the
    // round-10 three-run adjudication showed the suite's FIRST queries
    // absorbing JVM/JIT warm-up regardless of which they were, so the
    // warm-up must touch each execution framework, not just one plan.
    Seq("wordcount", "q_topk_orders", "q_dedup_minhash", "q_sessionize")
      .foreach(w => SparkEntry.queries.get(w).foreach(timeOnce(_)))
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    def jstr(s: String): String =
      "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    val maxIters = 9
    // Contention stamp: BENCH_r07 was captured on a busy machine and its
    // numbers were garbage (6 phantom "regressions", all vanishing when
    // re-measured standalone). Record system load before/after plus this
    // process's cpu-vs-wall ratio so a polluted run is self-identifying
    // from the artifact alone: high loadavg with a LOW cpu/wall ratio
    // means someone else had the cores.
    def loadAvg: Double =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.mkString.split(" ")(0).toDouble finally src.close()
      } catch { case _: Throwable => -1.0 }
    def procCpuSec: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean =>
          os.getProcessCpuTime / 1e9
        case _ => -1.0
      }
    val loadStart = loadAvg
    val cpuStart = procCpuSec
    val wallStart = System.nanoTime()
    // optional comma-separated query filter for local iteration (unset for
    // the driver's full run)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    // Execution order: deterministic but NOT alphabetical. Alphabetical
    // order made residual warm-up cost land on the same early-alphabet
    // queries every run, so min-rule flags correlated with suite position
    // (SURVEY §8.11). Ordering by murmur3(name) keeps runs byte-identical
    // across invocations (flag sets stay comparable run-to-run) while
    // decorrelating position from name; (hash, name) breaks hash ties.
    val benchOrder: ((String, Any)) => (Int, String) = { case (name, _) =>
      (scala.util.hashing.MurmurHash3.stringHash(name, 0x5bd1e995), name) }
    val results = SparkEntry.queries.toSeq.sortBy(benchOrder)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      val primary = (1 to iters).map(_ => timeOnce(fn))
      var extras = Vector.empty[Either[String, Layers]]
      def ok = (primary ++ extras).collect { case Right(l) => l }
      def spreadOver2x = {
        val t = ok.map(_.wallS); t.size > 1 && t.max > 2 * t.min }
      // high-spread tail: settle the heap, then add 2 iterations; repeat
      // until the spread is ≤2× or the iteration cap is hit, so one
      // GC-polluted run can't dominate the median
      while (iters > 1 && spreadOver2x && primary.forall(_.isRight) &&
             primary.size + extras.size < maxIters) {
        System.gc(); Thread.sleep(200)
        val room = maxIters - primary.size - extras.size
        extras ++= (1 to math.min(2, room)).map(_ => timeOnce(fn))
      }
      val runs = ok
      val byWall = runs.sortBy(_.wallS)
      val times = byWall.map(_.wallS)
      val median =
        if (times.isEmpty) -1.0
        else if (times.size % 2 == 1) times(times.size / 2)
        else (times(times.size / 2 - 1) + times(times.size / 2)) / 2
      Result(name, median, times.headOption.getOrElse(-1.0), runs.map(_.wallS),
        byWall.lift(byWall.size / 2),
        primary.collectFirst { case Left(m) => m },
        extras.collectFirst { case Left(m) => m })
    }
    def obj(entries: Seq[(String, String)]): String =
      entries.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val qs = obj(results.map(r => r.name -> r.median.toString))
    val mins = obj(results.map(r => r.name -> r.min.toString))
    val raw = obj(results.map(r => r.name -> r.runs.mkString("[", ",", "]")))
    val layers = obj(results.flatMap(r => r.layers.map(l => r.name -> l.json)))
    val errs = obj(results.flatMap(r => r.err.map(m => r.name -> jstr(m))))
    val retryErrs = obj(results.collect {
      case Result(k, _, _, _, _, None, Some(m)) => k -> jstr(m) })
    val failed = results.count(_.err.isDefined)
    val total = results.map(r => math.max(r.median, 0.0)).sum
    // Variant pass: the whole suite once against the multi-file /
    // lang-partitioned mirror of the same sf dir (split planning +
    // partition pruning under bench conditions). One timed iteration per
    // query — this tracks layout sensitivity, not medians; its failures
    // are reported inside "partitioned" and do NOT bump the primary
    // "failed" gate. Disable with SPARK_GRAFT_BENCH_PARTITIONED=0.
    // (fragment, total, failed) for the partitioned-variant pass
    val (partitioned, pSummary) =
      if (sys.env.getOrElse("SPARK_GRAFT_BENCH_PARTITIONED", "1") == "0")
        ("", "")
      else try {
        val pdir = graft.io.PartitionedFixture.prepare(spark, sfDir)
        timeOnce(SparkEntry.queries("wordcount"), pdir)
        val medians = results.map(r => r.name -> r.median).toMap
        val pres = SparkEntry.queries.toSeq.sortBy(benchOrder)
          .filter { case (name, _) => only.isEmpty || only(name) }
          .map { case (name, fn) =>
            val first = timeOnce(fn, pdir).map(_.wallS)
            // single-iteration pass, so one heap polluted by the previous
            // query lands straight in the number (round-6 evidence: the
            // 4 queries alphabetically after a 14 s mirror query read
            // 4-16x their primary median; all re-measured normal in
            // isolation). If the reading exceeds 3x the query's primary
            // median, settle the heap and re-time once, reporting the
            // min -- a REAL layout regression reproduces on the retry.
            // (name, best, Some((first, retry)) when the retry fired) —
            // best-of-two and single-shot entries are different
            // methodologies, so the fragment must say which is which
            val (best, retryRuns) = first match {
              case Right(t) if medians.get(name).exists(m => m > 0 && t > 3 * m) =>
                System.gc(); Thread.sleep(200)
                timeOnce(fn, pdir) match {
                  case Right(l) => (Right(math.min(t, l.wallS)), Some((t, l.wallS)))
                  case Left(_)  => (first, None)
                }
              case other => (other, None)
            }
            (name, best, retryRuns)
          }
        val pqs = obj(pres.map { case (k, r, _) =>
          k -> r.fold(_ => -1.0, identity).toString })
        val pErrs = obj(pres.collect { case (k, Left(m), _) => k -> jstr(m) })
        // both readings for every >3x-median entry that was re-timed, so
        // bench_diff consumers can separate best-of-two from single-shot
        val pRetried = obj(pres.collect { case (k, _, Some((t1, t2))) =>
          k -> s"[$t1,$t2]" })
        val pFailed = pres.count(_._2.isLeft)
        val pTotal = pres.collect { case (_, Right(t), _) => t }.sum
        (s""","partitioned":{"dir":${jstr(pdir)},"total":$pTotal,"failed":$pFailed,"queries":$pqs,"errors":$pErrs,"retried":$pRetried}""",
         f""","p_total":$pTotal%.2f,"p_failed":$pFailed""")
      } catch { case e: Throwable =>
        (s""","partitioned":{"prep_error":${jstr(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")}}""",
         ""","p_failed":-1""")
      }
    val wallSec = (System.nanoTime() - wallStart) / 1e9
    val cpuSec = procCpuSec - cpuStart
    // cpu/wall on an otherwise-idle local[32] heavy suite runs well above
    // 1; a contended run shows elevated loadavg AND a depressed ratio
    val loadStamp =
      f""""load":{"loadavg_start":$loadStart%.2f,"loadavg_end":$loadAvg%.2f,"proc_cpu_sec":$cpuSec%.1f,"wall_sec":$wallSec%.1f,"cpu_wall_ratio":${if (wallSec > 0) cpuSec / wallSec else -1.0}%.2f}"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec","iters":$iters,"failed":$failed,"queries":$qs,"min":$mins,"runs":$raw,"layers":$layers,"errors":$errs,"retry_errors":$retryErrs$partitioned,$loadStamp,"sf":"$sfDir"}"""
    // Full per-query detail is large (tens of KB): persist it to a file and
    // echo it early. The harness that invokes Bench keeps only a short tail
    // of stdout, so the LAST line printed is a compact summary (<1.5 KB):
    // suite total, failure gate, and the slowest-query medians. Everything
    // else lives in the detail file.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "/root/repo/BENCH_DETAIL.json")
    // advertise the path only if the write succeeded — a stale previous
    // round's file must not masquerade as this run's detail
    val detailJson =
      try {
        val w = new java.io.PrintWriter(detailPath, "UTF-8")
        try w.println(full) finally w.close()
        jstr(detailPath)
      } catch { case _: Throwable => "null" }
    println(full)
    val headline = results.filter(_.err.isEmpty).sortBy(-_.median).take(18)
      .map(_.name).toSet + "wordcount"
    val cqs = obj(results.filter(r => headline(r.name) || r.err.isDefined)
      .map(r => r.name -> f"${r.median}%.3f"))
    val errNames = results.filter(_.err.isDefined).map(r => jstr(r.name))
      .mkString("[", ",", "]")
    println(f"""{"metric":"total","value":$total%.2f,"unit":"sec","iters":$iters,"failed":$failed,"n_queries":${results.size},"detail":$detailJson,"queries":$cqs,"error_queries":$errNames$pSummary,$loadStamp,"sf":"$sfDir"}""")
    spark.stop()
  }
}
