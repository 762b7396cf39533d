package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{GraftSession, SparkEntry}

/** The benchmark's JVM side: one process, one closed-loop client.
  *
  * It calls the program only through its public entry points:
  * `GraftSession.local` builds the session, `SparkEntry.queries(name)`
  * constructs each query, `queryExecution.executedPlan` plans it, and a
  * `noop`-sink write executes it. Order of work:
  *
  *  1. set-up, three times: build the session and run the warm-up
  *     query. The first set-up is timed from the moment the JVM was
  *     spawned; each later one stops the session and builds it again.
  *  2. check pass (untimed): every query's result is written as one
  *     parquet file for the DuckDB oracle compare done by `run.py`.
  *  3. measured window: `passes` whole passes over the query list, back
  *     to back (a traced run traces every other pass, so the untraced
  *     ones give the tracing overhead); a contended pass is repeated.
  *  4. traced run only: the scan/tokenize and kernel probes.
  *
  * Everything is written to `<out>/record.json` (and `spans.json` when
  * traced); `run.py` turns that into metrics.
  *
  * Arguments are `key=value`: out, threads, passes, trace (0|1),
  * queries (comma list in run order), data (dir the queries read), warm
  * (fixture dir for the warm-up query and the kernel probe), spawn_ns
  * (epoch ns of spawn). */
object Harness {
  private val WarmUp = "wordcount"
  private val Setups = 3
  /** Cores' worth of CPU taken by others during a pass above which the
    * pass counts as contended; measured noise on an idle 4-core machine
    * stays under 0.1, and a pass at 0.2 or more ran measurably slower. */
  private val ContendedCores = 0.2
  private val MaxRetries = 2

  final case class Exec(name: String, seconds: Double, error: Option[String])

  /** Execute the complete physical plan and discard the rows. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val out = opt("out")
    val threads = opt("threads").toInt
    val passCount = opt("passes").toInt
    val traced = opt("trace") == "1"
    val names = opt("queries").split(",").toSeq
    val data = opt("data")
    val spawnNs = opt("spawn_ns").toLong
    val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query $n"))).toMap

    val trace = new Trace
    val tracer = new Tracer(trace)
    var spark: SparkSession = null

    // 1. set-ups
    val setupS = Seq.newBuilder[Double]
    val buildS = Seq.newBuilder[Double]
    val warmErrors = Seq.newBuilder[String]
    val warmS = Seq.newBuilder[Double]
    val jvmStartS = (epochNs() - spawnNs) / 1e9
    for (k <- 0 until Setups) {
      if (spark != null) spark.stop()
      val t0 = if (k == 0) None else Some(System.nanoTime())
      val b0 = System.nanoTime()
      spark = GraftSession.local(threads, "perfbench")
      buildS += (System.nanoTime() - b0) / 1e9
      val w0 = System.nanoTime()
      try noop(SparkEntry.queries(WarmUp)(spark, opt("warm")))
      catch { case e: Throwable => warmErrors += s"$WarmUp: ${brief(e)}" }
      warmS += (System.nanoTime() - w0) / 1e9
      setupS += (t0 match {
        case Some(t) => (System.nanoTime() - t) / 1e9
        case None => (epochNs() - spawnNs) / 1e9
      })
    }
    // 2. check pass
    val checkDir = s"$out/check"
    val check = names.map { n =>
      val t0 = System.nanoTime()
      val err =
        try { fns(n)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$n"); None }
        catch { case e: Throwable => Some(brief(e)) }
      Exec(n, (System.nanoTime() - t0) / 1e9, err)
    }

    // 3. measured window
    val passes = Seq.newBuilder[String]
    val (w0, c0, m0) = (System.nanoTime(), cpuSeconds(), machineBusySeconds())
    var (pass, counted, retries) = (0, 0, 0)
    while (counted < passCount) {
      val tracedPass = traced && counted % 2 == 0
      if (tracedPass) tracer.attach(spark)
      val cpu0 = cpuSeconds(); val gc0 = gcSeconds(); val io0 = procIo(); val busy0 = machineBusySeconds()
      val p0 = System.nanoTime()
      val execs = names.zipWithIndex.map { case (n, i) =>
        val traceId = s"p$pass-q$i"
        if (tracedPass) runTraced(spark, tracer, trace, traceId, n, fns(n), data)
        else {
          val t0 = System.nanoTime()
          val err =
            try { val df = fns(n)(spark, data); df.queryExecution.executedPlan; noop(df); None }
            catch { case e: Throwable => Some(brief(e)) }
          Exec(n, (System.nanoTime() - t0) / 1e9, err)
        }
      }
      val wall = (System.nanoTime() - p0) / 1e9
      val (cpu, io1) = (cpuSeconds() - cpu0, procIo())
      val otherCores = (machineBusySeconds() - busy0 - cpu) / wall
      if (tracedPass) tracer.detach(spark)
      // A pass during which other processes (or the hypervisor) held the
      // cores is repeated, at most MaxRetries times a run; it stays in
      // the record, marked, and out of the metrics.
      val retried = otherCores > ContendedCores && retries < MaxRetries
      passes += Json.obj(
        "index" -> pass.toString,
        "traced" -> tracedPass.toString,
        "wall_s" -> Json.num(wall),
        "cpu_s" -> Json.num(cpu),
        "gc_s" -> Json.num(gcSeconds() - gc0),
        "other_cores" -> Json.num(otherCores),
        "contended" -> (otherCores > ContendedCores).toString,
        "retried" -> retried.toString,
        "io" -> Json.nums(io1.map { case (k, v) => k -> (v - io0.getOrElse(k, 0.0)) }),
        "queries" -> Json.arr(execs.map(execJson)))
      if (retried) retries += 1 else counted += 1
      pass += 1
    }
    val window = Json.obj(
      "wall_s" -> Json.num((System.nanoTime() - w0) / 1e9),
      "cpu_s" -> Json.num(cpuSeconds() - c0),
      "machine_busy_s" -> Json.num(machineBusySeconds() - m0))
    val peakRss = procStatusKb("VmHWM") / 1024.0

    // 4. probes
    val probes =
      if (!traced) Map.empty[String, Double]
      else Probes.scanTokenize(spark, data) ++ Probes.kernels(spark, opt("warm"))

    Files.writeString(Paths.get(out, "record.json"), Json.obj(
      "setup_s" -> Json.arr(setupS.result().map(Json.num)),
      "session_build_s" -> Json.arr(buildS.result().map(Json.num)),
      "warm_errors" -> Json.arr(warmErrors.result().map(Json.str)),
      "warm_s" -> Json.arr(warmS.result().map(Json.num)),
      "jvm_start_s" -> Json.num(jvmStartS),
      "threads" -> threads.toString,
      "check" -> Json.arr(check.map(execJson)),
      "passes" -> Json.arr(passes.result()),
      "window" -> window,
      "peak_rss_mb" -> Json.num(peakRss),
      "probes" -> Json.nums(probes),
      "oracle_sql" -> Json.obj(names.flatMap(n => SparkEntry.oracleSql.get(n).map(s => n -> Json.str(s))): _*)))
    if (traced) Files.writeString(Paths.get(out, "spans.json"), trace.json)
    spark.stop()
  }

  /** One query execution with a span per phase. The three phase spans
    * tile the query span, so together they account for its wall time. */
  private def runTraced(spark: SparkSession, tracer: Tracer, trace: Trace, traceId: String,
      name: String, fn: (SparkSession, String) => DataFrame, dir: String): Exec = {
    val sc = spark.sparkContext
    tracer.clearPlan(sc)
    val qid = trace.newId()
    val ids = Seq(trace.newId(), trace.newId(), trace.newId())
    sc.setLocalProperty(Tracer.TraceProp, traceId)
    var ends = Vector.empty[Long]
    def phase[T](i: Int)(body: => T): T = {
      sc.setLocalProperty(Tracer.SpanProp, ids(i).toString)
      val r = body
      ends :+= trace.now()
      r
    }
    var counts = Map.empty[String, Double]
    val t0 = trace.now()
    val err =
      try {
        val df = phase(0)(fn(spark, dir))
        phase(1)(df.queryExecution.executedPlan)
        phase(2)(noop(df))
        counts = tracer.takePlan(sc).map(Tracer.PlanCounts(_)).getOrElse(Map.empty)
        None
      } catch { case e: Throwable => Some(brief(e)) }
    // a failed phase ends where the query ended; the phases after it are empty
    val t3 = if (ends.size == 3) ends(2) else trace.now()
    val bounds = t0 +: ends.padTo(3, t3)
    sc.setLocalProperty(Tracer.SpanProp, null)
    sc.setLocalProperty(Tracer.TraceProp, null)
    trace.record(qid, 0, traceId, s"query:$name", t0, t3)
    Seq("queries.construct", "catalyst.plan", "exec").zipWithIndex.foreach { case (span, i) =>
      trace.record(ids(i), qid, traceId, span, bounds(i), bounds(i + 1), if (i == 2) counts else Map.empty)
    }
    Exec(name, (t3 - t0) / 1e9, err)
  }

  private def execJson(e: Exec): String = Json.obj(
    (Seq("name" -> Json.str(e.name), "seconds" -> Json.num(e.seconds)) ++
      e.error.map(m => "error" -> Json.str(m))): _*)

  private def brief(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  private def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3

  /** rchar/wchar (bytes through read/write calls) and read_bytes/
    * write_bytes (bytes that reached storage) of this process. */
  private def procIo(): Map[String, Double] =
    try Files.readAllLines(Paths.get("/proc/self/io")).asScala.flatMap { l =>
      l.split(":\\s*") match {
        case Array(k, v) if Set("rchar", "wchar", "read_bytes", "write_bytes")(k) => Some(k -> v.trim.toDouble)
        case _ => None
      }
    }.toMap
    catch { case _: Exception => Map.empty }

  /** CPU seconds the whole machine spent busy (all non-idle time in
    * /proc/stat, steal included), at the kernel's 100 ticks a second. */
  private def machineBusySeconds(): Double =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toDouble)
      (f.sum - f(3) - f(4)) / 100.0
    } catch { case _: Exception => Double.NaN }

  private def procStatusKb(key: String): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)
    catch { case _: Exception => Double.NaN }
}
