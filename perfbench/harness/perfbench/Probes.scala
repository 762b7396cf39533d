package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.TextPipeline
import graft.io.Tables

/** Single-layer probes of the traced run. Each timing is the smaller of
  * two runs after an untimed one, through the same `noop` sink. */
object Probes {
  import Harness.noop

  private def time(df: => DataFrame): Double = {
    noop(df)
    (1 to 2).map { _ =>
      val t0 = System.nanoTime(); noop(df); (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** `io.scan_s`: scanning the `text` column of `<dir>/documents.parquet`;
    * `core.tokenize_s`: `TextPipeline.words` over it, less the scan. */
  def scanTokenize(spark: SparkSession, dir: String): Map[String, Double] = {
    val scan = time(Tables.documents(spark, dir).select("text"))
    val words = time(TextPipeline.words(Tables.documents(spark, dir), "text"))
    Map("io.scan_s" -> scan, "core.tokenize_s" -> (words - scan))
  }

  private val Copies = 100

  /** `plans.<fn>.ns_per_row` for every function `GraftExtensions`
    * registers: a select of the function over fixture columns, less the
    * same select of the columns alone, per input row. The cached inputs
    * are exploded `Copies` times so each select runs long enough to time;
    * the explode is in both selects and cancels. */
  def kernels(spark: SparkSession, fixture: String): Map[String, Double] = {
    val kt = Tables.documents(spark, fixture)
      .select(col("doc_id"), col("text"))
      .withColumn("toks", expr("normalized_tokens(text)"))
      .withColumn("stoks", expr("array_sort(array_distinct(toks))"))
      .withColumn("hs", expr("transform(toks, t -> h32(t))"))
      .withColumn("hh", expr("h32(text)"))
      .withColumn("g", expr("doc_id % 64"))
      .withColumn("codes", expr("transform(sequence(0, 7), m -> (doc_id * 7 + m * 13) % 16)"))
      .withColumn("tab", expr("transform(sequence(0, 127), i -> CAST(i * 37 % 101 AS BIGINT))"))
    val next = kt.select((col("doc_id") - 1).as("doc_id"), col("stoks").as("stoks2"))
    val ktc = kt.join(next, Seq("doc_id")).cache()
    val kv = Tables.embeddings(spark, fixture)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val kvn = kv.join(kv.select((col("vec_id") - 1).as("vec_id"), col("vec").as("vec2")), Seq("vec_id"))
      .cache()
    val cells = kv.orderBy("vec_id").limit(16)
      .agg(collect_list(struct(col("vec_id").as("cell"), col("vec").as("cv"))).as("cells"))
      .cache()
    val rowsT = ktc.count() * Copies
    val rowsV = kvn.count() * Copies
    cells.count()
    ktc.createOrReplaceTempView("perfbench_kt")
    kvn.crossJoin(cells).createOrReplaceTempView("perfbench_kv")
    val src = Map(
      "kt" -> s"(SELECT * FROM perfbench_kt LATERAL VIEW explode(sequence(1, $Copies)) x AS copy)",
      "kv" -> s"(SELECT * FROM perfbench_kv LATERAL VIEW explode(sequence(1, $Copies)) x AS copy)")
    def sel(cols: String, from: String, group: Boolean = false): DataFrame =
      spark.sql(s"SELECT $cols FROM ${src(from)}" + (if (group) " GROUP BY g" else ""))
    // (function, kernel select, identity select, source, grouped)
    val cases = Seq(
      ("normalized_tokens", "normalized_tokens(text)", "text", "kt", false),
      ("h32", "h32(text)", "text", "kt", false),
      ("nfc", "nfc(text)", "text", "kt", false),
      ("entropy_qsum", "entropy_qsum(toks)", "toks", "kt", false),
      ("simhash32", "simhash32(hs)", "hs", "kt", false),
      ("sorted_intersect_count", "sorted_intersect_count(stoks, stoks2)", "stoks, stoks2", "kt", false),
      ("shingle_posting", "shingle_posting(toks, 3)", "toks", "kt", false),
      ("adc_sum", "adc_sum(codes, tab, 16)", "codes, tab", "kt", false),
      ("hll_det", "g, hll_det(hh)", "g, max(hh)", "kt", true),
      ("topk_min", "g, topk_min(hh, doc_id, 10)", "g, max(hh)", "kt", true),
      ("cosine_sim", "cosine_sim(vec, vec2)", "vec, vec2", "kv", false),
      ("argmin_cell", "argmin_cell(vec, cells)", "vec, cells", "kv", false))
    val identity = scala.collection.mutable.Map.empty[(String, String, Boolean), Double]
    val res = cases.map { case (fn, k, id, from, group) =>
      val tId = identity.getOrElseUpdate((id, from, group), time(sel(id, from, group)))
      val tK = time(sel(k, from, group))
      val rows = if (from == "kt") rowsT else rowsV
      s"plans.$fn.ns_per_row" -> (tK - tId) / rows * 1e9
    }.toMap
    ktc.unpersist(); kvn.unpersist(); cells.unpersist()
    res
  }
}
