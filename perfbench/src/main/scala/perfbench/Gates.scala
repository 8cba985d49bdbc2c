package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, struct, xxhash64}

/** One workload: a fixed gate set timed at `sf`, warmed up at `warmSf`. */
final case class Workload(name: String, sf: String, warmSf: String,
    gates: Seq[String])

object Gates {
  /** The scale the benchmark's own tests run every workload at. */
  val TestScale = "sf0.001"

  /** Gate subsets, small enough that set-up and three or more timed passes
    * fit a run of about a minute on 4 cores; every gate has a DuckDB oracle.
    * Each subset's time split matches that of all the gates of its query
    * modules, as perfbench.Probe measures it (warm, 4 cores): the share of
    * call time spent in the gate function (build), in planning and in
    * execution, and for corpus the q_sim_* share of build time (ANN index
    * training). */
  val workloads: Map[String, Workload] = Seq(
    // Notebook user re-running small relational/aggregate/string queries:
    // fixed per-call cost (table resolution, eager Spark jobs) is a large
    // part of each call. Build/plan/exec 27/3/71% against 29/3/69% for all
    // 104 gates of Relational, Aggregates, Scalar, Strings, EventAnalytics
    // and Analytics at sf0.01.
    Workload("interactive", "sf0.01", "sf0.001", Seq(
      "q_filter_project", "q_join_semi_anti", "q_window", "q_star_join",
      "q1_agg", "q_rollup", "q_arith", "q_str_basic", "q_str_replace_n",
      "q_sessionize", "q_funnel", "q_corr")),
    // LLM data pipeline: text kernels, dedup and ANN indexes over the
    // documents and embeddings. Build/plan/exec 35/2/63% against 34/2/65%
    // for all 62 gates of TextPipeline, Corpus and Similarity at sf0.1;
    // q_sim_* gates hold 44% of build time here and 46% there. Calls are
    // shorter on average (0.55 s against 0.84 s): the longest gates would
    // leave room for too few passes. q_stream_dedup_parity (Streaming)
    // adds a structured-streaming drain (micro-batches, WAL and offset
    // logs, state store), so that the streaming layer is measured too.
    Workload("corpus", "sf0.1", "sf0.01", Seq(
      "q_pipe_compress_ratio", "q_pipe_dedup_minhash", "q_pipe_winnow",
      "q_pipe_dedup_simhash", "q_pipe_pii_redact", "q_sim_knn_brute",
      "q_sim_knn_pq", "q_stream_dedup_parity")),
  ).map(w => w.name -> w).toMap

  /** The session every benchmark process uses: local[n] with n shuffle
    * partitions, UTC, and the parquet nanos flag the gates expect. */
  def session(n: Int): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .config("spark.sql.warehouse.dir",
        new java.io.File("spark-warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Fold every output column into one row: the xor of per-row xxhash64
    * (order-independent, overflow-free) and the row count. */
  def hashed(df: DataFrame): DataFrame =
    df.agg(bit_xor(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)))
      .as("h"), count(lit(1)).as("n"))

  /** Expected (hash, rows) per (sf, gate), from expected.tsv. */
  def readExpected(path: String): Map[(String, String), (Long, Long)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#"))
      .map { l =>
        val Array(sf, gate, h, n) = l.split('\t')
        (sf, gate) -> (h.toLong, n.toLong)
      }.toMap
    finally src.close()
  }
}
