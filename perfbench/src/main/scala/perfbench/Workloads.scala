package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}
import graft.sources._

/** One timed operation: a builder called with (session, input dir)
  * whose result is drained through a noop sink. `module` names the
  * graft module the entry point lives in; `io` marks lakehouse reads
  * and writes for the `sources.*` metrics. `oracle` is the registered
  * query whose oracle SQL or tolerance gate judges the output.
  */
final case class Op(name: String, module: String, io: String,
    oracle: String, build: (SparkSession, String) => DataFrame)

object Workloads {

  private def reg(module: String, io: String = "")(name: String): Op =
    Op(name, module, io, name, SparkEntry.queries(name))

  /** Un-memoized lakehouse commit path: `cacheKey = ""` makes the
    * operator write a fresh tree and read it back on every call.
    */
  private def write(name: String)(f: DataFrame => DataFrame): Op =
    Op(s"${name}_write", "sources", "write", name,
      (s, d) => f(Tables.documents(s, d)))

  /** The reference's NGS semantics over lineitem/orders/events: align
    * join, run report, interval complement (an eager build), interval
    * overlap join, exact quantiles, as-of and skewed aggregation, plus
    * an NGS-shaped lakehouse read whose staging lands in set-up. These
    * are the heavier NGS operations: the light ones (QC, sort, binning)
    * are all per-job floor at this input size, and their times moved
    * together by ±20 % from one JVM to the next.
    */
  val ngsBatch: Seq[Op] =
    Seq("q03_align_join").map(reg("Relational")) ++
    Seq("q39_run_report", "q40_interval_complement", "q41_interval_join",
      "q44_exact_quantiles").map(reg("Pipeline")) ++
    Seq("q25_asof_anchor").map(reg("Asof")) ++
    Seq("q27_skew_agg").map(reg("Skew")) ++
    Seq("k02_bucketed_join").map(reg("sources", "read"))

  /** The LLM-corpus tail over documents/embeddings: near-dup
    * detection, importance sampling and IVF search (both eager builds),
    * compression filtering, CDC media dedup, a stateful stream and an
    * un-memoized lakehouse commit.
    */
  val corpusIngest: Seq[Op] =
    Seq("d02_dedup_minhash").map(reg("Dedup")) ++
    Seq("p15_importance_sample").map(reg("Corpus")) ++
    Seq("t16_compress_filter").map(reg("TextAnalysis")) ++
    Seq("m07_cdc_dedup").map(reg("Multimodal")) ++
    Seq("s02_ann_ivf").map(reg("Similarity")) ++
    Seq("st03_stream_dedup").map(reg("StreamOps")) ++
    Seq(write("k12_partition_upsert")(PartitionUpsert.upsertSummary(_, cacheKey = "")))

  val all: Map[String, Seq[Op]] = Map(
    "ngs_batch" -> ngsBatch,
    "corpus_ingest" -> corpusIngest)
}
