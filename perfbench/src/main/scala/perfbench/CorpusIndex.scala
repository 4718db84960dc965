package perfbench

import org.apache.spark.sql.SparkSession

/** The LLM-data side of the engine: each round curates a document corpus
  * (the stage-2 chain) and runs a BM25 index lifecycle (seed, CDC batch,
  * search on the mid-day store, one micro-batch of the maintenance
  * stream with a fold). */
final class CorpusIndex extends Workload {
  private val curation = new CorpusCuration
  private val bm25 = new Bm25Lifecycle

  def generated: Map[String, Long] =
    Map("curation_documents" -> curation.Docs.toLong) ++ bm25.generated

  def setup(s: SparkSession, dir: String, seed: Long): Unit = {
    curation.setup(s, dir, seed)
    bm25.setup(s, dir, seed)
  }

  def round(s: SparkSession, t: Tracer): Round = {
    val ops = curation.run(s, t) +: bm25.run(s, t)
    Round(curation.Docs + bm25.rowsPerRun, ops)
  }

  def spans: Seq[String] = curation.spans ++ bm25.spans

  override def counters(s: SparkSession): Map[String, Double] =
    bm25.counters(s)

  def check(s: SparkSession, checkDir: String): Seq[String] =
    curation.check(s, checkDir) ++ bm25.check(s, checkDir)
}
