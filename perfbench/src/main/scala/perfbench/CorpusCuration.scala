package perfbench

import graft.ml.EavToVector
import graft.ops.{Dedup, Linalg, Sampling, Similarity, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage-2 corpus curation (the q254 chain) on seeded documents with
  * planted near-copies and token reorderings: quality filter → MinHash
  * LSH near-dup removal → hashed embedding → dense vectors → k-means →
  * k-means-scoped semantic dedup → ridge quality probe → weighted
  * mixture. `run` is one pass over the corpus. */
final class CorpusCuration {
  val Docs = 800
  val Jaccard = 0.5
  val Cosine = 0.9
  private var docs: DataFrame = _
  private var gen: IndexedSeq[Gen.Doc] = _
  private var last: (DataFrame, DataFrame, DataFrame, DataFrame) = _

  val spans: Seq[String] = Seq("ops.TextOps.qualityScore",
    "ops.Dedup.minhashLsh", "ops.Dedup.dedupByPairs",
    "ops.TextOps.hashedEmbedding", "ml.EavToVector.transform",
    "ops.Similarity.kmeansIterate", "ops.Dedup.embeddingNearDupsKmeans",
    "ops.Linalg.ridgeScore", "ops.Sampling.materializeMixture",
    "curation.exec")

  def setup(s: SparkSession, dir: String, seed: Long): Unit = {
    gen = Gen.docs(seed, Docs, dupFrac = 0.05, shuffleFrac = 0.03,
      lowQFrac = 0.05)
    Gen.writeDocs(s"$dir/documents.parquet", gen)
    docs = s.read.parquet(s"$dir/documents.parquet")
  }

  /** The chain up to the final plan: (mixture, MinHash survivors, vectors
    * of the semantic-dedup survivors, centroids). The last round's are
    * kept for the checks. */
  private def build(s: SparkSession, t: Tracer)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val good = t.span("ops.TextOps.qualityScore")(
      docs.filter(TextOps.qualityScore(col("text")) >= 0.75))
    val pairs = t.span("ops.Dedup.minhashLsh")(
      Dedup.minhashLsh(good, "doc_id", "text", k = 128, bands = 32,
        jaccardThreshold = Jaccard).localCheckpoint(true))
    val unique = t.span("ops.Dedup.dedupByPairs")(
      Dedup.dedupByPairs(good, "doc_id", pairs).localCheckpoint(true))
    val eav = t.span("ops.TextOps.hashedEmbedding")(
      TextOps.hashedEmbedding(unique, "doc_id", "text", dim = 64, seed = 7,
        family = "md5"))
    val vecs = t.span("ml.EavToVector.transform")(
      new EavToVector().setIdCol("doc_id").setDimCol("dim")
        .setValCol("val").setOutputCol("embedding").setDim(64)
        .transform(eav).localCheckpoint(true))
    val cents0 = s.range(8).select(col("id").as("centroid_id"),
      expr("transform(sequence(0, 63)," +
        " i -> CAST((id * 31 + i * 7) % 17 - 8 AS DOUBLE) / 8.0)")
        .as("c_vec"))
    val cents = t.span("ops.Similarity.kmeansIterate")(
      Similarity.kmeansIterate(vecs, "doc_id", "embedding", cents0, iters = 2)
        .localCheckpoint(true))
    val dupIds = t.span("ops.Dedup.embeddingNearDupsKmeans")(
      Dedup.embeddingNearDupsKmeans(vecs, "doc_id", "embedding",
        threshold = Cosine, cents, saltSlices = 8)
        .select(col("id_b").as("doc_id")).distinct().localCheckpoint(true))
    val survivors = vecs.join(dupIds, Seq("doc_id"), "left_anti")
    val kept = t.span("ops.Linalg.ridgeScore") {
      val labeled = survivors.join(docs.select(col("doc_id"),
        (col("lang") === "en").cast("double").as("y")), Seq("doc_id"))
      Linalg.ridgeScore(labeled, "doc_id", "embedding", "y", lambda = 0.1,
        eta = 0.5, iters = 30, threshold = 0.0)
        .filter(col("keep")).select("doc_id").localCheckpoint(true)
    }
    val mixture = t.span("ops.Sampling.materializeMixture") {
      val keptDocs = docs.join(kept, Seq("doc_id"))
      val counts = keptDocs.groupBy("lang").agg(
        sum(TextOps.tokenCount(col("text")).cast("long")).as("n_tok"))
      val weights = Seq(("en", 4L), ("de", 2L), ("es", 1L), ("fr", 1L),
        ("zh", 1L)).toDF("lang", "w")
      val plan = Sampling.mixturePlan(counts, "lang", "n_tok", weights,
        "lang", "w", budget = 50000L)
      Sampling.materializeMixture(keptDocs, "doc_id", "lang", plan,
        seed = 11L)
    }
    (mixture, unique, survivors, cents)
  }

  def run(s: SparkSession, t: Tracer): Op = {
    val t0 = System.nanoTime()
    last = build(s, t)
    t.terminal("curation.exec", last._1)
    Op("curation", (System.nanoTime() - t0) / 1e9)
  }

  /** No MinHash survivor pair is a planted near-copy whose exact shingle
    * Jaccard reaches the threshold (checked here in plain Scala); the
    * semantic-dedup survivors and centroids go to the DuckDB check that
    * no same-cluster survivor pair reaches the cosine threshold. */
  def check(s: SparkSession, checkDir: String): Seq[String] = {
    val (mixture, unique, survivors, cents) = last
    survivors.select("doc_id", "embedding")
      .write.mode("overwrite").parquet(s"$checkDir/cur_survivors.parquet")
    cents.write.mode("overwrite").parquet(s"$checkDir/cur_centroids.parquet")
    val alive = unique.select("doc_id").collect().map(_.getLong(0)).toSet
    val byId = gen.map(d => d.id -> d).toMap
    def shingles(text: String): Set[String] = {
      val n = text.trim.toLowerCase.replaceAll("\\s+", " ")
      (0 to n.length - 5).map(i => n.substring(i, i + 5)).toSet
    }
    val bothAlive = gen.filter(d => d.copyOf >= 0 &&
        alive(d.id) && alive(d.copyOf)).filter { d =>
      val a = shingles(d.text)
      val b = shingles(byId(d.copyOf).text)
      (a & b).size.toDouble / (a | b).size >= Jaccard
    }
    val nMix = mixture.count()
    Seq(
      if (bothAlive.isEmpty) None
      else Some(s"curation: ${bothAlive.size} near-copy pairs survived " +
        s"MinHash dedup, e.g. ${bothAlive.head.id}~${bothAlive.head.copyOf}"),
      if (nMix > 0) None else Some("curation: empty mixture")).flatten
  }
}
