package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Seeded input generator. Every input is a pure function of the seed;
  * the workloads write it to parquet under the run's work directory
  * before anything is timed and read it back from there. */
object Gen {

  /** Deterministic word list: stopwords first (so generated prose passes
    * the quality heuristics), then syllable words. */
  val words: Array[String] = {
    val stop = Array("the", "a", "of", "and", "to", "in", "is", "it",
      "on", "or")
    val cons = "bcdfghklmnprstvz"
    val vows = "aeiou"
    val syl = for (c <- cons; v <- vows) yield s"$c$v"
    val built = for (a <- syl; b <- syl) yield a + b
    stop ++ built.take(2990)
  }

  /** Zipf(1.0) rank sampler over `words`. */
  private val cdf: Array[Double] = {
    val w = words.indices.map(r => 1.0 / (r + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  def word(r: Random): String = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    words(math.min(words.length - 1, if (i >= 0) i else -i - 1))
  }

  val langs: Array[String] = Array("en", "de", "es", "fr", "zh")

  /** A generated document; `copyOf` is the id it near-duplicates (a few
    * tokens replaced), or -1. */
  final case class Doc(id: Long, text: String, lang: String,
      copyOf: Long = -1)

  /** `n` documents with ids from `firstId`: 30–90 Zipf tokens; `dupFrac`
    * near-copies and `shuffleFrac` reorderings of earlier documents;
    * `lowQFrac` short or punctuation-heavy documents. */
  def docs(seed: Long, n: Int, firstId: Long = 0L, dupFrac: Double = 0.0,
      shuffleFrac: Double = 0.0, lowQFrac: Double = 0.0): IndexedSeq[Doc] = {
    val r = new Random(seed * 7919 + firstId)
    val out = new scala.collection.mutable.ArrayBuffer[Doc](n)
    val originals = new scala.collection.mutable.ArrayBuffer[Doc](n)
    while (out.length < n) {
      val id = firstId + out.length
      val lang = langs(r.nextInt(langs.length))
      val u = r.nextDouble()
      if (u < dupFrac && originals.nonEmpty) {
        val src = originals(r.nextInt(originals.length))
        val toks = src.text.split(" ").map(t =>
          if (r.nextDouble() < 0.03) word(r) else t)
        out += Doc(id, toks.mkString(" "), src.lang, copyOf = src.id)
      } else if (u < dupFrac + shuffleFrac && originals.nonEmpty) {
        val src = originals(r.nextInt(originals.length))
        out += Doc(id, r.shuffle(src.text.split(" ").toSeq).mkString(" "),
          src.lang)
      } else if (u < dupFrac + shuffleFrac + lowQFrac) {
        val text =
          if (r.nextBoolean()) Seq.fill(5)(word(r)).mkString(" ")
          else Seq.fill(30)(s"${word(r)} !!! ###").mkString(" ")
        out += Doc(id, text, lang)
      } else {
        val len = 30 + r.nextInt(61)
        out += Doc(id, Seq.fill(len)(word(r)).mkString(" "), lang)
        originals += out.last
      }
    }
    out.toIndexedSeq
  }

  def subjects(nEvents: Long): Long = math.max(1L, nEvents / 67)

  /** Raw EHR events in the contract's events layout (event_id, ts,
    * user_id, event_type, value, props) plus the static subjects table
    * (subject_id, grp, dob). About 67 events per subject; `value`
    * depends on the event type; `props` is JSON with 1–3 vitals. */
  def ehr(spark: SparkSession, seed: Long, nEvents: Long)
      : (DataFrame, DataFrame) = {
    val nSubj = subjects(nEvents)
    def h(salt: Int) = xxhash64(lit(seed), col("id"), lit(salt))
    def u(salt: Int) = pmod(h(salt), lit(1000000L)).cast("double") / 1e6
    val types = Seq("admit", "lab", "vitals", "med", "note", "discharge")
    val typeArr = array(types.map(lit): _*)
    val vitals = array(Seq("hr", "bp", "temp", "spo2", "rr", "wt")
      .map(lit): _*)
    val normal = u(5) + u(6) + u(7) - lit(1.5)
    def prop(j: Int) = {
      val k = element_at(vitals,
        (pmod(h(8) + lit(2 * j), lit(6L)) + 1).cast("int"))
      concat(lit("\""), k, lit("\": "),
        round(lit(50.0 + 20 * j) + normal * (10 + j) + u(9 + j) * 5, 2)
          .cast("string"))
    }
    val nProps = pmod(h(12), lit(3L)) + 1
    val props = concat(lit("{"), prop(0),
      when(nProps >= 2, concat(lit(", "), prop(1))).otherwise(lit("")),
      when(nProps >= 3, concat(lit(", "), prop(2))).otherwise(lit("")),
      lit("}"))
    val tIdx = pmod(h(3), lit(types.length.toLong))
    val events = spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(1704067200L) + pmod(h(2), lit(31536000L)))
        .as("ts"),
      pmod(h(1), lit(nSubj)).as("user_id"),
      element_at(typeArr, (tIdx + 1).cast("int")).as("event_type"),
      round(tIdx.cast("double") * 10 + normal * (tIdx + 1).cast("double")
        + u(4), 3).as("value"),
      props.as("props"))
    val subj = spark.range(nSubj).select(
      col("id").as("subject_id"),
      concat(lit("g"), pmod(h(20), lit(4L)).cast("string")).as("grp"),
      timestamp_seconds(lit(-631152000L) + pmod(h(21), lit(1577836800L)))
        .as("dob"))
    (events, subj)
  }

  /** Write `df` to `path` as parquet in `files` files. */
  def write(df: DataFrame, path: String, files: Int): Unit =
    df.repartition(files).write.mode("overwrite").parquet(path)

  /** Write rows to a single parquet file directly, without a Spark job;
    * `schema` is a parquet message type and `fill` sets one row's fields. */
  def writeParquet[A](path: String, schema: String, rows: Seq[A])(
      fill: (org.apache.parquet.example.data.Group, A) => Unit): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val t = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType(s"message m { $schema }")
    val f = new SimpleGroupFactory(t)
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path))
      .withType(t)
      .withConf(new org.apache.hadoop.conf.Configuration())
      .build()
    try rows.foreach { r =>
      val g = f.newGroup()
      fill(g, r)
      w.write(g)
    } finally w.close()
  }

  /** Documents as (doc_id, text, lang). */
  def writeDocs(path: String, docs: Seq[Doc]): Unit =
    writeParquet(path, "required int64 doc_id; required binary text " +
        "(UTF8); required binary lang (UTF8);", docs) { (g, d) =>
      g.append("doc_id", d.id).append("text", d.text).append("lang", d.lang)
    }

  /** One CDC row of a snapshot file; `text` is None for a delete. */
  final case class Cdc(id: Long, text: Option[String], op: String,
      seq: Long)

  /** A CDC snapshot as (doc_id, text, op, seq). */
  def writeSnapshot(path: String, rows: Seq[Cdc]): Unit =
    writeParquet(path, "required int64 doc_id; optional binary text " +
        "(UTF8); required binary op (UTF8); required int64 seq;", rows) {
      (g, r) =>
        g.append("doc_id", r.id)
        r.text.foreach(g.append("text", _))
        g.append("op", r.op).append("seq", r.seq)
    }
}
