package perfbench

import graft.core.{DataModality => DM, DatasetConfig, MeasurementConfig, TemporalityType => TT}
import graft.functors.AgeFunctor
import graft.ingest.{EventDataset, Splits}
import graft.preprocess.DatasetPreprocessor
import graft.serve.BatchBuilder
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference preprocessing pipeline over synthetic EHR events:
  * ingest (events + JSON props) → subject split → fit on train only
  * (dynamic numeric `value` and `props`, static `grp`, functional
  * `age`) → transform → per-subject sequences padded to the longest →
  * executed to the end. One round is one pass over all events. */
final class EhrPipeline extends Workload {
  val Events = 200000L
  private var events: DataFrame = _
  private var subjects: DataFrame = _
  private var sizes = Map.empty[String, Long]
  private var last: (DataFrame, DataFrame, DataFrame) = _

  private val cfg = DatasetConfig(measurements = Seq(
    MeasurementConfig("value", TT.Dynamic, DM.MultivariateRegression,
      valuesColumn = Some("value")),
    MeasurementConfig("props", TT.Dynamic, DM.MultivariateRegression,
      valuesColumn = Some("value")),
    MeasurementConfig("grp", TT.Static, DM.SingleLabelClassification),
    MeasurementConfig("age", TT.FunctionalTimeDependent,
      DM.UnivariateRegression, functor = Some("age"))))
  private val functors = Seq(AgeFunctor("dob"))

  def generated: Map[String, Long] = sizes

  def spans: Seq[String] = Seq("ingest.fromRawEvents",
    "ingest.propsToMeasurements", "ingest.subjectSplitsByKey",
    "preprocess.fit", "preprocess.transform", "serve.subjectSequences",
    "serve.padToCol", "serve.exec")

  /** A cold pass and a warm one, so `wall_s` also covers the pipeline
    * once its plans are compiled. */
  override def minRounds: Int = 2

  def setup(s: SparkSession, dir: String, seed: Long): Unit = {
    val (ev, subj) = Gen.ehr(s, seed, Events)
    Gen.write(ev, s"$dir/events.parquet", 4)
    Gen.write(subj, s"$dir/subjects.parquet", 1)
    sizes = Map("events" -> Events, "subjects" -> Gen.subjects(Events))
    events = s.read.parquet(s"$dir/events.parquet")
    subjects = s.read.parquet(s"$dir/subjects.parquet")
  }

  /** Everything up to the final plan: (transformed measurements, splits,
    * padded sequences). The last round's are kept for the checks. */
  private def build(s: SparkSession, t: Tracer)
      : (DataFrame, DataFrame, DataFrame) = {
    val ds0 = t.span("ingest.fromRawEvents")(EventDataset.fromRawEvents(events))
    val props = t.span("ingest.propsToMeasurements")(
      EventDataset.propsToMeasurements(events))
    val ds = ds0.copy(
      measurements = ds0.measurements.unionByName(props.withColumn(
        "metadata_id", xxhash64(col("event_id"), col("key")))),
      subjects = ds0.subjects.join(subjects, Seq("subject_id")))
    val splits = t.span("ingest.subjectSplitsByKey")(
      Splits.subjectSplitsByKey(ds.subjects, Seq(0.8, 0.1),
        Seq("train", "tuning", "held_out"), Splits.md5SplitKey(7L)))
    val fit = t.span("preprocess.fit")(
      DatasetPreprocessor.fit(ds, splits, cfg, functors))
    val (meas, ev, _) = t.span("preprocess.transform")(
      DatasetPreprocessor.transform(ds, fit, functors))
    val seqs = t.span("serve.subjectSequences") {
      val offsets = BatchBuilder.buildOffsets(
        fit.dynamic.toSeq.map { case (m, f) => m -> (f.vocab.count() + 1) })
      val offs = offsets.map(o =>
        (o.measurement, o.offset, o.measurementIdx.toLong))
      val offDf = s.createDataFrame(offs)
        .toDF("measurement", "__off", "measurement_idx")
      val indexed = meas.join(broadcast(offDf), Seq("measurement"))
        .select(col("event_id"), col("subject_id"),
          (col("__off") + col("key_idx")).as("unified_idx"),
          col("value_norm").as("value"), col("measurement_idx"))
      BatchBuilder.subjectSequences(ev, indexed)
    }
    val padded = t.span("serve.padToCol") {
      val maxLen = seqs.agg(max(size(col("time"))).as("__len"))
      seqs.crossJoin(broadcast(maxLen)).select(col("subject_id"),
        BatchBuilder.padToCol(col("time"), col("__len")).as("time"),
        BatchBuilder.padToCol(col("dynamic_indices"), col("__len"))
          .as("dynamic_indices"),
        BatchBuilder.padToCol(col("dynamic_values"), col("__len"))
          .as("dynamic_values"))
    }
    (meas, splits, padded)
  }

  def round(s: SparkSession, t: Tracer): Round = {
    val t0 = System.nanoTime()
    last = build(s, t)
    t.terminal("serve.exec", last._3)
    Round(sizes("events"), Seq(Op("pipeline", (System.nanoTime() - t0) / 1e9)))
  }

  /** Writes the last round's transformed measurements and splits for the
    * DuckDB checks: rows conserved per split, dense vocab indices, train
    * values normalized per key. */
  def check(s: SparkSession, checkDir: String): Seq[String] = {
    val (meas, splits, _) = last
    meas.join(splits, Seq("subject_id"))
      .select("subject_id", "split", "measurement", "key", "final_key",
        "key_idx", "value_norm")
      .write.mode("overwrite").parquet(s"$checkDir/ehr_meas.parquet")
    splits.write.mode("overwrite").parquet(s"$checkDir/ehr_splits.parquet")
    Nil
  }
}
