package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Immutable event-stream dataset: the reference's 3-table relational model
  * (/root/reference/EventStream/EventStreamData/event_stream_dataset.py:19-40)
  * as plain DataFrames.
  *
  *  - events:       (event_id LONG, subject_id LONG, timestamp TIMESTAMP,
  *                   event_type STRING, <time-dependent cols...>)
  *  - measurements: long/narrow EAV layout (metadata_id LONG, event_id LONG,
  *                   event_type STRING, subject_id LONG, measurement STRING,
  *                   key STRING, value DOUBLE) — the reference's wide sparse
  *                   metadata columns re-expressed so every per-measurement
  *                   operator is a filter+groupBy and Parquet never stores
  *                   thousands of mostly-null columns.
  *  - subjects:     (subject_id LONG, <static cols...>), small → broadcast.
  *
  * Unlike the reference (mutable in-place pandas), every operation returns a
  * new EventDataset; "sortedness" is not a persisted property — ordering is
  * imposed at use-sites with window specs (SURVEY §2.3), which is the only
  * sound model on a distributed engine.
  */
final case class EventDataset(
    events: DataFrame,
    measurements: DataFrame,
    subjects: DataFrame) {

  /** Events with ordering columns attached: per-subject event index by
    * (timestamp, event_id). Replaces the reference's global `sort_events`
    * (event_stream_dataset.py:668-671) — a total sort is a pointless global
    * shuffle at 100 TB; rank-within-subject gives the same downstream
    * semantics after one hash-partition on subject_id. */
  def eventsOrdered: DataFrame = {
    val w = Window.partitionBy("subject_id").orderBy("timestamp", "event_id")
    events.withColumn("event_idx", row_number().over(w))
  }

  /** Event-type frequency ordering (event_stream_dataset.py:658) — defines
    * downstream event_type vocabulary ids. */
  def eventTypes: DataFrame =
    events.groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("event_type"))

  /** Events-per-subject with zero-fill for event-less subjects
    * (event_stream_dataset.py:660-666): right-join to subjects + coalesce. */
  def eventsPerSubject: DataFrame =
    events.groupBy("subject_id").agg(count(lit(1)).as("n_events"))
      .join(subjects.select("subject_id"), Seq("subject_id"), "right")
      .select(col("subject_id"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))

  /** Merge events sharing (subject_id, timestamp, event_type) into one event
    * with a new dense id; measurements are FK-remapped onto the merged event
    * and all retained (no numeric aggregation — reference semantics at
    * event_stream_dataset.py:673-700).
    *
    * Dense id assignment is a row_number over the merged keys (deterministic:
    * subject, timestamp, type) — a distributed mapping TABLE, never a driver
    * dict (SURVEY §7 hard-parts list). The remap is a shuffle join on
    * event_id; at scale both sides are hash-partitioned on the key so AQE
    * picks a plain sort-merge join.
    */
  def aggByTimeType: EventDataset = {
    val keyCols = Seq("subject_id", "timestamp", "event_type")
    // Dense ids via range-partition + sortWithinPartitions + zipWithIndex
    // (Ids.denseIds) — a global row_number window would funnel every merged
    // event through ONE partition; this shape keeps the ordering global
    // (range partitioner orders partitions) with no single-partition stage.
    // localCheckpoint: three consumers follow (zipWithIndex's offsets job,
    // the FK mapping explode, and the new events projection) — without it
    // each replays the merge aggregation.
    // ONE exchange, not two: range-partition the events on the merge keys
    // FIRST — RangePartitioning satisfies the aggregation's clustered-
    // distribution requirement, so the groupBy adds no hash exchange, and
    // denseIds can trust the (range-disjoint) partitioning and skip its
    // own shuffle. Trade-off vs hash-first: raw rows cross the range
    // exchange without map-side combine — right for this operator, where
    // co-timestamped duplicates are rare by construction; a
    // high-duplication dedup would prefer the hash-first shape.
    val merged = Ids.denseIdsBy(
      events
        .repartitionByRange(keyCols.map(col): _*)
        .groupBy(keyCols.map(col): _*)
        .agg(collect_set("event_id").as("old_event_ids")),
      "event_id", keyCols.map(col), prePartitioned = true)
      .localCheckpoint(true)
    val mapping = merged
      .select(col("event_id").as("new_event_id"),
        explode(col("old_event_ids")).as("event_id"))
    val newEvents = merged.select(
      col("event_id"), col("subject_id"), col("timestamp"),
      col("event_type"))
    val newMeas = measurements
      .join(mapping, Seq("event_id"))
      .drop("event_id")
      .withColumnRenamed("new_event_id", "event_id")
    EventDataset(newEvents, newMeas, subjects)
  }

  /** Restricted measurements scan (event_stream_dataset.py:789-863):
    * conjunctive predicate on denormalized event_type/subject_id columns —
    * both push down to Parquet row groups because the long layout carries
    * them on every row (the reference denormalizes for exactly this reason,
    * event_stream_dataset.py:25-29). */
  def measurementsFor(
      eventTypes: Option[Seq[String]] = None,
      subjectIds: Option[Seq[Long]] = None): DataFrame = {
    var df = measurements
    eventTypes.foreach(ts => df = df.filter(col("event_type").isin(ts: _*)))
    subjectIds.foreach(ss => df = df.filter(col("subject_id").isin(ss: _*)))
    df
  }

  /** Nested events view: each event row carries its measurements as an
    * ArrayType(Struct) column — the reference's ExpandableDfDict cells
    * (event_stream_dataset.py:599-631) are naturally ragged Spark arrays. */
  def eventsWithMetadata: DataFrame = {
    val nested = measurements
      .groupBy("event_id")
      .agg(collect_list(struct(col("measurement"), col("key"), col("value")))
        .as("metadata"))
    events.join(nested, Seq("event_id"), "left")
  }

  /** Inter-event time deltas in minutes (event_stream_dataset.py:873-876). */
  def interEventMinutes: DataFrame = {
    val w = Window.partitionBy("subject_id").orderBy("timestamp", "event_id")
    events.withColumn("delta_min",
      (col("timestamp").cast("double") -
        lag(col("timestamp").cast("double"), 1).over(w)) / 60.0)
  }

  /** Train-split moments of log(Δt_minutes + 1) — reference
    * event_stream_dataset.py:878-892; pandas .std() is SAMPLE std (ddof=1)
    * hence stddev_samp. */
  def tteStats(trainEvents: DataFrame): DataFrame = {
    val w = Window.partitionBy("subject_id").orderBy("timestamp", "event_id")
    trainEvents
      .withColumn("delta_min",
        (col("timestamp").cast("double") -
          lag(col("timestamp").cast("double"), 1).over(w)) / 60.0)
      .filter(col("delta_min").isNotNull)
      .agg(
        avg(log(col("delta_min") + 1)).as("mean_log_inter_event_time_min"),
        stddev_samp(log(col("delta_min") + 1))
          .as("std_log_inter_event_time_min"))
  }
}

object EventDataset {

  /** Persist the three tables as parquet under `dir` — the engine's
    * save surface (the reference dill-pickles the whole object,
    * event_stream_dataset.py:42-44; here everything is plain columnar
    * data, splittable and schema-evolvable). */
  def save(ds: EventDataset, dir: String,
      mode: String = "overwrite"): Unit = {
    ds.events.write.mode(mode).parquet(s"$dir/events")
    ds.measurements.write.mode(mode).parquet(s"$dir/measurements")
    ds.subjects.write.mode(mode).parquet(s"$dir/subjects")
  }

  /** Re-open a dataset persisted by `save`. */
  def load(spark: SparkSession, dir: String): EventDataset =
    EventDataset(
      spark.read.parquet(s"$dir/events"),
      spark.read.parquet(s"$dir/measurements"),
      spark.read.parquet(s"$dir/subjects"))

  /** Normalize an arbitrary per-event-type frame into events schema — the
    * reference's `to_events` (event_stream_dataset.py:370-413) as a single
    * narrow projection. */
  def toEvents(df: DataFrame, eventType: String, subjectCol: String,
      timeCol: String, metadataCols: Seq[String]): DataFrame = {
    val meta =
      if (metadataCols.isEmpty) array().cast("array<struct<key:string,value:double>>")
      else array(metadataCols.map(c =>
        struct(lit(c).as("key"), col(c).cast("double").as("value"))): _*)
    df.select(
      col(subjectCol).cast("long").as("subject_id"),
      to_timestamp(col(timeCol)).as("timestamp"),
      lit(eventType).as("event_type"),
      meta.as("metadata"))
  }

  /** Ingest the driver's events table (event_id, ts, user_id, event_type,
    * value, props) into the 3-table model: one measurement row per event
    * keyed by its event_type (multivariate-regression shape), plus a
    * subjects frame derived from distinct users. */
  def fromRawEvents(raw: DataFrame, measurementName: String = "value")
      : EventDataset = {
    val events = raw.select(
      col("event_id").cast("long"),
      col("user_id").cast("long").as("subject_id"),
      col("ts").as("timestamp"),
      col("event_type"))
    val measurements = raw.select(
      col("event_id").cast("long").as("metadata_id"),
      col("event_id").cast("long"),
      col("event_type"),
      col("user_id").cast("long").as("subject_id"),
      lit(measurementName).as("measurement"),
      col("event_type").as("key"),
      col("value").cast("double").as("value"))
    val subjects = raw.select(col("user_id").cast("long").as("subject_id"))
      .distinct()
    EventDataset(events, measurements, subjects)
  }

  /** Parse a JSON-properties column into long-layout measurement rows:
    * `from_json` to map<string,double> + explode — the ingest path for
    * event logs that carry per-event metadata as a JSON blob (the
    * driver's `events.props`). Narrow (codegen JSON parse, no shuffle);
    * malformed/empty JSON yields no rows for that event. */
  def propsToMeasurements(raw: DataFrame, propsCol: String = "props")
      : DataFrame =
    raw.select(
      col("event_id").cast("long"),
      col("user_id").cast("long").as("subject_id"),
      col("event_type"),
      explode(from_json(col(propsCol),
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.DoubleType)))
        .as(Seq("key", "value")))
      .withColumn("measurement", lit("props"))

  /** Nested → flat explode (event_stream_dataset.py:570-593): O(n) narrow
    * `explode`, vs the reference's Python iterrows loop. metadata_id is a
    * per-event-local position + event_id pair encoded densely enough for FK
    * purposes via monotonically_increasing_id (ids need only be unique; the
    * reference's density is an artifact of np.arange). */
  def explodeNested(eventsWithMeta: DataFrame): DataFrame =
    eventsWithMeta
      .select(col("event_id"), col("event_type"), col("subject_id"),
        posexplode(col("metadata")).as(Seq("pos", "m")))
      .select(
        monotonically_increasing_id().as("metadata_id"),
        col("event_id"), col("event_type"), col("subject_id"),
        lit("value").as("measurement"),
        col("m.key").as("key"),
        col("m.value").as("value"))
}
