package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, incrementally-maintained BM25 inverted index — the
  * text-retrieval twin of the [[AnnIndex]]+[[Hnsw]] maintenance
  * lifecycle (Robertson et al., Okapi at TREC-3 1994; identical
  * scoring to [[TextOps.bm25]]/[[TextOps.bm25Search]], spec-pinned).
  * A growing RAG/retrieval corpus should not re-tokenize 100 TB to
  * refresh df and avg-length every day: every BM25 statistic is a sum
  * of per-batch integers, so the index stores ADDITIVE deltas in the
  * same batch-directory parquet store [[AnnIndex]] uses (the store is
  * generic parts + params + manifest-written-last; nothing in it is
  * ANN-specific), and a query resolves them with vocabulary-bounded
  * rollups — never a corpus rescan.
  *
  * Parts (all un-keyed — plain batch unions, append cost = the delta):
  *  - `postings` (idCol, term, tf, dl): one row per distinct
  *    (doc, term), with the doc length DENORMALIZED onto the posting
  *    (the Lucene norms idiom) so scoring never joins a doc table;
  *  - `docs` (idCol, dl): the stored-id set — the maintenance
  *    stream's re-arrival anti-join target, and the CDC hook a
  *    delete/compact pass would rewrite;
  *  - `termdf` (term, df_delta): per-batch document frequencies —
  *    exact because re-arrivals are dropped before the delta is
  *    computed, so SUM(df_delta) IS df;
  *  - `stats` (n_docs, len_sum): ONE row per batch; N and avg_dl come
  *    from summing this batches-sized table. len_sum is an exact
  *    integer sum, so len_sum/N equals the double-avg of
  *    integer-valued lengths ([[TextOps.bm25]]'s q94 invariant) in
  *    every summation order.
  *
  * Query plan shape at 100 TB: `search` filters `postings` and
  * `termdf` on the query's terms BEFORE any join or agg — parquet
  * min/max + dictionary pushdown prunes the scan to the query
  * vocabulary, the df/stats rollups are ≤ |terms|- and
  * ≤ |batches|-sized broadcasts, and the only wide stage is the
  * per-doc score agg over matched postings (map-side combinable,
  * k-bounded output). That is the difference between BM25-as-a-
  * nightly-batch-job and BM25-as-a-service.
  */
object TextIndex {
  private val Kind = "bm25"

  /** The store layout every entry point requires: kind = bm25 and a
    * `pending` part, exactly what [[save]] and [[compact]] write. */
  private def requireLayout(op: String, store: AnnIndex.Store): Unit =
    require(store.params.get("kind").contains(Kind) &&
        store.manifest.exists(_._1 == "pending"),
      s"TextIndex.$op: index at ${store.path} is not a $Kind store " +
        s"with a pending part (kind ${store.params.getOrElse("kind", "?")}" +
        s", parts [${store.manifest.map(_._1).sorted.mkString(", ")}])" +
        " — seed it with TextIndex.save")

  /** Range-cluster a part on its probe key before writing — the same
    * discipline as [[Hnsw]]'s `sortedByKey`: `postings` clustered on
    * `term` makes a query's pushed term-IN prune at the row-group
    * level (min/max stats bound each group's term range) instead of
    * decoding the whole part per query; `docs` clustered on the id
    * makes [[append]]'s stored-id overlap probe ∝ matching row
    * groups. No explicit partition count — AQE coalesces a
    * micro-batch delta to one file while an index-sized compact
    * write spreads across the cluster. Applied at INDEX-SIZED write
    * sites only (save/compact, plus bulk-regime appends past
    * [[ClusterDeltaMinDocs]]) — never to [[search]]'s query-time
    * pending delta, and NOT to micro-batch delta appends: a
    * `repartitionByRange` costs a range-sampling job + an exchange
    * PER PART PER BATCH, and a batch-sized delta lands in a couple of
    * row groups whatever its order, so there is nothing for the
    * min/max bounds to prune (the driver's r14 protocol measured the
    * per-delta clustering as a net loss at local[32]: q257
    * 9.3 → 14.2 s). The scheduled [[compact]] clusters the folded
    * index — where the row-group pruning actually pays. */
  private def clustered(df: DataFrame, key: String): DataFrame =
    df.repartitionByRange(col(key)).sortWithinPartitions(key)

  private def clusteredParts(d: Map[String, DataFrame], idCol: String)
      : Map[String, DataFrame] =
    d + ("postings" -> clustered(d("postings"), "term")) +
      ("docs" -> clustered(d("docs"), idCol)) +
      ("termdf" -> clustered(d("termdf"), "term"))

  /** Literal-inlining bound for driver-collected batch ids (see the
    * scale-shape note above [[append]]); declared HERE because
    * [[ClusterDeltaMinDocs]] below aligns with it (Scala object vals
    * initialize in declaration order). */
  private val MaxInlineIds = 100000

  /** Delta-append clustering boundary, aligned with the
    * [[MaxInlineIds]] two-regime line: at or below it (the micro-batch
    * regime) the delta writes UNCLUSTERED — its files are too small
    * for row-group pruning to matter and later probes push inlined
    * id/term IN lists anyway; above it (the bulk-load regime, where
    * probes fall back to distributed joins over the whole part) the
    * range clustering pays at read and is kept. */
  private val ClusterDeltaMinDocs = MaxInlineIds

  private def deltaWriteParts(d: Map[String, DataFrame], idCol: String,
      nDocs: Long): Map[String, DataFrame] =
    if (nDocs > ClusterDeltaMinDocs) clusteredParts(d, idCol) else d

  /** The four delta parts for a batch of NEW documents (caller
    * guarantees ids are not already stored — the maintenance stream
    * anti-joins against `docs` first). Rows with empty/whitespace text
    * are excluded from every statistic, matching [[TextOps.bm25]]. */
  def deltaParts(docs: DataFrame, idCol: String, textCol: String,
      pin: Boolean = true): Map[String, DataFrame] = {
    val d = docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), col(textCol))
    // The four parts are all derived from two relations — (id, dl) and
    // the (id, term, tf, dl) postings — and every caller materializes
    // ALL of them (save/append write the four parts; search's pending
    // path reads three). Without pinning, the tokenize→explode→agg
    // chain re-ran once PER PART (guide §1.2: don't compute things
    // twice); localCheckpoint runs it once and the derived rollups
    // (termdf, stats) fold over the pinned rows. termdf counts
    // postings rows per term, which equals tf rows per term exactly:
    // the tf→lens join is 1:1 (both sides derive from the same
    // non-empty-text rows, one lens row per id).
    //
    // `pin = false` is the QUERY-TIME variant for [[search]]'s pending
    // path: the pending relation is broadcast-sized, and an eager
    // checkpoint per SEARCH would run blocking materialization jobs at
    // plan-build time and pin blocks in executor storage until GC — a
    // hot query loop between folds would accumulate them. Write paths
    // keep the pin (every part is materialized there anyway).
    def maybePin(df: DataFrame): DataFrame =
      if (pin) df.localCheckpoint(true) else df
    val lens = maybePin(d.select(col(idCol),
      TextOps.tokenCount(col(textCol)).cast("long").as("dl")))
    val tf = d
      .select(col(idCol),
        explode(TextOps.tokens(lower(col(textCol)))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val postings = maybePin(tf.join(lens, Seq(idCol))
      .select(col(idCol), col("term"), col("tf"), col("dl")))
    val termdf = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df_delta"))
    val stats = lens.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("len_sum"))
    Map("postings" -> postings, "docs" -> lens,
      "termdf" -> termdf, "stats" -> stats)
  }

  /** Build and persist the index from scratch (the seed save the
    * maintenance stream grows from). The empty `deleted` part is the
    * live-docs exclusion list [[delete]] appends to; the empty
    * `pending` part — KEYED on the id, latest batch wins — is where
    * [[stageUpdates]] parks CDC-updated texts until the next fold
    * merges them in. */
  def save(path: String, docs: DataFrame, idCol: String,
      textCol: String): Unit =
    AnnIndex.save(path,
      clusteredParts(deltaParts(docs, idCol, textCol), idCol) +
        ("deleted" -> docs.select(col(idCol)).limit(0)) +
        ("pending" -> docs.select(col(idCol), col(textCol)).limit(0)),
      Map("kind" -> Kind, "id_col" -> idCol, "text_col" -> textCol),
      keys = Map("pending" -> Seq(idCol)))

  /** Delete documents — the Lucene live-docs semantics: the ids land
    * on an exclusion list ([[search]] anti-joins matched postings
    * against it), while their contribution to df and N stays in the
    * statistics until [[compact]] physically merges them out. The
    * write is |ids|-sized; nothing scans the index. A deleted id
    * cannot be re-inserted until a compact frees it ([[append]] treats
    * it as still stored — re-using external ids across a delete
    * without compacting is the one unsupported order, as in Lucene,
    * where internal doc numbers make it a non-question). */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String): Unit = {
    val store = AnnIndex.open(spark, path)
    requireLayout("delete", store)
    val dels = ids.select(col(idCol)).distinct().localCheckpoint(true)
    // a delete must also retract any PENDING text for the id — a
    // keyed tombstone (null text) in the same append, so a staged
    // update that is later deleted can never resurrect at the fold;
    // ids with no pending entry resolve to a lone tombstone and drop
    AnnIndex.appendTo(store, Map("deleted" -> dels,
      "pending" -> dels.select(col(idCol),
        lit(null).cast("string").as(store.params("text_col")))))
    ()
  }

  /** Stage CDC UPDATES (id → replacement text) on the keyed `pending`
    * part — the amortized alternative to forcing a full Lucene merge
    * per colliding micro-batch: the caller has already [[delete]]d the
    * ids (old version dead immediately), the replacement text lands
    * here at |batch| write cost, [[search]] serves it right away (its
    * query-term postings and df/N contribution are computed from the
    * broadcast-sized pending relation at query time — exactly the
    * statistics an [[append]] would have added, while the DELETED old
    * version's stats stay stale until the fold, the same Lucene
    * staleness deletes already carry), and the next scheduled
    * [[compact]] merges pending into the index proper. Within a batch
    * the same id must carry ONE text (exact replays collapse;
    * conflicts FAIL LOUDLY — resolve upstream with a CDC sequence
    * column, see the maintenance stream's `seqCol`). */
  /** Bounded driver-side id collection WITH the conflict guard folded
    * in: `rel` is already dropDuplicates(id, text)-collapsed, so a
    * repeated id in the collected list IS a conflict (two different
    * texts under one id) — detected on the driver for free instead of
    * as a separate groupBy job per micro-batch. Past [[MaxInlineIds]]
    * (the bulk regime, where a driver list would bloat) returns None
    * after running the distributed conflict check unchanged. */
  private def idsWithConflictGuard(rel: DataFrame, idCol: String,
      msg: Seq[Any] => String): Option[IndexedSeq[Any]] = {
    val rows = rel.select(col(idCol)).limit(MaxInlineIds + 1)
      .collect().map(_.get(0)).toIndexedSeq
    if (rows.length > MaxInlineIds) {
      val conflicts = rel.groupBy(col(idCol))
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
        .select(col(idCol)).limit(5).collect().map(_.get(0))
      require(conflicts.isEmpty, msg(conflicts.toSeq))
      None
    } else {
      val dups = rows.groupBy(identity).collect {
        case (k, v) if v.size > 1 => k
      }.take(5).toSeq
      require(dups.isEmpty, msg(dups))
      Some(rows)
    }
  }

  def stageUpdates(spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, textCol: String): Unit = {
    val store = AnnIndex.open(spark, path)
    requireLayout("stageUpdates", store)
    val staged = docs.select(col(idCol), col(textCol))
      .dropDuplicates(idCol, textCol).localCheckpoint(true)
    val ids = idsWithConflictGuard(staged, idCol, cs =>
      s"TextIndex.stageUpdates: conflicting texts for id(s) " +
        s"${cs.mkString(", ")} within one batch — an " +
        "arbitrary winner would be partition-order dependent; " +
        "resolve upstream (the maintenance stream's seqCol)")
    if (ids.forall(_.nonEmpty))
      AnnIndex.appendTo(store, Map("pending" -> staged))
  }

  /** ONE CDC micro-batch — deletes, staged updates and plain appends —
    * applied as ONE index load and ONE multi-part [[AnnIndex.append]]
    * (one manifest version), where the maintenance loop previously
    * chained [[delete]] → [[stageUpdates]] → [[append]]: three full
    * load/validate/append cycles per colliding micro-batch, each with
    * its own part writes and manifest rewrite (measured at sf0.1:
    * 2.3 s + 3.2 s + 1.7 s per batch → one ~2.5 s call; guide §1.2 —
    * fix the number of passes before tuning anything inside them).
    *
    * Semantics are EXACTLY the sequential chain's (TextIndexSpec pins
    * equality): `staged` ids must be a subset of `dels` (the CDC
    * update order — delete + re-arrival in one batch; the maintenance
    * stream guarantees it). The fused pending delta resolves
    * identically to the two sequential appends: a deleted id WITH a
    * replacement gets the staged row (which would have won the keyed
    * window anyway), a deleted id WITHOUT one gets the tombstone; the
    * dedup/conflict guards of stageUpdates and append both run
    * unchanged. `appends` rows whose ids are already stored are
    * dropped exactly as [[append]] drops them (the `docs` part deletes
    * never rewrite is the same part the sequential chain checked). */
  def applyCdc(spark: SparkSession, path: String, dels: DataFrame,
      staged: DataFrame, appends: DataFrame, idCol: String,
      textCol: String): Long =
    applyCdc(AnnIndex.open(spark, path), dels, staged, appends,
      idCol, textCol)._1

  /** [[applyCdc]] against an OPEN [[AnnIndex.Store]] handle — the
    * maintenance loop's per-micro-batch entry point: the caller's
    * handle already carries the resolved generation, manifest, parts
    * and params, and the returned successor handle serves the
    * follow-up compaction probe, so ONE manifest read backs the whole
    * micro-batch (previously: partKeys + load + append + maxBatches
    * each re-read it). */
  def applyCdc(store: AnnIndex.Store, dels: DataFrame,
      staged: DataFrame, appends: DataFrame, idCol: String,
      textCol: String): (Long, AnnIndex.Store) = {
    requireLayout("applyCdc", store)
    val delIds = dels.select(col(idCol)).distinct().localCheckpoint(true)
    // stageUpdates' guard, unchanged: one text per id or fail loudly
    val stg = staged.select(col(idCol), col(textCol))
      .dropDuplicates(idCol, textCol).localCheckpoint(true)
    idsWithConflictGuard(stg, idCol, cs =>
      s"TextIndex.applyCdc: conflicting staged texts for id(s) " +
        s"${cs.mkString(", ")} within one batch — resolve " +
        "upstream (the maintenance stream's seqCol)")
    // the documented precondition `staged ⊆ dels` (the CDC update
    // order: delete + re-arrival in one batch), ENFORCED: a direct
    // caller violating it would leave the id's stored postings live
    // while the pending part also serves the replacement — silently
    // double-counting the doc in scores/df until the next fold
    val strays = stg.select(col(idCol))
      .join(delIds, Seq(idCol), "left_anti")
      .limit(5).collect().map(_.get(0))
    require(strays.isEmpty,
      s"TextIndex.applyCdc: staged id(s) ${strays.mkString(", ")} " +
        "not in the delete set — a staged update must be the " +
        "re-arrival half of a delete (stage without delete would " +
        "double-count the doc until the next fold)")
    // append's guards, unchanged: dedup, conflicts, stored-id prune
    val arriving = appends.select(col(idCol), col(textCol))
      .dropDuplicates(idCol, textCol).localCheckpoint(true)
    val ids = idsWithConflictGuard(arriving, idCol, cs =>
      s"TextIndex.applyCdc: conflicting texts for id(s) " +
        s"${cs.mkString(", ")} within one batch — resolve " +
        "upstream (the maintenance stream's seqCol)")
    val fresh =
      if (ids.exists(_.isEmpty)) arriving
      else {
        val stored = ids match {
          case Some(ks) => store.parts("docs").select(col(idCol))
            .filter(col(idCol).isin(ks: _*))
          case None => store.parts("docs").select(col(idCol))
        }
        arriving.join(stored, Seq(idCol), "left_anti")
          .localCheckpoint(true)
      }
    val n = if (ids.exists(_.isEmpty)) 0L else fresh.count()
    // fused pending delta: staged rows win their ids; deleted ids with
    // no replacement carry the keyed tombstone (retracting any
    // earlier-batch pending text exactly like delete's tombstone append)
    val pendDelta = stg.unionByName(
      delIds.join(stg.select(col(idCol)), Seq(idCol), "left_anti")
        .select(col(idCol), lit(null).cast("string").as(textCol)))
    val next = AnnIndex.appendTo(store,
      Map("deleted" -> delIds, "pending" -> pendDelta) ++
        (if (n > 0) deltaWriteParts(
          deltaParts(fresh, idCol, textCol), idCol, n)
        else Map.empty[String, DataFrame]))
    (n, next)
  }

  /** Fold the index to single-batch form AND physically apply the
    * deletion list and the staged pending updates — the Lucene merge:
    * surviving postings are an anti-join (no stored text is ever
    * re-tokenized), PENDING texts — the only rows not yet indexed —
    * are tokenized once here and unioned in as fresh docs, df is
    * re-counted from the merged postings (one vocabulary-bounded agg
    * over index rows), stats re-derive from the merged doc list, and
    * the deleted/pending parts empty — freeing those ids for
    * re-insertion. After this, search's df/N are exact again
    * (equality with save(survivors ∪ updates) is spec-pinned). The
    * source must have [[save]]'s layout (kind bm25 with a pending
    * part); `dst` must differ from `src`, as in [[AnnIndex.compact]]. */
  def compact(spark: SparkSession, srcPath: String, dstPath: String)
      : Unit = {
    require(srcPath != dstPath,
      "TextIndex.compact: dstPath must differ from srcPath")
    val store = AnnIndex.open(spark, srcPath)
    requireLayout("compact", store)
    val parts = store.parts
    val params = store.params
    val idCol = params("id_col")
    val textCol = params("text_col")
    // no-op fast paths: the deleted and pending parts hold only the
    // SINCE-LAST-COMPACT burst, and the scheduled-fold steady state
    // (q257's compactEvery loop) folds with BOTH empty — two bounded
    // emptiness probes then skip the anti-joins, the empty-relation
    // tokenize chain and the four blocking localCheckpoints that
    // existed only to pin those merge legs (the fold degenerates to
    // resolve-batches + re-save, which is all it ever did in that
    // case; results are identical — an anti-join against an empty set
    // and a union with an empty delta are both identities)
    val dead = if (parts("deleted").isEmpty) None
      else Some(parts("deleted").select(col(idCol)).distinct()
        .localCheckpoint(true))
    val pend = if (parts("pending").isEmpty) None
      else Some(parts("pending").select(col(idCol), col(textCol))
        .localCheckpoint(true))
    // pending ids are on the dead list by construction (an update is
    // delete + stage), so survivors never overlap the pending docs
    val pendDelta = pend.map(p => deltaParts(p, idCol, textCol))
    def merged(part: String, survivors: DataFrame): DataFrame =
      pendDelta.fold(survivors)(d => survivors.unionByName(d(part)))
    def survivorsOf(df: DataFrame): DataFrame =
      dead.fold(df)(d => df.join(d, Seq(idCol), "left_anti"))
    // pin only when there are merge legs to share; a plain resolved
    // batch union is cheaper to scan twice than to materialize
    def pinned(df: DataFrame): DataFrame =
      if (dead.isEmpty && pendDelta.isEmpty) df
      else df.localCheckpoint(true)
    val docs = pinned(merged("docs", survivorsOf(parts("docs"))))
    val postings = pinned(
      merged("postings", survivorsOf(parts("postings"))))
    val termdf = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df_delta"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("len_sum"))
    AnnIndex.save(dstPath,
      clusteredParts(
        Map("postings" -> postings, "docs" -> docs,
          "termdf" -> termdf), idCol) +
        ("stats" -> stats) +
        ("deleted" -> docs.select(col(idCol)).limit(0)) +
        ("pending" -> docs.select(col(idCol),
          lit(null).cast("string").as(textCol)).limit(0)),
      params, keys = Map("pending" -> Seq(idCol)))
  }

  /** Append a batch of documents as one more batch directory per part
    * (manifest bumped last — a torn append is invisible). Re-arrivals
    * of stored ids are dropped HERE so df_delta stays exact no matter
    * the caller. Exact replays within a batch (same id, same text)
    * collapse; two DIFFERENT texts under one id are a data bug and
    * FAIL LOUDLY — a silent arbitrary winner would make the index
    * partition-order dependent. Returns the number of genuinely-new
    * docs appended.
    *
    * Scale shape: the stored-id overlap check collects UP TO
    * [[MaxInlineIds]] batch ids to the driver (bounded by the
    * micro-batch, the trigger-sized quantity) and probes the `docs`
    * part with an `id IN (...)` predicate — and because the
    * INDEX-SIZED write sites id-cluster the docs part (save/compact
    * via [[clusteredParts]]; micro-batch deltas stay unclustered —
    * they are a couple of row groups regardless), parquet row-group
    * min/max pruning keeps the probe ∝ matching row groups on the
    * bulk of the store (raise
    * `spark.sql.parquet.pushdown.inFilterThreshold` above the batch
    * size so large batches keep the In-pushdown instead of degrading
    * to a min/max range). A batch past the cap — the bulk-load
    * regime, where a driver-side literal list would OOM the driver or
    * blow up planning — falls back to the distributed anti-join
    * against the full `docs` part (correct, one more exchange; the
    * same two-regime discipline as [[Hnsw]]'s prune keys). */
  def append(spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, textCol: String): Long =
    append(AnnIndex.open(spark, path), docs, idCol, textCol)._1

  /** [[append]] against an OPEN [[AnnIndex.Store]] handle (see
    * [[applyCdc]]'s handle overload for why): one manifest read per
    * micro-batch, successor handle returned for the compaction probe. */
  def append(store: AnnIndex.Store, docs: DataFrame,
      idCol: String, textCol: String): (Long, AnnIndex.Store) = {
    requireLayout("append", store)
    val arriving = docs.select(col(idCol), col(textCol))
      .dropDuplicates(idCol, textCol)
      .localCheckpoint(true)
    val ids = idsWithConflictGuard(arriving, idCol, cs =>
      s"TextIndex.append: conflicting texts for id(s) " +
        s"${cs.mkString(", ")} within one batch — an " +
        "arbitrary winner would be partition-order dependent; " +
        "resolve upstream (or delete + re-insert as a CDC update)")
    if (ids.exists(_.isEmpty)) return (0L, store)
    val stored = ids match {
      case Some(ks) => store.parts("docs").select(col(idCol))
        .filter(col(idCol).isin(ks: _*))
      case None => store.parts("docs").select(col(idCol))
    }
    val fresh = arriving.join(stored, Seq(idCol), "left_anti")
      .localCheckpoint(true)
    val n = fresh.count()
    if (n > 0)
      (n, AnnIndex.appendTo(store,
        deltaWriteParts(deltaParts(fresh, idCol, textCol), idCol, n)))
    else (n, store)
  }

  /** BM25 top-`k` from the persisted index: (idCol, n_hit, score) by
    * (round-6 score desc, id asc) — the [[TextOps.bm25Search]]
    * contract, answered from disk with term-pruned scans. PENDING
    * updates (staged by [[stageUpdates]], not yet folded) are served
    * live: the pending relation is updates-since-last-compact —
    * broadcast-sized — so its query-term postings, df deltas and one
    * stats row are computed here at query time and unioned in,
    * which is EXACTLY the contribution an [[append]] of those texts
    * would have persisted; the deleted OLD versions' stats stay
    * stale until the fold (the Lucene semantics deletes already
    * carry). */
  def search(spark: SparkSession, path: String, query: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qt = query.trim.toLowerCase.split("\\s+")
      .filter(_.nonEmpty).distinct.toSeq
    require(qt.nonEmpty, "TextIndex.search needs a non-empty query")
    val store = AnnIndex.open(spark, path)
    requireLayout("search", store)
    val parts = store.parts
    val params = store.params
    val idCol = params("id_col")
    // the emptiness probe is one job over the updates-since-last-
    // compact relation (broadcast-sized); when pending is empty —
    // after every fold, the steady state — the plan is EXACTLY the
    // pre-pending shape (the PlanShapeSpec exchange ratchet)
    // pin = false: the pending relation is broadcast-sized and this is
    // the QUERY path — an eager checkpoint here would run blocking
    // materialization jobs per search and pin executor storage blocks
    // between folds (write paths keep the pin; they materialize
    // every part anyway)
    val pendDelta = if (parts("pending").isEmpty) None
      else Some(deltaParts(parts("pending"), idCol, params("text_col"),
        pin = false))
    // batches-sized and |terms|-sized rollups — broadcast into the
    // posting scan so the only wide stage is the per-doc score agg
    val stats = pendDelta.fold(parts("stats"))(d =>
        parts("stats").unionByName(d("stats")))
      .agg(sum(col("n_docs")).cast("double").as("__n_docs"),
        (sum(col("len_sum")).cast("double") /
          sum(col("n_docs")).cast("double")).as("__avg_dl"))
    val df = pendDelta.fold(parts("termdf"))(d =>
        parts("termdf").unionByName(d("termdf")))
      .filter(col("term").isin(qt: _*))
      .groupBy(col("term"))
      .agg(sum(col("df_delta")).as("df"))
    // live-docs exclusion: deleted docs never score, but their df/N
    // contribution persists until compact (the Lucene semantics); the
    // list is deletions-since-last-compact — broadcast-sized. Pending
    // ids are dead by construction (update = delete + stage), so only
    // their query-time postings score, never their stored rows.
    val dead = parts("deleted").select(idCol).distinct()
    val matched = parts("postings")
      .filter(col("term").isin(qt: _*))
      .join(broadcast(dead), Seq(idCol), "left_anti")
    pendDelta.fold(matched)(d =>
        matched.unionByName(d("postings").filter(col("term").isin(qt: _*))))
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col(idCol),
        (log(lit(1.0) + (col("__n_docs") - col("df") + 0.5) /
            (col("df") + 0.5)) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl").cast("double") / col("__avg_dl"))))
          .as("bm25"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit"),
        round(sum(col("bm25")), 6).as("score"))
      .orderBy(desc("score"), asc(idCol)).limit(k)
  }
}
