package graft.incremental

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.zset.ZSets
import graft.zset.ZSets.W

/** Incremental (delta-driven) operators over Z-set DataFrames — the Spark
  * re-expression of DBSP's incrementalized circuit operators (SURVEY §2.7,
  * §4.2 IncrementalizeVisitor). Each operator exposes
  * `step(state..., delta...) => (newState, outputDelta)` so a micro-batch
  * runner can maintain views under inserts AND retractions, guaranteeing
  * final state equals the batch recompute (the reference's core contract,
  * README.md:67-70).
  *
  * Scale contract (the part that must survive 100×): per-step SHUFFLE is
  * O(|delta|), never O(|state|). State is only ever
  *   (a) probed by a BroadcastHashJoin against the (small) touched-key set
  *       — a narrow, exchange-free scan, and
  *   (b) rewritten scan-side (union of untouched rows + merged touched
  *       rows) when the caller re-materializes it.
  * No step re-aggregates or re-shuffles the full state (the reference's
  * aggregate-over-trace does the same: only delta keys consult the trace,
  * crates/dbsp/src/operator/dynamic/aggregate.rs:209). On a cluster the
  * state side lives as a key-bucketed table so (b) becomes a bucket-pruned
  * MERGE; IncrementalShuffleSpec asserts property (a) directly by metering
  * shuffle bytes against growing state.
  */
object IncrementalOps {

  /** Upper bound on a forced delta broadcast: a micro-batch delta is
    * usually tiny, but nothing bounds it — a backfill or compaction batch
    * can be GBs, and force-broadcasting that is a driver OOM long before
    * Spark's 8GB hard limit. Above the bound the hint is dropped and the
    * planner falls back to a shuffle join (the delta side moves; the
    * trace side is already hash-partitioned by the join key).
    */
  private val MaxDeltaBroadcastBytes = 512L << 20

  /** Broadcast `df` only while the SUM OF ITS LEAF scan estimates stays
    * under [[MaxDeltaBroadcastBytes]]. Leaf stats are real (file sizes,
    * materialized-RDD sizes); the derived-plan estimate is not — joins
    * multiply child estimates, so an un-materialized delta expression
    * routinely "estimates" terabytes and would spuriously lose the hint
    * (shuffling the state side — the exact regression the hint prevents).
    * A filter/project/join of delta-sized leaves stays delta-sized; the
    * gate errs toward broadcasting, and catches the real hazard — a
    * genuinely huge materialized or scanned delta (backfill, compaction).
    */
  private[graft] def maybeBroadcast(df: DataFrame): DataFrame = {
    // single-partition sessions (the fixture-sized corpus regime): a
    // broadcast avoids no shuffle — both sides are one partition — while
    // every broadcast BUILD is its own Spark job (driver-floor cost per
    // step, measured r16). Plain join planning keeps the work inside the
    // consuming job. Any real partitioning (the default everywhere else)
    // keeps the delta-broadcast hint.
    val sp1 =
      try df.sparkSession.sessionState.conf.numShufflePartitions == 1
      catch { case scala.util.control.NonFatal(_) => false }
    if (sp1) return df
    val keep =
      try {
        val default =
          org.apache.spark.sql.internal.SQLConf.get.defaultSizeInBytes
        val sizes = df.queryExecution.optimizedPlan.collectLeaves()
          .map(_.stats.sizeInBytes)
        // a leaf reporting the session default has UNKNOWN size (e.g. the
        // cached-RDD materialization LogicalRDD) — that is how every
        // in-loop delta looks, so unknown keeps the hint; only leaves
        // with real (file/range) stats can prove the delta is huge
        sizes.filter(_ < default).sum <= MaxDeltaBroadcastBytes
      } catch { case scala.util.control.NonFatal(_) => true }
    if (keep) broadcast(df) else df
  }

  /** Split `state` into (touched, untouched) by probing a broadcast of the
    * touched key set — BroadcastHashJoin LeftSemi/LeftAnti: the state side
    * is scanned in place, never shuffled or sorted. Null-safe equality so
    * null keys merge rather than duplicate.
    *
    * The probe side is broadcast WITHOUT a distinct: duplicate keys are
    * harmless to exists/not-exists semantics, the broadcast stays bounded
    * by the delta size, and skipping the dedup removes a whole shuffle
    * exchange from every step's broadcast build (per-stage fixed cost is
    * the dominant term in a micro-batch step — callers that want a
    * smaller broadcast pass a pre-distinct frame).
    */
  private[graft] def splitTouched(
      state: DataFrame,
      touchedRaw: DataFrame,
      keys: Seq[String]): (DataFrame, DataFrame) = {
    val touched = maybeBroadcast(
      touchedRaw.select(keys.map(k => col(k).as(s"_t_$k")): _*))
    val cond = keys.map(k => col(k) <=> col(s"_t_$k")).reduce(_ && _)
    (state.join(touched, cond, "left_semi"),
      state.join(touched, cond, "left_anti"))
  }

  /** Z-set integrate: state + delta, touching only delta rows. The merged
    * (touched ∪ delta) aggregation is delta-sized; untouched state rows
    * pass through scan-side. Replaces consolidate(state ∪ delta), whose
    * groupBy re-shuffles the ENTIRE state every step.
    */
  def mergeDelta(state: DataFrame, delta: DataFrame): DataFrame = {
    val keys = ZSets.dataCols(state)
    val dCon = ZSets.consolidate(delta)
    val (touchedOld, untouched) = splitTouched(state, dCon, keys)
    untouched.unionByName(ZSets.consolidate(touchedOld.unionByName(dCon)))
  }

  /** Like [[mergeDelta]], but splitting the state on an explicit key
    * subset: the broadcast probe carries only the delta's DISTINCT key
    * values (usually far smaller than its rows), at the cost of
    * re-consolidating every state row sharing a touched key. Right when
    * the delta is dense in rows but sparse in keys — the shape of an
    * indexed trace update (join/agg state keyed by the operator key).
    */
  def mergeDeltaByKeys(state: DataFrame, delta: DataFrame,
      keys: Seq[String]): DataFrame = {
    val touched = delta.select(keys.map(col): _*)
    val (touchedOld, untouched) = splitTouched(state, touched, keys)
    untouched.unionByName(
      ZSets.consolidate(touchedOld.unionByName(delta)))
  }

  // ------------------------------------------------------------ aggregates

  /** Spec for one weighted linear aggregate: SUM(expr * weight) —
    * the reference's Weigh + linear-postprocess pipeline
    * (DBSPWeighOperator.java:20, aggregate.rs:209 aggregate_linear).
    */
  final case class LinearAggSpec(name: String, valueExpr: Column)

  /** Incremental linear aggregation (SUM/COUNT; AVG = SUM/COUNT in post).
    *
    * State schema: groupKeys ++ [name: sum-of-value*weight] ++ [_cnt: sum
    * of weights]. Groups whose weight-count reaches 0 are dropped (the
    * AggregateZero contract for grouped aggs: a group vanishes when its
    * multiset empties — DBSPAggregateZeroOperator.java:45).
    *
    * Cost: one O(|delta|) aggregation + broadcast split of state; only
    * touched groups re-aggregate (touchedOld is at most |delta| groups).
    */
  def linearAggStep(
      state: Option[DataFrame],
      delta: DataFrame,
      groupKeys: Seq[String],
      specs: Seq[LinearAggSpec]): DataFrame = {
    val contrib = delta.groupBy(groupKeys.map(col): _*)
      .agg(sum(col(W)).as("_cnt"),
        specs.map(sp => sum(sp.valueExpr * col(W)).as(sp.name)): _*)
    state match {
      case None => contrib.filter(col("_cnt") =!= 0)
      case Some(st) =>
        val (touchedOld, untouched) =
          splitTouched(st, contrib.select(groupKeys.map(col): _*), groupKeys)
        val merged = touchedOld.unionByName(contrib)
          .groupBy(groupKeys.map(col): _*)
          .agg(sum(col("_cnt")).as("_cnt"),
            specs.map(sp => sum(col(sp.name)).as(sp.name)): _*)
          .filter(col("_cnt") =!= 0)
        untouched.unionByName(merged)
    }
  }

  /** One chain-aggregate column: MIN or MAX of `valueExpr`. */
  final case class ChainSpec(name: String, valueExpr: Column, isMax: Boolean)

  /** Append-only MIN/MAX fast path — the reference's chain aggregate
    * (crates/dbsp/src/operator/dynamic/chain_aggregate.rs; used when a
    * table is declared `append_only`, streaming.md). Without retractions
    * the extremum is monotone, so state is ONE row per group (not the
    * group's multiset) and a step is: aggregate the delta, broadcast-split
    * the state, merge touched groups with least/greatest. O(|delta|)
    * shuffle, O(groups) state — strictly cheaper than [[generalAggStep]],
    * which must retain multisets to survive retraction.
    */
  def chainAggStep(
      state: Option[DataFrame],
      delta: DataFrame,
      groupKeys: Seq[String],
      specs: Seq[ChainSpec]): DataFrame = {
    val contrib = delta.groupBy(groupKeys.map(col): _*)
      .agg(pick(specs.head), specs.tail.map(pick): _*)
    state match {
      case None => contrib
      case Some(st) =>
        val (touchedOld, untouched) =
          splitTouched(st, contrib.select(groupKeys.map(col): _*), groupKeys)
        val merged = touchedOld.unionByName(contrib)
          .groupBy(groupKeys.map(col): _*)
          .agg(pickMerge(specs.head), specs.tail.map(pickMerge): _*)
        untouched.unionByName(merged)
    }
  }

  private[incremental] def pick(sp: ChainSpec): Column =
    (if (sp.isMax) max(sp.valueExpr) else min(sp.valueExpr)).as(sp.name)
  private[incremental] def pickMerge(sp: ChainSpec): Column =
    (if (sp.isMax) max(col(sp.name)) else min(col(sp.name))).as(sp.name)

  /** Result of a general-aggregate step: the new state, the fresh aggregate
    * rows for touched groups, and the touched groups whose multiset emptied
    * (their previous aggregate row must be DELETED by the consumer — the
    * reference emits an explicit retraction when a group vanishes).
    */
  final case class GeneralAggStep(
      state: DataFrame, rows: DataFrame, deletedGroups: DataFrame)

  /** General (fold) aggregation with retraction support — MIN/MAX/etc.
    * State = the consolidated input Z-set restricted to (groupKeys, value
    * columns); each step recomputes aggregates only for groups touched by
    * the delta (the reference's aggregate-over-integrated-trace,
    * DBSPAggregateOperator.java:43 / dynamic/aggregate/fold.rs).
    */
  def generalAggStep(
      state: Option[DataFrame],
      delta: DataFrame,
      groupKeys: Seq[String],
      aggs: Seq[Column],
      /** Applied to the merged touched-group state, which is consumed
        * TWICE (as part of the new state and as the re-aggregation input)
        * — materializing it halves the step's consolidate work. Default =
        * no materialization.
        */
      materialize: DataFrame => DataFrame = identity): GeneralAggStep = {
    val touchedKeys = delta.select(groupKeys.map(col): _*).distinct()
    // state merge keyed by the TOUCHED GROUPS (the broadcast is a handful
    // of group keys, never the delta rows): untouched groups pass through
    // scan-side; touched groups re-consolidate. The consolidate shuffles
    // O(touched-group rows) — the same volume the newRows re-aggregation
    // below already shuffles, so it sets the step's asymptotics, not a
    // row-keyed merge (whose broadcast would grow with the delta).
    val (touchedState, newState) = state match {
      case None =>
        val st = materialize(ZSets.consolidate(delta))
        (st, st)
      case Some(st) =>
        val (touchedOld, untouched) = splitTouched(st, touchedKeys, groupKeys)
        val merged = materialize(
          ZSets.consolidate(touchedOld.unionByName(delta)))
        (merged, untouched.unionByName(merged))
    }
    val newRows = ZSets.toMultiset(touchedState)
      .groupBy(groupKeys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val (_, deleted) = splitTouched(touchedKeys,
      newRows.select(groupKeys.map(col): _*), groupKeys)
    GeneralAggStep(newState, newRows, deleted)
  }

  // --------------------------------------------------------------- distinct

  /** Incremental DISTINCT: state = consolidated multiplicities; output
    * delta = sign transitions (appeared → +1, vanished → −1)
    * (reference: distinct.rs:38 incremental distinct).
    *
    * Only delta rows consult the state (broadcast probe); the transition
    * computation is a small×small join over touched rows.
    *
    * Returns (newState, outputDelta).
    */
  def distinctStep(
      state: Option[DataFrame],
      delta: DataFrame): (DataFrame, DataFrame) = {
    val keys = ZSets.dataCols(delta)
    val dCon = ZSets.consolidate(delta)
    state match {
      case None =>
        val st = dCon
        (st, st.filter(col(W) > 0).withColumn(W, lit(1L)))
      case Some(st) =>
        val (touchedOld, untouched) = splitTouched(st, dCon, keys)
        // old and new weights of touched rows only — both delta-sized
        val oldW = touchedOld
          .select(keys.map(k => col(k).as(s"_o_$k")) :+ col(W).as("_ow"): _*)
        val cond = keys.map(k => col(s"_o_$k") <=> col(k)).reduce(_ && _)
        val j = dCon.withColumnRenamed(W, "_dw")
          .join(maybeBroadcast(oldW), cond, "left_outer")
          .withColumn("_ow", coalesce(col("_ow"), lit(0L)))
          .withColumn("_nw", col("_ow") + col("_dw"))
        val merged = j.filter(col("_nw") =!= 0)
          .select(keys.map(col) :+ col("_nw").as(W): _*)
        val out = j.withColumn(W,
            when(col("_ow") <= 0 && col("_nw") > 0, 1L)
              .when(col("_ow") > 0 && col("_nw") <= 0, -1L)
              .otherwise(0L))
          .filter(col(W) =!= 0)
          .select(keys.map(col) :+ col(W): _*)
        (untouched.unionByName(merged), out)
    }
  }

  // ---------------------------------------------------------------- upsert

  /** PRIMARY-KEY upsert step (reference: input_upsert.rs:254,
    * DBSPUpsertFeedbackOperator.java:22): `_deleted = false` upserts the
    * payload, `true` deletes the key. State = latest row per key; output
    * delta = retract replaced/deleted rows, insert new ones. The streaming
    * twin is graft.streaming.Upsert (per-row ordered within a key).
    *
    * Within a batch, LAST WRITE WINS per key (the reference's input
    * handler folds a batch's commands per key before applying): pass
    * `seqCol` naming a deterministic ordering column — the highest value
    * wins and the column is dropped from the payload. Without `seqCol` a
    * batch with duplicate keys has no defined winner; the step fails fast
    * (raise_error inside the plan) instead of fanning out the reconcile
    * join into duplicated retractions.
    *
    * Only batch keys consult the state: untouched keys pass through
    * scan-side, the full-outer reconcile is batch-sized×batch-sized.
    *
    * Returns (newState, outputDelta as Z-set over key+payload).
    */
  /** Per-batch last-write-wins / duplicate-key guard shared by the
    * in-memory and bucketed-trace upsert steps (see [[upsertStep]] for the
    * seqCol / assumeUnique contract).
    */
  private[incremental] def normalizeUpsertBatch(
      batchRaw: DataFrame, key: Seq[String],
      seqCol: Option[String], assumeUnique: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    seqCol match {
      case Some(sc) =>
        val w = Window.partitionBy(key.map(col): _*).orderBy(col(sc).desc)
        batchRaw.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn").drop(sc)
      case None if assumeUnique => batchRaw
      case None =>
        val w = Window.partitionBy(key.map(col): _*)
        batchRaw.withColumn("_dup", count(lit(1)).over(w))
          .withColumn("_chk", when(col("_dup") > 1, raise_error(concat(
            lit("upsert batch carries "), col("_dup").cast("string"),
            lit(s" rows for one key (${key.mkString(",")}); " +
              "pass seqCol for last-write-wins or pre-dedup the batch")))))
          .filter(col("_chk").isNull).drop("_dup", "_chk")
    }
  }

  def upsertStep(
      state: Option[DataFrame],
      batchRaw: DataFrame,
      key: Seq[String],
      deletedCol: String = "_deleted",
      seqCol: Option[String] = None,
      /** Caller asserts the batch already has at most one row per key —
        * skips the duplicate-key guard window (one shuffle+sort per step;
        * fixed cost matters in micro-batch loops). A violated assertion
        * fans out the reconcile join exactly like the pre-guard behavior,
        * so only set this where uniqueness is structural.
        */
      assumeUnique: Boolean = false): (DataFrame, DataFrame) = {
    val batch = normalizeUpsertBatch(batchRaw, key, seqCol, assumeUnique)
    val payload = batch.columns.toSeq.filterNot(c =>
      key.contains(c) || c == deletedCol)
    // state carries an explicit liveness marker so nullable payloads work
    val old = state match {
      case Some(st) => st
      case None => batch.drop(deletedCol)
        .withColumn("_present", lit(true)).limit(0)
    }
    val (touchedOld, untouched) =
      splitTouched(old, batch.select(key.map(col): _*), key)
    val b = batch.select(
      key.map(col) ++ payload.map(c => col(c).as(s"_n_$c"))
        :+ col(deletedCol).as("_del"): _*)
    val joined = touchedOld.join(b, key, "full_outer")
    val oldLive = coalesce(col("_present"), lit(false))
    val isUpsert = col("_del") === false
    val newTouched = joined.select(
      key.map(col) ++ payload.map { c =>
        when(col("_del").isNull, col(c))              // untouched key
          .when(isUpsert, col(s"_n_$c"))              // upsert
          .otherwise(lit(null)).as(c)                 // delete
      } :+ when(col("_del").isNull, oldLive)
        .otherwise(isUpsert).as("_present"): _*)
      .filter(col("_present"))
    val newState = untouched.unionByName(newTouched)
    val touched = joined.filter(col("_del").isNotNull)
    val retracts = touched.filter(oldLive)
      .select(key.map(col) ++ payload.map(col) :+ lit(-1L).as(W): _*)
    val inserts = touched.filter(isUpsert)
      .select(key.map(col) ++ payload.map(c => col(s"_n_$c").as(c))
        :+ lit(1L).as(W): _*)
    (newState, ZSets.consolidate(retracts.unionByName(inserts)))
  }

  // ------------------------------------------------------------------ join

  /** Incremental inner equi-join: ΔOut = ΔA⋈B ∪ (A+ΔA)⋈ΔB, with output
    * weight = wA·wB (the bilinear form; reference join.rs:123 /
    * dynamic/join.rs:1358 JoinTrace).
    *
    * The DELTA side of each sub-join is broadcast: the big integrated
    * trace (B, then A+ΔA) is probed in place — a narrow scan, no shuffle —
    * exactly the reference's delta-probes-trace shape.
    *
    * Inputs are the *integrated* sides A, B (consolidated Z-sets) plus the
    * deltas. Returns (newA, newB, outputDelta).
    */
  def joinStep(
      aState: Option[DataFrame], bState: Option[DataFrame],
      dA: DataFrame, dB: DataFrame,
      keys: Seq[String],
      /** Applied to each new trace BEFORE the output term probes it: the
        * (A+ΔA)⋈ΔB term reuses the materialized merge instead of
        * re-evaluating it, and the caller's next step starts from the same
        * materialization. Pass e.g. `_.localCheckpoint(false)` in a
        * multi-step loop; default = no materialization.
        */
      materialize: DataFrame => DataFrame = identity): (DataFrame, DataFrame, DataFrame) = {
    def joined(l: DataFrame, r: DataFrame): DataFrame = {
      val lw = l.withColumnRenamed(W, "_wl")
      val rw = r.withColumnRenamed(W, "_wr")
      lw.join(rw, keys)
        .withColumn(W, col("_wl") * col("_wr"))
        .drop("_wl", "_wr")
    }
    val b = bState.getOrElse(dB.limit(0))
    // trace maintenance keyed by the JOIN key: the split broadcast carries
    // only the delta's key projection (the indexed-trace layout)
    val newA = materialize(aState match {
      case None => ZSets.consolidate(dA)
      case Some(st) => mergeDeltaByKeys(st, dA, keys)
    })
    val newB = materialize(bState match {
      case None => ZSets.consolidate(dB)
      case Some(st) => mergeDeltaByKeys(st, dB, keys)
    })
    val out = joined(maybeBroadcast(dA), b)
      .unionByName(joined(newA, maybeBroadcast(dB)))
    (newA, newB, ZSets.consolidate(out))
  }
}
