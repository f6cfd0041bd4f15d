package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** R2 — merge/upsert: *staging wins on primary key*.
  *
  * Reference semantics (`loader/hive_loader.py:162-182`, MySQL twin
  * `loader/mysql_loader.py:92-113`): keep target rows whose key has no
  * match in staging (`LEFT OUTER JOIN … WHERE b.k IS NULL`), then
  * `UNION ALL` the whole staging set. We use `left_anti`, which is the
  * same plan Catalyst derives from the reference's join+filter, but with
  * clean NULL-key semantics: a NULL-keyed target row never "matches"
  * staging and is retained (SURVEY.md §7.4; pinned in MergeSpec).
  *
  * Two plans, chosen by what the staging needs:
  *   - [[upsert]] takes a key-unique staging as it is. Catalyst
  *     broadcasts the staging under GraftSession's 64 MB
  *     `autoBroadcastJoinThreshold` (the incremental-load case: staging
  *     is the delta), so the target is read once and never shuffled;
  *     the staging subtree is planned twice, as build side and as union
  *     side, which is cheap for a small delta. `Loader.load` takes it
  *     when there is no dedup or the dedup keys differ from the merge
  *     keys.
  *   - [[upsertLatest]] takes a raw staging that still has to be
  *     rank-deduped on the merge keys (R1 then R2, the reference's load
  *     with `uniq_keys` equal to the merge keys). Dedup and merge both
  *     partition on the keys, so they fuse into one window over one
  *     shuffle of target ∪ staging: the staging is scanned, decoded and
  *     sorted once, where `Dedup.byRank` + `upsert` would do all of it
  *     twice (exchange reuse never fires between the two copies).
  */
object Merge {

  def upsert(target: DataFrame, staging: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "merge requires primary keys (reference: hive_loader.py:66-72)")
    target.join(staging, keys, "left_anti").unionByName(staging)
  }

  /** `upsert(target, Dedup.byRank(staging, keys, orderBy), keys)` as one
    * operator: target rows (tag 0) and raw staging rows (tag 1) under
    * one `Window` partitioned by the keys and ordered by (tag desc,
    * `orderBy`…), which computes `row_number` and the partition's first
    * tag. The best staging row per key is the partition's row 1; a
    * target row survives when its partition's first row is a target row
    * (no staging row for its key) or when any part of its key is NULL
    * (a NULL key never matches, as in `upsert`). Staging rows with NULL
    * key parts still dedup among themselves, as `byRank` does.
    *
    * The staging is the union's first side, so `orderBy` may name its
    * columns as `col(...)` or as `staging(...)`. The output has
    * `upsert`'s columns: the keys, then the target's other columns.
    *
    * The target is shuffled with the staging. `upsert`'s broadcast plan
    * never shuffles the target, so for a target far larger than its
    * delta the composed plan may be cheaper; that case is unmeasured.
    */
  def upsertLatest(target: DataFrame, staging: DataFrame, keys: Seq[String],
      orderBy: Seq[Column] = Nil): DataFrame = {
    require(keys.nonEmpty, "merge requires primary keys (reference: hive_loader.py:66-72)")
    val (tag, rn, lead) = ("__graft_tag", "__graft_rn", "__graft_lead")
    val ord = if (orderBy.nonEmpty) orderBy else keys.map(col)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tag).desc +: ord: _*)
    val keyNames = target.select(keys.map(col): _*).columns.toSeq
    val out = keyNames ++ target.columns.filterNot(keyNames.contains)
    val nullKey = keys.map(col(_).isNull).reduce(_ || _)
    staging.withColumn(tag, lit(1)).unionByName(target.withColumn(tag, lit(0)))
      .select(col("*"), row_number().over(w).as(rn), first(tag).over(w).as(lead))
      .filter((col(tag) === 1 && col(rn) === 1) || (col(tag) === 0 && (col(lead) === 0 || nullKey)))
      .select(out.map(c => col(c).as(c)): _*)
  }

  /** SCD Type-2 apply — dimension history with full audit trail. The
    * history table carries (keys…, attrs…, validFrom, validTo) where a
    * null validTo marks the current version. One batch of updates
    * (keys…, attrs…, all rows effective at `effective`) is applied as:
    *   - matched + any attr changed (null-safe): current row closes at
    *     `effective`, a new version opens at `effective`
    *   - matched + unchanged: current row kept as-is (idempotent replay)
    *   - unmatched update key: a first version opens
    *   - already-closed rows are never touched
    *
    * Scale shape: ONE full-outer equi-join of current rows against the
    * batch on the keys (closed history is a filter, not a join side),
    * evaluated ONCE — each joined row explodes into its 0–2 output
    * versions (kept / closed+reopened / first-open), so the join subtree
    * is not re-planned per output class. AQE is free to broadcast the
    * delta. Updates must be key-unique (pre-aggregate otherwise).
    */
  def scd2(
      history: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      attrs: Seq[String],
      effective: org.apache.spark.sql.Column,
      validFrom: String = "valid_from",
      validTo: String = "valid_to"): DataFrame = {
    require(keys.nonEmpty, "scd2 requires keys")
    require(attrs.nonEmpty, "scd2 requires tracked attribute columns")
    val closed = history.filter(col(validTo).isNotNull)
    // explicit presence markers — inferring presence from a data column
    // (e.g. validFrom.isNotNull) would silently drop a current row whose
    // validFrom happens to be null (MergeSpec pins this)
    val current = history.filter(col(validTo).isNull).withColumn("__cur", lit(true))
    val u = updates.select(
      keys.map(col) ++ attrs.map(c => col(c).as(s"__u_$c")) :+
        effective.as("__eff") :+ lit(true).as("__upd"): _*)
    val j = current.join(u, keys, "full_outer")
    val curPresent = col("__cur").isNotNull
    val updPresent = col("__upd").isNotNull
    val changed = attrs.map(c => !(col(c) <=> col(s"__u_$c"))).reduce(_ || _)
    val histCols = history.columns.toSeq
    val keptRow = struct(histCols.map(col): _*)
    val closedRow = struct(histCols.map(c =>
      if (c == validTo) col("__eff").as(validTo) else col(c)): _*)
    val openedRow = struct(histCols.map {
      case c if c == validFrom => col("__eff").as(validFrom)
      case c if c == validTo =>
        lit(null).cast(history.schema(validTo).dataType).as(validTo)
      case c if attrs.contains(c) => col(s"__u_$c").as(c)
      case c => col(c)
    }: _*)
    val versions = array_compact(array(
      when(curPresent && (!updPresent || !changed), keptRow),
      when(curPresent && updPresent && changed, closedRow),
      when(updPresent && (!curPresent || changed), openedRow)))
    val applied = j.select(explode(versions).as("__r")).select(col("__r.*"))
    closed.unionByName(applied)
  }
}
