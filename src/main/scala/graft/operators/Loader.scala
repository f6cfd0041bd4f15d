package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.execution.command.CommandUtils
import org.apache.spark.sql.functions._
import graft.sources.Source

/** Loader — the reference's load pipeline (SURVEY.md §3.2) as one Spark
  * job graph: optional dedup (R1) → mode-specific reconcile (R2/R3) →
  * atomic publish (R5) → stats (R8), with pre/post SQL hooks (R7).
  *
  * The reference needs a staging *table* + rename-swap because Hive text
  * loads are not transactional; in Spark the DataFrame IS the staging
  * area and `saveAsTable(Overwrite)` is the atomic publish, so R4's
  * `z_etl_*_staging` protocol collapses into the plan.
  *
  * A merge into an existing table with a dedup on the merge keys runs
  * R1 and R2 as one window (`Merge.upsertLatest`); every other merge
  * dedups first and then broadcasts the staging into `Merge.upsert`
  * (see `reconciled`).
  *
  * R8 stats come from the write when it replaces the whole table
  * (Overwrite, a `MergeOn` reconcile, first creation in any mode): an
  * `Observation` counts the rows written and the size is summed from
  * the files left, so the table is not read back to be counted (see
  * `publishStats`). Append and OverwritePartitions into an existing
  * table write only part of it and still run `ANALYZE TABLE … COMPUTE
  * STATISTICS`, which counts the whole table.
  */
object Loader {

  sealed trait Mode
  case object Overwrite extends Mode                       // R3 INSERT OVERWRITE
  case object Append extends Mode                          // R3 INSERT INTO
  final case class MergeOn(keys: Seq[String]) extends Mode // R2

  /** R3 dynamic flavor — INSERT OVERWRITE of ONLY the partitions present
    * in the staging frame (partition values come from the DATA, not a
    * static spec): the incremental-ingest idiom at scale — re-land one
    * day of a partitioned corpus without touching history. Creates the
    * table partitioned by `partitionCols` when absent (R6).
    */
  final case class OverwritePartitions(partitionCols: Seq[String]) extends Mode

  final case class DedupSpec(uniqKeys: Seq[String], orderBy: Seq[Column] = Nil)

  final case class LoadConfig(
      target: String,
      mode: Mode = Overwrite,
      dedup: Option[DedupSpec] = None,
      // R3 static partition spec (`PARTITION (k=v)`): constant columns
      // added then used as table partitioning (`hive_loader.py:152-155`).
      partition: Map[String, String] = Map.empty,
      preSql: Seq[String] = Nil,   // R7 (string form: Loader.sqlList)
      postSql: Seq[String] = Nil,  // R7
      analyze: Boolean = true,     // R8
      // range-cluster the written files on these columns (see
      // Sink.clusteredParquet): each file covers a disjoint key range,
      // so footer stats prune whole files for predicates on the key.
      // Overwrite/Merge rewrite the whole table, so the disjointness
      // holds table-wide; Append can only cluster the files IT writes
      // (their ranges may overlap previously-appended files).
      // clusterParts > 0 pins the file count (bypasses AQE coalescing);
      // 0 lets AQE size the ranges from the data
      clusterBy: Seq[String] = Nil,
      clusterParts: Int = 0)

  /** R9 string form — the reference accepts pre/post SQL as either a
    * list or one `;`-separated string (`utils/__init__.py:55-63`); this
    * parses the string form (trimmed, empty segments dropped) for use as
    * `LoadConfig(preSql = Loader.sqlList("SET a=1; SET b=2"))`.
    *
    * Deliberate divergence: the reference's filter keeps empty strings
    * (it drops only None), so a trailing `;` yields an empty query that
    * then fails at execution; dropping empty segments here fixes that.
    * Neither side handles `;` inside SQL string literals — same
    * limitation as the reference.
    */
  def sqlList(sql: String): Seq[String] =
    sql.split(";").iterator.map(_.trim).filter(_.nonEmpty).toSeq

  /** Validation mirroring `hive_loader.py:66-82`: merge forbids static
    * partitions and requires keys.
    */
  private def validate(cfg: LoadConfig): Unit = cfg.mode match {
    case MergeOn(keys) =>
      require(keys.nonEmpty, "MERGE requires primary keys")
      require(cfg.partition.isEmpty, "MERGE with static partitions is unsupported (reference parity)")
    case OverwritePartitions(cols) =>
      require(cols.nonEmpty, "dynamic partition overwrite requires partition columns")
      require(cfg.partition.isEmpty,
        "static partition spec and dynamic partition overwrite are mutually exclusive")
    case _ => ()
  }

  def load(spark: SparkSession, staging0: DataFrame, cfg: LoadConfig): Unit = {
    validate(cfg)
    cfg.preSql.foreach(spark.sql(_))

    val exists = spark.catalog.tableExists(cfg.target)
    // Append and OverwritePartitions into an existing table write only
    // part of it; every other load rewrites the whole table, and counts
    // its rows on the way for R8 (read only after the write returns)
    val whole = !exists || (cfg.mode match {
      case Append | OverwritePartitions(_) => false
      case _ => true
    })
    val written = Observation()
    def counted(df: DataFrame) =
      if (whole && cfg.analyze) df.observe(written, count(lit(1)).as("rows")) else df
    def write(body: => Unit): Unit = Par.labeled(spark, "load: write")(body)

    // the staging as written when no existing target is merged: deduped,
    // static partition columns added, clustered
    lazy val staged = counted(cluster(cfg.partition.foldLeft(dedup(staging0, cfg)) {
      case (df, (k, v)) => df.withColumn(k, lit(v))
    }, cfg))

    cfg.mode match {
      case Overwrite =>
        write(writePartitioned(staged, cfg).mode(SaveMode.Overwrite).saveAsTable(cfg.target))
      case Append =>
        if (exists) {
          // insertInto is positional; when the staged names match the
          // table's, reorder to its schema (saveAsTable may have moved
          // partition columns last). Different names stay positional —
          // Spark's documented insertInto contract.
          val tableCols = spark.table(cfg.target).columns
          val aligned =
            if (staged.columns.toSet == tableCols.toSet && staged.columns.toSeq != tableCols.toSeq)
              staged.select(tableCols.map(col(_)): _*)
            else staged
          write(aligned.write.mode(SaveMode.Append).insertInto(cfg.target))
        } else
          write(writePartitioned(staged, cfg).mode(SaveMode.ErrorIfExists).saveAsTable(cfg.target))
      case OverwritePartitions(cols) =>
        if (!exists) // R6 idempotent creation
          write(staged.write.partitionBy(cols: _*).saveAsTable(cfg.target))
        else {
          // session-scoped conf flip, restored after the insert: STATIC
          // (Spark's default) would wipe untouched partitions
          val key = "spark.sql.sources.partitionOverwriteMode"
          val prev = spark.conf.getOption(key)
          spark.conf.set(key, "dynamic")
          // insertInto resolves by POSITION and saveAsTable reorders
          // partition columns last — select into the table's order
          val ordered = staged.select(spark.table(cfg.target).columns.map(col(_)): _*)
          try write(ordered.write.mode(SaveMode.Overwrite).insertInto(cfg.target))
          finally prev match {
            case Some(v) => spark.conf.set(key, v)
            case None => spark.conf.unset(key)
          }
        }
      case MergeOn(keys) =>
        if (!exists) // R6 idempotent creation
          write(staged.write.saveAsTable(cfg.target))
        else {
          // R5 publish via rename-swap, same statement order as the
          // reference (`hive_loader.py:176-178`): target→bak,
          // reconcile→target, drop bak. A failure at ANY point leaves a
          // recoverable table — the target never ceases to exist without
          // a fully-built replacement already in the catalog.
          val merged = counted(reconciled(spark, staging0, keys, cfg))
          val reconcile = s"${cfg.target}__graft_reconcile"
          val bak = s"${cfg.target}__graft_bak"
          // R10 quoting on every catalog statement
          val (qT, qR, qB) = (Source.quoteIdentifier(cfg.target),
            Source.quoteIdentifier(reconcile), Source.quoteIdentifier(bak))
          Par.labeled(spark, "load: reconcile write")(
            merged.write.mode(SaveMode.Overwrite).saveAsTable(reconcile))
          spark.sql(s"DROP TABLE IF EXISTS $qB")
          spark.sql(s"ALTER TABLE $qT RENAME TO $qB")
          spark.sql(s"ALTER TABLE $qR RENAME TO $qT")
          spark.sql(s"DROP TABLE IF EXISTS $qB")
        }
    }

    // R8 stats refresh for CBO (R10 quoting: dotted names)
    if (cfg.analyze && !(whole && publishStats(spark, cfg.target, written)))
      Par.labeled(spark, "load: analyze")(
        spark.sql(s"ANALYZE TABLE ${Source.quoteIdentifier(cfg.target)} COMPUTE STATISTICS"))
    cfg.postSql.foreach(spark.sql(_))
  }

  /** R8 from the write itself: the rows the write counted and the bytes
    * it left, published through the steps `ANALYZE TABLE … COMPUTE
    * STATISTICS` ends with (`CommandUtils.analyzeTable`), so the table's
    * stats equal what ANALYZE would write without re-reading the table.
    * False, publishing nothing, for a partitioned table when the session
    * asks ANALYZE for per-partition row counts, which the write does not
    * keep.
    */
  private def publishStats(spark: SparkSession, target: String, written: Observation): Boolean = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val state = session.sessionState
    val ident = state.sqlParser.parseTableIdentifier(Source.quoteIdentifier(target))
    val meta = state.catalog.getTableMetadata(ident)
    if (meta.partitionColumnNames.nonEmpty && state.conf.updatePartStatsInAnalyzeTableEnabled) false
    else {
      val size = CommandUtils.calculateTotalSize(session, meta, Some(Map.empty))._1
      val rows = BigInt(written.get("rows").asInstanceOf[Long])
      CommandUtils.compareAndGetNewStats(meta.stats, size, Some(rows))
        .foreach(s => state.catalog.alterTableStats(ident, Some(s)))
      true
    }
  }

  /** K8 — bulk load a local file into a catalog table. The reference
    * shells out to `hive -e "LOAD DATA LOCAL INPATH …"` via subprocess
    * (`connector/hive_impala.py:24-41`); Spark executes the same
    * statement natively. Requires a Hive-format target table (session
    * built with `GraftSession.local(hive = true)`).
    */
  def loadFile(spark: SparkSession, path: String, table: String, overwrite: Boolean = false): Unit = {
    val ow = if (overwrite) "OVERWRITE " else ""
    spark.sql(s"LOAD DATA LOCAL INPATH '$path' ${ow}INTO TABLE ${Source.quoteIdentifier(table)}")
  }

  /** R4 — staging-table protocol: `CREATE TABLE stg LIKE target` (the
    * reference's `z_etl_{t}_staging` clone, `hive_loader.py:112-124`).
    * Exposed for pipelines that stage through the catalog instead of a
    * DataFrame; `Loader.load` itself needs no staging table — the
    * DataFrame is the staging area.
    */
  def prepareStaging(spark: SparkSession, target: String, staging: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${Source.quoteIdentifier(staging)}")
    spark.sql(s"CREATE TABLE ${Source.quoteIdentifier(staging)} LIKE ${Source.quoteIdentifier(target)}")
  }

  /** JDBC atomic-overwrite statement plan (SURVEY §7.4): Spark's JDBC
    * writer truncates/recreates non-atomically, so overwriting a live
    * remote table follows the reference's staging + RENAME swap
    * (`loader/mysql_loader.py:81-86,119-123`): write into a staging
    * clone, then swap names in ONE multi-table RENAME (atomic in MySQL),
    * then drop the displaced old table. This returns the statement
    * sequence (the df itself goes through `Sink.jdbc` into the staging
    * table between statements 2 and 3); pure so it is testable without
    * a live database — the sequence is pinned in LoaderSpec.
    */
  def jdbcOverwritePlan(table: String): Seq[String] = {
    val stg = s"${table}__graft_staging"
    val old = s"${table}__graft_old"
    Seq(
      s"DROP TABLE IF EXISTS `$stg`",
      s"CREATE TABLE `$stg` LIKE `$table`",
      // (data load into staging happens here, via Sink.jdbc append)
      s"RENAME TABLE `$table` TO `$old`, `$stg` TO `$table`",
      s"DROP TABLE `$old`")
  }

  /** The rows `MergeOn` writes into the reconcile table when the target
    * exists. A `DedupSpec` on the merge keys (as a set) takes
    * `Merge.upsertLatest`: dedup and merge share one window over one
    * shuffle of target ∪ raw staging, so the staging is scanned and
    * decoded once. Any other case (no dedup, or dedup on other keys)
    * takes `Dedup.byRank` then `Merge.upsert`, whose broadcast anti-join
    * suits a small key-unique delta. Only this output is range-clustered
    * (`clusterBy`): the reconcile write rewrites the whole table, and
    * neither plan preserves a clustering of its staging input.
    */
  private[graft] def reconciled(spark: SparkSession, staging0: DataFrame, keys: Seq[String],
      cfg: LoadConfig): DataFrame = {
    val target = spark.table(cfg.target)
    cluster(cfg.dedup match {
      case Some(d) if d.uniqKeys.toSet == keys.toSet =>
        Merge.upsertLatest(target, staging0, keys, d.orderBy)
      case _ => Merge.upsert(target, dedup(staging0, cfg), keys)
    }, cfg)
  }

  private def dedup(staging0: DataFrame, cfg: LoadConfig): DataFrame =
    cfg.dedup.fold(staging0)(d => Dedup.byRank(staging0, d.uniqKeys, d.orderBy))

  private def cluster(df: DataFrame, cfg: LoadConfig): DataFrame =
    if (cfg.clusterBy.isEmpty) df
    else graft.sinks.Sink.rangeCluster(df, cfg.clusterBy, cfg.clusterParts)

  private def writePartitioned(df: DataFrame, cfg: LoadConfig) = {
    val w = df.write
    if (cfg.partition.nonEmpty) w.partitionBy(cfg.partition.keys.toSeq: _*) else w
  }
}
