package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Text
import graft.operators.{ClusterDedup, Dedup, JaccardDedup, Loader, Transforms}
import graft.operators.Loader.{DedupSpec, LoadConfig, MergeOn}
import graft.sinks.Sink
import graft.sources.Source

/** Directories of one run. `input` holds only what the program reads. */
final case class Dirs(root: Path) {
  val input: Path = root.resolve("input")
  val ref: Path = root.resolve("ref")
  val out: Path = root.resolve("out")
  val warehouse: Path = root.resolve("warehouse")
  def in(name: String): String = input.resolve(s"$name.parquet").toString
}

/** One workload: seeded inputs plus a reference computed once, untimed, by
  * an independent formulation; a pass that drives the program's public API
  * from input to committed output; and a check of that pass's outputs.
  */
trait Workload {
  def name: String

  /** Generate inputs from the seed and compute the reference; returns the
    * input properties it measured (shares, counts, digests).
    */
  def prepare(spark: SparkSession, d: Dirs, seed: Long): Map[String, Any]

  /** Put the target state back to what it was before the first pass. */
  def reset(spark: SparkSession, d: Dirs): Unit

  /** Run one pass; the returned check yields a mismatch message or None. */
  def pass(spark: SparkSession, d: Dirs, t: Tracer): () => Option[String]

  /** The input frame and its text column for the kernel micro-passes. */
  def kernelInput(spark: SparkSession, d: Dirs): (DataFrame, String)

  /** Checked but unmeasured passes between set-up and the window. */
  def warmPasses: Int = 2

  /** Least number of passes in the untraced window; the window's median is
    * `pass_s`.
    */
  def minPasses: Int = 3
}

object Workloads {
  val All: Seq[Workload] = Seq(EtlMigrate, CurateBatch, CurateIncremental)
  def byName(n: String): Workload =
    All.find(_.name == n).getOrElse(throw new IllegalArgumentException(s"unknown workload $n"))

  def mismatch(what: String, got: Digest, want: Digest): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  def dropTables(spark: SparkSession, d: Dirs, names: String*): Unit = names.foreach { n =>
    spark.sql(s"DROP TABLE IF EXISTS $n")
    Host.deleteTree(d.warehouse.resolve(n))
  }

  def bytesOf(paths: Path*): Long = paths.map(p => Host.filesUnder(p)._1).sum

  def rowsFrame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  def writeOne(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)
}

import Workloads._

/** Dump → Hive text → load/merge: the reference LightLane job. */
object EtlMigrate extends Workload {
  val name = "etl_migrate"
  val Events = 10000
  // a pass is short, single passes spread by about 7% and the host's steal
  // time swings over tens of seconds: a longer warm-up and the median of
  // more passes, spread over more time
  override val warmPasses = 3
  override val minPasses = 6
  private val FlatCols = EventGen.FlatSchema.fieldNames.toSeq
  private var refRows: Digest = _
  private var refTarget: Digest = _

  val Target = "target"
  def dump(d: Dirs): String = d.out.resolve("dump").toString

  /** Parse the Hive-text dump: split on ^A, `\N` is null, undo the escape
    * table, cast to the flattened schema.
    */
  def decode(text: DataFrame): DataFrame = {
    val f = split(col("value"), "\u0001", -1)
    def unescape(c: Column): Column =
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        c, "\\\\r", "\r"), "\\\\n", "\n"), "\\\\1", "\u0001"), "\\\\0", "\u0000")
    text.select(EventGen.FlatSchema.fields.toSeq.zipWithIndex.map { case (fd, i) =>
      val raw = f.getItem(i)
      val v = if (fd.dataType == StringType) unescape(raw) else raw.cast(fd.dataType)
      when(raw === "\\N", lit(null).cast(fd.dataType)).otherwise(v).as(fd.name)
    }: _*)
  }

  private def initPath(d: Dirs) = d.ref.resolve("target_init.parquet").toString

  def prepare(spark: SparkSession, d: Dirs, seed: Long): Map[String, Any] = {
    val parts = (0 until EventGen.Parts).map(EventGen.part(seed, _, Events))
    val events = parts.flatMap(_.events)
    val flat = parts.flatMap(_.flat)
    val init = parts.flatMap(_.targetInit)
    writeOne(rowsFrame(spark, events, EventGen.EventSchema), d.in("events"))
    writeOne(rowsFrame(spark, init, EventGen.FlatSchema), initPath(d))
    // the expected target by a plain upsert over the generated rows:
    // newest version per key replaces the target row of that key
    def key(r: Row) = (r.getLong(0), r.getString(11))
    val latest = flat.groupBy(key).values.map(_.maxBy(_.getInt(1))).toSeq
    val keys = latest.map(key).toSet
    val expected = init.filterNot(r => keys(key(r))) ++ latest
    refRows = Digest.of(rowsFrame(spark, flat, EventGen.FlatSchema), FlatCols)
    refTarget = Digest.of(rowsFrame(spark, expected, EventGen.FlatSchema), FlatCols)

    val initKeys = init.map(key).toSet
    val strings = Seq(4, 5, 6, 7, 8, 11).flatMap(i => flat.map(_.getString(i))).filter(_ != null)
    val nullable = Seq(2, 4, 5, 6, 7, 8, 9, 10)
    Map(
      "events" -> events.size,
      "flat_rows" -> flat.size,
      "target_rows" -> init.size,
      "input_bytes" -> bytesOf(d.input),
      "resend_share" -> (1.0 - events.map(_.getLong(0)).distinct.size.toDouble / events.size),
      "update_share" -> keys.count(initKeys).toDouble / keys.size,
      "special_share" -> strings.count(_.exists("\u0001\n\r\\".contains(_))).toDouble / strings.size,
      "null_share" -> flat.map(r => nullable.count(r.isNullAt)).sum.toDouble / (flat.size * nullable.size),
      "digest.events" -> Fingerprint.of(events),
      "digest.target_init" -> Fingerprint.of(init))
  }

  def reset(spark: SparkSession, d: Dirs): Unit = {
    dropTables(spark, d, Target, s"${Target}__graft_reconcile", s"${Target}__graft_bak")
    Host.deleteTree(d.out.resolve("dump"))
    spark.read.parquet(d.ref.resolve("target_init.parquet").toString).write.saveAsTable(Target)
  }

  def pass(spark: SparkSession, d: Dirs, t: Tracer): () => Option[String] = {
    val events = t.span("sources.Source.table")(Source.table(spark, d.input.toString, "events"))
    val parsed = t.span("operators.Transforms.jsonExtract")(
      Transforms.jsonExtract("props", EventGen.PropsSchema)(events))
    val flat = t.span("operators.Transforms.explodeArray")(Transforms.explodeArray("j.tags", "tag")(parsed))
      .select(col("event_id"), col("version"), col("user_id"), col("ts_ms"), col("event_type"),
        col("note"), col("j.page.url").as("page_url"), col("j.page.ref").as("page_ref"),
        col("j.device.os").as("device_os"), col("j.device.ver").as("device_ver"),
        col("j.amount").as("amount"), col("tag"))
    t.span("sinks.Sink.hiveText") {
      Sink.hiveText(flat, dump(d))
      t.note("files", Host.filesUnder(d.out.resolve("dump"))._2)
    }
    val staged = t.span("sources.Source.files")(decode(Source.files(spark, dump(d), "text")))
    t.span("operators.Loader.load")(Loader.load(spark, staged,
      LoadConfig(Target, MergeOn(EventGen.Keys), Some(DedupSpec(EventGen.Keys, Seq(col("version").desc))))))
    () =>
      mismatch("dump round-trip", Digest.of(decode(spark.read.text(dump(d))), FlatCols), refRows)
        .orElse(mismatch("merged target", Digest.of(spark.table(Target), FlatCols), refTarget))
  }

  def kernelInput(spark: SparkSession, d: Dirs): (DataFrame, String) =
    (spark.read.parquet(d.in("events")), "props")
}

/** Shared corpus handling of the two curation workloads. */
object Curation {
  val Docs = 400
  val NGram = 2
  val Threshold = 0.3
  val EvalThreshold = 0.5
  val QualityMin = 0.45

  val LabelCols = Seq("id", "component")

  def docFrame(spark: SparkSession, rows: Seq[(Long, String)], id: String): DataFrame =
    rowsFrame(spark, rows.map { case (i, t) => Row(i, t) },
      StructType(Seq(StructField(id, LongType, nullable = false), StructField("text", StringType))))

  def fingerprint(rows: Seq[(Long, String)]): String = Fingerprint.of(rows.map { case (i, t) => Row(i, t) })

  /** (share of docs in components of size ≥ 2, those components' mean size) */
  def familyStats(labels: Seq[(Long, Long)]): (Double, Double) = {
    val multi = labels.groupBy(_._2).values.map(_.size).filter(_ >= 2)
    (multi.sum.toDouble / labels.size, if (multi.isEmpty) 0.0 else multi.sum.toDouble / multi.size)
  }

  def labelFrame(spark: SparkSession, labels: Seq[(Long, Long)]): DataFrame =
    rowsFrame(spark, labels.map { case (i, c) => Row(i, c) },
      StructType(LabelCols.map(StructField(_, LongType, nullable = false))))

  /** Word n-gram set of a text, tokenized as Text.tokens defines it:
    * lower-cased, split on whitespace runs, empty tokens dropped.
    */
  def shingles(text: String): Set[String] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    if (toks.length < NGram) Set.empty else toks.sliding(NGram).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val c = a.count(b)
    c.toDouble / (a.size + b.size - c)
  }

  /** The reference labelling: all-pairs Jaccard over word-bigram sets and
    * union-find; each doc is labelled with the minimum id of its component.
    */
  def components(docs: Seq[(Long, String)]): Seq[(Long, Long)] = {
    val sh = docs.map { case (id, t) => (id, shingles(t)) }.filter(_._2.nonEmpty).toArray
    val parent = scala.collection.mutable.Map(docs.map(x => x._1 -> x._1): _*)
    def find(x: Long): Long = {
      val p = parent(x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for (i <- sh.indices; j <- i + 1 until sh.length) {
      val (a, b) = (sh(i)._2, sh(j)._2)
      if (math.min(a.size, b.size) >= Threshold * math.max(a.size, b.size) - 1e-9 &&
          jaccard(a, b) >= Threshold) {
        val (ra, rb) = (find(sh(i)._1), find(sh(j)._1))
        if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
      }
    }
    docs.map(x => (x._1, find(x._1)))
  }
}

/** Batch LLM-data curation of a replicated corpus. */
object CurateBatch extends Workload {
  import Curation._
  val name = "curate_batch"
  private var refLabels: Digest = _
  private var refKept: Digest = _
  def outPath(d: Dirs): String = d.out.resolve("curated").toString

  def prepare(spark: SparkSession, d: Dirs, seed: Long): Map[String, Any] = {
    val c = DocGen.corpus(seed, Docs)
    writeOne(docFrame(spark, c.docs, "doc_id"), d.in("docs"))
    writeOne(docFrame(spark, c.eval, "eval_id"), d.in("eval"))
    // the quality filter is the pipeline's own definition of a good doc
    val good = spark.read.parquet(d.in("docs")).where(Text.qualityScore(col("text")) >= QualityMin)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // reference: exact dedup by minimum id, all-pairs components, and
    // decontamination by all-pairs Jaccard against the eval slice
    val exact = c.docs.filter(x => good(x._1)).groupBy(_._2).values.map(_.minBy(_._1)).toSeq.sortBy(_._1)
    val labels = components(exact)
    val canon = labels.collect { case (i, comp) if i == comp => i }.toSet
    val evalSh = c.eval.map(e => shingles(e._2)).filter(_.nonEmpty)
    val kept = exact.filter(x => canon(x._1)).filterNot { case (_, t) =>
      val s = shingles(t)
      s.nonEmpty && evalSh.exists(e => jaccard(s, e) >= EvalThreshold)
    }
    refLabels = Digest.of(labelFrame(spark, labels), LabelCols)
    refKept = Digest.of(docFrame(spark, kept, "doc_id"), Seq("doc_id", "text"))
    val (famShare, famSize) = familyStats(labels)
    Map(
      "docs" -> c.docs.size,
      "eval_docs" -> c.eval.size,
      "input_bytes" -> bytesOf(d.input),
      "exact_dup_share" -> (1.0 - c.docs.map(_._2).distinct.size.toDouble / c.docs.size),
      "low_quality_share" -> (1.0 - good.size.toDouble / c.docs.size),
      "deduped_docs" -> exact.size,
      "near_dup_share" -> famShare,
      "mean_family_size" -> famSize,
      "canonical_docs" -> canon.size,
      "contaminated_share" -> (1.0 - kept.size.toDouble / canon.size),
      "digest.docs" -> fingerprint(c.docs),
      "digest.eval" -> fingerprint(c.eval))
  }

  def reset(spark: SparkSession, d: Dirs): Unit = Host.deleteTree(d.out.resolve("curated"))

  def pass(spark: SparkSession, d: Dirs, t: Tracer): () => Option[String] = {
    val docs = t.span("sources.Source.table")(Source.table(spark, d.input.toString, "docs"))
    val eval = t.span("sources.Source.table")(Source.table(spark, d.input.toString, "eval"))
    val good = docs.filter(Text.qualityScore(col("text")) >= QualityMin)
    val exact = t.span("operators.Dedup.byRank")(Dedup.byRank(good, Seq("text"), Seq(col("doc_id"))))
    val labels = t.span("operators.ClusterDedup.components")(
      ClusterDedup.components(exact, "doc_id", "text", NGram, Threshold))
    val canon = exact.join(labels.where(col("id") === col("component")).select(col("id").as("doc_id")), "doc_id")
    val kept = t.span("operators.JaccardDedup.decontaminate")(
      JaccardDedup.decontaminate(canon, "doc_id", eval, "eval_id", "text", NGram, EvalThreshold))
    t.span("sinks.Sink.format") {
      Sink.format(kept.select("doc_id", "text"), outPath(d), "parquet")
      t.note("files", Host.filesUnder(d.out.resolve("curated"))._2)
    }
    () =>
      mismatch("labels", Digest.of(labels, LabelCols), refLabels)
        .orElse(mismatch("kept docs", Digest.of(spark.read.parquet(outPath(d)), Seq("doc_id", "text")), refKept))
  }

  def kernelInput(spark: SparkSession, d: Dirs): (DataFrame, String) = (spark.read.parquet(d.in("docs")), "text")
}

/** A daily ingest: incremental labels over yesterday's, then a small-delta
  * merge of the changed labels into the curated label table.
  */
object CurateIncremental extends Workload {
  import Curation._
  val name = "curate_incremental"
  val Target = "curated"
  private val CuratedCols = Seq("doc_id", "component", "canonical")
  private var refLabels: Digest = _
  private var refCurated: Digest = _

  private def curated(labels: DataFrame): DataFrame =
    labels.select(col("id").as("doc_id"), col("component"), (col("id") === col("component")).as("canonical"))

  def prepare(spark: SparkSession, d: Dirs, seed: Long): Map[String, Any] = {
    val c = DocGen.corpus(seed, Docs)
    writeOne(docFrame(spark, c.base, "doc_id"), d.in("base"))
    writeOne(docFrame(spark, c.delta, "doc_id"), d.in("delta"))
    // yesterday's labels, an input of the pass, and the reference labels
    // over base ∪ delta, both by the all-pairs reference
    val prevLabels = components(c.base)
    writeOne(labelFrame(spark, prevLabels), d.in("base_labels"))
    val ls = components(c.base ++ c.delta)
    val labels = labelFrame(spark, ls)
    refLabels = Digest.of(labels, LabelCols)
    refCurated = Digest.of(curated(labels), CuratedCols)
    val prev = prevLabels.toMap
    val (famShare, famSize) = familyStats(ls)
    val staged = ls.filter { case (i, comp) => !prev.get(i).contains(comp) }
    Map(
      "base_docs" -> c.base.size,
      "delta_docs" -> c.delta.size,
      "delta_share" -> c.delta.size.toDouble / (c.base.size + c.delta.size),
      "input_bytes" -> bytesOf(d.input),
      "near_dup_share" -> famShare,
      "mean_family_size" -> famSize,
      "bridged_families" -> ls.filter(x => prev.contains(x._1)).groupBy(_._2).values
        .count(_.map(x => prev(x._1)).distinct.size >= 2),
      "staged_rows" -> staged.size,
      "update_share" -> staged.count(x => prev.contains(x._1)).toDouble / staged.size,
      "digest.base" -> fingerprint(c.base),
      "digest.delta" -> fingerprint(c.delta),
      "digest.base_labels" -> Fingerprint.of(prevLabels.map { case (i, comp) => Row(i, comp) }))
  }

  def reset(spark: SparkSession, d: Dirs): Unit = {
    dropTables(spark, d, Target, s"${Target}__graft_reconcile", s"${Target}__graft_bak")
    curated(spark.read.parquet(d.in("base_labels"))).write.saveAsTable(Target)
  }

  def pass(spark: SparkSession, d: Dirs, t: Tracer): () => Option[String] = {
    val base = t.span("sources.Source.table")(Source.table(spark, d.input.toString, "base"))
    val delta = t.span("sources.Source.table")(Source.table(spark, d.input.toString, "delta"))
    val prev = t.span("sources.Source.table")(Source.table(spark, d.input.toString, "base_labels"))
    val labels = t.span("operators.ClusterDedup.componentsIncremental")(
      ClusterDedup.componentsIncremental(prev, base, delta, "doc_id", "text", NGram, Threshold))
    val staged = curated(labels.join(prev.select(col("id"), col("component").as("prev")), Seq("id"), "left")
      .where(col("prev").isNull || col("prev") =!= col("component")))
    t.span("operators.Loader.load")(Loader.load(spark, staged, LoadConfig(Target, MergeOn(Seq("doc_id")))))
    () =>
      mismatch("labels", Digest.of(labels, LabelCols), refLabels)
        .orElse(mismatch("curated table", Digest.of(spark.table(Target), CuratedCols), refCurated))
  }

  def kernelInput(spark: SparkSession, d: Dirs): (DataFrame, String) = (spark.read.parquet(d.in("base")), "text")
}
