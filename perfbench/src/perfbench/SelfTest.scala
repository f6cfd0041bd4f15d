package perfbench

import java.nio.file.Paths

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Tests of the benchmark itself (run with `python3 perfbench/selftest.py`):
  *   - the generators give identical inputs for the same seed and
  *     different inputs for different seeds;
  *   - each workload's output check passes an unperturbed pass and catches
  *     a deliberately perturbed output.
  */
object SelfTest {
  private var failures = 0

  private def expect(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  private def rewriteTable(spark: SparkSession, name: String)(f: DataFrame => DataFrame): Unit = {
    val df = f(spark.table(name)).localCheckpoint()
    spark.sql(s"DROP TABLE $name")
    df.write.saveAsTable(name)
  }

  private def rewritePath(spark: SparkSession, path: String, format: String)(f: DataFrame => DataFrame): Unit =
    f(spark.read.format(format).load(path)).localCheckpoint()
      .write.mode(SaveMode.Overwrite).format(format).save(path)

  private def markMax(df: DataFrame, id: String, column: String, value: org.apache.spark.sql.Column) = {
    val top = df.agg(max(id)).head().getLong(0)
    df.withColumn(column, when(col(id) === top, value).otherwise(col(column)))
  }

  /** Perturbations of a finished pass's stored output, per workload. */
  private def perturbations(spark: SparkSession, d: Dirs): Map[String, Seq[(String, () => Unit)]] = Map(
    EtlMigrate.name -> Seq(
      "a changed value in the merged target" -> (() =>
        rewriteTable(spark, EtlMigrate.Target)(markMax(_, "event_id", "amount", lit(-1.0)))),
      "a line missing from the dump" -> (() =>
        rewritePath(spark, EtlMigrate.dump(d), "text")(df => df.limit((df.count() - 1).toInt))),
      "a null token decoded as text in the dump" -> (() =>
        rewritePath(spark, EtlMigrate.dump(d), "text") { df =>
          val nullTok = "\u0001\\N\u0001"
          val line = df.where(col("value").contains(nullTok)).head().getString(0)
          df.select(when(col("value") === line, regexp_replace(col("value"), "\u0001\\\\N\u0001", "\u0001N\u0001"))
            .otherwise(col("value")).as("value"))
        })),
    CurateBatch.name -> Seq(
      "a kept doc missing from the output" -> (() =>
        rewritePath(spark, CurateBatch.outPath(d), "parquet")(df =>
          df.where(col("doc_id") =!= df.agg(max("doc_id")).head().getLong(0))))),
    CurateIncremental.name -> Seq(
      "a flipped canonical flag in the curated table" -> (() =>
        rewriteTable(spark, CurateIncremental.Target)(markMax(_, "doc_id", "canonical", !col("canonical"))))))

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath

    def events(seed: Long) =
      Fingerprint.of((0 until EventGen.Parts).flatMap(EventGen.part(seed, _, EtlMigrate.Events).events))
    def corpus(seed: Long) = {
      val c = DocGen.corpus(seed, Curation.Docs)
      Seq(c.docs, c.eval, c.base, c.delta).map(Curation.fingerprint)
    }
    expect(events(7) == events(7), "events: the same seed gives the same digest")
    expect(events(7) != events(8), "events: another seed gives another digest")
    expect(corpus(7) == corpus(7), "corpus: the same seed gives the same digests")
    expect(corpus(7).zip(corpus(8)).forall { case (x, y) => x != y }, "corpus: another seed gives other digests")

    System.setProperty("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    System.setProperty("spark.local.dir", work.resolve("spark").toString)
    val spark = GraftSession.local(a("cores").toInt, "perfbench-selftest")
    val off = new Tracer(false)
    Workloads.All.foreach { w =>
      val d = Dirs(work.resolve(w.name))
      w.prepare(spark, d, 11)
      perturbations(spark, d)(w.name).zipWithIndex.foreach { case ((what, perturb), i) =>
        w.reset(spark, d)
        val check = w.pass(spark, d, off)
        if (i == 0) expect(check().isEmpty, s"${w.name}: an unperturbed pass passes its check")
        perturb()
        expect(Try(check()).fold(_ => true, _.nonEmpty), s"${w.name}: $what is caught")
        spark.catalog.clearCache()
      }
    }
    spark.stop()
    println(if (failures == 0) "selftest passed" else s"selftest: $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
