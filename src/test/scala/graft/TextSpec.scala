package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Text
import graft.functions.Text.{EnStopwords, tokens}

/** The quality score as the Column formula `Text.qualityScore` replaced:
  * the truth its native kernel must equal, NULL text included.
  */
object QualityFormula {
  def apply(text: Column): Column = {
    val len = length(text).cast("double")
    val nonSpace = length(regexp_replace(text, "\\s", "")).cast("double")
    val alpha = length(regexp_replace(text, "[^A-Za-z]", "")).cast("double")
    val punct = length(regexp_replace(text, "[^.,;:!?]", "")).cast("double")
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val stop = size(filter(toks, t => t.isin(EnStopwords: _*))).cast("double")
    val lenScore = least(len / 1000.0, lit(1.0))
    val alphaRatio = when(nonSpace > 0, alpha / nonSpace).otherwise(0.0)
    val punctPenalty = when(nonSpace > 0, greatest(lit(0.0), lit(1.0) - punct * 10.0 / nonSpace)).otherwise(1.0)
    val stopRatio = when(nTok > 0, stop / nTok).otherwise(0.0)
    val meanWord = when(nTok > 0, nonSpace / nTok).otherwise(0.0)
    val wordScore = when(meanWord >= 3 && meanWord <= 10, 1.0).otherwise(0.5)
    round((lenScore * 0.3 + alphaRatio * 0.3 + punctPenalty * 0.1 +
      stopRatio * 0.2 + wordScore * 0.1), 6)
  }

  /** (id, kernel score, formula score) for every row of `df(id, text)`,
    * each side planned on its own so the kernel's plan holds no lambda.
    */
  def compare(df: DataFrame): Seq[(Long, Double, Double)] = {
    def scores(f: Column => Column) =
      df.select(col("id"), f(col("text"))).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (got, want) = (scores(Text.qualityScore), scores(apply))
    want.keys.toSeq.sorted.map(id => (id, got(id), want(id)))
  }
}

/** Text.redactPii and Text.qualityScore edge cases (the bulk text
  * functions are oracle-checked through the driver gate; the tricky
  * cases are pinned here).
  */
class TextSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def redact(s: String): String =
    Seq(s).toDF("t").select(Text.redactPii(col("t"))).as[String].head()

  test("emails, phones, and IPs redact to typed placeholders") {
    assert(redact("mail a.b+c@sub.example.org now") == "mail <EMAIL> now")
    assert(redact("call +1 (555) 123-4567 today") == "call <PHONE> today")
    assert(redact("host 192.168.1.254 down") == "host <IP> down")
  }

  test("multiple hits and mixed PII all redact") {
    assert(redact("x@y.io and z@w.dev") == "<EMAIL> and <EMAIL>")
    assert(redact("a@b.co via 10.0.0.1 ring 555-123-4567") == "<EMAIL> via <IP> ring <PHONE>")
  }

  test("clean text and short digit runs pass through unchanged") {
    assert(redact("row batch scan 123 ok") == "row batch scan 123 ok")
    assert(redact("version 1.2.3 is not an ip") == "version 1.2.3 is not an ip")
  }

  test("SQL surface: text-analysis functions resolve via GraftExtensions") {
    Seq((1L, "the quick brown fox and a dog run to the barn")).toDF("id", "t")
      .createOrReplaceTempView("tx_docs")
    val r = spark.sql(
      """SELECT token_count(t) AS n, bpeish_token_count(t) AS nb,
        |       quality_score(t) AS q, lang_id(t) AS lang,
        |       redact_pii(t) AS clean, doc_fingerprint(t) AS fp
        |FROM tx_docs""".stripMargin).collect().head
    assert(r.getAs[Int]("n") == 11 && r.getAs[String]("lang") == "en")
    assert(r.getAs[Double]("q") > 0 && r.getAs[String]("clean").contains("fox"))
    // SQL and Column paths agree on the fingerprint
    val viaCol = Seq("the quick brown fox and a dog run to the barn").toDF("t")
      .select(Text.fingerprint(col("t"))).as[Long].head()
    assert(r.getAs[Long]("fp") == viaCol)
  }

  /** Values over the kernel's edges: the six `\s` characters, NUL,
    * stopwords in every case and at every position, characters whose
    * lowercase is ASCII (U+212A) or longer (U+0130), non-ASCII text with
    * ASCII stopwords, more than 1,000 characters, and bytes that are not
    * valid UTF-8 (a lone continuation, a truncated sequence, an
    * overlong NUL, an encoded surrogate), with and without whitespace.
    */
  test("qualityScore: the native kernel equals the Column formula on edge values, NULL scores 0.45") {
    val strings = Seq("", " ", "\t\n\u000B\f\r ", "The", "THE cat", "a", "A", "\u0000a", "an\u000Bthe",
      "the\u00A0cat", "\u212Athe \u212A", "\u0130S is \u0130T", "Stra\u00DFe is AND the", "\u03A3\u03A3 \u03C3 the",
      "\u4E2D\u6587 the \u4E2D", "\uD83D\uDE00 of \uD83D\uDE00\uD83D\uDE00", "Is It The End? Yes, it is.",
      "...!!!,,,", "word " * 250, "x" * 1001, "The quick brown fox; and a dog! " * 40, "12 345 6789")
    val invalid = Seq("80", "e4b8", "c080", "eda080", "f8888080", "41e4b820746865", "2080208020", "74686580")
    val df = strings.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .union(invalid.zipWithIndex.map { case (h, i) => (100L + i, h) }.toDF("id", "hex")
        .select(col("id"), unhex(col("hex")).cast("string").as("text")))
      .union(Seq(200L).toDF("id").select(col("id"), lit(null).cast("string").as("text")))
    val rows = QualityFormula.compare(spark.createDataFrame(df.rdd, df.schema))
    assert(rows.size == strings.size + invalid.size + 1)
    for ((id, got, want) <- rows) assert(got == want, s"row $id: kernel $got, formula $want")
    assert(rows.last == ((200L, 0.45, 0.45)))
  }

  test("qualityScore: SQL quality_score is the kernel, and a literal folds to the formula's value") {
    val e = spark.sql("SELECT quality_score(CAST(NULL AS STRING)) AS q, quality_score('The end is near.') AS r")
    assert(e.queryExecution.analyzed.expressions.exists(_.exists(_.isInstanceOf[Text.QualityScoreExpr])))
    val want = Seq[String](null, "The end is near.").toDF("t").select(QualityFormula(col("t"))).as[Double].collect()
    assert(e.as[(Double, Double)].head() == ((want(0), want(1))))
  }
}
