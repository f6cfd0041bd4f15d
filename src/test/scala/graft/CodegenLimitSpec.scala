package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** The whole-stage method limit `GraftSession.tuned` sets, against the
  * shape that crosses it: a Hive-text staging decode (split one line,
  * then unescape, cast and null-map every field), which whole-stage
  * codegen fuses into one method too large for HotSpot to JIT.
  */
class CodegenLimitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Limit = "spark.sql.codegen.hugeMethodLimit"
  private val Fields = 14

  /** ^A-separated lines of `Fields` fields: escaped strings at even
    * positions, longs at odd ones, `\N` nulls scattered over both.
    */
  private def writeLines(dir: String): Unit = {
    import spark.implicits._
    (0 until 300).map { i =>
      (0 until Fields).map { f =>
        if ((i + f) % 7 == 0) "\\N" else if (f % 2 == 0) s"s$i\\n$f\\1x\\r" else (i * f).toString
      }.mkString("\u0001")
    }.toDF("value").write.text(dir)
  }

  private def decoded(text: DataFrame): DataFrame = {
    val f = split(col("value"), "\u0001", -1)
    def unescape(c: Column) = regexp_replace(regexp_replace(regexp_replace(
      c, "\\\\r", "\r"), "\\\\n", "\n"), "\\\\1", "\u0001")
    text.select((0 until Fields).map { i =>
      val raw = f.getItem(i)
      val (t, v) = if (i % 2 == 0) (StringType, unescape(raw)) else (LongType, raw.cast(LongType))
      when(raw === "\\N", lit(null).cast(t)).otherwise(v).as(s"c$i")
    }: _*)
  }

  test("a decode-shaped stage compiles above the session's 8000-byte limit; its rows equal the 65535 run") {
    assert(spark.conf.get(Limit) == "8000", "GraftSession.tuned sets HotSpot's HugeMethodLimit")

    val s = spark.newSession()
    val dir = java.nio.file.Files.createTempDirectory("codegen-limit").toString + "/lines"
    writeLines(dir)
    val df = decoded(s.read.text(dir))
    val stages = df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
    assert(stages.size == 1, df.queryExecution.executedPlan.toString)
    val (_, code) = stages.head.doCodeGen()
    val maxMethod = CodeGenerator.compile(code)._2.maxMethodCodeSize
    assert(maxMethod > 8000, s"largest generated method: $maxMethod B")

    def rows(limit: String) = {
      s.conf.set(Limit, limit)
      decoded(s.read.text(dir)).collect().map(_.toString).sorted.toSeq
    }
    val fused = rows("65535")
    assert(fused.size == 300)
    assert(rows(spark.conf.get(Limit)) == fused)
  }
}
