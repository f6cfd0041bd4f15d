package graft.functions

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Text-analysis column functions for training-data pipelines, with no
  * UDFs. `qualityScore` is one native codegen'd expression; the others
  * are Column compositions of built-ins. Those that `filter` or
  * `transform` an array (`tokens` and everything built on it, `langId`,
  * `shingles`, `charShingles`, `fingerprint`) carry a lambda, which
  * Spark evaluates interpreted (`CodegenFallback`) and never shares as
  * a common subexpression.
  */
object Text {

  /** Whitespace tokenizer (lowercased, empties dropped). */
  def tokens(c: Column): Column =
    filter(split(lower(c), "\\s+"), t => length(t) > 0)

  /** Token count on raw whitespace split — the "BPE-ish" variant counts
    * word pieces: runs of letters, digits, or single punctuation.
    */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** Token classes: letter runs, digit runs, single non-alnum non-space
    * chars — same regex DuckDB's `regexp_extract_all` oracle uses.
    * (A lookaround `split` is wrong here: whitespace runs survive as
    * elements and inflate the count.)
    */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Word n-gram shingles: contiguous n-token windows joined by a space.
    * Empty result when the doc has fewer than n tokens.
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  /** Character n-gram shingles (for short/unsegmented text, e.g. zh). */
  def charShingles(c: Column, n: Int): Column =
    when(length(c) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1), length(c) - n + 1), i => c.substr(i, lit(n))))

  /** n-gram Jaccard similarity between two shingle *sets*. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** Quality score in [0,1]: blend of length, alpha ratio, punctuation
    * ratio, stopword ratio, and mean word length — the standard cheap
    * pre-filter heuristics for web-scale corpus cleaning. Deterministic
    * arithmetic, SQL-expressible (oracle-checked in SparkEntry; the
    * Column formula it equals lives in the tests as their truth). A NULL
    * text scores 0.45, as that formula gives: `least` skips the NULL
    * length and every other term takes its `otherwise`.
    *
    * One native scan per value ([[QualityScoreExpr]], codegen'd, with an
    * interpreted twin), where the Column formula tokenized the text 7
    * times, each under a lambda `filter` Spark runs interpreted, and ran
    * 8 `regexp_replace` passes. Counting
    * `filter(qualityScore(text) >= 0.45)` over 10,000 docs in one
    * parquet task (perfbench's `curate_batch` corpus ×25, seed 7;
    * `local[2]` on a 4-core VM, medians of 10) runs 61,000 rows/s,
    * where the Column formula ran 4,800; a `length(text)` projection
    * over the same file runs 73,000–88,000.
    */
  def qualityScore(text: Column): Column = Shims.column(QualityScoreExpr(Shims.expression(text)))

  /** The quality score's counts in one pass over a value's UTF-8 bytes,
    * and its arithmetic in the Column formula's order:
    *   - `len`: `length(text)`, the value's `numChars`;
    *   - whitespace, ASCII letters and `.,;:!?`: the characters the three
    *     `regexp_replace` passes keep or drop. All are ASCII, UTF-8 never
    *     uses an ASCII byte inside a multi-byte sequence, and Java's
    *     decoder never folds one into a malformed sequence, so a byte
    *     count is exact. Whitespace is Java's `\s`, `[ \t\n\x0B\f\r]`;
    *   - `nonSpace`: characters of the value as `regexp_replace` decodes
    *     it (its `numChars` when the bytes are valid UTF-8), less the
    *     whitespace;
    *   - tokens: maximal non-whitespace runs (`split(lower(text), \s+)`
    *     without empties; lowering never makes or removes whitespace),
    *     and how many of them lower to an [[EnStopwords]] entry.
    *
    * Lowering follows `lower`: an all-ASCII value is lowered byte by
    * byte, any other goes through the JVM's (or with
    * `spark.sql.icu.caseMappings.enabled`, ICU's) locale-sensitive
    * `toLowerCase`. No case mapping crosses whitespace, so a token
    * lowered alone equals its span of the lowered value. Only a token of
    * at most 4 characters (the longest stopword) can match: a token of
    * lowercase ASCII is compared as it is, an uppercase ASCII token of
    * an all-ASCII value lowered byte by byte, and only the rest (a short
    * token with a non-ASCII byte, or an uppercase one in a non-ASCII
    * value) goes through `toLowerCase`.
    */
  final class QualityHelper(useIcu: Boolean) extends Serializable {
    private val stopKeys: Array[Long] =
      EnStopwords.map(w => lowerKey(UTF8String.fromString(w), 0, w.length)).sorted.toArray

    /** Bytes [from, until) of `s`, A–Z lowered, packed as
      * (length << 32 | big-endian bytes); at most 4 bytes.
      */
    private def lowerKey(s: UTF8String, from: Int, until: Int): Long = {
      var k = (until - from).toLong << 32
      var i = from
      while (i < until) {
        val b = s.getByte(i)
        k |= ((if (b >= 'A' && b <= 'Z') b + 32 else b) & 0xffL) << (8 * (until - 1 - i))
        i += 1
      }
      k
    }

    private def isStop(k: Long): Boolean = java.util.Arrays.binarySearch(stopKeys, k) >= 0

    /** The token [from, until) lowered the way `lower` lowers a value
      * that is not all ASCII (the result holds no A–Z), then matched.
      */
    private def lowersToStop(s: UTF8String, from: Int, until: Int): Boolean = {
      val tok = UTF8String.fromAddress(s.getBaseObject, s.getBaseOffset + from, until - from)
      val low = UTF8String.fromString(
        if (useIcu) UCharacter.toLowerCase(tok.toValidString) else tok.toString.toLowerCase)
      low.numBytes <= 4 && isStop(lowerKey(low, 0, low.numBytes))
    }

    def score(s: UTF8String): Double = {
      // the NULL text: least() skips its length, the rest take otherwise
      if (s == null) return arithmetic(1.0, 0.0, 1.0, 0.0, 0.5)
      val base = s.getBaseObject
      val off = s.getBaseOffset
      val n = s.numBytes
      var ws, alpha, punct, nTok, stop = 0
      // is the value all ASCII: 0 not known yet, 1 yes, 2 no. Only
      // tokens hold non-ASCII bytes, so it is 2 once one of them does,
      // and is settled early only for an uppercase ASCII token.
      var ascii = 0
      var i = 0
      while (i < n) {
        var b = Platform.getByte(base, off + i)
        if (b == ' ' || (b >= '\t' && b <= '\r')) { ws += 1; i += 1 }
        else {
          val start = i
          // characters (non-continuation bytes), non-ASCII and A–Z seen
          var chars = 0
          var tokNonAscii = false
          var upper = false
          while (i < n && !(b == ' ' || (b >= '\t' && b <= '\r'))) {
            if (b < 0) {
              tokNonAscii = true
              if ((b & 0xc0) != 0x80) chars += 1
            } else {
              chars += 1
              val l = b | 0x20
              if (l >= 'a' && l <= 'z') { alpha += 1; if (b < 'a') upper = true }
              else if (b == '.' || b == ',' || b == ';' || b == ':' || b == '!' || b == '?') punct += 1
            }
            i += 1
            if (i < n) b = Platform.getByte(base, off + i)
          }
          nTok += 1
          if (tokNonAscii) ascii = 2
          else if (upper && chars <= 4 && ascii == 0) ascii = if (s.isFullAscii) 1 else 2
          // lowering maps each character to one or more, so only a
          // token of at most 4 characters can lower to a stopword
          if (chars <= 4 &&
              (if (tokNonAscii || (upper && ascii == 2)) lowersToStop(s, start, i) else isStop(lowerKey(s, start, i))))
            stop += 1
        }
      }
      val decoded =
        if (ascii != 2 || s.isValid) s.numChars
        else { val j = s.toString; j.codePointCount(0, j.length) }
      val len = s.numChars.toDouble
      val nonSpace = (decoded - ws).toDouble
      val tokens = nTok.toDouble
      val meanWord = if (tokens > 0) nonSpace / tokens else 0.0
      arithmetic(
        math.min(len / 1000.0, 1.0),
        if (nonSpace > 0) alpha / nonSpace else 0.0,
        if (nonSpace > 0) math.max(0.0, 1.0 - punct * 10.0 / nonSpace) else 1.0,
        if (tokens > 0) stop / tokens else 0.0,
        if (meanWord >= 3 && meanWord <= 10) 1.0 else 0.5)
    }

    /** The weighted sum in the formula's order, then `round(_, 6)`. */
    private def arithmetic(lenScore: Double, alphaRatio: Double, punctPenalty: Double,
        stopRatio: Double, wordScore: Double): Double = {
      val raw = lenScore * 0.3 + alphaRatio * 0.3 + punctPenalty * 0.1 +
        stopRatio * 0.2 + wordScore * 0.1
      java.math.BigDecimal.valueOf(raw).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    }
  }

  /** [[qualityScore]] as one Catalyst expression. Never NULL: a NULL
    * input scores like the Column formula scores it, so evaluation does
    * not short-circuit NULLs.
    */
  case class QualityScoreExpr(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = false
    @transient private lazy val helper =
      new QualityHelper(SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED))
    override def eval(input: InternalRow): Any =
      helper.score(child.eval(input).asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val h = ctx.addReferenceObj("qualityHelper", helper, classOf[QualityHelper].getName)
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        ${c.code}
        double ${ev.value} = $h.score(${c.isNull} ? null : ${c.value});""", isNull = FalseLiteral)
    }
    override protected def withNewChildInternal(newChild: Expression): QualityScoreExpr =
      copy(child = newChild)
    override def prettyName: String = "quality_score"
  }

  val EnStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "it", "that", "this", "for", "on", "with", "as", "at", "by", "be")

  /** Language-ID heuristic: stopword-hit counts per language over the
    * token set; argmax with deterministic tie-break on language code.
    * (n-gram/stopword heuristics are the standard cheap langid; a real
    * deployment would swap in a fastText-style model via mapInPandas.)
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scores = LangStopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(size(filter(toks, t => t.isin(words: _*))).as("hits"), lit(lang).as("lang"))
    }
    // argmax by (hits, lang-reversed) — array_max picks lexicographically
    // greatest struct; negate nothing, ties break toward later lang code,
    // made deterministic by sorting input.
    array_max(array(scores: _*)).getField("lang")
  }

  val LangStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
    "es" -> Seq("el", "la", "los", "de", "y", "un", "una", "es", "que", "para"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "ist", "zu", "mit", "von"),
    "zh" -> Seq("的", "了", "是", "在", "我", "有", "和", "就", "不", "人"))

  /** Intra-document repetition: fraction of n-gram OCCURRENCES that are
    * duplicates of an earlier one, 1 − distinct/total (0 when the doc
    * has fewer than n tokens). The standard boilerplate/spam signal in
    * corpus quality rules: high values mean the doc repeats itself.
    */
  def repetitionRatio(text: Column, n: Int): Column =
    NativeHash.shingleDupRatio(tokens(text), n)

  /** PII redaction: replace email addresses, phone-like digit runs, and
    * IPv4 literals with typed placeholder tokens — the standard cheap
    * scrub pass before corpus publication. Regex-only (deterministic,
    * SQL-expressible, oracle-checked); a production pipeline can layer an
    * NER model on top via mapInPandas, but the regex tier is what runs
    * over every byte at 100 TB. Order matters: emails first (their local
    * part would otherwise partially match the phone pattern).
    */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>")
    regexp_replace(ip,
      "\\+?\\d[\\d ()-]{7,}\\d", "<PHONE>")
  }

  /** Document fingerprint: polynomial rolling hash over the text's
    * codepoints, mod a 30-bit prime (no overflow at long width). One pass,
    * pure codegen. Equal texts ⟹ equal fingerprints; used for cheap
    * exact-dup detection without shipping full text through the shuffle.
    */
  def fingerprint(text: Column): Column =
    aggregate(
      transform(split(text, ""), ch => ascii(ch).cast("long")),
      lit(0L),
      (acc, cp) => pmod(acc * 31L + cp, lit(1000000007L)))
}
