package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Lower, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.llm.TextOps

/** Native per-document curation gate: `graft_curate_gate(text) ->
  * struct<quality: double, pred_lang: string, dup_3gram_ratio: double>`
  * — the three per-row gates of [[TextOps.curate]] in ONE pass over the
  * text, bit-identical to the declarative expressions they replace
  * ([[TextOps.qualityScoreExpr]], `TextOps.langIdExprs._1`,
  * `TextOps.dup3RatioExpr`):
  *  - tokens are Spark's `split(text, " ")` (regex split, limit -1, so
  *    runs of spaces keep their empty tokens); lengths are code-point
  *    counts like Spark's `length`;
  *  - every ratio is the same int-count / int-count double division and
  *    the same `floor(x·10^4 + 0.5) / 10^4` rounding, in the same
  *    operation order;
  *  - the language tokens are `lower(text)`'s: ASCII text lowers
  *    byte-wise (what every case mapping does to ASCII), and only text
  *    with a non-ASCII byte calls Spark's own `Lower` expression. Spark
  *    4.1's ICU case mapping title-cases every code point in a static
  *    initializer (~1.5 s) on the first `lower()` a JVM evaluates, which
  *    an all-ASCII corpus therefore never pays here.
  * The declarative form evaluates six interpreted lambda calls per token
  * (two distincts, three stopword filters, the gram build); this is one
  * compiled method per row. Null text yields what the declarative form
  * does: quality 1.0 (`least` skips the null blend), language 'und'
  * (every pick comparison is null) and a null 3-gram ratio. Eval-only
  * (CodegenFallback at the ROW level, the [[ShingleSet]] precedent).
  */
case class CurateGate(text: Expression)
    extends UnaryExpression with CodegenFallback {

  override def child: Expression = text

  override def checkInputDataTypes(): TypeCheckResult =
    if (text.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string, got ${text.dataType.simpleString}")

  override def dataType: DataType = CurateGate.Schema

  override def nullable: Boolean = false

  override def prettyName: String = "graft_curate_gate"

  @transient private lazy val lower =
    Lower(BoundReference(0, StringType, nullable = false))
  @transient private lazy val qualityStop = TextOps.qualityStopwords.toSet
  // (language, stopword set), languages in the declarative pick order
  @transient private lazy val langStop = TextOps.langStopwords.toSeq
    .sortBy(_._1).map { case (l, ws) => (l, ws.toSet) }.toArray

  private def r4(x: Double): Double = math.floor(x * 10000 + 0.5).toLong / 1e4

  private def lowered(u: UTF8String): UTF8String =
    if (u.isFullAscii) u.toLowerCaseAscii
    else lower.eval(InternalRow(u)).asInstanceOf[UTF8String]

  override def eval(input: InternalRow): Any = text.eval(input) match {
    case null => InternalRow(1.0, UTF8String.fromString("und"), null)
    case u: UTF8String => gate(u)
  }

  private def gate(u: UTF8String): InternalRow = {
    val s = u.toString
    val nChars = math.max(u.numChars(), 1).toDouble

    // quality: unique-token, alphabetic-char and stopword ratios
    val toks = s.split(" ", -1)
    val n = toks.length.toDouble
    val uniq = new java.util.HashSet[String]
    var nStop = 0
    toks.foreach { tk =>
      uniq.add(tk)
      if (qualityStop.contains(tk)) nStop += 1
    }
    var nAlpha = 0
    var nCjk = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) nAlpha += 1
      else if (c >= '\u4e00' && c <= '\u9fff') nCjk += 1
      i += 1
    }
    val quality = r4(math.min(1.0,
      uniq.size / n * 0.4 + nAlpha / nChars * 0.4 +
        math.min(nStop / n * 4, 1.0) * 0.2))

    // language: stopword hit rate per language over the lowered tokens,
    // first best in language order, CJK share overriding
    val ltoks = lowered(u).toString.split(" ", -1)
    val nl = math.max(ltoks.length, 1).toDouble
    val rates = langStop.map { case (_, ws) => ltoks.count(ws.contains) / nl }
    val best = rates.max
    val pick = if (best > 0) langStop(rates.indexOf(best))._1 else "und"
    val lang = if (nCjk / nChars > 0.25) "zh" else pick

    // duplicate 3-gram fraction, total in closed form (n − 2)
    val total = toks.length - 2
    val dup3 =
      if (total <= 0) 0.0
      else {
        val grams = new java.util.HashSet[String]
        var j = 0
        while (j < total) {
          grams.add(toks(j) + " " + toks(j + 1) + " " + toks(j + 2))
          j += 1
        }
        r4(1.0 - grams.size.toDouble / total)
      }

    InternalRow(quality, UTF8String.fromString(lang), dup3)
  }

  override protected def withNewChildInternal(newChild: Expression): CurateGate =
    copy(text = newChild)
}

object CurateGate {
  val Schema: StructType = StructType(Seq(
    StructField("quality", DoubleType, nullable = false),
    StructField("pred_lang", StringType, nullable = false),
    StructField("dup_3gram_ratio", DoubleType, nullable = true)))
}
