package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{array, call_function, lit}
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document word statistics in ONE pass over the UTF-8 bytes, as a
  * native Catalyst Expression: `word_stats(text, set_0, …, set_k)` with
  * every `set_i` a literal `array<string>`. The `split(text, ' ')` +
  * `filter(words, w -> …)` formulation it replaces computes the same
  * numbers, but its lambdas are `CodegenFallback` in Spark 4.1, so every
  * word went through the interpreter; this is a primitive byte loop
  * with no per-word allocation, called from generated code.
  *
  * The struct's fields, each a bigint:
  *  - `n_words` — `size(split(text, ' '))`: spaces + 1, so empty fields
  *    (leading, trailing, doubled spaces) count as words;
  *  - `n_nonspace` — `length(replace(text, ' ', ''))`, in code points;
  *  - `n_alpha` — the words containing an ASCII letter (`[A-Za-z]`);
  *  - `n_symbol` — the non-overlapping `#` / `...` runs, left to right
  *    (`regexp_count(text, '#|\.\.\.')`);
  *  - `n_in_<i>` — the words equal (case-sensitively) to a member of
  *    `set_i`.
  *
  * Every signal is an exact count, so ratios built from them are the
  * same long/long IEEE divisions as before. Null text gives a null
  * struct. Byte-level matching is exact for valid UTF-8: space, `#`,
  * `.` and ASCII letters never occur inside a multi-byte sequence.
  */
case class WordStats(child: Expression, sets: Seq[Seq[String]]) extends UnaryExpression {
  override def prettyName: String = "word_stats"
  override def dataType: DataType = StructType(
    (WordStats.Fields ++ sets.indices.map(i => s"n_in_$i"))
      .map(StructField(_, LongType, nullable = false)))

  @transient private lazy val setBytes: Array[Array[Array[Byte]]] =
    sets.map(_.map(_.getBytes("UTF-8")).toArray).toArray

  override protected def nullSafeEval(input: Any): Any =
    WordStats.count(input.asInstanceOf[UTF8String], setBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordSets", setBytes, "byte[][][]")
    defineCodeGen(ctx, ev, t => s"graft.functions.WordStats.count($t, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): WordStats =
    copy(child = newChild)
}

object WordStats {
  val Fields: Seq[String] = Seq("n_words", "n_nonspace", "n_alpha", "n_symbol")

  /** `word_stats(text, array(set_0…), …)` as a Column; registers the
    * function on `spark`. */
  def column(spark: SparkSession, text: Column, sets: Seq[Seq[String]]): Column = {
    register(spark)
    call_function("word_stats", text +: sets.map(s => array(s.map(lit): _*)): _*)
  }

  /** The one pass: words are the byte ranges between 0x20 bytes. */
  def count(text: UTF8String, sets: Array[Array[Array[Byte]]]): InternalRow = {
    val n = text.numBytes
    val out = new Array[Long](Fields.length + sets.length)
    var words = 1L; var nonspace = 0L; var alpha = 0L; var symbol = 0L
    var start = 0
    var hasAlpha = false
    var i = 0
    while (i <= n) {
      if (i == n || text.getByte(i) == ' ') {
        if (hasAlpha) alpha += 1
        var s = 0
        while (s < sets.length) {
          if (memberOf(text, start, i, sets(s))) out(Fields.length + s) += 1
          s += 1
        }
        if (i < n) words += 1
        start = i + 1
        hasAlpha = false
        i += 1
      } else {
        val b = text.getByte(i)
        if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) hasAlpha = true
        if (b == '#') symbol += 1
        else if (b == '.' && i + 2 < n && text.getByte(i + 1) == '.' &&
            text.getByte(i + 2) == '.') {
          symbol += 1
          i += 2 // the run's other two dots start no match of their own
        }
        i += 1
      }
    }
    // Code points as `length` counts them: one per UTF-8 lead byte.
    var j = 0
    while (j < n) {
      val b = text.getByte(j)
      if (b != ' ') nonspace += 1
      j += UTF8String.numBytesForFirstByte(b)
    }
    out(0) = words; out(1) = nonspace; out(2) = alpha; out(3) = symbol
    val row = new UnsafeRow(out.length)
    val size = UnsafeRow.calculateBitSetWidthInBytes(out.length) + 8 * out.length
    row.pointTo(new Array[Byte](size), size)
    var f = 0
    while (f < out.length) { row.setLong(f, out(f)); f += 1 }
    row
  }

  private def memberOf(text: UTF8String, from: Int, until: Int,
                       set: Array[Array[Byte]]): Boolean = {
    val len = until - from
    var k = 0
    while (k < set.length) {
      val w = set(k)
      if (w.length == len) {
        var p = 0
        while (p < len && w(p) == text.getByte(from + p)) p += 1
        if (p == len) return true
      }
      k += 1
    }
    false
  }

  /** The SQL builder reads the sets off literal `array<string>`
    * arguments once, at analysis. */
  def register(spark: SparkSession): Unit =
    Registry.registerOnce(spark, "word_stats")(es =>
      WordStats(es.head, es.tail.map(literalStrings)))

  private def literalStrings(e: Expression): Seq[String] = {
    require(e.foldable, s"word_stats: word sets must be literal arrays, got ${e.sql}")
    val a = e.eval().asInstanceOf[ArrayData]
    (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
  }
}
