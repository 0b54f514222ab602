package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.WordStats
import graft.operators.TextAnalysis

/** The one-pass word-statistics kernel against the `split` / `filter`
  * Column formulation it replaced, field by field, on seeded random
  * strings over an alphabet that hits every edge: empty, leading,
  * trailing and doubled spaces; `a` / `the` / `The`; dot runs of every
  * length and `#`; non-ASCII letters and surrogate pairs; null text.
  * Codegen fallback is switched off, so a generated class that does not
  * compile fails the test instead of silently running interpreted. */
class WordStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sets = Seq(TextAnalysis.stopwords) ++ TextAnalysis.langMarkers.map(_._2)

  /** The formulation the kernel replaced, one column per field. */
  private def reference(text: Column): Seq[Column] = {
    val words = split(text, " ")
    Seq(
      size(words).cast("long"),
      length(call_function("replace", text, lit(" "), lit(""))).cast("long"),
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long"),
      regexp_count(text, lit(TextAnalysis.SymbolRe)).cast("long")) ++
      sets.map(s => size(filter(words, w => w.isin(s.map(x => x: Any): _*))).cast("long"))
  }

  private val pieces = Array(" ", " ", "  ", "a", "the", "The", "THE", "of", "el", "und",
    "une", "les", ".", "..", "...", "....", "#", "#..#", "x", "q9", "7", "é", "漢字",
    "😀", "a😀", "ab.c", "#a", "...a...", "", "-")

  private def randomText(rnd: scala.util.Random): String =
    Seq.fill(rnd.nextInt(14))(pieces(rnd.nextInt(pieces.length))).mkString

  private val planted = Seq("", " ", "  ", " a", "a ", "a  b", "the a The", "....", "#..#",
    ".....", "......", "a...#...b", "😀 the 😀", " the  the ")

  private def withoutFallback[T](body: => T): T = {
    val key = "spark.sql.codegen.fallback"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("word_stats equals the split/filter formulation field by field") {
    val rnd = new scala.util.Random(1501L)
    val texts: Seq[Option[String]] =
      (planted ++ Seq.fill(600)(randomText(rnd))).map(Some(_)) :+ None
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val ws = WordStats.column(spark, col("text"), sets)
    val got = withoutFallback {
      df.select(col("id"), ws.as("ws"))
        .select(col("id") +: (WordStats.Fields ++ sets.indices.map(i => s"n_in_$i"))
          .map(f => col(s"ws.$f")): _*)
        .orderBy("id").collect().toSeq
    }
    val want = df.select(col("id") +: reference(col("text")): _*)
      .orderBy("id").collect().toSeq
    assert(got.length == texts.length)
    for ((g, w) <- got.zip(want))
      assert(g == w, s"text ${texts(g.getLong(0).toInt).map(s => s"'$s'")}: $g vs $w")
    assert(got.last.toSeq.tail.forall(_ == null), "null text must give null signals")
  }

  test("the quality, gopher and langId operators keep their exact signals") {
    val rnd = new scala.util.Random(1502L)
    val df = (planted ++ Seq.fill(300)(randomText(rnd))).zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en") }.toDF("doc_id", "text", "lang")
    val Seq(nWords, nonspace, alpha, symbol, stop) = reference(col("text")).take(5)
    val quality = withoutFallback(TextAnalysis.quality(df).orderBy("doc_id")
      .select("n_words", "avg_word_len", "stop_ratio").collect().toSeq)
    assert(quality == df.orderBy("doc_id")
      .select(nWords, nonspace / nWords, stop / nWords).collect().toSeq)
    val gopher = withoutFallback(TextAnalysis.gopherQuality(df).orderBy("doc_id")
      .select("n_words", "mean_word_len", "alpha_frac", "n_stop", "symbol_ratio")
      .collect().toSeq)
    assert(gopher == df.orderBy("doc_id")
      .select(nWords, nonspace / nWords, alpha / nWords, stop, symbol / nWords)
      .collect().toSeq)
    val lang = withoutFallback(TextAnalysis.langId(df).orderBy("doc_id")
      .select("s_en", "s_es", "s_fr", "s_de").collect().toSeq)
    assert(lang == df.orderBy("doc_id").select(reference(col("text")).drop(5): _*)
      .collect().toSeq)
  }
}
