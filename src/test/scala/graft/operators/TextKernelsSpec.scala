package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.Analyzer

/** The hand-written text kernels (`DedupApprox.foreachToken` and the
  * kernels on it: `tokensOf`, `shinglesOf`, `shingleHashesOf`,
  * `TextAnalysis.qualityOf`, `langScoreOf`; the C4 line clean,
  * `TextAnalysis.c4CleanOf`) against the regex-split Column and Scala
  * forms they replaced, kept here as the reference: the same rows, bit
  * for bit, on edge texts, every BMP char and a random corpus. */
class TextKernelsSpec extends SparkSpec {
  import spark.implicits._

  // ---- the reference forms ---------------------------------------------

  private def refTokenize(t: Column): Column =
    array_remove(split(lower(t), "[^a-z0-9']+"), "")

  private def refTokensOf(text: String): Array[String] =
    if (text == null) Array.empty
    else text.toLowerCase.split("[^a-z0-9']+").filter(_.nonEmpty)

  private def refShinglesOf(text: String, n: Int): Array[String] = {
    val toks = refTokensOf(text)
    if (toks.isEmpty) Array.empty
    else if (toks.length < n) Array(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" ")).toArray.distinct
  }

  private def refShingleHashesOf(text: String, n: Int): Array[Long] = {
    val th = refTokensOf(text).map(DedupApprox.tokenHash31)
    if (th.isEmpty) Array.empty
    else {
      val w = math.min(n, th.length)
      th.sliding(w).map(_.foldLeft(0L)((h, t) => (h * 1000003 + t) % DedupApprox.HashMod))
        .toArray.distinct.sorted
    }
  }

  private def refWithQuality(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val nChars = length(t).cast("double")
    val toks = refTokenize(t)
    val nToks = size(toks).cast("double")
    val stopHits = size(filter(toks,
      w => array_contains(typedLit(Analyzer.StopWords.toSeq), w))).cast("double")
    val punct = length(regexp_replace(t, "[a-zA-Z0-9\\s]", "")).cast("double")
    df.withColumn("q_n_tokens", nToks.cast("long"))
      .withColumn("q_punct_ratio", when(nChars > 0, punct / nChars).otherwise(0.0))
      .withColumn("q_stopword_ratio", when(nToks > 0, stopHits / nToks).otherwise(0.0))
      .withColumn("q_mean_word_len",
        when(nToks > 0, length(array_join(toks, "")).cast("double") / nToks).otherwise(0.0))
      .withColumn("q_score",
        when(col("q_n_tokens") >= 5 && col("q_punct_ratio") < 0.3 &&
             col("q_mean_word_len").between(2.0, 12.0), 1.0).otherwise(0.0))
  }

  private def refLangBest(text: Column): Column = {
    val toks = array_distinct(refTokenize(text))
    greatest(TextAnalysis.Profiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(size(array_intersect(toks, typedLit(words))).as("score"), lit(lang).as("lang"))
    }: _*)
  }

  private def refWithLangId(df: DataFrame, textCol: String): DataFrame = {
    val best = refLangBest(col(textCol))
    df.withColumn("lang_pred",
        when(best.getField("score") > 0, best.getField("lang")).otherwise("und"))
      .withColumn("lang_score", best.getField("score"))
  }

  private def refLangIdOf(text: String): (String, Int) = {
    val toks = refTokensOf(text).toSet
    val (score, lang) = TextAnalysis.Profiles.toSeq.sortBy(_._1)
      .map { case (l, words) => (words.count(toks), l) }.max
    (if (score > 0) lang else "und", score)
  }

  /** The C4 line filter as a Column: split, then a lambda with a regex
    * split, `lower` per phrase and an `rlike` per line. */
  private def refC4Keep(textCol: String, minWords: Int, blocklist: Seq[String],
                        requireTerminalPunct: Boolean): Column =
    filter(split(coalesce(col(textCol), lit("")), "\n"), l => {
      val t = trim(l)
      val words = filter(split(t, " +"), w => length(w) > 0)
      val blocked = blocklist.map(p => contains(lower(t), lit(p))).reduce(_ || _)
      val punctOk = if (requireTerminalPunct) t.rlike("[.!?]$") else lit(true)
      punctOk && size(words) >= minWords && !blocked
    })

  private def refC4LineClean(df: DataFrame, minWords: Int, blocklist: Seq[String]): DataFrame = {
    val keep = refC4Keep("text", minWords, blocklist, requireTerminalPunct = true)
    df.select(col("id"),
      size(split(coalesce(col("text"), lit("")), "\n")).cast("long").as("n_lines"),
      size(keep).cast("long").as("n_kept"),
      length(array_join(keep, "\n")).cast("long").as("cleaned_len"),
      md5(array_join(keep, "\n").cast("binary")).as("cleaned_md5"))
  }

  // ---- inputs ------------------------------------------------------------

  private val edgeTexts: Seq[String] = Seq(
    null, "", " ", "   \n  ", "\t\u000B\f\r\n",
    "don't 42 rock'n'roll 'quoted' 3.14 x2y '' ' 007",
    "a\tb\u000Bc\fd\re\nf g",
    "İstanbul İ IİI the Kelvin K THE",
    "emoji 😀 here 𝒳 the 😀and",
    "«le» — la… “the” ¿qué? 、。  of ",
    "la", "de la", "the el le il der", "la la la LA", "del per la", "nicht und ein",
    "the the the is", "THE AND OF it's", "thethethethe isnot a1 1a",
    "ΣΟΣ straße ÉTÉ café naïve",
    "x" * 40 + " the " + "y" * 11)

  private val pieces: Array[String] = (Analyzer.StopWords.toSeq ++
    TextAnalysis.Profiles.values.flatten ++ Seq(
      "The", "AND", "Der", "LA", "x", "it's", "'", "''", "42", "a1", "3.5", "-", ",", ".",
      "!", "?", "\"", "(", ")", "#", "é", "ß", "Σ", "İ", "K",
      "Å", "—", "…", "«", "😀", "𝒳", "café",
      " ", "　", "straße", "Donaudampfschiff", "HELLO", "world")).toArray
  private val seps = Array(" ", " ", " ", "  ", "\t", "\n", "\u000B", "\f", "\r", "", "-")

  private def randomCorpus(n: Int, seed: Long): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val sb = new StringBuilder
      (0 until rnd.nextInt(60)).foreach { _ =>
        sb.append(if (rnd.nextInt(4) == 0) rnd.alphanumeric.take(1 + rnd.nextInt(12)).mkString
          else pieces(rnd.nextInt(pieces.length)))
        sb.append(seps(rnd.nextInt(seps.length)))
      }
      (i.toLong, if (i % 97 == 0) null else sb.toString)
    }
  }

  /** Every BMP char outside the surrogate block, and every 61st
    * supplementary code point, between two token chars. */
  private lazy val charTexts: Seq[(Long, String)] =
    ((0 until 0xD800) ++ (0xE000 to 0xFFFF) ++ (0x10000 to 0x10FFFF by 61)).map { cp =>
      (cp.toLong, "a" + new String(Character.toChars(cp)) + "b")
    }

  private def frame(texts: Seq[(Long, String)]): DataFrame = texts.toDF("id", "text")

  /** Line-structured texts for the C4 clean: terminal punctuation
    * before and after line terminators, runs of spaces and tabs,
    * blocklist phrases in other cases, empty lines. */
  private val c4Texts: Seq[String] = Seq(
    "Line one is here.\nshort.\nno punct here\njavascript is bad.\nLOREM IPSUM dolor sit.\n" +
      "{ brace } here.\n  spaced out line .  \n\n",
    "ends with CR.\r\nnext line ok!\r\nbare CR\r\n\r", "a b c.\r\r", "a b c.\u0085",
    "a b c.\u2028", "a b c.\u2029\n", "a b c\u2028.", "tab\tsep words here.",
    "multi   space   words ok?", "  \n  . \n?", "\n", "\n\n", "a b c", "a b c.",
    "İstanbul JAVASCRIPT x.", "Kelvin \u212A javaſcript x.", "x STRASSE ẞ y.", "ΣΑΣ x y.")

  /** Per code point (as in [[charTexts]]), lines that put the char at
    * a line's ends, between words, after a terminal punctuation mark and
    * inside a word. */
  private lazy val c4CharTexts: Seq[(Long, String)] =
    ((0 until 0xD800) ++ (0xE000 to 0xFFFF) ++ (0x10000 to 0x10FFFF by 61)).map { cp =>
      val c = new String(Character.toChars(cp))
      (cp.toLong, s"x y$c\n$c x y.\nx y.$c\n$c\nab${c}cd ef.\nx$c$c y!")
    }

  /** (minWords, blocklist, requireTerminalPunct) of each C4 check: the
    * defaults; one word and phrases that chars outside ASCII lower to;
    * no word or punctuation rule. */
  private val c4Params: Seq[(Int, Seq[String], Boolean)] = Seq(
    (3, Seq("javascript", "lorem ipsum", "{"), true),
    (1, Seq("javascript", "{", "ß", "i\u0307", "σ", "ς", "k", "ǆ"), true),
    (0, Seq("lorem ipsum"), false))

  private def checkC4(texts: Seq[(Long, String)]): Unit = {
    val df = frame(texts)
    c4Params.foreach { case (minWords, blocklist, punct) =>
      same(TextAnalysis.c4LineCleanText(df, "text", "c", minWords, blocklist, punct),
        df.withColumn("c", array_join(refC4Keep("text", minWords, blocklist, punct), "\n")))
      if (punct)
        same(TextAnalysis.c4LineClean(df, "id", "text", minWords, blocklist),
          refC4LineClean(df, minWords, blocklist))
    }
  }

  private def same(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.toSeq == b.columns.toSeq)
    val (ra, rb) = (a.orderBy("id").collect(), b.orderBy("id").collect())
    assert(ra.length == rb.length)
    val diff = ra.zip(rb).filter { case (x, y) => x != y }
    if (diff.nonEmpty) fail(s"${diff.length} rows differ, first: ${diff.head}")
  }

  private def checkAll(texts: Seq[(Long, String)]): Unit = {
    val df = frame(texts)
    same(TextAnalysis.withQuality(df, "text"), refWithQuality(df, "text"))
    same(TextAnalysis.withLangId(df, "text"), refWithLangId(df, "text"))
    // the struct itself only for non-null texts: a null text has a null
    // struct, where the reference has (null, "it"); every consumer reads
    // only `score > 0` and the lang behind it
    val nonNull = df.filter(col("text").isNotNull)
    same(nonNull.select(col("id"), TextAnalysis.langBest(col("text")).as("b")),
      nonNull.select(col("id"), refLangBest(col("text")).as("b")))
    // the Java-lowercased char scan against Spark's lower() + regex split
    same(df.select(col("id"), udf((t: String) => DedupApprox.tokensOf(t).toSeq)
        .apply(col("text")).as("t")),
      df.select(col("id"), coalesce(refTokenize(col("text")), typedLit(Seq.empty[String])).as("t")))
    texts.foreach { case (_, t) =>
      val clue = String.valueOf(t)
      assert(DedupApprox.tokensOf(t).toSeq == refTokensOf(t).toSeq, clue)
      assert(TextAnalysis.langIdOf(t) == refLangIdOf(t), clue)
      Seq(1, 3, 13).foreach { n =>
        assert(DedupApprox.shinglesOf(t, n).toSeq == refShinglesOf(t, n).toSeq, clue)
        assert(DedupApprox.shingleHashesOf(t, n).toSeq == refShingleHashesOf(t, n).toSeq, clue)
      }
    }
  }

  test("text kernels = the reference forms on edge texts") {
    checkAll(edgeTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    // spot values the reference would also give, so a shared mistake shows
    assert(TextAnalysis.langIdOf("de la") == (("fr", 2)))
    assert(TextAnalysis.langIdOf("la") == (("it", 1)))
    assert(TextAnalysis.langIdOf(null) == (("und", 0)))
    assert(DedupApprox.tokensOf("İx K").toSeq == Seq("i", "x", "k"))
    assert(TextAnalysis.qualityOf("a😀 é!") == ((1, 1, 1, 3, 5)))
  }

  test("text kernels = the reference forms on every BMP char") {
    checkAll(charTexts)
  }

  test("C4 line clean = the Column form on edge texts") {
    checkC4((edgeTexts ++ c4Texts).zipWithIndex.map { case (t, i) => (i.toLong, t) })
    val kept = TextAnalysis.c4LineCleanText(frame(Seq(0L -> c4Texts.head)), "text")
      .select("text_clean").as[String].head()
    assert(kept == "Line one is here.\n  spaced out line .  ")
  }

  test("C4 line clean = the Column form on every BMP char") {
    checkC4(c4CharTexts)
    // the lower-casing itself, char by char, against Spark's lower()
    val df = frame(c4CharTexts)
    val icu = spark.conf.get("spark.sql.icu.caseMappings.enabled", "true").toBoolean
    same(df.select(col("id"), udf((t: String) => TextAnalysis.sparkLower(t, icu))
        .apply(col("text")).as("l")),
      df.select(col("id"), lower(col("text")).as("l")))
  }

  test("text kernels = the reference forms on a random 500-doc corpus") {
    checkAll(randomCorpus(500, 17L))
    checkC4(randomCorpus(500, 18L))
  }
}
