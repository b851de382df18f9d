package graft

import graft.table.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Differential tests of the curate-path text kernels against the Column
  * formulations they replace, kept here as the oracles: the Gopher counts
  * (`split`/`size`/`length`/`regexp_extract_all`) and the guarded PII passes
  * (the unguarded five-regex chain). */
class TextKernelSpec extends SparkSpec {
  import spark.implicits._

  private val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** gopherQualityFlags as it was built from Spark built-ins. */
  private def gopherOracle(df: DataFrame, textCol: String, minWords: Int, maxWords: Int,
                           minMean: Double, maxMean: Double, minStops: Int,
                           maxSymbolRatio: Double): DataFrame = {
    val t = col(textCol)
    val nWords = size(split(t, " "))
    val meanLen = (length(t) - (nWords - 1)).cast("double") / nWords.cast("double")
    val stopHits = when(t.isNotNull, size(filter(split(t, " "), w => w.isin(gopherStops: _*))))
    val symbolHits = size(regexp_extract_all(t, lit("[#…]|\\.\\.\\."), lit(0)))
    df.withColumn("n_words", nWords)
      .withColumn("mean_word_len", meanLen)
      .withColumn("ok_word_count", nWords.between(minWords, maxWords))
      .withColumn("ok_mean_word_len", meanLen.between(minMean, maxMean))
      .withColumn("ok_stopwords", stopHits >= minStops)
      .withColumn("ok_symbol_ratio",
        symbolHits.cast("double") / nWords.cast("double") <= maxSymbolRatio)
      .withColumn("keep",
        col("ok_word_count") && col("ok_mean_word_len") &&
          col("ok_stopwords") && col("ok_symbol_ratio"))
  }

  private val adversarial: Seq[String] = Seq(
    "", " ", "  ", "the", " the", "the ", "the  of", "  the of  ",
    "über zwölf étoile 漢字テスト the", "😀 the 😀😀 of", "a\u00a0the of", // NBSP is not a split point
    "…", "....", "......", ".....", "..", "#", "# # #", "#…#", "a…b...c",
    "...…", ".. .", "#...#", "the... of … and ## with", "The THE the, the.",
    "to be or not to be that is the question", "have with and of to be that the",
    ("the of and " * 20 + "word " * 40).trim, ("extraordinarily " * 50 + "the of").trim,
    ("the ... " * 30).trim, ("naïve café " * 30 + "the of").trim)

  private def withAnsi[T](ansi: Boolean)(body: => T): T = {
    val prev = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
    try body finally prev match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  private def sameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema === want.schema)
    val g = got.orderBy("id").collect().toSeq
    val w = want.orderBy("id").collect().toSeq
    g.zip(w).foreach { case (a, b) => assert(a === b, s"native $a vs oracle $b") }
    assert(g.size === w.size)
  }

  test("gopherQualityFlags equals the split/size/regex formulation on adversarial text") {
    // rows: the adversarial strings, a null text, and invalid UTF-8 (a stray
    // continuation byte, a truncated lead byte before a space, an ellipsis)
    val texts = adversarial.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "text")
      .unionByName(Seq((1000L, null.asInstanceOf[String])).toDF("id", "text"))
      .unionByName(spark.range(1).select(lit(1001L).as("id"),
        expr("cast(unhex('80C32074686520E280A62E2E2E') as string)").as("text")))
    val settings = Seq(
      (50, 100000, 3.0, 10.0, 2, 0.1), // the defaults
      (1, 3, 1.0, 4.0, 1, 0.3),
      (0, 0, 0.0, 1.0, 0, 1.0))
    for (ansi <- Seq(true, false); (minW, maxW, minM, maxM, minS, maxR) <- settings) withAnsi(ansi) {
      val got = TextAnalysis.gopherQualityFlags(texts, "text", minW, maxW, minM, maxM, minS, maxR)
      sameRows(got, gopherOracle(texts, "text", minW, maxW, minM, maxM, minS, maxR))
      sameRows(got.filter(col("keep")),
        gopherOracle(texts, "text", minW, maxW, minM, maxM, minS, maxR).filter(col("keep")))
    }
  }

  test("n_chars counts code points, and a null text gives size(split(null))") {
    val df = Seq((1L, "ab 漢字 😀"), (2L, null.asInstanceOf[String])).toDF("id", "text")
    withAnsi(ansi = true) {
      val r = TextAnalysis.gopherQualityFlags(df, "text").orderBy("id").collect()
      assert(r(0).getAs[Int]("n_words") === 3)
      assert(r(0).getAs[Double]("mean_word_len") === (7 - 2) / 3.0) // 7 code points
      assert(r(1).isNullAt(r(1).fieldIndex("n_words")))
    }
    withAnsi(ansi = false) { // legacy size(null) = -1
      val r = TextAnalysis.gopherQualityFlags(df, "text").orderBy("id").collect()
      assert(r(1).getAs[Int]("n_words") === -1)
    }
  }

  private def unguardedRedact(t: Column): Column =
    TextAnalysis.piiPatterns.foldLeft(t) { case (acc, (cat, pat)) =>
      regexp_replace(acc, lit(pat), lit(s"<${cat.toUpperCase}>"))
    }

  private def unguardedScan(df: DataFrame, textCol: String): DataFrame = {
    val withCounts = TextAnalysis.piiPatterns.foldLeft(df) { case (acc, (cat, pat)) =>
      acc.withColumn(s"${cat}_hits",
        size(regexp_extract_all(col(textCol), lit(pat), lit(0))).cast("long"))
    }
    val total = TextAnalysis.piiPatterns.map(p => col(s"${p._1}_hits")).reduce(_ + _)
    withCounts.withColumn("pii_total", total).withColumn("has_pii", total > 0)
  }

  private val piiTexts: Seq[String] = Seq(
    "mail bob99@example.com or a1.b2@c3.io now",          // emails with digits
    "<EMAIL>4111 1111 1111 1111 and <EMAIL> 4111-1111-1111-1111",
    "x@y.com4111 1111 1111 1111",                           // placeholder lands next to a card
    "card 1234-5678-9012-3456 ssn 123-45-6789 phone 555-867-5309",
    "1234 5678 9012 3456 555.867.5309 123-45-6789",         // card vs phone/ssn overlaps
    "555-867-53091 123-45-67890 1234-5678-9012-34567",      // \b-bounded near misses
    "ip 192.168.0.1 and 10.0.0.256 and 1.2.3.4.5",
    "at sign only: someone@example, @handle, a@b",          // @ without digits
    "reach team@example.org today",                         // email without digits
    "digits 12345 and 2024-01-02 without at",               // digits without @
    "٣٣٣-٣٣-٣٣٣٣ ١٢٣.١٢٣.١٢٣٤ ٤١١١ ٤١١١ ٤١١١ ٤١١١",      // non-ASCII digits: \d does not match
    "٣@x.com and ٣٣٣-٣٣-٣٣٣٣ 7",                            // one ASCII digit turns the passes on
    "", "no identifiers at all")

  test("guarded piiRedact equals the unguarded five-regex chain") {
    val df = piiTexts.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "text")
      .unionByName(Seq((1000L, null.asInstanceOf[String])).toDF("id", "text"))
    sameRows(df.select(col("id"), TextAnalysis.piiRedact(col("text")).as("r")),
      df.select(col("id"), unguardedRedact(col("text")).as("r")))
    // the guards skip passes, never change output: a row of each kind differs
    // from its input only where the chain redacts
    val red = df.select(col("id"), TextAnalysis.piiRedact(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(red(2L) === "<EMAIL><CARD>")
    assert(red(10L) === piiTexts(10))
  }

  test("piiRedact of a nondeterministic text redacts the string it returns") {
    // each row draws one of two texts; a guard evaluating its own copy of the
    // draw could let the phone number through unredacted
    val drawn = when(rand(7) < 0.5, lit("call 555-867-5309")).otherwise(lit("no numbers here"))
    for ((wholeStage, mode) <- Seq(("true", "CODEGEN_ONLY"), ("false", "NO_CODEGEN"))) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val out = spark.range(0, 2000, 1, 2).select(TextAnalysis.piiRedact(drawn).as("r"))
          .collect().map(_.getString(0)).toSet
        assert(out === Set("call <PHONE>", "no numbers here"), mode)
        graft.sql.GraftFunctions.register(spark)
        val viaSql = spark.sql("""SELECT graft_pii_redact(CASE WHEN rand(7) < 0.5
          THEN 'call 555-867-5309' ELSE 'no numbers here' END) AS r FROM range(0, 2000, 1, 2)""")
          .collect().map(_.getString(0)).toSet
        assert(viaSql === out, mode)
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("guarded piiScan equals the unguarded counts, 0 where a guard skips") {
    val df = piiTexts.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "text")
      .unionByName(Seq((1000L, null.asInstanceOf[String])).toDF("id", "text"))
    for (ansi <- Seq(true, false)) withAnsi(ansi) {
      sameRows(TextAnalysis.piiScan(df, "text"), unguardedScan(df, "text"))
    }
  }

  test("graft_pii_redact from SQL runs the guarded redaction") {
    graft.sql.GraftFunctions.register(spark)
    val df = piiTexts.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "text")
    df.createOrReplaceTempView("pii_texts")
    sameRows(spark.sql("SELECT id, graft_pii_redact(text) AS r FROM pii_texts"),
      df.select(col("id"), unguardedRedact(col("text")).as("r")))
  }
}
