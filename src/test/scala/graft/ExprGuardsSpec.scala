package graft

import org.apache.spark.sql.functions._

/** CappedCollectList: exact collect_list semantics under the cap, bounded
  * buffer (cap+1 elements) above it — the memory-shape guard for every
  * banded dedup/LSH operator (VERDICT r2 "What's wrong #3"). */
class CappedCollectSpec extends SparkSpec {
  import spark.implicits._

  test("equals collect_list for every group at or under the cap") {
    val df = spark.range(0, 5000, 1, 8)
      .selectExpr("id % 200 as g", "id as v") // 25 elements per group
    val capped = df.groupBy("g")
      .agg(sort_array(graft.expr.CappedCollectList(col("v"), 25)).as("xs"))
    val plain = df.groupBy("g")
      .agg(sort_array(collect_list(col("v"))).as("xs"))
    assert(capped.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(capped).count() === 0)
  }

  test("over-cap groups stop accumulating at cap+1 elements") {
    val df = spark.range(0, 100000, 1, 16).selectExpr("id % 2 as g", "id as v")
    val sizes = df.groupBy("g")
      .agg(size(graft.expr.CappedCollectList(col("v"), 100)).as("n"))
      .collect().map(_.getInt(1))
    // 50k rows per group, buffer must hold exactly cap+1 = 101
    assert(sizes.forall(_ === 101), sizes.mkString(","))
  }

  test("struct elements survive the capped collect intact") {
    val df = Seq((1L, 10), (1L, 20), (2L, 30)).toDF("g", "v")
    val got = df.groupBy("g")
      .agg(sort_array(graft.expr.CappedCollectList(struct(col("v"), col("g")), 10)).as("xs"))
      .orderBy("g").collect()
    assert(got(0).getSeq[org.apache.spark.sql.Row](1).map(_.getInt(0)) === Seq(10, 20))
    assert(got(1).getSeq[org.apache.spark.sql.Row](1).map(_.getInt(0)) === Seq(30))
  }

  test("postingPairs rejects lists past the Int-overflow bound with a clear error") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.LongType
    val big = new GenericArrayData(
      Array.tabulate[Any](65536)(i => InternalRow(i.toLong, 0L)))
    val e = intercept[IllegalArgumentException] {
      graft.expr.ShingleUtil.postingPairs(big, LongType, LongType)
    }
    assert(e.getMessage.contains("65536"))
    assert(e.getMessage.contains("cap the bucket"))
  }
}

/** Adversarial mega-bucket inputs: a degenerate key that maps EVERY row to
  * one bucket must cost O(cap) buffer per group and finish promptly — not
  * materialize the full posting list before the size filter. */
class MegaBucketSpec extends SparkSpec {
  import spark.implicits._

  test("simhashNearDups survives 100k identical docs (one mega-bucket per band)") {
    // all rows share one signature → every band bucket holds all 100k ids;
    // with the capped collect each buffer stops at maxBucket+1 and the
    // bucket is dropped — result: no pairs, bounded memory, fast
    val docs = spark.range(0, 100000, 1, 32)
      .select(col("id").as("doc_id"), lit(Array(7, 8, 9, 10, 11)).as("tokens"))
    val pairs = graft.table.Dedup.simhashNearDups(docs, "doc_id", "tokens",
      maxHamming = 3, maxBucket = 100)
    assert(pairs.count() === 0L)
  }

  test("lshNearDups survives 50k identical vectors (one mega-bucket per table)") {
    val vecs = spark.range(0, 50000, 1, 32)
      .select(col("id").as("vec_id"),
        lit(Array.tabulate(16)(i => 1.0f + i)).as("embedding"))
    val pairs = graft.table.Dedup.lshNearDups(vecs, "vec_id", "embedding",
      minCosine = 0.9, numPlanes = 4, numTables = 2, maxBucket = 50)
    assert(pairs.count() === 0L)
  }

  test("under-cap buckets still produce exact pairs alongside a mega-bucket") {
    // 20k docs with one universal signature + 3 docs with a distinct shared
    // signature: the mega-bucket is dropped, the small bucket's 3 pairs
    // (hamming 0) must all survive
    val mega = spark.range(0, 20000, 1, 16)
      .select(col("id").as("doc_id"), lit(Array(7, 8, 9, 10, 11)).as("tokens"))
    val small = Seq(
      (100001L, Array(500, 600, 700)),
      (100002L, Array(500, 600, 700)),
      (100003L, Array(500, 600, 700))).toDF("doc_id", "tokens")
    val pairs = graft.table.Dedup.simhashNearDups(mega.unionByName(small),
      "doc_id", "tokens", maxHamming = 3, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((100001L, 100002L), (100001L, 100003L), (100002L, 100003L)))
  }

  test("exactDuplicates: mega-group keeps exact dup_count with bounded ids") {
    // 40k identical docs + one 3-doc group: counts stay EXACT (count(1) is
    // O(1) per group), ids are the full group under maxIds and a bounded
    // sample above it — no 40k-element agg buffer
    val mega = spark.range(0, 40000, 1, 16)
      .select(col("id").as("doc_id"), lit("same same same").as("text"))
    val small = Seq((50001L, "other"), (50002L, "other"), (50003L, "other"))
      .toDF("doc_id", "text")
    val got = graft.table.Dedup.exactDuplicates(
        mega.unionByName(small), "doc_id", "text", maxIds = 100)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2)))
    assert(got.length === 2)
    val byText = got.map(g => g._1 -> g).toMap
    assert(byText("same same same")._2 === 40000L)
    assert(byText("same same same")._3.length === 100) // bounded sample
    assert(byText("other")._2 === 3L)
    assert(byText("other")._3 === Seq(50001L, 50002L, 50003L)) // exact under cap
  }

  test("simhashDuplicates: mega-signature group bounded the same way") {
    val mega = spark.range(0, 30000, 1, 16)
      .select(col("id").as("doc_id"), lit(Array(7, 8, 9)).as("tokens"))
    val got = graft.table.Dedup.simhashDuplicates(mega, "doc_id", "tokens",
        maxIds = 64)
      .collect().map(r => (r.getLong(1), r.getSeq[Long](2)))
    assert(got.length === 1)
    assert(got(0)._1 === 30000L)
    assert(got(0)._2.length === 64)
  }

  test("jaccardPairs keeps one-scan discipline with a universal stop-shingle") {
    // every doc carries stop-shingle (1,2,3); capped postings drop it while
    // the true dup pair (ids 0,1) still surfaces — same contract as SkewSpec
    // but at a doc count where an uncapped collect would hold 30k structs.
    // Suffix token ranges are disjoint across docs (10000+5i..+4), so the
    // ONLY cross-doc shingle is the stop prefix.
    val docs = (0 until 30000).map { i =>
      val suffix = if (i < 2) Seq(900, 901, 902, 903, 904)
                   else (0 until 5).map(k => 10000 + i * 5 + k)
      (i.toLong, (Seq(1, 2, 3) ++ suffix).toArray)
    }.toDF("doc_id", "tokens")
    val got = graft.table.Dedup.jaccardPairs(docs, "doc_id", "tokens",
      minJaccard = 0.5, maxDocFreq = 100).collect()
    assert(got.length === 1)
    assert(got(0).getLong(0) === 0L && got(0).getLong(1) === 1L)
  }
}

/** Non-ASCII token semantics pin (ADVICE r2): the native AsciiTokens uses the
  * first CODE POINT — DuckDB `ascii()` semantics, what the oracle computes.
  * Empirically Spark 4.1.2's `ascii()` ALSO returns the code point for
  * non-ASCII leads (not the first UTF-8 byte), so all three formulations
  * agree; this test pins that three-way agreement so a Spark behavior change
  * surfaces here rather than as a silent oracle divergence. */
class NonAsciiTokenSpec extends SparkSpec {
  import spark.implicits._

  test("native tokens = codepoint·32 + min(len,31), matching Spark ascii() and DuckDB") {
    val df = Seq("über zwölf étoile 漢字テスト plain").toDF("text")
    val native = df.select(graft.expr.TextExprs.asciiTokens(col("text")).as("t"))
      .collect()(0).getSeq[Int](0)
    // expected per word: codePointAt(0)·32 + min(codePointCount,31)
    val want = "über zwölf étoile 漢字テスト plain".split(" ", -1).map { w =>
      (if (w.isEmpty) 0 else w.codePointAt(0)) * 32 + math.min(w.codePointCount(0, w.length), 31)
    }.toSeq
    assert(native === want)
    assert(native.head === 0xFC * 32 + 4) // 'ü' = U+00FC, len 4
    // Spark 4.1.2 ascii() returns the first code point (NOT the first UTF-8
    // byte): the Column formulation agrees with the native expression even
    // on non-ASCII text. length() counts code points likewise.
    val sparkAscii = df.select(
      transform(split(col("text"), " ", -1),
        w => ascii(w) * 32 + least(length(w), lit(31))).as("t"))
      .collect()(0).getSeq[Int](0)
    assert(native === sparkAscii)
  }

  test("nullable-returning expressions survive CODEGEN_ONLY over non-null input") {
    // Regression: an expression that can return null for a NON-null child
    // must declare nullable=true, or codegen folds ev.isNull to the constant
    // "false", the generated class fails to compile, and the whole projection
    // silently drops to interpreted eval. CODEGEN_ONLY turns that silent
    // fallback into a hard failure.
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val df = spark.range(4).select(
        array(lit(1.0), lit(2.0)).as("v"),
        array(lit(3), lit(4), lit(5)).as("toks")) // both non-nullable
      val out = df.select(
        graft.expr.VectorExprs.quantize(col("v"), 1000.0).as("qv"),
        graft.expr.VectorExprs.nearestCell(
          graft.expr.VectorExprs.quantize(col("v"), 1000.0),
          Array(Array(0.0, 0.0), Array(5000.0, 5000.0))).as("cell"),
        graft.expr.DsirExprs.bigramBuckets(col("toks"), 64).as("bb"),
        graft.expr.DsirExprs.bigramLogSum(col("toks"),
          Array.fill(64)(7L), 64).as("w"),
        graft.expr.TextExprs.sanitizeTokens(col("toks"), 5, 0).as("san"),
        graft.expr.TextExprs.oovCount(col("toks"), 5).as("oov"),
        graft.expr.TextExprs.gopherCounts(lit("the cat… sat ... 42"), Seq("the")).as("gc"),
        graft.expr.TextExprs.hasAsciiDigit(lit("the cat… sat ... 42")).as("digit"))
        .collect()
      assert(out.head.getInt(1) == 0 && out.head.getLong(3) == 14L)
      assert(out.head.getSeq[Int](4) == Seq(3, 4, 0) && out.head.getInt(5) == 1)
      assert(out.head.getStruct(6).toSeq == Seq(5, 19, 1, 2) && out.head.getBoolean(7))
      // and over a nullable text with a null row, through the guarded projection
      val texts = Seq(Some("the of and ... #"), None).toDF("text")
      val flags = graft.table.TextAnalysis.gopherQualityFlags(texts, "text",
          minWords = 1, minMeanWordLen = 0.0, minStopwordHits = 1, maxSymbolRatio = 1.0)
        .select("n_words", "keep").collect()
      assert(flags(0).getInt(0) == 5 && flags(0).getBoolean(1))
      // null under ANSI, size(null) = -1 under legacySizeOfNull: never kept
      assert(flags(1).isNullAt(1) || !flags(1).getBoolean(1))
      val pii = Seq(Some("a@b.co 555-867-5309"), Some("plain"), None).toDF("text")
        .select(graft.table.TextAnalysis.piiRedact(col("text"))).collect().map(_.getString(0))
      assert(pii.toSeq == Seq("<EMAIL> <PHONE>", "plain", null))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}

/** Plan shapes of the curate path's text work: each per-document function
  * runs once per row. */
class CuratePlanSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  /** The expressions of `plan` above any cached relation: an
    * InMemoryRelation is a leaf, so its cached plan is not visited. */
  private def aboveCache(plan: LogicalPlan): Seq[Expression] =
    plan.collect { case n => n.expressions }.flatten.flatMap(_.collect { case e => e })

  test("the keep filter over gopherQualityFlags runs one native count scan, no split or regex") {
    // not a local relation, which the optimizer would evaluate away
    val df = spark.range(4).select(col("id"),
      concat(lit("the cat sat on the mat ... # "), col("id").cast("string")).as("text"))
    val plan = graft.table.TextAnalysis.gopherQualityFlags(df, "text")
      .filter(col("keep")).queryExecution.optimizedPlan
    val str = plan.toString
    assert(!str.contains("split("), str)
    assert(!str.contains("regexp_extract_all("), str)
    assert(aboveCache(plan).count(_.isInstanceOf[graft.expr.GopherCounts]) === 1, str)
  }

  test("curate tokenizes once: the fuzzy-dedup plans read _toks from the cached stage") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val good = ("the of and " * 12 + "alpha beta gamma delta " * 5).trim
    val docs = Seq((1L, good, "en"), (2L, good, "en"), (3L, good + " extra", "en"),
        (4L, (good + " ") * 2, "en"))
      .toDF("doc_id", "text", "lang")
    val bench = Seq((9L, "zzz yyy xxx www vvv", "en")).toDF("doc_id", "text", "lang")
    spark.listenerManager.register(listener)
    try {
      graft.table.Curation.curate(docs, "doc_id", "text", "lang", bench,
        keepLangs = Seq("en"), minWords = 20)
      // events arrive in order: once the sentinel's is in, curate's all are
      spark.range(1).selectExpr("'curate-plan-sentinel' AS s").collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.toArray.exists(_.toString.contains("curate-plan-sentinel")) &&
             System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val fuzzy = seen.toArray.toSeq.map(_.asInstanceOf[QueryExecution].optimizedPlan)
      .filter(p => aboveCache(p).exists(_.isInstanceOf[graft.expr.MinHashSignature]))
    assert(fuzzy.nonEmpty, "no fuzzy-dedup plan observed")
    fuzzy.foreach { p =>
      assert(aboveCache(p).count(_.isInstanceOf[graft.expr.AsciiTokens]) === 0, p.toString)
    }
  }
}
