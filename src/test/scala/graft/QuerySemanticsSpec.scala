package graft

import graft.ops.{Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Fixed-input pins for the operators that were previously proven only by
  * the harness oracle (VERDICT r9 item 7: ann_ivf, text_langid,
  * text_quality, q24_percentile, q25_rollup) — a refactor can no longer
  * change their semantics between harness runs without a local test
  * going red. */
class QuerySemanticsSpec extends SparkSuite {
  import spark.implicits._

  test("ivfTopK: identical vector is rank-1 cosine 1.0; self excluded; ranks dense") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),   // exact copy of the query vector
      (3L, Array(0.8f, 0.6f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f)),
      (5L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(corpus, corpus.filter(col("vec_id") === 1L),
        "vec_id", "embedding", k = 10, nCells = 4)
      .orderBy("rank").collect()
    assert(out.nonEmpty)
    assert(!out.exists(_.getAs[Long]("nid") == 1L)) // self never returned
    // the duplicate vector shares the query's cell BY CONSTRUCTION (the
    // cell id is a function of the vector) and must lead at cosine 1.0
    val first = out.head
    assert(first.getAs[Long]("nid") == 2L && first.getAs[Int]("rank") == 1)
    assert(math.abs(first.getAs[Double]("cosine") - 1.0) < 1e-9)
    assert(out.map(_.getAs[Int]("rank")).toSeq == (1 to out.length))
    val cosines = out.map(_.getAs[Double]("cosine")).toSeq
    assert(cosines == cosines.sorted.reverse) // non-increasing
  }

  test("langIdHeuristic: marker languages, CJK override, en tie-break, und") {
    val cases = Seq(
      "the cat and the dog is in a house that works" -> "en",
      "el perro y la casa de que los gatos en una" -> "es",
      "le chat et les chiens est une belle maison" -> "fr",
      "der hund und die katze ist nicht ein haus mit" -> "de",
      "mixed text with the 中文 characters" -> "zh", // CJK wins outright
      "the el" -> "en",                              // tie -> fixed order
      "xyzzy plugh qwerty" -> "und")
    val out = cases.map(_._1).toDF("text")
      .select(TextAnalysis.langIdHeuristic(col("text")))
      .collect().map(_.getString(0)).toSeq
    assert(out == cases.map(_._2))
  }

  test("quality signals: punct ratio, mean word length, stopword ratio, score") {
    def one(s: String) = Seq(s).toDF("text").select(
      TextAnalysis.punctRatio(col("text")),
      TextAnalysis.meanWordLength(col("text")),
      TextAnalysis.stopwordRatio(col("text")),
      TextAnalysis.qualityScore(col("text"))).head()
    val r = one("the cat sat on the mat with a hat")
    assert(r.getDouble(0) == 0.0)
    // 25 non-space chars / 9 tokens
    assert(math.abs(r.getDouble(1) - 25.0 / 9) < 1e-9)
    assert(math.abs(r.getDouble(2) - 3.0 / 9) < 1e-9) // the, the, a
    assert(r.getDouble(3) == 1.0) // all three gates pass
    // short (len 11) + punct-heavy: fails length and punct gates, but the
    // mean word length (9 chars / 3 tokens = 3.0) is in band -> score 1/3
    val junk = one("!!! ??? ***")
    assert(junk.getDouble(0) > 0.2)
    assert(math.abs(junk.getDouble(3) - 1.0 / 3) < 1e-9)
    // exactly one gate failing scores 2/3: long enough, sane words, but
    // punct ratio over the 0.2 line
    val semi = one("aa bb!! cc!! dd!! ee!! ff gg hh") // 8/30 punct
    assert(math.abs(semi.getDouble(3) - 2.0 / 3) < 1e-9)
  }

  test("gopherRules: each rule trips on its crafted violator, good doc passes") {
    val good = (Seq("the", "report", "was", "written", "with", "care") ++
      (0 until 60).map(i => s"word$i")).mkString(" ")
    val docs = Seq(
      1L -> good,
      2L -> "too short to pass the word count rule with these few words",
      3L -> (good + " " + (0 until 40).map(_ => "# #").mkString(" ")),
      4L -> (0 until 60).map(_ => "- bullet line").mkString("\n"),
      5L -> (0 until 60).map(_ => "trailing line ...").mkString("\n"),
      6L -> (Seq("the", "with") ++ (0 until 60).map(_ => "12345")).mkString(" "),
      7L -> (0 until 60).map(i => s"word$i").mkString(" "), // no required words
      8L -> (0 until 60).map(_ => "a").mkString(" "),       // mean word len 1
      // list-BEARING doc (50% bulleted): the paper only removes
      // bullet-DOMINATED docs (>90%), so this must KEEP
      9L -> ((0 until 30).map(_ => "- the item listed here with detail") ++
        (0 until 30).map(_ => "plain prose line of the document"))
        .mkString("\n"),
      // hash and ellipsis each under 0.1 separately (their SUM is over):
      // the paper applies the ratio per symbol, so this must KEEP
      10L -> (good + " # # # # " +
        "also ... some ... trailing ... thoughts ... here")
    ).toDF("id", "text")
    val out = docs
      .select(col("id"), TextAnalysis.gopherRules(col("text")).as("g"))
      .select(col("id"), col("g.*")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("passes"))
    assert(!out(2L).getAs[Boolean]("word_count_ok"))
    assert(!out(3L).getAs[Boolean]("symbol_ratio_ok"))
    assert(!out(4L).getAs[Boolean]("bullet_ok"))
    assert(!out(5L).getAs[Boolean]("ellipsis_ok"))
    assert(!out(6L).getAs[Boolean]("alpha_word_ok"))
    assert(!out(7L).getAs[Boolean]("required_words_ok"))
    assert(!out(8L).getAs[Boolean]("mean_word_len_ok"))
    assert((2L to 8L).forall(i => !out(i).getAs[Boolean]("passes")))
    // published-threshold fidelity: 50% bulleted lines KEEP (the rule
    // removes only >90% bullet-dominated docs) ...
    assert(out(9L).getAs[Boolean]("bullet_ok") &&
      out(9L).getAs[Boolean]("passes"))
    // ... and the 0.1 symbol ratio applies to '#' and '...' SEPARATELY
    // (each ~0.05 here; their sum is over 0.1 and must not fail the doc)
    assert(out(10L).getAs[Boolean]("symbol_ratio_ok") &&
      out(10L).getAs[Boolean]("passes"))
  }

  test("percentile: Spark's interpolated exact percentile on a pinned group") {
    val df = Seq(("A", 1.0), ("A", 2.0), ("A", 3.0), ("A", 4.0), ("B", 10.0))
      .toDF("g", "v")
    val out = df.groupBy("g")
      .agg(expr("percentile(v, 0.5)").as("p50"),
        expr("percentile(v, 0.95)").as("p95"))
      .orderBy("g").collect()
    assert(out(0).getDouble(1) == 2.5)                      // (2+3)/2
    assert(math.abs(out(0).getDouble(2) - 3.85) < 1e-9)     // 1 + 3*0.95
    assert(out(1).getDouble(1) == 10.0 && out(1).getDouble(2) == 10.0)
  }

  test("resample to month/quarter grain: avg + count per bucket") {
    val df = Seq(("2024-01-05", 10.0), ("2024-01-20", 20.0),
      ("2024-02-10", 7.0), ("2024-05-01", 1.0)).toDF("d", "v")
      .withColumn("d", to_date(col("d")))
    val m = graft.ops.Analytics.resampleMonthlyAvg(df, "d", "v")
      .orderBy("month").collect()
      .map(r => (r.get(0).toString, r.getDouble(1), r.getLong(2))).toSeq
    assert(m == Seq(("2024-01-01", 15.0, 2L), ("2024-02-01", 7.0, 1L),
      ("2024-05-01", 1.0, 1L)))
    val q = graft.ops.Analytics.resampleQuarterlyAvg(df, "d", "v")
      .orderBy("quarter").collect()
      .map(r => (r.get(0).toString, r.getDouble(1), r.getLong(2))).toSeq
    assert(q == Seq(("2024-01-01", 37.0 / 3, 3L), ("2024-04-01", 1.0, 1L)))
  }

  test("window analytics: lag change, rolling mean, YoY on a pinned series") {
    val df = Seq(("s", "2024-01-01", 10.0), ("s", "2024-02-01", 12.0),
      ("s", "2024-03-01", 9.0), ("s", "2025-01-01", 25.0))
      .toDF("series", "date", "v")
    val pc = graft.ops.Analytics.periodChange(df, Seq("series"), "date", "v")
      .orderBy("date").collect()
    assert(pc(0).isNullAt(pc(0).fieldIndex("change")))
    assert(pc(1).getAs[Double]("change") == 2.0)
    assert(math.abs(pc(1).getAs[Double]("pct_change") - 0.2) < 1e-9)
    assert(pc(2).getAs[Double]("change") == -3.0)
    val rm = graft.ops.Analytics.rollingMean(df, Seq("series"), "date", "v", 2)
      .orderBy("date").collect().map(_.getAs[Double]("rolling_mean_2")).toSeq
    assert(rm == Seq(10.0, 11.0, 10.5, 17.0))
    val yoy = graft.ops.Analytics.yoyChange(df, Seq("series"), "date", "v",
      periodsPerYear = 3).orderBy("date").collect()
    assert(yoy(3).getAs[Double]("yoy_change") == 15.0) // 25 - lag3(10)
  }

  test("decontaminate: shared 3-gram flags the doc, clean doc passes") {
    val train = Seq((1L, "the quick brown fox jumps high"),
      (2L, "completely unrelated corpus text here")).toDF("doc_id", "text")
    val bench = Seq((100L, "quick brown fox elsewhere")).toDF("doc_id", "text")
    val out = graft.ops.Dedup.decontaminate(train, bench, "doc_id", "text", 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_shared"),
        r.getAs[Boolean]("contaminated"))).toSeq
    assert(out == Seq((1L, 1L, true), (2L, 0L, false)))
  }

  test("salted aggregate and join: identical results to the unsalted forms") {
    val large = Seq(("k1", 1.0), ("k1", 2.0), ("k1", 3.0), ("k2", 10.0))
      .toDF("k", "v")
    val agg = graft.ops.Skew.saltedSumCount(large, Seq("k"), "v", salts = 4)
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getAs[Double]("sum_v"), r.getAs[Long]("cnt"))).toSeq
    assert(agg == Seq(("k1", 6.0, 3L), ("k2", 10.0, 1L)))
    val small = Seq(("k1", "a"), ("k2", "b")).toDF("k", "tag")
    val j = graft.ops.Skew.saltedJoin(large, small, Seq("k"), salts = 4)
      .orderBy("k", "v").collect().map(r => (r.getString(0),
        r.getAs[Double]("v"), r.getString(2))).toSeq
    val expected = large.join(small, Seq("k")).orderBy("k", "v")
      .collect().map(r => (r.getString(0), r.getAs[Double]("v"), r.getString(2))).toSeq
    assert(j == expected && j.length == 4)
  }

  test("boilerplateFilter: frequent segment dropped everywhere, rare kept") {
    // 3-word segments; "the same header" opens 3 of 4 docs (df=3 > 2),
    // each doc's remaining segment is unique (df=1)
    val docs = Seq(
      (1L, "the same header alpha beta gamma"),
      (2L, "the same header delta epsilon zeta"),
      (3L, "the same header eta theta iota"),
      (4L, "totally original text kappa lambda mu")
    ).toDF("doc_id", "text")
    val out = graft.ops.Dedup.boilerplateFilter(docs, "doc_id", "text",
        segWords = 3, maxDocFreq = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_segs"),
        r.getAs[Long]("n_kept"), r.getAs[String]("clean_text"))).toSeq
    assert(out == Seq(
      (1L, 2L, 1L, "alpha beta gamma"),
      (2L, 2L, 1L, "delta epsilon zeta"),
      (3L, 2L, 1L, "eta theta iota"),
      (4L, 2L, 2L, "totally original text kappa lambda mu")))
    // contrast with segmentDedup: the shared header KEEPS its first copy
    val sd = graft.ops.Dedup.segmentDedup(docs, "doc_id", "text", segWords = 3)
      .orderBy("doc_id").collect().map(_.getAs[String]("clean_text")).toSeq
    assert(sd.head == "the same header alpha beta gamma")
  }

  test("redactPii: typed placeholders, dates and short numbers untouched") {
    def red(s: String) = Seq(s).toDF("text")
      .select(TextAnalysis.redactPii(col("text"))).head().getString(0)
    assert(red("mail me at jo.doe+x@sub.example.co.uk today") ==
      "mail me at <EMAIL> today")
    assert(red("server 192.168.001.1 and 10.0.0.7 up") ==
      "server <IP> and <IP> up")
    assert(red("call +1 555-0042 or 555-867-5309 now") ==
      "call <PHONE> or <PHONE> now")
    assert(red("card 4000123456789010 flagged") == "card <NUMBER> flagged")
    // false-positive guards: dates, years, prices, short ids survive
    assert(red("on 2024-01-01 price 12.99 id 42 year 2024") ==
      "on 2024-01-01 price 12.99 id 42 year 2024")
    import graft.ops.TextAnalysis.redactionCount
    val counts = Seq("a@b.co and c@d.org 10.0.0.1").toDF("text")
      .select(TextAnalysis.redactPii(col("text")).as("t"))
      .select(redactionCount(col("t"), "<EMAIL>"),
        redactionCount(col("t"), "<IP>")).head()
    assert(counts.getInt(0) == 2 && counts.getInt(1) == 1)
  }

  test("rollup: per-pair rows, per-flag subtotals, grand total with nulls") {
    val df = Seq(("A", "x", 1.0), ("A", "y", 2.0), ("B", "x", 4.0))
      .toDF("f", "s", "qty")
    val out = df.rollup("f", "s")
      .agg(count(lit(1)).as("n"), sum("qty").as("sum_qty"))
      .orderBy(col("f").asc_nulls_first, col("s").asc_nulls_first)
      .collect()
      .map(r => (r.getAs[String]("f"), r.getAs[String]("s"),
        r.getAs[Long]("n"), r.getAs[Double]("sum_qty"))).toSeq
    assert(out == Seq(
      (null, null, 3L, 7.0),  // grand total
      ("A", null, 2L, 3.0),   // subtotal A
      ("A", "x", 1L, 1.0),
      ("A", "y", 1L, 2.0),
      ("B", null, 1L, 4.0),   // subtotal B
      ("B", "x", 1L, 4.0)))
  }

  test("qualityRuleCount is the integer numerator of qualityScore") {
    import graft.ops.TextAnalysis
    val df = Seq("short", ("word " * 50).trim, "!!!???;;;,,,...",
      "a perfectly ordinary sentence with enough length to pass the band")
      .toDF("text")
    val out = df.select(TextAnalysis.qualityRuleCount(col("text")).as("nq"),
      (TextAnalysis.qualityScore(col("text")) * 3).as("q3")).collect()
    assert(out.forall(r => r.getInt(0) == math.round(r.getDouble(1)).toInt))
    assert(out.map(_.getInt(0)).distinct.length > 1) // fixture not vacuous
  }

  test("IVF-PQ refined search holds a recall@10 floor on a planted-cluster space") {
    // QUALITY floor, not a hash pin: pq_recall's oracle replays whatever
    // the quantizer fit produces, so a codebook-training regression that
    // halves recall would still hash-match — this spec is the independent
    // gate. 200 vectors in 16 dims, 8 planted clusters (25 members each,
    // axis-aligned centers + small deterministic jitter): each query's
    // true top-10 lies inside its own cluster, so the trained
    // coarse+residual quantizer with 2 probes and a 50-shortlist exact
    // refine must recover nearly all of it. Floor 0.90 mean
    // recall_refined@10 over 20 queries (measured 1.00 on this fixture;
    // the slack absorbs legitimate tie-order drift, not quality loss).
    // Floor recorded in COVERAGE.md.
    import graft.ops.KMeans
    val emb = (0L until 200L).map { i =>
      val c = (i % 8).toInt
      (i, Array.tabulate(16) { d =>
        val base = if (d == 2 * c || d == 2 * c + 1) 2.0f else 0.0f
        base + 0.02f * ((i * 31 + d * 7) % 11 - 5)
      })
    }.toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" < 20)
    val vv = Similarity.asDouble(col("embedding"))
    val coarse = KMeans.fit(emb, "vec_id", "embedding", k = 8, iters = 2)
    val res = emb.select(col("vec_id"),
      KMeans.residualExpr(vv, KMeans.assignExpr(vv, coarse), coarse)
        .as("res"))
    val books = KMeans.pqFit(res, "vec_id", "res", m = 4, k = 16, iters = 1)
    val refined = KMeans.ivfPqRefinedTopK(emb, q, "vec_id", "embedding",
      kNN = 10, coarse, books, probes = 2, shortlist = 50)
    // exact L2 ground truth, same tie discipline (d2 asc, nid asc)
    val cv = emb.select(col("vec_id").as("nid"),
      Similarity.asDouble(col("embedding")).as("cv"))
    val qv = q.select(col("vec_id").as("qid"),
      Similarity.asDouble(col("embedding")).as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("d2"), col("nid"))
    val exact = cv.join(broadcast(qv), col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        Similarity.sqDist(col("qv"), col("cv")).as("d2"))
      .withColumn("r", row_number().over(w)).filter(col("r") <= 10)
      .select("qid", "nid")
    val hits = refined.select("qid", "nid")
      .join(exact, Seq("qid", "nid")).count()
    val recall = hits.toDouble / (20 * 10)
    assert(recall >= 0.90,
      s"mean recall_refined@10 = $recall fell below the 0.90 floor")
  }

  test("large-k fit seeds through the running-min path and separates 40 planted blobs") {
    import graft.ops.KMeans
    // 40 one-hot-separated clusters (10 members each) in 40 dims — k=40
    // is past RunningMinSeedThreshold, so fit seeds by the checkpointed
    // running-min farthest-first traversal (40 scans). After 2 Lloyd
    // rounds every blob must be PURE (one cluster per blob) and blobs
    // must not merge.
    val emb = (0L until 400L).map { i =>
      val c = (i % 40).toInt
      (i, Array.tabulate(40) { d =>
        val base = if (d == c) 5.0f else 0.0f
        base + 0.05f * ((i * 13 + d * 5) % 7 - 3)
      })
    }.toDF("vec_id", "embedding")
    val cents = KMeans.fit(emb, "vec_id", "embedding", k = 40, iters = 2)
    assert(cents.size == 40, s"expected 40 centroids, got ${cents.size}")
    val vv = Similarity.asDouble(col("embedding"))
    val assigned = emb
      .select((col("vec_id") % 40).as("blob"),
        KMeans.assignExpr(vv, cents).as("cluster"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val byBlob = assigned.groupBy(_._1).map { case (b, rs) =>
      b -> rs.map(_._2).distinct }
    assert(byBlob.values.forall(_.size == 1),
      s"some blob split across clusters: ${byBlob.filter(_._2.size > 1)}")
    val clustersUsed = byBlob.values.map(_.head).toSeq.distinct
    assert(clustersUsed.size == 40,
      s"blobs merged: only ${clustersUsed.size} distinct clusters for 40 blobs")
    // determinism: a refit lands on bit-identical centroids
    val cents2 = KMeans.fit(emb, "vec_id", "embedding", k = 40, iters = 2)
    assert(cents == cents2, "large-k fit is not deterministic across runs")
  }
}
