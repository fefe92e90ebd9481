package graft

import graft.ops._
import org.apache.spark.sql.functions._

/** Unit tests for the scalar/reshape operator library: full month/quarter
  * date algebra (SURVEY.md §5.1), coercions, percent heuristic, melt. */
class OpsSpec extends SparkSuite {

  test("lineRepetitionSignals: hand-computed fractions, empty lines skipped") {
    import spark.implicits._
    val docs = Seq(
      // x,x,x + one 14-char line: dup=2/4=0.5 (fails 0.3), dupc=2/17
      // (0.117647, keeps 0.2)
      (1L, "x\nx\nx\nlong line here"),
      (2L, "alpha\nbeta\ngamma"),                 // all unique: 0, 0
      (3L, "a\n\na")                              // empty line skipped: 1/2
    ).toDF("id", "text")
    val out = graft.ops.Corpus.lineRepetitionSignals(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 4L)
    assert(out(1L).getDouble(2) == 0.5 && !out(1L).getBoolean(4))
    assert(out(1L).getDouble(3) == 0.117647 && out(1L).getBoolean(5))
    assert(out(2L).getDouble(2) == 0.0 && out(2L).getBoolean(4) &&
      out(2L).getBoolean(5))
    assert(out(3L).getLong(1) == 2L && out(3L).getDouble(2) == 0.5)
  }

  test("naiveBayesClassify: separable fixture classified perfectly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apfel brot apfel", "de"),
      (2L, "brot apfel brot", "de"),
      (3L, "cat dog cat", "en"),
      (4L, "dog cat dog", "en"),
      (5L, "apfel apfel brot", "de"),
      (6L, "cat cat dog", "en")).toDF("id", "text", "lang")
    val out = graft.ops.Corpus.naiveBayesClassify(docs, "id", "text", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "de", 2L -> "de", 3L -> "en", 4L -> "en",
      5L -> "de", 6L -> "en"), s"misclassified: $out")
    // a doc of tokens UNSEEN in training still classifies (smoothed
    // surprisal, never an infinity) — to the smaller-N_c class is not
    // guaranteed, only that a deterministic prediction exists
    val mixed = docs.unionByName(
      Seq((7L, "zebra quagga", "de")).toDF("id", "text", "lang"))
    val out7 = graft.ops.Corpus.naiveBayesClassify(mixed, "id", "text", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(Set("de", "en").contains(out7(7L)))
    assert((1L to 6L).forall(i => out7(i) == out(i)),
      "one outlier doc changed the separable predictions")
  }

  test("empty/zero-token docs keep their rows: NB prior-only, line-rep, BPE") {
    import spark.implicits._
    // empty and whitespace-only docs yield no tokens/lines — the
    // per-doc aggregate shapes would silently drop them without the
    // spine joins (the r16 advice finding)
    val docs = Seq(
      (1L, "apfel brot apfel", "de"), (2L, "brot apfel brot", "de"),
      (3L, "cat dog cat", "en"), (4L, "dog cat dog", "en"),
      (5L, "", "de"), (6L, "   \n  ", "en")).toDF("id", "text", "lang")
    val nb = graft.ops.Corpus.naiveBayesClassify(docs, "id", "text", "lang")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(nb.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L),
      s"empty docs missing from NB output: ${nb.keySet}")
    // empty docs score prior-only: D=6, C=2, d_de=3, d_en=3 ->
    // prior = floor(log2((6+2) DIV (3+1))) = 1 for both; tie breaks to
    // the ascending class name
    assert(nb(5L) == ("de", 1L) && nb(6L) == ("de", 1L),
      s"empty docs not prior-only argmin: ${nb(5L)}, ${nb(6L)}")
    val lr = graft.ops.Corpus.lineRepetitionSignals(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(lr.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(lr(5L).getLong(1) == 0L && lr(5L).isNullAt(2) &&
      lr(5L).getBoolean(4) && lr(5L).getBoolean(5),
      "empty doc's line-rep row should be n_lines=0/NULL fracs/vacuous-true")
    val ms = graft.ops.Bpe.fit(docs.filter($"id" <= 4), "text", rounds = 2)
    val bpe = graft.ops.Bpe.encodedLengths(docs, "id", "text", ms)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bpe.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(bpe(5L) == 0L && bpe(6L) == 0L, s"empty docs n_bpe: $bpe")
  }

  test("assignShards epochs: shard stable, permutation fresh per epoch, epoch 0 frozen") {
    import spark.implicits._
    val docs = (0L until 64L).map(i => (i, s"d$i")).toDF("id", "v")
    def perm(epoch: Long) = graft.ops.Layout.assignShards(docs, "id", 4, epoch)
      .select("shard", "shard_pos", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val e0a = perm(0); val e0b = perm(0); val e1 = perm(1); val e2 = perm(2)
    assert(e0a == e0b, "epoch-0 permutation not stable across runs")
    // shard membership is epoch-INDEPENDENT (the loader's file layout
    // never moves); only the within-shard visit order re-seeds
    def byShard(m: Map[(Long, Long), Long]) =
      m.groupBy(_._1._1).view.mapValues(_.values.toSet).toMap
    assert(byShard(e0a) == byShard(e1) && byShard(e1) == byShard(e2))
    assert(e0a != e1 && e1 != e2 && e0a != e2,
      "epochs did not produce distinct permutations")
    // epoch 0 equals the un-parameterized call bit-for-bit (frozen
    // contract: shuffle_shards' oracle)
    val legacy = graft.ops.Layout.assignShards(docs, "id", 4)
      .select("shard", "shard_pos", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(legacy == e0a)
  }

  test("map-side line-rep formulation equals the aggregate operator's verdicts") {
    import spark.implicits._
    // stream_curate computes the A1.2 rules statelessly as
    // total-minus-distinct over the lines array; the identity
    // sum(n_i - 1) == total - distinct must make its verdicts equal
    // lineRepetitionSignals' grouped ones on every doc shape
    val docs = Seq(
      (1L, "x\nx\nx\nlong line here"), (2L, "alpha\nbeta\ngamma"),
      (3L, "a\n\na"), (4L, "dup dup\ndup dup\ndup dup\ndup dup"),
      (5L, "one\ntwo\none\ntwo\nthree three three long")
    ).toDF("id", "text")
    val agg = graft.ops.Corpus.lineRepetitionSignals(docs, "id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(4), r.getBoolean(5))).toMap
    val lines = filter(split(col("text"), "\n"), l => length(l) > 0)
    val dLines = array_distinct(lines)
    def sumLen(a: org.apache.spark.sql.Column) =
      aggregate(a, lit(0L), (acc, x) => acc + length(x).cast("long"))
    val nL = size(lines).cast("long")
    val dL = size(dLines).cast("long")
    val mapSide = docs.select(col("id"),
        ((nL - dL) * 10L <= nL * 3L).as("lok"),
        ((sumLen(lines) - sumLen(dLines)) * 10L <= sumLen(lines) * 2L).as("cok"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2))).toMap
    assert(mapSide == agg, s"map-side $mapSide vs aggregate $agg")
  }

  test("stripRepeatedLines: boilerplate stripped everywhere, order kept, empty-doc row") {
    import spark.implicits._
    val docs = Seq(
      (1L, "unique alpha\nfollow us\nunique beta"),
      (2L, "follow us\nunique gamma"),
      (3L, "unique delta\nfollow us"),
      (4L, "follow us")                         // all boilerplate
    ).toDF("id", "text")
    val out = graft.ops.Corpus.stripRepeatedLines(docs, "id", "text",
        maxOccurrences = 1)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // "follow us" occurs 4x > 1 -> stripped from every doc; original
    // line order preserved in the reassembly
    assert(out(1L) == (("unique alpha\nunique beta", 3L, 2L)))
    assert(out(2L) == (("unique gamma", 2L, 1L)))
    assert(out(3L) == (("unique delta", 2L, 1L)))
    // a doc that was ALL boilerplate keeps its row: empty text, 0 kept
    assert(out(4L) == (("", 1L, 0L)))
    // maxOccurrences = 4 tolerates the repetition: everything survives
    val lax = graft.ops.Corpus.stripRepeatedLines(docs, "id", "text",
        maxOccurrences = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lax(4L) == "follow us" && lax(1L).contains("follow us"))
    // BLANK paragraph separators are never boilerplate: they recur in
    // every doc here (way over the cap) but must survive in place —
    // stripping them would collapse paragraph structure corpus-wide
    val para = Seq(
      (1L, "para one\n\nspam line\n\npara two"),
      (2L, "spam line\n\nother text"),
      (3L, "spam line\n\nthird body"))
      .toDF("id", "text")
    val pOut = graft.ops.Corpus.stripRepeatedLines(para, "id", "text",
        maxOccurrences = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(3))).toMap
    assert(pOut(1L) == (("para one\n\n\npara two", 4L)), s"$pOut")
    assert(pOut(2L) == (("\nother text", 2L)), s"$pOut")
    assert(pOut(3L) == (("\nthird body", 2L)), s"$pOut")
  }

  test("gopherNgramSignals: full A1.2 table, worked stats, vacuous short docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a a a"),                         // pure repetition
      (2L, "one two"),                             // only a 2-gram exists
      (3L, (1 to 30).map("t" + _).mkString(" ")))  // long, fully diverse
      .toDF("id", "text")
    val rows = graft.ops.Corpus.gopherNgramSignals(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    def f(id: Long, c: String): Any = rows(id).getAs[Any](c)
    // doc 1: 5 identical 2-grams -> top2 = 1.0 (fails 0.20); both
    // 5-grams identical -> dup5 = 1.0 (fails 0.15); the single 6-gram
    // occurs once -> dup6 = 0.0 (passes); no 7-grams -> NULL + vacuous
    assert(f(1L, "top2gram_frac") == 1.0 && f(1L, "top2gram_ok") == false)
    assert(f(1L, "dup5gram_frac") == 1.0 && f(1L, "dup5gram_ok") == false)
    assert(f(1L, "dup6gram_frac") == 0.0 && f(1L, "dup6gram_ok") == true)
    assert(f(1L, "dup7gram_frac") == null && f(1L, "dup7gram_ok") == true)
    assert(f(1L, "rep_all_ok") == false)
    // doc 2: its one 2-gram IS the top gram (frac 1.0 — the published
    // fractions trivially fail degenerate short docs; Gopher gates on
    // word count first, which gopherRules covers); 5..10 vacuous
    assert(f(2L, "top2gram_frac") == 1.0 && f(2L, "top2gram_ok") == false)
    assert(f(2L, "dup10gram_frac") == null && f(2L, "dup10gram_ok") == true)
    assert(f(2L, "rep_all_ok") == false)
    // doc 3: 29 distinct 2-grams -> top2 = 1/29, every signal passes
    assert(f(3L, "top2gram_frac") == 0.034483 && f(3L, "top2gram_ok") == true)
    assert((2 to 10).forall { n =>
      val kind = if (n <= 4) "top" else "dup"
      f(3L, s"$kind${n}gram_ok") == true
    })
    assert(f(3L, "rep_all_ok") == true)
  }

  test("temperatureShares: exact ppm weights, flattening toward low-resource domains") {
    import spark.implicits._
    val docs = Seq.tabulate(90)(i => (i.toLong, "big", 100L)) ++
      Seq.tabulate(10)(i => ((i + 90).toLong, "small", 100L))
    val df = docs.toDF("id", "domain", "chars")
    // alpha = 1 (4 quarters): shares proportional to mass -> 90% / 10%
    val a4 = graft.ops.Sampling.temperatureShares(df, "domain", "chars", 4)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(a4("big") == 900000L && a4("small") == 100000L, s"$a4")
    // alpha = 1/2: w = floor(sqrt(mass) * 1e6) exactly
    val a2 = graft.ops.Sampling.temperatureShares(df, "domain", "chars", 2)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    val wBig = math.floor(math.sqrt(9000.0) * 1e6).toLong
    val wSmall = math.floor(math.sqrt(1000.0) * 1e6).toLong
    assert(a2("big")._1 == wBig && a2("small")._1 == wSmall)
    assert(a2("small")._2 == 1000000L * wSmall / (wBig + wSmall))
    // temperature < 1 flattens: the small domain's share strictly grows
    // as alpha drops, and never exceeds parity
    val a1 = graft.ops.Sampling.temperatureShares(df, "domain", "chars", 1)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(a4("small") < a2("small")._2 && a2("small")._2 < a1("small"))
    assert(a1("small") < 500000L)
  }

  test("unimax: capped prefix, even split, remainder order, cap binds") {
    import spark.implicits._
    def alloc(masses: Seq[(String, Long)], budget: Long,
              e: Int): Map[String, (Long, Long, Long)] =
      graft.ops.Sampling.unimaxAllocations(
          masses.toDF("lang", "m"), "lang", "m", budget, e)
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // hand-worked water-fill: caps 6/9/300, budget 55 -> a and b take
    // their full caps (6*3<=55; 9*2<=49), c takes the remaining 40
    val w = alloc(Seq("a" -> 2L, "b" -> 3L, "c" -> 100L), 55L, 3)
    assert(w("a") == ((6L, 6L, 3000L)))
    assert(w("b") == ((9L, 9L, 3000L)))
    assert(w("c") == ((300L, 40L, 400L)))
    // all uncapped: 8 over three equal langs -> 3/3/2, the +1s going
    // to the smallest-cap (here tie -> lexicographically first) langs
    val r = alloc(Seq("a" -> 10L, "b" -> 10L, "c" -> 10L), 8L, 1)
    assert(r("a")._2 == 3L && r("b")._2 == 3L && r("c")._2 == 2L)
    // budget beyond the summed caps: the epoch cap binds, the excess
    // goes unallocated (the published UniMax behavior)
    val x = alloc(Seq("a" -> 10L, "b" -> 10L, "c" -> 10L), 100L, 1)
    assert(Seq("a", "b", "c").forall(l => x(l)._2 == 10L))
    assert(Seq("a", "b", "c").forall(l => x(l)._3 == 1000L))
  }

  test("unimaxManifest: exact full epochs, bounded partial, deterministic") {
    import spark.implicits._
    // 3 docs x 10 tokens in 'a' (30 tok), 2 x 10 in 'b' (20 tok);
    // budget 75, cap 3: caps 90/60 -> uncapped split 38/37 by (cap,
    // lang) order: b (cap 60) first +1 -> b=38? cap order: b cap 60 <
    // a cap 90 -> idx(b)=1. rem=75, bk=2 -> 37 each, +1 to idx-bidx<1
    // -> b gets 38, a gets 37. a: 1 full epoch + 7/30 partial;
    // b: 1 full + 18/20 partial.
    val docs = Seq(
      ("a", 1L, 10L), ("a", 2L, 10L), ("a", 3L, 10L),
      ("b", 4L, 10L), ("b", 5L, 10L)).toDF("lang", "k", "m")
    val man = graft.ops.Sampling.unimaxManifest(
      docs, "lang", "m", "k", budget = 75L, epochCap = 3)
    val rows = man.select("lang", "k", "epoch")
      .as[(String, Long, Long)].collect().toSeq
    // full epoch 0 is EXACT: every doc of both langs exactly once
    assert(rows.filter(_._3 == 0L).map(r => (r._1, r._2)).sorted ==
      Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 4L), ("b", 5L)))
    // partial epoch 1: a strict subset per lang (7/30 and 18/20 can
    // never draw a full epoch's worth deterministically... but CAN be
    // empty) — every partial row is a real doc of its lang at epoch 1
    val part = rows.filter(_._3 == 1L)
    assert(part.forall { case (l, k, _) =>
      docs.filter(col("lang") === l && col("k") === k).count() == 1 })
    // no epoch beyond 1 (alloc < 2 epochs for both langs)
    assert(rows.forall(_._3 <= 1L))
    // deterministic: a second run is row-identical
    val again = graft.ops.Sampling.unimaxManifest(
        docs, "lang", "m", "k", budget = 75L, epochCap = 3)
      .select("lang", "k", "epoch")
      .as[(String, Long, Long)].collect().toSeq
    assert(rows.sorted == again.sorted)
    // capped domain takes EXACTLY its cap in full epochs: budget far
    // beyond caps -> every doc appears exactly epochCap times, no
    // partial (rem_num = 0)
    val fullCap = graft.ops.Sampling.unimaxManifest(
        docs, "lang", "m", "k", budget = 1000L, epochCap = 2)
      .select("k", "epoch").as[(Long, Long)].collect().toSeq
    assert(fullCap.groupBy(_._1).forall(_._2.map(_._2).sorted == Seq(0L, 1L)))
  }

  test("curriculum packing: bins are perplexity-monotone within a stratum") {
    import spark.implicits._
    // three quality tiers (common words -> low surprisal, singleton
    // vocab -> high), token counts sized so the budget forces >1 bin
    val docs = Seq(
      (1L, "s", "the the the the the the the the"),
      (2L, "s", "the the the the and and and and"),
      (3L, "s", "mid1 mid1 the the and and of of"),
      (4L, "s", "rare1 rare2 rare3 rare4 rare5 rare6 rare7 rare8"),
      (5L, "s", "rare9 rareA rareB rareC rareD rareE rareF rareG"))
      .toDF("doc_id", "source", "text")
    val ppl = graft.ops.Corpus.unigramSurprisal(docs, "doc_id", "text")
      .select(col("doc_id"), col("bits_x1000_per_tok").as("ppl"))
    val packed = graft.ops.Chunking.packByBudget(
      docs.select(col("doc_id"), col("source"),
        graft.ops.TextAnalysis.tokenCount(col("text")).as("n_toks"))
        .join(ppl, "doc_id"),
      Seq("source"), "doc_id", col("n_toks"), budget = 16,
      carryCols = Seq("ppl"), orderCols = Seq(col("ppl"), col("doc_id")))
    val rows = packed.select("bin", "ppl")
      .as[(Long, Long)].collect().sortBy(identity).toSeq
    assert(rows.map(_._1).distinct.size > 1, "budget never forced a bin split")
    // walking bins in order never sees perplexity decrease
    val byBin = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (b, rs) => (b, rs.map(_._2).min, rs.map(_._2).max) }
    byBin.sliding(2).foreach {
      case Seq((_, _, hiPrev), (_, loNext, _)) =>
        assert(hiPrev <= loNext, s"curriculum order violated: $byBin")
      case _ => ()
    }
  }

  test("perplexityBuckets: equal terciles, ties share a bucket, head = cleanest") {
    import spark.implicits._
    // three planted quality tiers of two docs each: common-word docs
    // score lowest (head), singleton-vocab docs highest (tail); the two
    // docs of a tier tie exactly and must land in the SAME bucket
    val docs = Seq(
      (1L, "the the the the the the"), (2L, "the the the the the the"),
      (3L, "mid1 mid1 mid2 mid2 the the"), (4L, "mid1 mid1 mid2 mid2 the the"),
      (5L, "rare1 rare2 rare3 rare4 rare5 rare6"),
      (6L, "rare7 rare8 rare9 rare10 rare11 rare12")
    ).toDF("id", "text")
    val out = graft.ops.Corpus.perplexityBuckets(docs, "id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(3), r.getString(4))).toMap
    assert(out(1L)._2 == "head" && out(2L)._2 == "head",
      s"common-word docs not head: $out")
    assert(out(3L)._2 == "middle" && out(4L)._2 == "middle", s"$out")
    assert(out(5L)._2 == "tail" && out(6L)._2 == "tail", s"$out")
    assert(out(1L)._1 < out(3L)._1 && out(3L)._1 < out(5L)._1,
      "scores not ordered by planted noisiness")
  }

  test("NB model persists and reloads: predictions bit-identical") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apfel brot apfel", "de"), (2L, "brot apfel brot", "de"),
      (3L, "cat dog cat", "en"), (4L, "dog cat dog", "en"),
      (5L, "apfel dog", "de"), (6L, "", "en")).toDF("id", "text", "lang")
    val direct = graft.ops.Corpus.naiveBayesClassify(docs, "id", "text", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val tmp = java.nio.file.Files.createTempDirectory("graft-nb").toString
    val store = new graft.store.TableStore(spark, tmp)
    store.overwrite("nb_model",
      graft.ops.Corpus.nbModelDF(docs, "id", "text", "lang"), maxFiles = 1)
    val reloaded = graft.ops.Corpus.nbClassify(docs, "id", "text",
        store.read("nb_model"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(reloaded == direct,
      s"reloaded-model predictions drifted:\n$reloaded\nvs\n$direct")
    // the model frame discriminates weights from priors by tok IS NULL:
    // exactly C prior rows, V x C weight rows
    val m = store.read("nb_model")
    assert(m.filter(col("tok").isNull).count() == 2L)
    assert(m.filter(col("tok").isNotNull).count() ==
      m.filter(col("tok").isNotNull).select("tok").distinct().count() * 2)
  }

  test("bpe: Sennrich fixture learns the classic merges; encode applies them") {
    import graft.ops.Bpe
    import spark.implicits._
    // the published worked example: low x5, lower x2, newest x6, widest x3
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("id", "text")
    val ms = Bpe.fit(docs, "text", rounds = 5)
    assert(ms.map(m => (m.left, m.right, m.n)) == Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("est", "</w>", 9L),
      ("l", "o", 7L), ("lo", "w", 7L)), s"wrong merges: $ms")
    assert(ms.map(_.rank) == Seq(1, 2, 3, 4, 5))
    // encoding an UNSEEN word with the learned merges
    val enc = Seq((1L, "lowest")).toDF("id", "text")
      .select(Bpe.encodeExpr(col("text"), ms).as("s"))
      .collect().head.getSeq[String](0)
    assert(enc == Seq("low", "est</w>"), s"wrong encoding: $enc")
    // single-char word: no pairs, survives as (char, end marker)
    val tiny = Seq((1L, "a")).toDF("id", "text")
      .select(Bpe.encodeExpr(col("text"), ms).as("s"))
      .collect().head.getSeq[String](0)
    assert(tiny == Seq("a", "</w>"))
    // the corpus-scale encode (vocabulary folds + broadcast join) agrees
    // with the per-occurrence expression on every doc
    val docs2 = Seq((1L, "low lower low"), (2L, "newest lowest widest"))
      .toDF("id", "text")
    val viaExpr = docs2
      .select(col("id"), size(Bpe.encodeExpr(col("text"), ms)).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaVocab = Bpe.encodedLengths(docs2, "id", "text", ms)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr == viaVocab, s"$viaExpr vs $viaVocab")
    // persistence round-trip: a later session reloads the same merges it
    // fitted (fit once, encode anywhere — the kmeans_assign discipline)
    val tmp = java.nio.file.Files.createTempDirectory("graft-bpe").toString
    val store = new graft.store.TableStore(spark, tmp)
    store.overwrite("merges", Bpe.mergesDF(spark, ms), maxFiles = 1)
    assert(Bpe.fromDF(store.read("merges")) == ms)
  }

  test("bpe: packed-regex merge application == sentinel-fold on adversarial symbols") {
    import graft.ops.Bpe
    import spark.implicits._
    // regex metacharacters as symbols (quoting), overlap chains (the
    // leftmost-first non-overlapping scan), and merged-token adjacency
    // (a fresh merge output must not re-merge within the same pass)
    val merges = Seq(
      Bpe.Merge(1, "a", "a", 9L),            // overlap chain
      Bpe.Merge(2, "$", "(", 8L),            // metachars need quoting
      Bpe.Merge(3, "aa", "a", 7L),           // consumes merge-1 output
      Bpe.Merge(4, "\\", ".", 6L),           // backslash in pattern+replacement
      Bpe.Merge(5, "e", Bpe.EndOfWord, 5L))  // end-marker merge
    val texts = Seq("aaaa aaa aa a", "$( $(( (($", "\\. .\\ \\\\..",
      "ae ea e aee", "a$(a \\.e", "x", "").toDF("text")
    val viaFold = texts.select(flatten(transform(
      graft.ops.TextAnalysis.tokens(col("text")),
      w => merges.foldLeft(Bpe.symbolize(w)) { (s, m) =>
        Bpe.applyMergeExpr(s, m.left, m.right)
      })).as("s")).collect().map(_.getSeq[String](0))
    val viaRegex = texts.select(Bpe.encodeExpr(col("text"), merges).as("s"))
      .collect().map(_.getSeq[String](0))
    assert(viaFold.toSeq == viaRegex.toSeq,
      s"fold ${viaFold.toSeq} != regex ${viaRegex.toSeq}")
    // size-only streaming variant agrees element-for-element
    val lens = texts.select(
        size(Bpe.encodeExpr(col("text"), merges)).cast("long").as("a"),
        Bpe.encodeLenExpr(col("text"), merges).as("b")).collect()
    assert(lens.forall(r => r.getLong(0) == r.getLong(1)),
      s"len mismatch: ${lens.toSeq}")
  }

  test("bpe: byte fallback — OOV chars ride UTF-8 bytes, in-alphabet text unchanged") {
    import graft.ops.Bpe
    import spark.implicits._
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("id", "text")
    val ms = Bpe.fit(docs, "text", rounds = 5)
    val alpha = Bpe.alphabet(docs, "text")
    assert(alpha.toSet == "lowernstdi".map(_.toString).toSet)
    // '¤' (UTF-8 C2 A4) and 'z' (7A) are fit-corpus-DISJOINT characters:
    // they decompose to byte tokens while the surrounding in-alphabet
    // text still merges identically (est</w>, low)
    val enc = Seq("low¤est").toDF("w")
      .select(ms.sortBy(_.rank)
        .foldLeft(Bpe.symbolizeFallback(col("w"), alpha)) { (s, m) =>
          Bpe.applyMergeExpr(s, m.left, m.right)
        }.as("s"))
      .collect().head.getSeq[String](0)
    assert(enc == Seq("low", "<0xC2>", "<0xA4>", "est</w>"),
      s"wrong fallback encoding: $enc")
    // corpus-scale digest path: low¤est (4 toks, 2 byte) + ¤ (3, 2) +
    // zz (3, 2); the pure in-alphabet doc carries zero byte tokens and
    // agrees with the fallback-free count path
    val out = Bpe.encodeFallbackDigest(
        Seq((1L, "low¤est ¤ zz"), (2L, "lowest newest")).toDF("id", "text"),
        "id", "text", ms, alpha)
      .orderBy("id").collect()
    assert(out(0).getLong(1) == 10L && out(0).getLong(2) == 6L,
      s"byte-fallback counts wrong: ${out.toSeq}")
    assert(out(1).getLong(1) == 6L && out(1).getLong(2) == 0L)
    val plain = Bpe.encodedLengths(
        Seq((2L, "lowest newest")).toDF("id", "text"), "id", "text", ms)
      .collect().head.getLong(1)
    assert(plain == 6L)
  }

  test("bpe: batched fit — batch 1 frozen, disjoint batch exact, fewer rounds") {
    import graft.ops.Bpe
    import spark.implicits._
    // speculate-and-verify fixture: the top two pairs (a,b)x9 and
    // (c,d)x8 are symbol-disjoint and every pair CREATED by merging
    // either (the contexts vary: x_y vs z_w, p_q vs r_s) has count
    // <= 5, so the speculated 2-batch VERIFIES fully — one pair round
    // plus one verification roundtrip reproduces two sequential rounds
    // merge-for-merge including the (verified) counts
    val text = (Seq.fill(5)("xaby") ++ Seq.fill(4)("zabw") ++
      Seq.fill(5)("pcdq") ++ Seq.fill(3)("rcds")).mkString(" ")
    val df = Seq((1L, text)).toDF("id", "text")
    val (seqM, seqIters) = Bpe.fitCounted(df, "text", rounds = 2)
    val (batM, batIters) = Bpe.fitCounted(df, "text", rounds = 2, batchSize = 2)
    assert(seqM == batM, s"batched diverged: $batM vs $seqM")
    assert(seqM.map(m => (m.left, m.right, m.n)) ==
      Seq(("a", "b", 9L), ("c", "d", 8L)))
    assert(seqIters == 2 && batIters == 2,
      s"driver roundtrips: seq=$seqIters bat=$batIters")
    // batch 1 through the same code path IS the published sequential
    // algorithm — the Sennrich fixture's frozen merge list
    val sennrich = Seq((1L, (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")))
      .toDF("id", "text")
    val sequential = Bpe.fit(sennrich, "text", 5)
    assert(Bpe.fit(sennrich, "text", 5, batchSize = 1) == sequential)
    // STRICT batching is sequential-equal at ANY batch size: on this
    // fixture the round-1 runner-up (s,t) conflicts with (e,s), so the
    // strict batch stops at one merge per round and the full merge list
    // comes out byte-identical to the sequential one
    val b4 = Bpe.fit(sennrich, "text", 5, batchSize = 4)
    assert(b4 == sequential, s"strict batch diverged: $b4 vs $sequential")
    assert(b4 == Bpe.fit(sennrich, "text", 5, batchSize = 4))
    assert(b4.map(_.rank) == (1 to b4.size), s"ranks not contiguous: $b4")
    // NON-strict batching (skip conflicts, no created-pair bound) takes
    // bigger batches but may drift from the sequential vocabulary — on
    // this fixture it provably does ((t,</w>) is batched before the
    // recount could reveal (es,t)); still deterministic and contiguous
    val loose = Bpe.fit(sennrich, "text", 5, batchSize = 4, strict = false)
    assert(loose == Bpe.fit(sennrich, "text", 5, batchSize = 4,
      strict = false))
    assert(loose.map(_.rank) == (1 to loose.size))
    assert(loose != sequential,
      "expected the approximate mode to diverge on the Sennrich fixture")
    // replaying a batched list with encodedLengths must agree with the
    // per-occurrence encodeExpr fold for BOTH modes
    val probe = Seq((1L, "low lowest newest"), (2L, "widest wider"))
      .toDF("id", "text")
    for (ms2 <- Seq(b4, loose)) {
      val viaExpr = probe
        .select(col("id"), size(Bpe.encodeExpr(col("text"), ms2)).cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaVocab = Bpe.encodedLengths(probe, "id", "text", ms2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaExpr == viaVocab, s"$viaExpr vs $viaVocab")
    }
  }

  test("bpe: fitLocal is merge-for-merge identical to the distributed fit") {
    import graft.ops.Bpe
    import spark.implicits._
    // the worked example, a tie-heavy multi-doc corpus (near-equal
    // counts exercise the (left, right) tie-break), and a corpus whose
    // merges CHAIN (es -> est -> est</w>) and re-create pairs — fitLocal
    // must reproduce the distributed sequential list exactly, counts
    // included, at several depths
    val fixtures = Seq(
      Seq((1L, (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" "))),
      Seq((1L, "aa ab ba bb aa ab ba bb aa"), (2L, "abab baba abba baab"),
        (3L, "a b ab ba")),
      Seq((1L, "xaby zabw pcdq rcds xaby pcdq"), (2L, "the the them theme"),
        (3L, "sing singing ringing ring")))
    for (fx <- fixtures; rounds <- Seq(3, 8)) {
      val df = fx.toDF("id", "text")
      val dist = Bpe.fit(df, "text", rounds)
      val local = Bpe.fitLocal(df, "text", rounds)
      assert(local == dist,
        s"fitLocal diverged at rounds=$rounds on $fx:\n$local\nvs\n$dist")
    }
  }

  import spark.implicits._

  // ------------------------------------------------------------ F1 monthly
  test("fiscalMonthlyDate: all 12 months across both fiscal halves") {
    // PR fiscal year 2020 = Jul 2019 .. Jun 2020
    val expected = Map(
      "July" -> "2019-07-01", "August" -> "2019-08-01",
      "September" -> "2019-09-01", "October" -> "2019-10-01",
      "November" -> "2019-11-01", "December" -> "2019-12-01",
      "January" -> "2020-01-01", "February" -> "2020-02-01",
      "March" -> "2020-03-01", "April" -> "2020-04-01",
      "May" -> "2020-05-01", "June" -> "2020-06-01")
    val out = expected.keys.toSeq.map(m => (m, 2020)).toDF("m", "fy")
      .select(col("m"), FiscalDates.fiscalMonthlyDate(col("m"), col("fy"))
        .cast("string").as("d"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == expected)
  }

  test("fiscalMonthlyDate: unknown month and case-insensitivity") {
    val out = Seq(("Notamonth", 2020), ("  january ", 2020), ("JULY", 2020))
      .toDF("m", "fy")
      .select(FiscalDates.fiscalMonthlyDate(col("m"), col("fy"))
        .cast("string").as("d"))
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq(null, "2020-01-01", "2019-07-01"))
  }

  // ---------------------------------------------------------- F2 quarterly
  test("fiscalQuarterlyDate: all four labels incl. Q4 year rollover") {
    val cases = Seq(
      ("Jul-Sep", 2020, "2019-10-01"), ("Oct-Dec", 2020, "2020-01-01"),
      ("Jan-Mar", 2020, "2020-04-01"), ("Apr-Jun", 2020, "2020-07-01"),
      ("bogus", 2020, null))
    val out = cases.map(c => (c._1, c._2)).toDF("q", "fy")
      .select(FiscalDates.fiscalQuarterlyDate(col("q"), col("fy"))
        .cast("string").as("d"))
      .collect().map(_.getString(0)).toSeq
    assert(out == cases.map(_._3))
  }

  // --------------------------------------------------------- F3 quarter end
  test("quarterEndShift: Q1->Apr1, Q2->Jul1, Q3->Oct1, Q4->next-year Jan1") {
    val out = Seq("2020-02-15", "2020-05-01", "2020-08-31", "2020-11-11")
      .toDF("d")
      .select(FiscalDates.quarterEndShift(to_date(col("d")))
        .cast("string").as("r"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("2020-04-01", "2020-07-01", "2020-10-01", "2021-01-01"))
  }

  // ------------------------------------------------------------- F4/F5/F6
  test("coercion: null-on-error, sentinel, HALF_EVEN rounding") {
    val out = Seq("1.5", ".", "abc", "", " 2.5 ", "3.49")
      .toDF("s")
      .select(Coerce.fredValue(col("s")).as("v"))
      .select(col("v"), Coerce.roundToLong(col("v")).as("r"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    assert(out == Seq(
      (Some(1.5), Some(2L)),   // bround 1.5 -> 2 (HALF_EVEN)
      (None, None), (None, None), (None, None),
      (Some(2.5), Some(2L)),   // bround 2.5 -> 2, not 3
      (Some(3.49), Some(3L))))
  }

  // ------------------------------------------------------------------- F7
  test("percent normalization: the reference's exact cases") {
    // /root/reference/core_local/azure_nyu_scraper.py:126-152
    val out = Seq("3.96%", "3.96", "0.0396", "junk", "0.2", "0.21")
      .toDF("s").select(Percent.normalize(col("s")).as("v"))
      .collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Double])).toSeq
    def approx(a: Option[Double], b: Double) =
      a.exists(x => math.abs(x - b) < 1e-12)
    assert(approx(out(0), 0.0396)) // "3.96%" -> strip, /100
    assert(approx(out(1), 0.0396)) // 3.96 > 0.2 -> /100
    assert(approx(out(2), 0.0396)) // <= 0.2 -> keep
    assert(out(3).isEmpty)         // junk -> null (dropped later)
    assert(approx(out(4), 0.2))    // boundary: NOT divided (strict >)
    assert(approx(out(5), 0.0021)) // just over -> /100
  }

  // ------------------------------------------------------------------- T2
  test("melt: wide grid to long (id, variable, value)") {
    val wide = Seq((1, 10.0, 100.0), (2, 20.0, 200.0)).toDF("id", "a", "b")
    val long = Reshape.melt(wide, Seq("id"), Seq("a", "b"))
      .orderBy("id", "variable").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq
    assert(long == Seq((1, "a", 10.0), (1, "b", 100.0),
      (2, "a", 20.0), (2, "b", 200.0)))
  }

  // ---------------------------------------------------------- as-of join
  test("asOfJoin: latest right row at or before each left date") {
    import graft.ops.AsOf
    val left = Seq(("2024-01-01", 10), ("2024-01-05", 20), ("2024-01-10", 30))
      .toDF("date", "lv")
    val right = Seq(("2023-12-31", 1.0), ("2024-01-05", 2.0), ("2024-01-07", 3.0))
      .toDF("date", "rv")
    val out = AsOf.asOfJoin(left, right, "date", Seq("rv"))
      .orderBy("date").collect()
      .map(r => (r.getAs[String]("date"), r.getAs[Int]("lv"),
        Option(r.getAs[String]("as_of_date")), Option(r.get(r.fieldIndex("rv")))))
      .toSeq
    assert(out == Seq(
      ("2024-01-01", 10, Some("2023-12-31"), Some(1.0)), // earlier right
      ("2024-01-05", 20, Some("2024-01-05"), Some(2.0)), // same-date match
      ("2024-01-10", 30, Some("2024-01-07"), Some(3.0)))) // latest <=
  }

  test("asOfJoin: no right row at or before -> nulls; per-key partitions") {
    import graft.ops.AsOf
    val left = Seq(("a", "2024-01-01", 1), ("a", "2024-01-09", 2),
      ("b", "2024-01-09", 3)).toDF("k", "date", "lv")
    val right = Seq(("a", "2024-01-05", 7.0)).toDF("k", "date", "rv")
    val out = AsOf.asOfJoin(left, right, "date", Seq("rv"), Seq("k"))
      .orderBy("k", "date").collect()
      .map(r => (r.getAs[String]("k"), r.getAs[String]("date"),
        Option(r.get(r.fieldIndex("rv"))))).toSeq
    assert(out == Seq(
      ("a", "2024-01-01", None),      // nothing at or before
      ("a", "2024-01-09", Some(7.0)),
      ("b", "2024-01-09", None)))     // other key: no right rows at all
  }

  // ----------------------------------------------------------- range join
  test("pointInInterval: bucket-join matches naive BETWEEN semantics") {
    import graft.ops.RangeJoin
    val points = Seq("2024-01-01", "2024-01-04", "2024-01-09", "2024-02-01")
      .toDF("t").select(to_date(col("t")).as("t"))
    val intervals = Seq((1, "2024-01-01", "2024-01-05"),
      (2, "2024-01-04", "2024-01-10"), (3, "2023-05-01", "2023-05-02"))
      .toDF("id", "s", "e")
      .select(col("id"), to_date(col("s")).as("s"), to_date(col("e")).as("e"))
    for (width <- Seq(1, 3, 30)) { // result must be width-independent
      val out = RangeJoin.pointInInterval(points, "t", intervals, "s", "e", width)
        .select(col("id"), col("t").cast("string"))
        .as[(Int, String)].collect().toSet
      assert(out == Set(
        (1, "2024-01-01"), (1, "2024-01-04"),
        (2, "2024-01-04"), (2, "2024-01-09")))
    }
  }

  // ------------------------------------------------------------------- T1
  test("promoteHeaderAndMelt: positional row-0 header via row index") {
    val grid = Seq(
      (0L, "Mes", "2019", "2020"),   // header row with NON-empty corner cell
      (1L, "July", "1.5", "2.5"),
      (2L, "August", "x", "3.5"))
      .toDF("__row_idx", "label", "c1", "c2")
    val out = Reshape.promoteHeaderAndMelt(grid, "Month")
      .orderBy("Month", "fiscal_year")
      .collect().map(r => (r.getString(0), r.getInt(2),
        Option(r.get(1)).map(_.asInstanceOf[Double]))).toSeq
    assert(out == Seq(
      ("August", 2019, None), ("August", 2020, Some(3.5)),
      ("July", 2019, Some(1.5)), ("July", 2020, Some(2.5))))
  }

  test("promoteHeaderAndMelt: missing row index fails loudly") {
    val grid = Seq(("a", "b")).toDF("label", "c1")
    intercept[IllegalArgumentException] {
      Reshape.promoteHeaderAndMelt(grid, "Month")
    }
  }

  // --------------------------------------------------------------- Corpus
  test("repetitionSignals: fractions + short-doc guard") {
    val docs = Seq(
      (1L, "a b a b a b"),  // 2-grams: "a b"x3, "b a"x2; 3-grams all dup'd
      (2L, "x y z"),        // top 2-gram 1/2; single 3-gram, no dups
      (3L, "one two"))      // 2 tokens -> dropped (no 3-gram exists)
      .toDF("doc_id", "text")
    val out = Corpus.repetitionSignals(docs, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 0.6, 1.0), (2L, 0.5, 0.0)))
  }

  test("ngrams: fewer tokens than n yields an empty array, not a crash") {
    val out = Seq("a b", "").toDF("t")
      .select(size(Corpus.ngrams(TextAnalysis.tokens(col("t")), 3)).as("n"))
      .collect().map(_.getInt(0)).toSeq
    assert(out == Seq(0, 0))
  }

  test("tfidfTopTerms: ppm scores and tie-break on term") {
    val docs = Seq((1L, "b a"), (2L, "c c")).toDF("doc_id", "text")
    val out = Corpus.tfidfTopTerms(docs, "doc_id", "text", k = 5)
      .orderBy("doc_id", "rk")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    // doc 1: a and b tie at floor(1*1e6*2/(2*1)) = 1000000 -> term order a, b
    // doc 2: c = floor(2*1e6*2/(2*1)) = 2000000
    assert(out.toSeq == Seq(
      (1L, 1, "a", 1000000L), (1L, 2, "b", 1000000L),
      (2L, 1, "c", 2000000L)))
  }

  // -------------------------------------------------------------- Profile
  test("numericProfile: nulls/ndv/min/max in one scan, exact and approx") {
    val df = Seq(
      (Some(1.0), 5L), (Some(2.0), 5L), (None, 5L), (Some(2.0), 5L))
      .toDF("x", "y")
    val out = Profile.numericProfile(df, Seq("x", "y"))
      .orderBy("col_name")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      ("x", 1L, 2L, 1.0, 2.0), ("y", 0L, 1L, 5.0, 5.0)))
    // HLL path: same shape, same min/max, NDV within its error bound
    val approx = Profile.numericProfile(df, Seq("x", "y"), exact = false)
      .orderBy("col_name")
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    assert(approx.length == 2 && approx(0)._2 >= 1 && approx(0)._3 == 1.0)
  }

  test("importanceWeights: ppm ratio weights, exact integer per-doc sums") {
    val docs = Seq((1L, "a a b", "t"), (2L, "a c", "o"))
      .toDF("doc_id", "text", "source")
    val out = Corpus.importanceWeights(docs, "doc_id", "text",
        col("source") === "t")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // stats: a (cnt_c=3, cnt_t=2), b (1,1), c (1,0); N_c=5, N_t=3, V=3
    // w(a) = 1e6*3*8 div (4*6)  = 1000000
    // w(b) = 1e6*2*8 div (2*6)  = 1333333
    // w(c) = 1e6*1*8 div (2*6)  = 666666
    assert(out(0) == ((1L, 3L, 2L * 1000000L + 1333333L, 1111111L)))
    assert(out(1) == ((2L, 2L, 1000000L + 666666L, 833333L)))
  }

  test("unigramSurprisal: exact integer bits, rare > frequent, empty doc absent") {
    val docs = Seq((1L, "a a a b"), (2L, "b c"), (3L, "")).toDF("doc_id", "text")
    val out = Corpus.unigramSurprisal(docs, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // counts: a=3, b=2, c=1; N=6, V=3
    // surprisal(a) = floorlog2(9 DIV 4 = 2) = 1
    // surprisal(b) = floorlog2(9 DIV 3 = 3) = 1
    // surprisal(c) = floorlog2(9 DIV 2 = 4) = 2  (rare token costs more)
    // doc1: bits = 3*1 + 1*1 = 4 over 4 toks -> 1000 milli-bits/tok
    // doc2: bits = 1 + 2 = 3 over 2 toks -> 1500
    assert(out.toSeq == Seq((1L, 4L, 4L, 1000L), (2L, 2L, 3L, 1500L)))
    // the zero-token doc has no LM evidence: no row, not a zero row
    assert(!out.map(_._1).contains(3L))
  }

  test("vocabulary + tokenizeToIds: rank ids, tie-break, OOV -> 0") {
    val docs = Seq((1L, "b a b"), (2L, "a c zzz")).toDF("doc_id", "text")
    val vocab = Corpus.vocabulary(docs, "text", topK = 3)
      .collect().map(r => (r.getAs[String]("token"), r.getAs[Int]("token_id"))).toMap
    // counts: a=2, b=2, c=1, zzz=1 -> ids: a=1, b=2 (tie on count, token
    // order), c=3; zzz falls off topK
    assert(vocab == Map("a" -> 1, "b" -> 2, "c" -> 3))
    val ids = Corpus.tokenizeToIds(docs, "doc_id", "text",
        Corpus.vocabulary(docs, "text", topK = 3))
      .orderBy("doc_id", "pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(ids.toSeq == Seq(
      (1L, 0, 2), (1L, 1, 1), (1L, 2, 2),
      (2L, 0, 1), (2L, 1, 3), (2L, 2, 0)))  // zzz -> OOV id 0
  }

  test("zOrderKey: hand-derived interleave, clamping, locality") {
    import org.apache.spark.sql.Row
    val df = Seq((1L, 0L), (0L, 1L), (3L, 1L), (-5L, 1L << 40))
      .toDF("a", "b")
    val out = df.select(Layout.zOrderKey(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0))
    assert(out(0) == 2L)   // a bit0 -> position 1
    assert(out(1) == 1L)   // b bit0 -> position 0
    assert(out(2) == 11L)  // a bits {0,1} -> 2+8; b bit0 -> 1
    // clamping: negative -> 0, overflow -> 2^21-1 (all odd... even positions)
    val bMax = (0 until 21).map(i => 1L << (2 * i)).sum
    assert(out(3) == bMax)
    // locality: neighbors in (a,b) space stay within a small key range
    val z = (a: Long, b: Long) =>
      Seq((a, b)).toDF("a", "b")
        .select(Layout.zOrderKey(col("a"), col("b"))).head().getLong(0)
    assert(math.abs(z(10, 10) - z(10, 11)) <= 3)
    assert(math.abs(z(10, 10) - z(11, 10)) <= 6)
  }

  test("clusterByZOrder: rectangle filter touches few files, not all") {
    val n = 4096
    val df = spark.range(n).selectExpr(
      "id % 64 AS a", "CAST(id / 64 AS LONG) AS b", "id AS payload")
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    Layout.clusterByZOrder(df, "a", "b", numFiles = 8).write
      .mode("overwrite").parquet(s"$dir/clustered")
    df.repartition(8).write.mode("overwrite").parquet(s"$dir/shuffled")
    def filesHit(path: String): Long =
      spark.read.parquet(path)
        .filter(col("a").between(0, 7) && col("b").between(0, 7))
        .select(input_file_name()).distinct().count()
    val clustered = filesHit(s"$dir/clustered")
    val shuffled = filesHit(s"$dir/shuffled")
    // the 8x8 rectangle is one corner of the Z-curve: the clustered
    // layout confines it to a file or two; hash layout scatters it
    assert(clustered <= 2, s"clustered layout hit $clustered files")
    assert(shuffled >= 7, s"hash layout unexpectedly clustered: $shuffled")
  }
}
