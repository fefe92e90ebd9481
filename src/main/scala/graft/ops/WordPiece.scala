package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** WordPiece tokenizer training and encoding (Schuster & Nakajima 2012;
  * Wu et al. 2016 "Google's Neural Machine Translation System",
  * arXiv:1609.08144; the convention implemented by BERT and the
  * HuggingFace `WordPieceTrainer`) — the likelihood-scored sibling of
  * [[Bpe]], shaped the same way for corpus scale:
  *
  * TRAINING — the corpus is touched ONCE (the same distinct-word
  * frequency aggregate [[Bpe.fit]] starts from); every merge round runs
  * on the vocabulary-sized symbol table. Where BPE merges the most
  * FREQUENT adjacent pair, WordPiece merges the pair maximizing the
  * likelihood gain of the unigram LM over symbols,
  * score = cnt(l,r) / (cnt(l) * cnt(r)) — frequency relative to what
  * the parts' popularity predicts. Symbols use the BERT continuation
  * convention: a word's first character is plain, every later
  * character is prefixed "##", and merging (l, r) yields
  * l + strip_##(r) ("a" + "##b" -> "ab", "##a" + "##b" -> "##ab").
  *
  * Determinism / oracle replay: the score is quantized to an exact
  * integer, score_e9 = floor(cnt(l,r) * 10^9 / (cnt(l) * cnt(r))) —
  * DECIMAL(38,0) arithmetic Spark-side, HUGEINT in the DuckDB oracle,
  * digit-for-digit identical (the same discipline as the engine's
  * bits_x1000 surprisal and ppm temperature shares; a float score
  * would diverge between engines in the last ulp and flip argmaxes).
  * Ties break by (cnt desc, left, right) in binary string order.
  *
  * ENCODING — BERT's greedy longest-match-first (MaxMatch): per word,
  * repeatedly take the LONGEST vocabulary token matching at the cursor
  * (continuation positions match the "##" forms), emitting [UNK] for
  * the whole word when no token matches. Candidate lengths are probed
  * from [[MaxTokenChars]] down — the published implementations cap
  * match length the same way (BERT caps whole-word length at 100) —
  * so a pathological vocabulary token longer than the cap is simply
  * unreachable, identically in both engines. The fold runs once per
  * DISTINCT word (vocabulary-sized work, the [[Bpe.encodedLengths]]
  * shape); the corpus text never folds and never shuffles.
  */
object WordPiece {

  /** One learned merge: rank, the pair, the merged token, the
    * quantized score it won with, and the pair count. */
  final case class WpMerge(rank: Int, left: String, right: String,
                           merged: String, scoreE9: Long, n: Long)

  /** Continuation prefix for non-initial subword units (BERT). */
  val Continuation = "##"

  /** Unknown-word token (BERT). */
  val Unk = "[UNK]"

  /** Longest candidate the MaxMatch cursor probes, in characters.
    * Both the Spark fold and the DuckDB oracle descend from this same
    * constant, so the reachable-vocabulary semantics are engine-
    * identical by construction. */
  val MaxTokenChars = 24

  /** A word as its initial WordPiece symbols: first char plain, later
    * chars "##"-prefixed. */
  def symbolize(word: Column): Column =
    transform(split(word, ""), (c, i) =>
      when(i === 0, c).otherwise(concat(lit(Continuation), c)))

  /** The merged token of a pair: right's continuation prefix is
    * absorbed into left ("a" + "##b" -> "ab"). */
  def mergedToken(left: String, right: String): String =
    left + (if (right.startsWith(Continuation))
      right.substring(Continuation.length) else right)

  /** Learn `rounds` WordPiece merges over the whitespace vocabulary of
    * `textCol`. One corpus-scale aggregate (the word count), then
    * vocabulary-table rounds: a pair-count aggregate, a symbol-count
    * aggregate, a vocab-bounded join scoring each pair in exact
    * integer arithmetic, and a driver-held argmax row. The evolving
    * symbol table localCheckpoints every 8 merges ([[Bpe]]'s measured
    * lineage discipline — fold nesting stays bounded, per-round cost
    * flat). */
  def fit(corpus: DataFrame, textCol: String, rounds: Int): Seq[WpMerge] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val words = corpus
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .persist()
    try {
      var syms = words.select(col("n"), symbolize(col("w")).as("s"))
      val merges = Seq.newBuilder[WpMerge]
      var r = 1
      var sinceCheckpoint = 0
      var exhausted = false
      while (r <= rounds && !exhausted) {
        val pairs = syms
          .select(col("n"), explode(Bpe.adjacentPairs(col("s"))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum("n").as("cnt"))
        val symCnt = syms
          .select(col("n"), explode(col("s")).as("t"))
          .groupBy("t").agg(sum("n").as("c"))
        // score_e9 = floor(cnt * 1e9 / (cl * cr)) in DECIMAL(38,0) —
        // exact to 100 TB counts (cnt <= 1e12 -> cnt*1e9 <= 1e21,
        // cl*cr <= 1e24, both far inside 38 digits); `div` is integral
        // division, the floor for positive operands
        val top = pairs
          .join(symCnt.select(col("t").as("l"), col("c").as("cl")), "l")
          .join(symCnt.select(col("t").as("r"), col("c").as("cr")), "r")
          .select(col("l"), col("r"), col("cnt"), expr(
            "CAST(cnt AS DECIMAL(38,0)) * 1000000000 DIV " +
              "(CAST(cl AS DECIMAL(38,0)) * CAST(cr AS DECIMAL(38,0)))")
            .as("score"))
          .orderBy(col("score").desc, col("cnt").desc, col("l"), col("r"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true // every word fully merged
        else {
          val row = top.head
          val (l, rt) = (row.getString(0), row.getString(1))
          val m = WpMerge(r, l, rt, mergedToken(l, rt),
            row.getLong(3), row.getLong(2))
          merges += m
          syms = syms.select(col("n"),
            Bpe.applyMergeExprAs(col("s"), m.left, m.right, m.merged)
              .as("s"))
          r += 1
          sinceCheckpoint += 1
          if (sinceCheckpoint >= 8) {
            syms = syms.localCheckpoint()
            sinceCheckpoint = 0
          }
        }
      }
      merges.result()
    } finally { words.unpersist(); () }
  }

  /** The classic IN-MEMORY WordPiece trainer — [[Bpe.fitLocal]]'s
    * ceiling-closer for the likelihood-scored loop: ONE Spark
    * aggregate (the distinct-word count) collected once, then every
    * merge round runs at memory speed. BYTE-IDENTICAL to [[fit]] by
    * construction: the same integer-e9 score (BigInt floor division —
    * cnt·1e9/(cl·cr) exceeds Long at corpus scale), the same
    * (score desc, cnt desc, left, right) UTF-8 tie-break, the same
    * leftmost-first merge scan.
    *
    * The argmax is a LAZY max-heap with re-push-on-change: unlike
    * BPE's count-only ranking (which only changes for touched pairs),
    * a WordPiece score moves whenever either SYMBOL count moves —
    * merging (l, r) shrinks cnt(l)/cnt(r) and grows cnt(merged), which
    * RAISES the scores of every pair containing them, so a
    * stale-entries-only heap would hide the true argmax. A
    * pair-by-symbol index re-pushes a fresh entry for every pair whose
    * count OR either denominator changed; pops verify the stored
    * (cnt, cl, cr) against current state and discard stale entries.
    * Every pair's current state is always in the heap, so the first
    * valid pop is the exact argmax. A spec pins merge-for-merge
    * equality (scores and counts included) against [[fit]]. */
  def fitLocal(corpus: DataFrame, textCol: String,
               rounds: Int): Seq[WpMerge] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val wordRows = corpus
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .collect()
    val words = wordRows.map { r =>
      val cs = r.getString(0).split("")
      cs.zipWithIndex.map { case (c, i) =>
        if (i == 0) c else Continuation + c }
    }
    val wCnt = wordRows.map(_.getLong(1))
    val pairCnt = collection.mutable.Map.empty[(String, String), Long]
    val symCnt = collection.mutable.Map.empty[String, Long]
    val pairWords = collection.mutable
      .Map.empty[(String, String), collection.mutable.Set[Int]]
    val pairsBySym = collection.mutable
      .Map.empty[String, collection.mutable.Set[(String, String)]]
    def indexPair(p: (String, String)): Unit = {
      pairsBySym.getOrElseUpdate(p._1,
        collection.mutable.Set.empty[(String, String)]) += p
      pairsBySym.getOrElseUpdate(p._2,
        collection.mutable.Set.empty[(String, String)]) += p
      ()
    }
    def addWord(wi: Int, sign: Long): Unit = {
      val s = words(wi)
      var i = 0
      while (i < s.length) {
        val c = symCnt.getOrElse(s(i), 0L) + sign * wCnt(wi)
        if (c == 0L) { symCnt.remove(s(i)); () } else symCnt(s(i)) = c
        if (i + 1 < s.length) {
          val p = (s(i), s(i + 1))
          val pc = pairCnt.getOrElse(p, 0L) + sign * wCnt(wi)
          if (pc == 0L) { pairCnt.remove(p); () } else pairCnt(p) = pc
          if (sign > 0) {
            pairWords.getOrElseUpdate(p,
              collection.mutable.Set.empty[Int]) += wi
            indexPair(p)
          }
        }
        i += 1
      }
    }
    words.indices.foreach(addWord(_, 1L))
    // heap entry: (scoreE9, cnt, l, r, cl, cr) — max by (score, cnt),
    // then MIN by (l, r) in UTF-8 byte order; (cl, cr) only for
    // staleness verification on pop
    type Entry = (Long, Long, String, String, Long, Long)
    implicit val ord: Ordering[Entry] = (a: Entry, b: Entry) => {
      val s = java.lang.Long.compare(a._1, b._1)
      if (s != 0) s
      else {
        val c = java.lang.Long.compare(a._2, b._2)
        if (c != 0) c
        else {
          val l = Bpe.Utf8Order.compare(b._3, a._3) // reversed: min wins
          if (l != 0) l else Bpe.Utf8Order.compare(b._4, a._4)
        }
      }
    }
    val heap = collection.mutable.PriorityQueue.empty[Entry]
    def scoreE9(cnt: Long, cl: Long, cr: Long): Long =
      ((BigInt(cnt) * 1000000000L) / (BigInt(cl) * cr)).toLong
    def push(p: (String, String)): Unit =
      for (cnt <- pairCnt.get(p); cl <- symCnt.get(p._1);
           cr <- symCnt.get(p._2))
        heap.enqueue((scoreE9(cnt, cl, cr), cnt, p._1, p._2, cl, cr))
    pairCnt.keys.foreach(push)
    def applyMergeLocal(s: Array[String], l: String, r: String,
                        m: String): Array[String] = {
      val out = collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < s.length) {
        if (i + 1 < s.length && s(i) == l && s(i + 1) == r) {
          out += m; i += 2
        } else { out += s(i); i += 1 }
      }
      out.toArray
    }
    val merges = Seq.newBuilder[WpMerge]
    var rank = 1
    var exhausted = false
    while (rank <= rounds && !exhausted) {
      // pop to the first NON-STALE entry: stored cnt/denominators must
      // match current state (every current pair state is in the heap
      // by the re-push discipline, so this is the exact argmax)
      var top: Option[Entry] = None
      while (top.isEmpty && heap.nonEmpty) {
        val e = heap.dequeue()
        val p = (e._3, e._4)
        val fresh = pairCnt.get(p).contains(e._2) &&
          symCnt.get(e._3).contains(e._5) &&
          symCnt.get(e._4).contains(e._6)
        if (fresh) top = Some(e)
      }
      top match {
        case None => exhausted = true
        case Some((sc, cnt, l, r, _, _)) =>
          val m = mergedToken(l, r)
          merges += WpMerge(rank, l, r, m, sc, cnt)
          val affected = pairWords.getOrElse((l, r), Set.empty[Int]).toArray
          val touched =
            collection.mutable.Set.empty[(String, String)]
          for (wi <- affected) {
            def snap(s: Array[String]): Unit = {
              var i = 0
              while (i + 1 < s.length) {
                touched += ((s(i), s(i + 1))); i += 1
              }
            }
            snap(words(wi))
            addWord(wi, -1L)
            words(wi) = applyMergeLocal(words(wi), l, r, m)
            snap(words(wi))
            addWord(wi, 1L)
          }
          // re-push every pair whose numerator changed (touched) or
          // whose denominator changed (contains l, r, or the merged
          // symbol) — their previous heap entries verify stale on pop
          touched.foreach(push)
          for (s <- Seq(l, r, m); p <- pairsBySym.getOrElse(s,
              collection.mutable.Set.empty[(String, String)]))
            push(p)
          rank += 1
      }
    }
    merges.result()
  }

  /** The learned merge list as a flat DataFrame (persist/audit). */
  def mergesDF(spark: SparkSession, merges: Seq[WpMerge]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        merges.map(m =>
          Row(m.rank, m.left, m.right, m.merged, m.scoreE9, m.n)), 1),
      StructType(Seq(
        StructField("rank", IntegerType, nullable = false),
        StructField("left", StringType, nullable = false),
        StructField("right", StringType, nullable = false),
        StructField("merged", StringType, nullable = false),
        StructField("score_e9", LongType, nullable = false),
        StructField("n", LongType, nullable = false))))

  /** Reload a persisted [[mergesDF]] into driver state — the round-trip
    * that lets a later session encode against a learned vocabulary
    * WITHOUT refitting ([[Bpe.fromDF]]'s contract). */
  def fromDF(merges: DataFrame): Seq[WpMerge] = {
    val rows = merges
      .select("rank", "left", "right", "merged", "score_e9", "n").collect()
    require(rows.nonEmpty, "empty merge table")
    rows.map(r => WpMerge(r.getInt(0), r.getString(1), r.getString(2),
      r.getString(3), r.getLong(4), r.getLong(5))).sortBy(_.rank).toSeq
  }

  /** The MaxMatch vocabulary induced by training: every initial symbol
    * of the corpus (characters and their "##" forms) plus every merged
    * token. Model-sized — alphabet + one token per merge. The collect
    * below is the distinct ALPHABET (characters, not words): bounded by
    * the script repertoire (~thousands for full CJK), never by corpus
    * size. */
  def vocabulary(corpus: DataFrame, textCol: String,
                 merges: Seq[WpMerge]): Seq[String] = {
    val alphabet = corpus
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .select(explode(symbolize(col("w"))).as("t"))
      .distinct().collect().map(_.getString(0))
    (alphabet ++ merges.map(_.merged)).distinct.sorted
  }

  /** Greedy longest-match-first tokenization of one word against a
    * driver-held vocabulary (BERT's WordpieceTokenizer): a single fold
    * over character positions carrying (cursor, tokens, failed); at
    * the cursor, candidate substrings are probed longest-first
    * ([[MaxTokenChars]] down to 1; continuation positions probe the
    * "##" form), no match fails the whole word to [[Unk]]. */
  def maxMatchTokens(word: Column, vocab: Seq[String]): Column = {
    val vlit = lit(vocab.toArray)
    val zero = struct(lit(1).as("pos"),
      array().cast("array<string>").as("toks"), lit(false).as("bad"))
    val folded = aggregate(sequence(lit(1), length(word)), zero,
      (acc, i) => {
        val pos = acc.getField("pos")
        val toks = acc.getField("toks")
        val bad = acc.getField("bad")
        // longest-first candidate chain; substr clamps at word end in
        // both engines, so an over-long probe just re-tests the
        // remainder (advance is by the MATCHED length, never by L)
        val arms = (MaxTokenChars to 1 by -1).map { lLen =>
          val sub = word.substr(pos, lit(lLen))
          val cand = when(pos === 1, sub)
            .otherwise(concat(lit(Continuation), sub))
          when(array_contains(vlit, cand),
            struct((pos + length(sub)).as("pos"),
              concat(toks, array(cand)).as("toks"),
              lit(false).as("bad")))
        }
        val fail = struct(pos.as("pos"), toks.as("toks"),
          lit(true).as("bad"))
        when(bad || i =!= pos, acc)
          .otherwise(coalesce(arms :+ fail: _*))
      })
    when(folded.getField("bad"), array(lit(Unk)))
      .otherwise(folded.getField("toks"))
  }

  /** Per-doc MaxMatch encode at corpus scale: the fold runs once per
    * DISTINCT word, each doc's word occurrences join back to their
    * token list, and the doc row carries the WordPiece token count
    * plus an md5 digest of the space-joined token stream in document
    * order (empty docs keep their row: 0 tokens, digest of ""). The
    * join deliberately carries no broadcast hint — a web corpus's \S+
    * vocabulary is heavy-tailed; AQE broadcasts when it actually is
    * small ([[Bpe.encodedLengths]]'s reasoning). */
  def encodeDigest(corpus: DataFrame, idCol: String, textCol: String,
                   vocab: Seq[String]): DataFrame =
    TokenDigest.of(corpus, idCol, textCol, "n_wp", "wp_md5",
      maxMatchTokens(_, vocab))
}
