package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed byte-pair-encoding merge training (Sennrich et al. 2016,
  * arXiv:1508.07909) — the vocabulary-induction step of a tokenizer
  * pipeline, shaped for corpus scale:
  *
  * The corpus is touched ONCE — a word-frequency aggregate (the classic
  * distributed-BPE reduction: pair statistics are identical whether
  * computed over the corpus or over the distinct-word table weighted by
  * count, and the word table is vocabulary-sized, orders of magnitude
  * smaller than the corpus). Every merge round then runs on that small
  * table: one pair-count aggregate bounded by vocabulary size, one
  * driver-held argmax row (like the k-means centroid state — bounded by
  * the model, never the data), and a map-side fold applying the merge.
  *
  * Determinism / portability: pair counting follows the published
  * get_stats convention (ALL adjacent index pairs, overlap included);
  * the winning pair breaks count ties by (left, right) binary string
  * order; merge application is leftmost-first non-overlapping via a
  * sentinel-seeded left fold — each step replayed exactly by the DuckDB
  * oracle's list_reduce.
  */
object Bpe {

  /** One learned merge: rank (1-based), the pair, its weighted count. */
  final case class Merge(rank: Int, left: String, right: String, n: Long)

  /** Fold sentinel: a single SPACE — provably never a symbol, because
    * symbols are characters of `\S+` words, the space-free end marker,
    * or concatenations thereof. (A printable sentinel like '^' would
    * collide: '^' IS a legal word character, and a learned merge with
    * left = "^" would merge the sentinel into the word's first symbol.) */
  private val Sentinel = " "

  /** End-of-word marker symbol (Sennrich's </w>): lets merges distinguish
    * word-final from word-internal occurrences. */
  val EndOfWord = "</w>"

  /** A word as its initial symbol sequence: characters + end marker. */
  def symbolize(word: Column): Column =
    concat(split(word, ""), array(lit(EndOfWord)))

  /** All adjacent (left, right) symbol pairs — overlap included, the
    * get_stats convention. Guarded so single-symbol arrays yield an
    * EMPTY pair list (an unguarded sequence(1, 0) would run backwards). */
  def adjacentPairs(syms: Column): Column = {
    val pairs = transform(sequence(lit(1), size(syms) - 1),
      i => struct(element_at(syms, i).as("l"),
        element_at(syms, i + 1).as("r")))
    when(size(syms) >= 2, pairs)
      .otherwise(array().cast("array<struct<l:string,r:string>>"))
  }

  /** Apply ONE merge to a symbol array: leftmost-first, non-overlapping.
    * Sentinel-seeded left fold — the accumulator's last element is
    * either a fresh symbol (merge candidate) or an already-merged token
    * (which no longer string-equals `left`, so it cannot re-merge).
    *
    * The sentinel is stripped with a single-reference `filter` (it can
    * never equal a real symbol — see [[Sentinel]]), NOT with
    * `slice(folded, 2, size(folded) - 1)`: that shape references the
    * fold twice, so CHAINED application (fit's rounds, encode's rank
    * fold) doubled the expression tree per merge — 2^16 subtree copies
    * made a 258 MB task binary at 16 chained merges, and ~2^60 killed
    * the driver's column conversion outright near 64. With the single
    * reference the tree grows linearly in merges. */
  def applyMergeExpr(syms: Column, left: String, right: String): Column =
    applyMergeExprAs(syms, left, right, left + right)

  /** [[applyMergeExpr]] with an explicit merged token — WordPiece's
    * merge strips the continuation prefix from the right symbol
    * ("a" + "##b" -> "ab"), so the merged string is not always the
    * plain concatenation. */
  def applyMergeExprAs(syms: Column, left: String, right: String,
                       merged: String): Column = {
    val folded = aggregate(syms, array(lit(Sentinel)),
      (acc, x) =>
        when(element_at(acc, -1) === lit(left) && x === lit(right),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
        .otherwise(concat(acc, array(x))))
    filter(folded, x => x =!= lit(Sentinel))
  }

  /** Rounds between eager materializations of the evolving symbol table
    * inside [[fit]]: each round nests one more `aggregate` fold onto the
    * lineage, so an unmaterialized loop makes round r re-execute rounds
    * 1..r-1's folds (O(rounds²) work) and grows Catalyst expression
    * depth without bound. Every 8th round the table localCheckpoints —
    * fold nesting stays ≤ 8, total work O(rounds), cost one extra
    * vocabulary-sized job per 8 rounds. Measured at depth (20k-word
    * synthetic vocabulary, local[32], COVERAGE.md): 0.392 s/round
    * at 250 rounds and 0.373 s/round at 1000 — FLAT, i.e. the wall
    * clock is rounds-bound on driver-paced job latency, not depth.
    * Honest ceiling: at that rate a real tokenizer's 30k merges is ~3h
    * of sequential rounds — past a few thousand, batch non-conflicting
    * merges per round or pull the (MB-scale) word table into driver
    * memory for the classic in-memory loop; the distributed rounds are
    * the right shape only while the VOCABULARY is too big to hold. */
  private val FitCheckpointEvery = 8

  /** Upper bound on merges applied per projection (fit batches AND
    * encode batches): the measured Spark-4 driver-recursion headroom —
    * ColumnNode→expression conversion StackOverflows near ~64 nested
    * aggregate folds, so one projection stays well inside it. */
  val MaxMergeBatch = 16

  /** First re-probe interval (in merges) after the cost controller
    * parks strict speculation: batch mode is retried once per interval
    * (the vocabulary evolves, so batching can become profitable again)
    * and the interval DOUBLES on each consecutive unprofitable probe up
    * to [[ReProbeMax]] — so a corpus where verification never pays
    * converges to ~zero probe overhead instead of a fixed tax. */
  val ReProbeInitial = 16
  val ReProbeMax = 128

  /** Learn `rounds` merges over the whitespace vocabulary of `textCol`.
    * One corpus-scale aggregate (the word count), then vocabulary-table
    * work only; the word table is persisted across rounds so round r
    * does not replay rounds 1..r-1 against the corpus, and the evolving
    * symbol table is materialized every [[FitCheckpointEvery]] merges so
    * per-round cost stays flat to realistic merge depths (real
    * tokenizers run 30k-100k merges).
    *
    * `batchSize` (default 1 = the published sequential algorithm,
    * bit-frozen — every shipped oracle runs it) batches merges per
    * driver round (~0.38 s/driver roundtrip measured — 30k merges ≈ 3 h
    * at batch 1). KNOW THE HIERARCHY, measured on the 20k-word probe
    * corpus: [[fitLocal]] is the real ceiling-closer whenever the word
    * table fits driver memory (30k merges in ~7 s, byte-identical);
    * batching below exists for the vocabulary-exceeds-driver case, and
    * its two disciplines trade differently — strict preserves
    * exactness and lets the cost controller decide per-corpus whether
    * verification pays (measured: 1.2-1.4× wall on sf0.01 text where
    * the single-aggregate verification wins; 0.7× on the tie-heavy
    * uniform 20k corpus where the controller parks and pays only
    * backed-off probe rounds — 0.2× before the controller, when every
    * batch paid a vocab-heavy verify job); non-strict is the
    * raw-throughput mode (7.4× fewer roundtrips, 5.8× wall) at
    * measured vocabulary drift (177/250 overlap there, 43/64 on
    * sf0.01 text). Two batch disciplines:
    *
    * STRICT (default): SPECULATE-AND-VERIFY — the result is EXACTLY the
    * sequential merge list at any batchSize, with the sequential
    * counts. Per round: (1) one pair-count aggregate ranks candidates
    * and a deterministic greedy SPECULATES up to batchSize pairs with
    * pairwise-disjoint {left, right, merged} trios (disjointness makes
    * the chained in-projection application order-free); (2) ONE
    * verification job computes, for every intermediate state
    * state_i = syms after speculated merges 1..i, the true
    * (count desc, left, right) argmax pair — a union of per-state
    * top-1 aggregates over the vocabulary table, all in a single
    * driver roundtrip; (3) the accepted batch is the longest prefix
    * whose every speculated merge IS its own state's argmax, recorded
    * with the VERIFIED count. By induction each accepted merge is
    * precisely what the sequential fit would have chosen at that
    * round — equality is structural, not probabilistic (a spec
    * re-checks it against batch 1). Misspeculation (genuinely
    * ambiguous counts, conflicts whose recount reorders the ranking)
    * just shortens the prefix — progress is always ≥ 1 merge per
    * round — and the SCHEDULE adapts to measured cost: each round is
    * timed, per-merge cost EMAs of batch vs plain rounds steer the
    * loop (batch while it measures cheaper; park to plain rounds when
    * it doesn't; re-probe batch once per exponentially-backed-off
    * interval, [[ReProbeInitial]]..[[ReProbeMax]] merges, since pair
    * statistics drift as the vocabulary evolves). So a corpus where
    * verification is vocab-heavy relative to plain rounds pays a few
    * probe rounds instead of a verification job per batch — and a
    * cluster regime where roundtrip latency dominates discovers that
    * batching pays, per-corpus, instead of guessing. The merge LIST is
    * timing-independent either way; only roundtrip count varies
    * ([[fitLocal]] remains the actual answer when the vocabulary fits
    * the driver).
    *
    * NON-STRICT (`strict = false`): the classic approximate batching —
    * the speculated batch is applied UNVERIFIED. Maximum round
    * reduction (one roundtrip per batch), but a pair created by an
    * earlier in-batch merge can out-count a later pick that the
    * sequential fit would have preferred after its recount; the
    * learned vocabulary can drift from the sequential one (measured in
    * COVERAGE.md). Still fully deterministic.
    *
    * Ranks are assigned in acceptance order; batchSize = 1 reproduces
    * the sequential merge list exactly in either mode. */
  def fit(corpus: DataFrame, textCol: String, rounds: Int,
          batchSize: Int = 1, strict: Boolean = true): Seq[Merge] =
    fitCounted(corpus, textCol, rounds, batchSize, strict)._1

  /** [[fit]] plus the number of DRIVER ROUNDTRIPS it ran (collect
    * cycles: pair-count rounds AND verification jobs both count — each
    * is one driver-paced job latency, the quantity batching exists to
    * shrink), which specs assert. */
  def fitCounted(corpus: DataFrame, textCol: String, rounds: Int,
                 batchSize: Int = 1,
                 strict: Boolean = true): (Seq[Merge], Int) = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(batchSize >= 1 && batchSize <= MaxMergeBatch,
      s"batchSize must be in 1..$MaxMergeBatch, got $batchSize")
    val words = corpus
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .persist()
    try {
      var syms = words.select(col("n"), symbolize(col("w")).as("s"))
      val merges = Seq.newBuilder[Merge]
      var r = 1
      var iters = 0
      var sinceCheckpoint = 0
      var exhausted = false
      // COST-ADAPTIVE speculation (strict mode): the honest economics
      // are wall clock per MERGE, not batch acceptance — a verification
      // job that accepts 3-4 merges can still cost 20x a plain
      // pair-count round (measured on the uniform 20k probe corpus,
      // where chained-fold verification is vocab-heavy while plain
      // rounds are cheap). Each round is timed; exponential moving
      // averages of per-merge cost in BATCH mode vs PLAIN mode steer
      // the schedule: batch while it measures cheaper, park to plain
      // rounds when it doesn't, and re-probe batch once per
      // exponentially-backed-off interval ([[ReProbeInitial]] ..
      // [[ReProbeMax]] merges) because pair statistics drift as the
      // vocabulary evolves. The merge LIST is unaffected (strict always
      // equals sequential) — only the roundtrip schedule adapts to the
      // measured machine, which is the point: batching exists for
      // regimes where roundtrip latency dominates vocabulary-table
      // compute, and the controller discovers per-corpus whether it is
      // in one instead of guessing.
      var emaPlain = -1.0 // ns per merge, plain rounds
      var emaBatch = -1.0 // ns per merge, batch rounds
      var parked = false
      var reProbeIn = 0
      var reProbeInterval = ReProbeInitial
      var roundIdx = 0
      while (r <= rounds && !exhausted) {
        val wantBase = math.min(batchSize, rounds - r + 1)
        val probing = strict && parked && reProbeIn <= 0
        // schedule: round 0 is discarded warmup (first job pays scan +
        // persist + JIT — pricing it would poison either EMA), rounds
        // 1-2 run plain to bootstrap emaPlain, then batch until parked
        val pricingPlain = strict && batchSize > 1 &&
          roundIdx >= 1 && roundIdx <= 2
        val want =
          if (pricingPlain || (strict && parked && !probing)) 1
          else wantBase
        val t0 = System.nanoTime()
        // oversample the candidate list 4x so batch filtering can still
        // fill the batch; collect stays O(batch), never O(vocab)
        val top = syms
          .select(col("n"), explode(adjacentPairs(col("s"))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum("n").as("cnt"))
          .orderBy(col("cnt").desc, col("l"), col("r"))
          .limit(if (want == 1) 1 else want * 4).collect()
        iters += 1
        if (top.isEmpty) exhausted = true // every word fully merged
        else {
          // deterministic disjoint-skip greedy: the speculated batch
          // (and, non-strict, the applied one)
          val used = collection.mutable.Set.empty[String]
          val spec = collection.mutable.ArrayBuffer.empty[Merge]
          for (row <- top if spec.size < want) {
            val (l, rt, cnt) =
              (row.getString(0), row.getString(1), row.getLong(2))
            val trio = Seq(l, rt, l + rt)
            if (trio.forall(s => !used.contains(s))) {
              spec += Merge(r + spec.size, l, rt, cnt)
              used ++= trio
            }
          }
          val accepted: Seq[Merge] =
            if (!strict || spec.size == 1) spec.toSeq
            else {
              // ONE verification job, ONE aggregate: every intermediate
              // state's pair stream is built map-side (chained folds —
              // each branch nests <= batchSize folds, inside the
              // measured driver-recursion headroom) and exploded TAGGED
              // with its state index, so one (i, l, r) count plus one
              // per-state argmin over struct(-cnt, l, r) replaces the
              // per-state aggregate union (which paid ~2 shuffle stages
              // PER state — the dominant cost at small vocab scale).
              // min(struct(-cnt, l, r)) == (max count, then min left,
              // min right) — exactly the sequential tie-break.
              val tagged = (1 until spec.size).map { i =>
                val si = spec.take(i).foldLeft(col("s")) { (s, m) =>
                  applyMergeExpr(s, m.left, m.right)
                }
                struct(lit(i).as("i"), adjacentPairs(si).as("ps"))
              }
              val stateTops = syms
                .select(col("n"), explode(array(tagged: _*)).as("st"))
                .select(col("n"), col("st.i").as("i"),
                  explode(col("st.ps")).as("p"))
                .groupBy(col("i"), col("p.l").as("l"), col("p.r").as("r"))
                .agg(sum("n").as("cnt"))
                .groupBy("i")
                .agg(min(struct((-col("cnt")).as("nc"), col("l"), col("r")))
                  .as("m"))
                .collect().map { row =>
                  val m = row.getStruct(1)
                  row.getInt(0) ->
                    ((m.getString(1), m.getString(2), -m.getLong(0)))
                }.toMap
              iters += 1
              // accept the longest prefix whose every speculated merge
              // IS its own state's argmax -- recorded with the VERIFIED
              // count (an in-batch conflict may have shrunk it;
              // sequential would record the shrunk value)
              val out = collection.mutable.ArrayBuffer(spec.head)
              var p = 1
              var ok = true
              while (ok && p < spec.size) {
                stateTops.get(p) match {
                  case Some((l, rt, cnt))
                      if l == spec(p).left && rt == spec(p).right =>
                    out += Merge(spec(p).rank, l, rt, cnt)
                    p += 1
                  case _ => ok = false
                }
              }
              // on misspeculation, the failing state's verified argmax
              // IS the true next sequential merge (state_p is exact: it
              // was built from the accepted prefix) -- accept it too, so
              // a verification roundtrip always advances by prefix + 1
              // and the strict path can never fall behind sequential
              if (!ok && p < spec.size && out.size == p &&
                  r + p <= rounds) {
                stateTops.get(p).foreach { case (l, rt, cnt) =>
                  out += Merge(r + p, l, rt, cnt)
                }
              }
              out.toSeq
            }
          merges ++= accepted
          if (strict && batchSize > 1 && roundIdx >= 1) {
            val perMerge = (System.nanoTime() - t0).toDouble /
              math.max(accepted.size, 1)
            def ema(prev: Double) =
              if (prev < 0) perMerge else 0.5 * prev + 0.5 * perMerge
            if (want > 1) emaBatch = ema(emaBatch)
            else emaPlain = ema(emaPlain) // pricing, parked, or clamped
            if (!parked) {
              // park once batch measures costlier per merge than plain
              if (emaPlain >= 0 && emaBatch >= 0 && emaBatch > emaPlain) {
                parked = true
                reProbeIn = reProbeInterval
              }
            } else if (probing) {
              // the probe round just refreshed emaBatch: unpark if it
              // now beats plain, else back off the next probe
              if (emaBatch <= emaPlain) {
                parked = false
                reProbeInterval = ReProbeInitial
              } else {
                reProbeInterval =
                  math.min(reProbeInterval * 2, ReProbeMax)
                reProbeIn = reProbeInterval
              }
            } else reProbeIn -= accepted.size
          }
          roundIdx += 1
          syms = syms.select(col("n"),
            accepted.foldLeft(col("s")) { (s, m) =>
              applyMergeExpr(s, m.left, m.right)
            }.as("s"))
          r += accepted.size
          sinceCheckpoint += accepted.size
          if (sinceCheckpoint >= FitCheckpointEvery) {
            syms = syms.localCheckpoint()
            sinceCheckpoint = 0
          }
        }
      }
      (merges.result(), iters)
    } finally { words.unpersist(); () }
  }

  /** UTF-8-bytewise string order — EXACTLY how Spark's UTF8String and
    * DuckDB's default binary collation compare, and therefore how the
    * distributed fit's (left, right) tie-break orders. JVM
    * String.compareTo is UTF-16 code-unit order, which DIVERGES for
    * code points ≥ U+E000 vs supplementary planes — the in-memory fit
    * must not introduce an engine-mismatched tie order. */
  private[ops] val Utf8Order: Ordering[String] = (a: String, b: String) =>
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** One merge applied to a word's symbol list, leftmost-first
    * non-overlapping — the driver-side twin of [[applyMergeExpr]]'s
    * sentinel fold (the equivalence [[fitLocal]]'s byte-identity rests
    * on, pinned by spec). */
  private def applyMergeLocal(s: Array[String], l: String,
                              r: String): Array[String] = {
    val out = collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == l && s(i + 1) == r) {
        out += l + r; i += 2
      } else { out += s(i); i += 1 }
    }
    out.toArray
  }

  /** The classic IN-MEMORY BPE trainer (Sennrich's published loop with
    * incremental pair-count maintenance) — the path that actually
    * closes the 30k-merge wall-clock ceiling whenever the word table
    * fits driver memory, which for real corpora it almost always does:
    * the corpus-scale work is ONE Spark aggregate (the same distinct
    * word count [[fit]] starts from — vocabulary-sized, megabytes for
    * millions of distinct words), collected once; every merge round
    * then runs at memory speed with no per-round job latency at all.
    *
    * BYTE-IDENTICAL to [[fit]] by construction, not by luck:
    *   - pair statistics follow the same get_stats convention (all
    *     adjacent index pairs, overlap included — words are subtracted
    *     and re-added whole around a merge, so overlap self-corrects);
    *   - the argmax breaks count ties by (left, right) in UTF-8 BYTE
    *     order ([[Utf8Order]] — JVM string order would silently diverge
    *     from Spark/DuckDB binary collation on non-ASCII symbols);
    *   - merge application is the same leftmost-first non-overlapping
    *     scan ([[applyMergeLocal]] ≡ the sentinel fold);
    *   - the argmax lives in a TreeSet ordered (count desc, left,
    *     right) with remove-reinsert maintenance, so every round's
    *     winner is exactly the sequential one.
    * A spec pins list equality against [[fit]] on the worked example
    * and mixed-corpus fixtures. Resident driver state is ~1.9 KB per
    * distinct word (measured linear from 1M to 20M words, COVERAGE.md),
    * so a caller whose vocabulary may exceed ~8M words (~15 GB) calls
    * [[fit]]'s distributed rounds instead. */
  def fitLocal(corpus: DataFrame, textCol: String, rounds: Int): Seq[Merge] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val wordRows = corpus
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .collect()
    val words = wordRows.map(_.getString(0).split("").toSeq :+ EndOfWord)
      .map(_.toArray)
    val wCnt = wordRows.map(_.getLong(1))
    // pair -> weighted count, pair -> word indices containing it
    val pairCnt = collection.mutable.Map.empty[(String, String), Long]
    val pairWords = collection.mutable
      .Map.empty[(String, String), collection.mutable.Set[Int]]
    def addWord(wi: Int, sign: Long): Unit = {
      val s = words(wi)
      var i = 0
      while (i + 1 < s.length) {
        val p = (s(i), s(i + 1))
        val c = pairCnt.getOrElse(p, 0L) + sign * wCnt(wi)
        if (c == 0L) { pairCnt.remove(p); () } else pairCnt(p) = c
        if (sign > 0)
          pairWords.getOrElseUpdate(p,
            collection.mutable.Set.empty[Int]) += wi
        i += 1
      }
    }
    words.indices.foreach(addWord(_, 1L))
    // ordered view for O(log P) argmax: (count desc, left, right) in
    // UTF-8 byte order — the exact distributed tie-break
    implicit val ord: Ordering[(Long, String, String)] =
      Ordering.Tuple3(Ordering.Long.reverse, Utf8Order, Utf8Order)
    val ranked = collection.mutable.TreeSet.empty[(Long, String, String)]
    pairCnt.foreach { case ((l, r), c) => ranked += ((c, l, r)) }
    def resync(p: (String, String), before: Option[Long]): Unit = {
      before.foreach(c => ranked -= ((c, p._1, p._2)))
      pairCnt.get(p).foreach(c => ranked += ((c, p._1, p._2)))
    }
    val merges = Seq.newBuilder[Merge]
    var r = 1
    while (r <= rounds && ranked.nonEmpty) {
      val (cnt, l, rt) = ranked.head
      merges += Merge(r, l, rt, cnt)
      val affected = pairWords.getOrElse((l, rt), Set.empty[Int]).toArray
      for (wi <- affected) {
        // subtract the whole word's pairs, apply, re-add: overlap-safe
        // and exactly get_stats on the new state
        val touched = collection.mutable.Map.empty[(String, String), Long]
        def snap(s: Array[String]): Unit = {
          var i = 0
          while (i + 1 < s.length) {
            val p = (s(i), s(i + 1))
            if (!touched.contains(p))
              touched(p) = pairCnt.getOrElse(p, 0L)
            i += 1
          }
        }
        snap(words(wi))
        addWord(wi, -1L)
        words(wi) = applyMergeLocal(words(wi), l, rt)
        snap(words(wi))
        addWord(wi, 1L)
        touched.foreach { case (p, before) =>
          if (before == 0L) resync(p, None)
          else resync(p, Some(before))
        }
      }
      r += 1
    }
    merges.result()
  }

  /** The learned merge list as a flat DataFrame — the persist/audit
    * format (reload it anywhere, apply without refitting). */
  def mergesDF(spark: SparkSession, merges: Seq[Merge]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        merges.map(m => Row(m.rank, m.left, m.right, m.n)), 1),
      StructType(Seq(
        StructField("rank", IntegerType, nullable = false),
        StructField("left", StringType, nullable = false),
        StructField("right", StringType, nullable = false),
        StructField("n", LongType, nullable = false))))

  /** Reload a persisted [[mergesDF]] into driver state — the round-trip
    * that lets a later session (or another cluster) encode against a
    * learned vocabulary WITHOUT refitting. Rank order is restored from
    * the rank column; strings survive parquet exactly. */
  def fromDF(merges: DataFrame): Seq[Merge] = {
    val rows = merges.select("rank", "left", "right", "n").collect()
    require(rows.nonEmpty, "empty merge table")
    rows.map(r => Merge(r.getInt(0), r.getString(1), r.getString(2),
      r.getLong(3))).sortBy(_.rank).toSeq
  }

  /** PACKED symbol-string form of [[symbolize]]: the word's symbols
    * space-joined with a LEADING and TRAILING space (" c1 c2 ... </w> ").
    * The space is the same provably-symbol-free separator the fold
    * sentinel uses (symbols are characters of `\S+` words, the end
    * marker, or concatenations), so the string form is bijective with
    * the symbol array — and it lets merge application run as ONE
    * compiled literal regex per merge ([[applyMergePacked]]) instead of
    * an interpreted O(len²) array-building `aggregate` fold per merge
    * per occurrence (HOFs are CodegenFallback; measured 5x on the
    * sf0.1 corpus, bit-identical output). */
  private def packSyms(word: Column): Column =
    concat(lit(" "), concat_ws(" ", split(word, "")),
      lit(" " + EndOfWord + " "))

  /** Apply ONE merge to a packed symbol string: leftmost-first,
    * non-overlapping — java.util.regex replaceAll semantics with the
    * trailing separator held in a lookahead (consumed separators would
    * skip the immediately following adjacency; the lookahead keeps it
    * available, and scanning resumes after the replacement, so a merged
    * token can never re-merge within the same pass — exactly the
    * sentinel-fold contract, spec- and corpus-pinned equal). Merge
    * symbols are regex-quoted (corpus-derived strings may contain
    * metacharacters); the replacement is quoted for `$`/`\`. */
  private[ops] def applyMergePacked(s: Column, left: String, right: String,
                                    merged: String): Column =
    regexp_replace(s,
      " " + java.util.regex.Pattern.quote(left) +
        " " + java.util.regex.Pattern.quote(right) + "(?= )",
      java.util.regex.Matcher.quoteReplacement(" " + merged))

  /** All merges applied in rank order to the packed form of `word`. */
  private def foldPacked(word: Column, merges: Seq[Merge]): Column =
    merges.sortBy(_.rank).foldLeft(packSyms(word)) { (s, m) =>
      applyMergePacked(s, m.left, m.right, m.left + m.right)
    }

  /** Symbol count of a packed symbol string: separators − 1. */
  private[ops] def packedLen(s: Column): Column =
    (length(s) - length(replace(s, lit(" "), lit(""))) - 1).cast("long")

  /** Encode a text column with an already-learned merge list: symbolize
    * each whitespace token, apply the merges in rank order (map-side
    * compiled-regex passes over the packed symbol string — no join, no
    * shuffle, whole-stage-codegen-friendly; see [[packSyms]]), and
    * return the flattened symbol array. */
  def encodeExpr(text: Column, merges: Seq[Merge]): Column = {
    val perWord = (w: Column) => {
      val parts = split(foldPacked(w, merges), " ")
      // leading/trailing separators make elements 1 and last empty
      slice(parts, lit(2), greatest(size(parts) - 2, lit(0)))
    }
    flatten(transform(TextAnalysis.tokens(text), perWord))
  }

  /** Total encoded-token count of a text column — `size(encodeExpr)`
    * without materializing the token arrays: each word's count is read
    * off the packed string's separator count. Same value by
    * construction (corpus- and spec-pinned); the aggregate-heavy
    * streaming path uses it. */
  def encodeLenExpr(text: Column, merges: Seq[Merge]): Column =
    aggregate(transform(TextAnalysis.tokens(text),
      w => packedLen(foldPacked(w, merges))), lit(0L), _ + _)

  /** Per-doc BPE token counts at corpus scale. [[encodeExpr]] folds the
    * merges per OCCURRENCE — right for ad-hoc unseen text, quadratic
    * waste on a corpus where every word repeats. Here the folds run once
    * per DISTINCT word (vocabulary-sized work, like fit itself) and the
    * corpus joins each word occurrence to its encoded length on the
    * word key. NO broadcast hint: a web corpus's `\S+` vocabulary is
    * heavy-tailed and unbounded (URLs, hashes, numbers — far past any
    * broadcast cap), so the optimizer/AQE picks broadcast only when the
    * vocabulary actually is small; the shuffle otherwise ships (id,
    * word) pairs — the document TEXT never runs a fold and never
    * shuffles — and the (id, count) aggregate's partials collapse
    * map-side. */
  /** Merges per projection batch in [[encodedLengths]]: a single select
    * nesting one `aggregate` fold per merge hits Catalyst
    * analysis/codegen depth limits long before a real vocabulary's
    * 30k-100k merges (and CollapseProject would re-nest split
    * projections), so the vocabulary table localCheckpoints between
    * batches. 16 is measured headroom: Spark 4's recursive
    * ColumnNode-to-expression conversion StackOverflows on the driver
    * near ~64 nested aggregate folds, well before analysis limits. One
    * batch (every shipped query, <= 16 merges) keeps the exact
    * single-projection plan. [[encodeExpr]] has no table to
    * checkpoint — its per-occurrence fold keeps the single-expression
    * ceiling and stays the ad-hoc/unseen-text path only. */
  private val EncodeBatchSize = 16

  def encodedLengths(corpus: DataFrame, idCol: String, textCol: String,
                     merges: Seq[Merge]): DataFrame = {
    val docWords = corpus.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("w"))
    val batches = merges.sortBy(_.rank).grouped(EncodeBatchSize).toSeq
    // packed-string symbol state (see packSyms): one compiled literal
    // regex per merge instead of an interpreted array fold — identical
    // symbol sequences, spec-pinned
    var vocabSyms = docWords.select("w").distinct()
      .select(col("w"), packSyms(col("w")).as("__s"))
    for ((batch, idx) <- batches.zipWithIndex) {
      vocabSyms = vocabSyms.select(col("w"),
        batch.foldLeft(col("__s")) { (s, m) =>
          applyMergePacked(s, m.left, m.right, m.left + m.right)
        }.as("__s"))
      // checkpoint BETWEEN batches only — the last batch's folds flow
      // straight into the size() projection, so the multi-batch path
      // never pays a trailing vocabulary-sized materialization
      if (idx < batches.size - 1) vocabSyms = vocabSyms.localCheckpoint()
    }
    val vocab = vocabSyms
      .select(col("w"), packedLen(col("__s")).as("n_syms"))
    val counts = docWords.join(vocab, "w")
      .groupBy(idCol).agg(sum("n_syms").as("n_bpe"))
    // empty/whitespace-only docs explode to zero words and would vanish
    // from the aggregate — the spine join gives them their true n_bpe=0
    // row instead of a silent drop
    corpus.select(col(idCol)).join(counts, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_bpe"), lit(0L)).as("n_bpe"))
  }

  /** The fit-time character alphabet: every distinct character of the
    * corpus's `\S+` words. Model-sized (distinct Unicode characters,
    * not words) — the companion artifact a byte-fallback encoder
    * persists next to the merge list, so encode-anywhere can tell a
    * fit-time base symbol from an out-of-alphabet character. */
  def alphabet(corpus: DataFrame, textCol: String): Seq[String] =
    corpus.select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .select(explode(split(col("w"), "")).as("c"))
      .distinct().orderBy("c").collect().map(_.getString(0)).toSeq

  /** GPT-2 / SentencePiece-style BYTE-FALLBACK symbolization: a
    * character in the fit alphabet stays a character symbol; an
    * out-of-alphabet character decomposes into its UTF-8 bytes as
    * `<0xHH>` pseudo-tokens. Encode-anywhere therefore never drops
    * input — the lossless mirror of Unigram's explicit `<unk>` arm
    * (which is visible but lossy). Byte tokens can never merge:
    * learned merges are over fit-time symbols only, and `<0x..>`
    * strings contain characters outside every merge's symbols by
    * construction of the fit corpus. */
  def symbolizeFallback(word: Column, alpha: Seq[String]): Column =
    concat(flatten(transform(split(word, ""), c =>
      when(c.isin(alpha: _*), array(c))
        .otherwise(transform(
          regexp_extract_all(hex(encode(c, "UTF-8")),
            lit("[0-9A-F]{2}"), lit(0)),
          b => concat(lit("<0x"), b, lit(">")))))),
      array(lit(EndOfWord)))

  /** Byte-fallback encode at corpus scale, digest form: the
    * [[encodedLengths]] vocabulary-join shape (merges fold once per
    * DISTINCT word, occurrences equi-join back on the word key), with
    * [[symbolizeFallback]] as the base symbolization and three outputs
    * per doc — token count, byte-fallback token count (how much of the
    * stream rode the fallback), and the md5 digest of the ordered
    * token stream. Callers pass the fit corpus's [[alphabet]]; docs
    * are expected non-empty of words (the OOV probes append one). */
  def encodeFallbackDigest(corpus: DataFrame, idCol: String,
                           textCol: String, merges: Seq[Merge],
                           alpha: Seq[String]): DataFrame = {
    val docWords = corpus.select(col(idCol),
      posexplode(TextAnalysis.tokens(col(textCol))))
      .withColumnRenamed("col", "w")
    val batches = merges.sortBy(_.rank).grouped(EncodeBatchSize).toSeq
    // packed-string symbol state (see packSyms) — the byte-token count
    // reads " <0x" occurrences (token STARTS, exactly the
    // startsWith("<0x") filter: every token start is space-preceded)
    var vocabSyms = docWords.select("w").distinct()
      .select(col("w"), concat(lit(" "),
        array_join(symbolizeFallback(col("w"), alpha), " "),
        lit(" ")).as("__s"))
    for ((batch, idx) <- batches.zipWithIndex) {
      vocabSyms = vocabSyms.select(col("w"),
        batch.foldLeft(col("__s")) { (s, m) =>
          applyMergePacked(s, m.left, m.right, m.left + m.right)
        }.as("__s"))
      if (idx < batches.size - 1) vocabSyms = vocabSyms.localCheckpoint()
    }
    val wenc = vocabSyms.select(col("w"),
      packedLen(col("__s")).as("__k"),
      ((length(col("__s")) -
        length(replace(col("__s"), lit(" <0x"), lit("")))) / 4)
        .cast("long").as("__kb"),
      trim(col("__s")).as("__ss"))
    docWords.join(wenc, "w").groupBy(idCol)
      .agg(sum("__k").as("n_bpe"), sum("__kb").as("n_byte"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("__ss")))),
          x => x.getField("__ss")), " ")).as("bpe_md5"))
  }
}
