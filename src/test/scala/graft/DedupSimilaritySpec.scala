package graft

import graft.ops.{Chunking, Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Self-consistency tests for the approximate operators (the DuckDB oracle
  * can't express them): planted duplicates must be found, unrelated docs
  * must not collide, and the LSH paths must agree with brute force on
  * planted identicals. */
class DedupSimilaritySpec extends SparkSuite {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight"
  private val docs = Seq(
    (1L, base),
    (2L, base),                                     // exact dup of 1
    (3L, base.replace("green", "dark")),            // near dup of 1
    (4L, "completely different content about databases and query engines with many unusual words"),
    (5L, "another unrelated text on cooking recipes and kitchen tools nothing shared at all here"))
    .toDF("doc_id", "text")

  test("exact dedup keeps min-id survivor per duplicate group") {
    val out = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 3L, 4L, 5L))
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        shingleWords = 2, numHashes = 64, bands = 16, threshold = 0.5)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists { case (a, b) => b == 4L || b == 5L || a == 4L })
  }

  test("minhashDedup drops dup docs, keeps representatives") {
    val kept = Dedup.minhashDedup(docs, "doc_id", "text",
        shingleWords = 2, numHashes = 64, bands = 16, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept.contains(1L) && kept.contains(4L) && kept.contains(5L))
    assert(!kept.contains(2L))
  }

  test("chunking: overlap windows cover every token, last chunk short") {
    val doc = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Chunking.chunkByTokens(doc, "doc_id", "text",
        chunkSize = 4, overlap = 1).orderBy("chunk_idx")
      .select("chunk_idx", "n_tokens", "chunk_text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    // stride 3 over 10 tokens: [0,4) [3,7) [6,10) -> 3 chunks, all size 4
    assert(out.length == 3)
    assert(out(0) == (0L, 4, "w1 w2 w3 w4"))
    assert(out(1) == (1L, 4, "w4 w5 w6 w7"))
    assert(out(2) == (2L, 4, "w7 w8 w9 w10"))
    // short doc: single chunk, short tail
    val one = Chunking.chunkByTokens(
        Seq((1L, "a b")).toDF("doc_id", "text"), "doc_id", "text", 4, 1)
      .collect()
    assert(one.length == 1 &&
      one.head.getAs[String]("chunk_text") == "a b")
  }

  test("packing: exclusive running sum bins per stratum, deterministic") {
    val d = Seq(
      ("a", 1L, "x " * 100), ("a", 2L, "x " * 100), ("a", 3L, "x " * 100),
      ("b", 1L, "x " * 50)).map { case (s0, i, t0) => (s0, i, t0.trim) }
      .toDF("source", "doc_id", "text")
    val out = Chunking.packByBudget(d, Seq("source"), "doc_id",
        TextAnalysis.tokenCount(col("text")), budget = 150)
      .select("source", "doc_id", "bin")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // a: cumsum-excl 0,100,200 -> bins 0,0,1; b: 0 -> bin 0
    assert(out == Set(("a", 1L, 0L), ("a", 2L, 0L), ("a", 3L, 1L), ("b", 1L, 0L)))
    // straddle contract: doc 2 starts at offset 100 with 100 tokens in a
    // 150 budget -> spans into bin 1 (end_bin 1); doc 1 fits; doc 3
    // starts exactly at a boundary (offset 50 of bin 1) and fits; a
    // zero-token doc never spans and ends in its own bin
    val spans = Chunking.packByBudget(
        d.union(Seq(("b", 2L, "")).toDF("source", "doc_id", "text")),
        Seq("source"), "doc_id",
        TextAnalysis.tokenCount(col("text")), budget = 150)
      .select("source", "doc_id", "bin_offset", "spans_next_bin", "end_bin")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getBoolean(3), r.getLong(4)))).toMap
    assert(spans(("a", 1L)) == ((0L, false, 0L)))
    assert(spans(("a", 2L)) == ((100L, true, 1L)), s"$spans")
    assert(spans(("a", 3L)) == ((50L, false, 1L)))
    assert(spans(("b", 2L)) == ((50L, false, 0L)), s"$spans")
  }

  test("packing: custom order packs by typicality, not id") {
    // two docs per stratum, the LOWER id the less typical: id order
    // would pack (1, 2); (score desc, id) order must pack (2, 1) —
    // visible in bin assignment under a budget that splits them
    val d = Seq((1L, 0.1, 100L), (2L, 0.9, 100L))
      .toDF("id", "score", "tok").withColumn("g", lit("s"))
    val byScore = Chunking.packByBudget(d, Seq("g"), "id", col("tok"),
        budget = 100, carryCols = Seq("score"),
        orderCols = Seq(col("score").desc, col("id")))
      .select("id", "bin").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byScore(2L) == 0L && byScore(1L) == 1L,
      s"typicality order not honored: $byScore")
  }

  test("pack_semantic shape: planted blobs pack within their own cluster") {
    import graft.ops.KMeans
    // two tight blobs; every bin must be single-cluster by construction
    // (cluster is a stratum), and within a cluster the most-typical
    // (highest centroid-cos) doc must land in bin 0
    val rows = (0 until 12).map { i =>
      val base = if (i % 2 == 0) Seq(1.0, 0.0) else Seq(0.0, 1.0)
      val v = base.map(_ + (i / 2) * 0.01)
      (i.toLong, v)
    }.toDF("id", "vec")
    val cents = KMeans.fit(rows, "id", "vec", k = 2, iters = 2)
    val asg = KMeans.assignments(rows, "id", "vec", cents)
      .withColumn("tok", lit(60L))
    val packed = Chunking.packByBudget(asg, Seq("cluster"), "id",
      col("tok"), budget = 100, carryCols = Seq("cent_sim"),
      orderCols = Seq(col("cent_sim").desc, col("id")))
    val out = packed.select("cluster", "bin", "id", "cent_sim").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // strata are clusters: both clusters present, 6 docs each
    assert(out.groupBy(_._1).forall(_._2.length == 6))
    // within each cluster, bin-0 docs are at least as typical as bin-1+
    for ((_, grp) <- out.groupBy(_._1)) {
      val minBin0 = grp.filter(_._2 == 0L).map(_._4).min
      val maxRest = grp.filter(_._2 > 0L).map(_._4)
        .foldLeft(Double.NegativeInfinity)(math.max)
      assert(minBin0 >= maxRest,
        s"less-typical doc packed before a more-typical one: $grp")
    }
  }

  test("stripDuplicatedSpans: any-alignment dup spans stripped, first kept") {
    import graft.ops.Dedup
    // a 6-token passage duplicated across three docs at DIFFERENT
    // offsets (the alignment segmentDedup's disjoint tiling misses);
    // window = 4 tokens, so every duplicated span position is covered
    val passage = "shared passage tokens appear twice verbatim"
    val docs = Seq(
      (1L, s"alpha beta $passage gamma delta"),       // canonical (min id)
      (2L, s"$passage completely other tail words"),  // offset 0
      (3L, s"x y z w $passage"),                      // offset 4
      (4L, "nothing duplicated here at all today ok") // untouched
    ).toDF("doc_id", "text")
    val out = Dedup.stripDuplicatedSpans(docs, "doc_id", "text",
        windowTokens = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(4)))).toMap
    // doc 1 holds the canonical occurrence of every passage window ->
    // fully intact; docs 2 and 3 lose exactly the 6 passage tokens
    assert(out(1L) == ((10L, 0L, s"alpha beta $passage gamma delta")),
      s"${out(1L)}")
    assert(out(2L) == ((10L, 6L, "completely other tail words")),
      s"${out(2L)}")
    assert(out(3L) == ((10L, 6L, "x y z w")), s"${out(3L)}")
    assert(out(4L) == ((7L, 0L, "nothing duplicated here at all today ok")))
    // determinism
    val again = Dedup.stripDuplicatedSpans(docs, "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(again == out.view.mapValues(_._3).toMap)
    // a doc shorter than the window yields no windows and survives whole
    val tiny = Dedup.stripDuplicatedSpans(
        Seq((9L, "just two")).toDF("doc_id", "text"), "doc_id", "text", 4)
      .collect().head
    assert(tiny.getLong(1) == 2L && tiny.getLong(2) == 0L &&
      tiny.getString(4) == "just two")
  }

  test("stripSpansAgainstIndex: history spans stripped, batch-internal kept") {
    import graft.ops.Dedup
    val passage = "shared passage tokens appear twice verbatim"
    val history = Seq((1L, s"intro words $passage closing bits"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, s"fresh start $passage and beyond"),  // history span at offset 2
      (11L, "batch only duplicated chunk of text here"),
      (12L, "batch only duplicated chunk of text here"), // dup WITHIN batch
      (13L, "nothing shared with anyone at all")
    ).toDF("doc_id", "text")
    val index = Dedup.windowHashIndex(history, "doc_id", "text",
      windowTokens = 4)
    // index carries one row per token position of history
    assert(index.columns.toSeq == Seq("h", "doc_id", "pos"))
    val out = Dedup.stripSpansAgainstIndex(batch, index, "doc_id", "text",
        windowTokens = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getString(4)))).toMap
    // the historical passage is stripped wherever it lands in the batch
    assert(out(10L) == ((6L, "fresh start and beyond")), s"${out(10L)}")
    // WITHIN-batch duplication is out of scope for the incremental form
    // (compose with stripDuplicatedSpans over the batch for it)
    assert(out(11L) == ((0L, "batch only duplicated chunk of text here")))
    assert(out(12L) == ((0L, "batch only duplicated chunk of text here")))
    assert(out(13L) == ((0L, "nothing shared with anyone at all")))
  }

  test("clusterPairs: transitive chains collapse to the min-id rep") {
    // chain 1-2-3 (1~2, 2~3 but no 1~3 edge) plus isolated pair 7-9
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("idA", "idB")
    val reps = Dedup.clusterPairs(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("clusterPairs: long chain converges in O(log n) rounds, not O(n)") {
    // a 512-node PATH is the adversarial topology for label propagation
    // (diameter 511 -> 511 rounds); large-star/small-star must collapse
    // it to one star on 0 in ~log2 rounds
    val n = 512
    val pairs = (0 until n - 1).map(i => (i.toLong, i.toLong + 1))
      .toDF("idA", "idB")
    val (labels, rounds) = Dedup.clusterPairsCounted(pairs)
    val reps = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(reps.length == n)
    assert(reps.forall(_._2 == 0L), "every chain node must map to id 0")
    assert(rounds <= 12, s"chain of $n took $rounds rounds — not logarithmic")
  }

  test("clusterPairs: empty and duplicate-edge inputs") {
    val empty = Seq.empty[(Long, Long)].toDF("idA", "idB")
    assert(Dedup.clusterPairs(empty).count() == 0)
    // duplicate + reversed + self edges collapse cleanly
    val messy = Seq((2L, 1L), (1L, 2L), (2L, 2L), (2L, 3L)).toDF("idA", "idB")
    val reps = Dedup.clusterPairs(messy)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // a node appearing ONLY as a self-pair is still "in pairs": it must
    // come back labeled with itself, not vanish
    val selfish = Seq((5L, 5L), (1L, 2L)).toDF("idA", "idB")
    val reps2 = Dedup.clusterPairs(selfish)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps2 == Map(1L -> 1L, 2L -> 1L, 5L -> 5L))
  }

  test("jaccard: identical shingle sets -> 1.0, disjoint -> 0.0") {
    val out = docs.select(
        Dedup.jaccard(Dedup.wordShingles(col("text"), 2),
          Dedup.wordShingles(col("text"), 2)).as("self"))
      .as[Double].collect()
    assert(out.forall(_ == 1.0))
    val cross = docs.filter(col("doc_id") === 1).crossJoin(
        docs.filter(col("doc_id") === 4).select(col("text").as("t2")))
      .select(Dedup.jaccard(Dedup.wordShingles(col("text"), 2),
        Dedup.wordShingles(col("t2"), 2)).as("j"))
      .as[Double].collect().head
    assert(cross < 0.1)
  }

  test("simhash: identical docs -> hamming 0; caught as near-dup pair") {
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("idA", "idB", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
  }

  test("char shingles: k-length, whitespace-normalized, distinct") {
    val out = Seq("aa  bb").toDF("t")
      .select(Dedup.charShingles(col("t"), 3).as("sh"))
      .as[Seq[String]].collect().head
    assert(out.toSet == Set("aa ", "a b", " bb"))
    assert(out.forall(_.length == 3))
  }

  test("simhash quarters are 16-bit non-negative ints") {
    val q = Dedup.simhashQuarters(docs, "doc_id", "text")
      .select(explode(col("sh"))).as[Int].collect()
    assert(q.forall(v => v >= 0 && v <= 0xFFFF))
  }

  // ------------------------------------------------- hot-bucket escalation

  /** Planted degenerate-print frame: every row shares quarter 0 (the
    * all-zero key of a flat image / silent clip), quarters 1-3 are
    * md5-derived per PAIR base b = id - id%2, and odd rows carry 1..3
    * bit flips vs their even partner (plus >3-flip negatives at b%7). */
  private def degeneratePrints(n: Int): org.apache.spark.sql.DataFrame =
    spark.range(n).selectExpr("id",
        "md5(CAST(id - (id % 2) AS STRING)) AS h", "id - (id % 2) AS b")
      .selectExpr("id", "b",
        "CAST(0 AS BIGINT) AS q0",
        "CAST(conv(substr(h, 1, 4), 16, 10) AS BIGINT) AS q1r",
        "CAST(conv(substr(h, 5, 4), 16, 10) AS BIGINT) AS q2r",
        "CAST(conv(substr(h, 9, 4), 16, 10) AS BIGINT) AS q3r")
      .selectExpr("id", "q0",
        "CASE WHEN id % 2 = 1 THEN q1r ^ shiftleft(CAST(1 AS BIGINT), CAST(b % 12 AS INT)) ELSE q1r END AS q1",
        "CASE WHEN id % 2 = 1 AND b % 3 = 0 THEN q2r ^ shiftleft(CAST(1 AS BIGINT), CAST(b % 5 AS INT)) ELSE q2r END AS q2",
        "CASE WHEN id % 2 = 1 AND b % 7 = 0 THEN q3r ^ shiftleft(CAST(7 AS BIGINT), CAST(b % 13 AS INT)) " +
          "WHEN id % 2 = 1 AND b % 5 = 0 THEN q3r ^ shiftleft(CAST(3 AS BIGINT), CAST(b % 13 AS INT)) " +
          "ELSE q3r END AS q3")
      .selectExpr("id", "array(q0, q1, q2, q3) AS sh")

  test("packed-print popcount hamming equals the quarter-wise fold") {
    // hammingPk (one bit_count over XOR of the bijective 64-bit packs —
    // the codegen form the candidate joins use) must agree with the
    // quarter-wise hammingQuarters fold on every print pair, including
    // the 0 / 0xFFFF quarter extremes
    val f = degeneratePrints(200)
      .union(spark.range(2).selectExpr("id + 5000 AS id",
        "array(CAST(0 AS BIGINT), CAST(65535 AS BIGINT), " +
          "CAST(0 AS BIGINT), CAST(65535 AS BIGINT)) AS sh"))
      .union(spark.range(2).selectExpr("id + 6000 AS id",
        "array(CAST(65535 AS BIGINT), CAST(0 AS BIGINT), " +
          "CAST(65535 AS BIGINT), CAST(0 AS BIGINT)) AS sh"))
    val m = f.select(col("id"), col("sh"), Dedup.packPrint(col("sh")).as("pk"))
    val diff = m.select(col("id").as("ia"), col("sh").as("sha"),
        col("pk").as("pka"))
      .crossJoin(m.select(col("id").as("ib"), col("sh").as("shb"),
        col("pk").as("pkb")))
      .filter(col("ia") < col("ib"))
      .filter(Dedup.hammingQuarters(col("sha"), col("shb")) =!=
        Dedup.hammingPk(col("pka"), col("pkb")))
    assert(diff.count() == 0L)
  }

  /** Reference form of [[Dedup.rem48Pk]]: the 48 print bits outside
    * quarter `q`, shift-accumulated over the quarter ARRAY. */
  private def rem48(sh: Column, q: Column): Column =
    aggregate(filter(sequence(lit(0), lit(3)), j => j =!= q),
      lit(0L), (acc, j) => shiftleft(acc, 16) + element_at(sh, j + 1))

  /** Reference form of [[Dedup.subKeysPk]]: the four 12-bit sub-blocks
    * of [[rem48]]. */
  private def subKeys(sh: Column, q: Column): Column = {
    val rem = rem48(sh, q)
    array((0 to 3).map { i =>
      shiftright(rem, 36 - 12 * i).bitwiseAND(lit(0xfffL))
    }: _*)
  }

  test("packed-print shift/mask rem48 and subKeys equal the array folds") {
    // rem48Pk / subKeysPk (the codegen CASE forms the hot-bucket level-2
    // join keys on) must agree with the interpreted array folds for
    // every quarter index, including the 0 / 0xFFFF quarter extremes
    val f = degeneratePrints(200)
      .union(spark.range(2).selectExpr("id + 5000 AS id",
        "array(CAST(0 AS BIGINT), CAST(65535 AS BIGINT), " +
          "CAST(0 AS BIGINT), CAST(65535 AS BIGINT)) AS sh"))
      .union(spark.range(2).selectExpr("id + 6000 AS id",
        "array(CAST(65535 AS BIGINT), CAST(0 AS BIGINT), " +
          "CAST(65535 AS BIGINT), CAST(0 AS BIGINT)) AS sh"))
    val withQ = f.select(col("id"), col("sh"),
        Dedup.packPrint(col("sh")).as("pk"))
      .crossJoin(spark.range(4).select(col("id").cast("int").as("q")))
    val diff = withQ.filter(
      rem48(col("sh"), col("q")) =!= Dedup.rem48Pk(col("pk"), col("q")) ||
        subKeys(col("sh"), col("q")) =!=
          Dedup.subKeysPk(col("pk"), col("q")))
    assert(diff.count() == 0L)
    // and unpackPrint stays the exact inverse of packPrint on the same set
    val inv = withQ.filter(Dedup.unpackPrint(col("pk")) =!= col("sh"))
    assert(inv.count() == 0L)
  }

  test("hot-bucket escalation is exact at maxHamming <= 3: escalated == plain") {
    val f = degeneratePrints(400).cache()
    try {
      val plain = Dedup.quarterNearDupPairs(f, maxHamming = 3,
          hotThreshold = Int.MaxValue)
        .select("idA", "idB", "hamming").as[(Long, Long, Int)].collect().toSet
      val escalated = Dedup.quarterNearDupPairs(f, maxHamming = 3,
          hotThreshold = 8)
        .select("idA", "idB", "hamming").as[(Long, Long, Int)].collect().toSet
      // the fixture must not be vacuous (the parity-trap lesson)
      assert(plain.size > 50, s"fixture degenerate: only ${plain.size} pairs")
      assert(escalated == plain)
    } finally { f.unpersist(); () }
  }

  test("hot-bucket escalation (incremental index form) is exact too") {
    val f = degeneratePrints(400).cache()
    try {
      val batch = f.filter(col("id") % 2 === 1)
      val index = f.filter(col("id") % 2 === 0)
      val plain = Dedup.quarterNearDupAgainstIndex(batch, index,
          maxHamming = 3, hotThreshold = Int.MaxValue)
        .select("idA", "idB").as[(Long, Long)].collect().toSet
      val escalated = Dedup.quarterNearDupAgainstIndex(batch, index,
          maxHamming = 3, hotThreshold = 8)
        .select("idA", "idB").as[(Long, Long)].collect().toSet
      assert(plain.nonEmpty)
      assert(escalated == plain)
    } finally { f.unpersist(); () }
  }

  test("hot-bucket escalation bounds candidates: 10k identical-quarter rows") {
    val n = 10000
    val f = degeneratePrints(n).cache()
    try {
      // the degenerate quarter-0 bucket holds all n rows: the plain join
      // would verify n(n-1)/2 ~ 5e7 candidates. After the level-2
      // re-block its candidate count is sum over (sub-block, sub-key)
      // buckets of C(m, 2) — md5-diverse prints spread over 4 x 4096
      // sub-keys, so ~n/2 pairs survive, 3 orders of magnitude less.
      val hotCandidates = f
        .select(col("id"), posexplode(subKeys(col("sh"), lit(0))))
        .groupBy("pos", "col").agg(count(lit(1)).as("m"))
        .agg(sum((col("m") * (col("m") - 1) / 2).cast("long")))
        .as[Long].collect().head
      assert(hotCandidates < 1000000L,
        s"escalation did not shrink the degenerate bucket: $hotCandidates")
      // and the escalated operator still finds every planted partner pair
      // (escalation FIRES: n = 10000 > default threshold 4096)
      val got = Dedup.quarterNearDupPairs(f, maxHamming = 3)
        .filter(col("idB") === col("idA") + 1 && col("idA") % 2 === 0)
        .select("idA").as[Long].collect().toSet
      val expected = (0 until n by 2).filter { b =>
        1 + (if (b % 3 == 0) 1 else 0) +
          (if (b % 7 == 0) 3 else if (b % 5 == 0) 2 else 0) <= 3
      }.map(_.toLong).toSet
      assert(got == expected)
    } finally { f.unpersist(); () }
  }

  test("pigeonhole radius guard: >3 requires explicit approxRecall opt-in") {
    val f = degeneratePrints(8)
    intercept[IllegalArgumentException] {
      Dedup.quarterNearDupPairs(f, maxHamming = 4)
    }
    intercept[IllegalArgumentException] {
      Dedup.quarterNearDupAgainstIndex(f, f, maxHamming = 4)
    }
    // the opt-in accepts the radius (blocking-limited recall contract)
    assert(Dedup.quarterNearDupPairs(f, maxHamming = 4, approxRecall = true)
      .columns.sameElements(Array("idA", "idB", "hamming")))
  }

  test("exact-print collapse: identical prints give 0 rep candidates, full pair set") {
    // 300 bit-identical prints (true silence / flat frames): before the
    // collapse these rode the hot path into ONE level-2 sub-bucket
    // (O(n^2) candidates, x16 sub-key copies through the distinct);
    // after it the candidate join sees ONE distinct print and the true
    // pairs come from the output-sized packed-print equi-join.
    val ident = spark.range(300).selectExpr("id",
      "array(CAST(7 AS BIGINT), CAST(11 AS BIGINT), " +
        "CAST(13 AS BIGINT), CAST(17 AS BIGINT)) AS sh")
    val reps = ident
      .select(col("id"), col("sh"), Dedup.packPrint(col("sh")).as("pk"))
      .groupBy("pk")
      .agg(min(col("id")).as("id"), first(col("sh")).as("sh"))
    assert(reps.count() == 1L)
    assert(Dedup.pigeonholeRepPairs(reps, 3, approxRecall = false, 8)
      .count() == 0L)
    val pairs = Dedup.quarterNearDupPairs(ident.toDF(), maxHamming = 3,
        hotThreshold = 8)
      .select("idA", "idB", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.length == 300 * 299 / 2)
    assert(pairs.forall(p => p._1 < p._2 && p._3 == 0))
  }

  test("exact-print collapse preserves the pair set: mixed fixture == brute force") {
    // degenerate near-pairs PLUS a 40-member identical-print family:
    // the operator output must equal blocking-independent brute-force
    // hamming <= 3, with no duplicate rows from the membership fan-out
    val f = degeneratePrints(120)
      .union(spark.range(1000, 1040).selectExpr("id",
        "array(CAST(0 AS BIGINT), CAST(1 AS BIGINT), " +
          "CAST(2 AS BIGINT), CAST(3 AS BIGINT)) AS sh"))
      .cache()
    try {
      val brute = f.select(col("id").as("ia"), col("sh").as("sha"))
        .crossJoin(f.select(col("id").as("ib"), col("sh").as("shb")))
        .filter(col("ia") < col("ib"))
        .select(col("ia"), col("ib"),
          Dedup.hammingQuarters(col("sha"), col("shb")).as("h"))
        .filter(col("h") <= 3)
        .as[(Long, Long, Int)].collect().toSet
      val got = Dedup.quarterNearDupPairs(f, maxHamming = 3,
          hotThreshold = 8)
        .select("idA", "idB", "hamming").as[(Long, Long, Int)].collect()
      assert(got.length == got.toSet.size, "fan-out emitted duplicate pairs")
      assert(got.toSet == brute)
      val batch = f.filter(col("id") % 2 === 1)
      val index = f.filter(col("id") % 2 === 0)
      val bruteIdx = batch.select(col("id").as("ia"), col("sh").as("sha"))
        .crossJoin(index.select(col("id").as("ib"), col("sh").as("shb")))
        .select(col("ia"), col("ib"),
          Dedup.hammingQuarters(col("sha"), col("shb")).as("h"))
        .filter(col("h") <= 3)
        .as[(Long, Long, Int)].collect().toSet
      val gotIdx = Dedup.quarterNearDupAgainstIndex(batch, index,
          maxHamming = 3, hotThreshold = 8)
        .select("idA", "idB", "hamming").as[(Long, Long, Int)].collect()
      assert(gotIdx.length == gotIdx.toSet.size)
      assert(gotIdx.toSet == bruteIdx)
    } finally { f.unpersist(); () }
  }

  test("approxRecall radius > 3 replays plain level-1 blocking (no escalation)") {
    // the blocking-limited contract (oracle replays level-1 blocking)
    // must not have its recall changed by hot buckets: with radius > 3
    // the escalation is skipped, so an aggressive hotThreshold changes
    // nothing
    val f = degeneratePrints(200).cache()
    try {
      val ref = Dedup.quarterNearDupPairs(f, maxHamming = 6,
          approxRecall = true, hotThreshold = Int.MaxValue)
        .select("idA", "idB", "hamming").as[(Long, Long, Int)].collect().toSet
      val hot = Dedup.quarterNearDupPairs(f, maxHamming = 6,
          approxRecall = true, hotThreshold = 2)
        .select("idA", "idB", "hamming").as[(Long, Long, Int)].collect().toSet
      assert(ref.nonEmpty && hot == ref)
      val batch = f.filter(col("id") % 2 === 1)
      val index = f.filter(col("id") % 2 === 0)
      val refIdx = Dedup.quarterNearDupAgainstIndex(batch, index,
          maxHamming = 6, approxRecall = true, hotThreshold = Int.MaxValue)
        .select("idA", "idB", "hamming").as[(Long, Long, Int)].collect().toSet
      val hotIdx = Dedup.quarterNearDupAgainstIndex(batch, index,
          maxHamming = 6, approxRecall = true, hotThreshold = 2)
        .select("idA", "idB", "hamming").as[(Long, Long, Int)].collect().toSet
      assert(refIdx.nonEmpty && hotIdx == refIdx)
    } finally { f.unpersist(); () }
  }

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),   // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f)),  // opposite of 0
    (4L, Array(1.0f, 0.0f, 0.0f)))   // identical to 0
    .toDF("vec_id", "embedding")

  test("brute-force top-k ranks by true cosine") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 4)
      .orderBy("rank").select("nid").as[Long].collect().toSeq
    assert(out == Seq(4L, 1L, 2L, 3L)) // identical, close, orthogonal, opposite
  }

  test("LSH top-k finds the identical vector (same bucket by construction)") {
    val out = Similarity.lshTopK(vecs, vecs.filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 4, numPlanes = 4)
      .select("nid").as[Long].collect().toSeq
    assert(out.contains(4L))
  }

  test("int8 quantization: reconstruction error <= half a quant step") {
    val df = (vecs.collect().map(r =>
        (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq :+
        (9L, Array(0.0f, 0.0f, 0.0f))) // zero vector: scale 0 path
      .toDF("vec_id", "embedding")
    val out = df.select(Similarity.asDouble(col("embedding")).as("v"))
      .withColumn("scale", Similarity.quantizeScale(col("v")))
      .withColumn("dv", Similarity.dequantizeInt8(
        Similarity.quantizeInt8(col("v"), col("scale")), col("scale")))
      .select(col("scale"),
        array_max(zip_with(col("v"), col("dv"), (a, b) => abs(a - b))).as("err"))
      .collect()
    out.foreach { r =>
      val (scale, err) = (r.getDouble(0), r.getDouble(1))
      assert(err <= scale / 254.0 + 1e-12, s"err $err exceeds half-step for scale $scale")
    }
  }

  test("native lsh_bucket expression is bit-identical to the HOF spec") {
    for (planes <- Seq(1, 4, 6, 16); off <- Seq(0, 8, 24)) {
      val both = vecs.select(
        Similarity.lshBucket(col("embedding"), planes, lit(off)).as("native"),
        Similarity.lshBucketHof(col("embedding"), planes, lit(off)).as("hof"))
        .collect()
      assert(both.forall(r => r.getLong(0) == r.getLong(1)),
        s"mismatch at planes=$planes offset=$off")
    }
  }

  test("multi-probe LSH: candidates are a superset, recall never drops") {
    val qs = vecs.filter(col("vec_id") < 2)
    def pairs(probes: Int) = Similarity.lshTopK(vecs, qs, "vec_id",
        "embedding", k = 4, numPlanes = 4, probes = probes)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val plain = pairs(0)
    val probed = pairs(2)
    // probing only ADDS candidate buckets, so every plain result whose rank
    // survives must still be reachable; at k >= corpus size the probed
    // result is a strict superset-or-equal
    assert(plain.subsetOf(probed))
    // probes beyond numPlanes are rejected
    intercept[IllegalArgumentException] {
      Similarity.lshTopK(vecs, qs, "vec_id", "embedding", k = 4,
        numPlanes = 4, probes = 5)
    }
  }

  test("embedding-cosine near-dup: exact and LSH paths find the planted pair") {
    val exact = Similarity.cosinePairsAbove(vecs, "vec_id", "embedding", 0.99)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(exact.contains((0L, 4L)))         // identical vectors
    assert(!exact.contains((0L, 2L)))        // orthogonal
    val lsh = Similarity.embeddingNearDupLsh(vecs, "vec_id", "embedding",
        0.99, numPlanes = 4)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(lsh.contains((0L, 4L)))           // same bucket, verified
  }

  test("native cosine_sim expression matches the HOF formulation") {
    val pairs = vecs.as("a").crossJoin(vecs.as("b"))
      .select(
        Similarity.cosine(Similarity.asDouble(col("a.embedding")),
          Similarity.asDouble(col("b.embedding"))).as("hof"),
        call_function("cosine_sim", col("a.embedding"), col("b.embedding")).as("native"))
      .collect()
    assert(pairs.length == 25)
    assert(pairs.forall(r => math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
    // SQL-text surface works too (registered via SparkSessionExtensions)
    vecs.createOrReplaceTempView("vecs_t")
    val viaSql = spark.sql(
      """SELECT cosine_sim(a.embedding, b.embedding) AS c
        |FROM vecs_t a JOIN vecs_t b ON a.vec_id = 0 AND b.vec_id = 4""".stripMargin)
      .collect().head.getDouble(0)
    assert(math.abs(viaSql - 1.0) < 1e-12)
  }

  test("NativeDotRewrite: HOF dot-product idiom optimizes to native DotProduct") {
    // a parquet-backed frame (a local Seq would constant-fold to
    // LocalRelation before the plan is observable)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val df = emb.select(col("vec_id"),
      Similarity.dot(Similarity.asDouble(col("embedding")),
        Similarity.asDouble(col("embedding"))).as("d"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("dot_product"),
      s"expected dot_product in optimized plan:\n$optimized")
    assert(!optimized.contains("aggregate(zip_with"))
    // rewritten plan computes self-dot = squared L2 norm — cross-check a
    // few rows against the HOF value computed on the driver
    val rows = emb.limit(3).collect()
    val expected = rows.map { r =>
      val v = r.getSeq[Float](r.fieldIndex("embedding"))
      r.getLong(0) -> v.map(x => x.toDouble * x.toDouble).sum
    }.toMap
    val out = df.filter(col("vec_id").isin(expected.keys.toSeq: _*))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(expected.forall { case (k, v) => math.abs(out(k) - v) < 1e-9 })
  }

  test("NativeDotRewrite: sqDist idiom optimizes to native SqDist, bit-equal") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val v = Similarity.asDouble(col("embedding"))
    val shifted = transform(v, x => x + lit(1.5))
    val df = emb.select(col("vec_id"),
      Similarity.sqDist(v, shifted).as("d2"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("sq_dist"),
      s"expected sq_dist in optimized plan:\n$optimized")
    assert(!optimized.contains("aggregate(zip_with"))
    // the native loop folds ascending like the HOF — values BIT-equal to
    // the driver-side replay of the same fold
    val rows = emb.limit(3).collect()
    val expected = rows.map { r =>
      val xs = r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble)
      var s = 0.0
      xs.foreach { x => val d = x - (x + 1.5); s += d * d }
      r.getLong(0) -> s
    }.toMap
    val out = df.filter(col("vec_id").isin(expected.keys.toSeq: _*))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(expected.forall { case (k, v2) => out(k) == v2 },
      s"native sqDist drifted from the fold: $out vs $expected")
  }

  test("NativeDotRewrite: degenerate same-variable lambdas are NOT rewritten") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val v = Similarity.asDouble(col("embedding"))
    val shifted = transform(v, x => x + lit(1.5))
    // (x, y) -> x * x over zip_with: element-wise squaring of the LEFT
    // array, NOT a dot product — must stay an interpreted fold
    val sq = emb.select(col("vec_id"),
      aggregate(zip_with(v, shifted, (x, _) => x * x), lit(0.0),
        (acc, e) => acc + e).as("s"))
    val sqPlan = sq.queryExecution.optimizedPlan.toString
    assert(!sqPlan.contains("dot_product") && !sqPlan.contains("sq_dist"),
      s"degenerate x*x lambda was miscompiled:\n$sqPlan")
    // (x, y) -> (x - x) * (x - x): constant zero, NOT a squared distance
    val zero = emb.select(col("vec_id"),
      aggregate(zip_with(v, shifted, (x, _) => (x - x) * (x - x)), lit(0.0),
        (acc, e) => acc + e).as("z"))
    val zeroPlan = zero.queryExecution.optimizedPlan.toString
    assert(!zeroPlan.contains("sq_dist") && !zeroPlan.contains("dot_product"),
      s"degenerate (x-x)*(x-x) lambda was miscompiled:\n$zeroPlan")
    // and the VALUES confirm the untouched semantics: sum of squares of
    // the left array, and exactly 0.0
    val rows = emb.limit(2).collect().map(_.getLong(0))
    val got = sq.filter(col("vec_id").isin(rows: _*)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expectSq = emb.filter(col("vec_id").isin(rows: _*)).collect().map { r =>
      val xs = r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble)
      r.getLong(0) -> { var s = 0.0; xs.foreach(x => s += x * x); s }
    }.toMap
    assert(rows.forall(k => got(k) == expectSq(k)))
    assert(zero.filter(col("vec_id").isin(rows: _*)).collect()
      .forall(_.getDouble(1) == 0.0))
  }

  test("NativeDotRewrite: nested-HOF outer-lambda capture is NOT rewritten") {
    // the rule is session-injected and rewrites USER expressions too: a
    // zip lambda multiplying by an OUTER transform lambda's variable —
    // transform(ws, t -> aggregate(zip_with(a, b, (x, y) -> x * t), ...))
    // — is a scaled fold of ONE array, not a dot product; its variables
    // are distinct but are not the zip lambda's own argument pair, so
    // the exprId-set pin must reject it
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val v = Similarity.asDouble(col("embedding"))
    val shifted = transform(v, x => x + lit(1.5))
    val scaled = emb.select(col("vec_id"),
      transform(array(lit(2.0), lit(3.0)),
        t => aggregate(zip_with(v, shifted, (x, _) => x * t), lit(0.0),
          (acc, e) => acc + e)).as("o"))
    val scaledPlan = scaled.queryExecution.optimizedPlan.toString
    assert(!scaledPlan.contains("dot_product") &&
      !scaledPlan.contains("sq_dist"),
      s"outer-capture x*t lambda was miscompiled:\n$scaledPlan")
    // same shape against the SqDist arm: (x - t) * (x - t) is a squared
    // shift of one array, not a pairwise squared distance
    val shiftSq = emb.select(col("vec_id"),
      transform(array(lit(2.0)),
        t => aggregate(zip_with(v, shifted, (x, _) => (x - t) * (x - t)),
          lit(0.0), (acc, e) => acc + e)).as("o"))
    val shiftSqPlan = shiftSq.queryExecution.optimizedPlan.toString
    assert(!shiftSqPlan.contains("sq_dist") &&
      !shiftSqPlan.contains("dot_product"),
      s"outer-capture (x-t)*(x-t) lambda was miscompiled:\n$shiftSqPlan")
    // untouched semantics: o = [sum(x*2), sum(x*3)] per row
    val ids = emb.limit(2).collect().map(_.getLong(0))
    val expect = emb.filter(col("vec_id").isin(ids: _*)).collect().map { r =>
      val xs = r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble)
      r.getLong(0) -> Seq(2.0, 3.0).map { t =>
        var s = 0.0; xs.foreach(x => s += x * t); s
      }
    }.toMap
    val gotScaled = scaled.filter(col("vec_id").isin(ids: _*)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    assert(ids.forall(k => gotScaled(k) == expect(k)),
      s"outer-capture values drifted: $gotScaled vs $expect")
    // and the POSITIVE case still fires with the pins in place: the
    // plain Similarity.dot idiom (zip lambda's own argument pair)
    val pos = emb.select(Similarity.dot(v, shifted).as("d"))
    assert(pos.queryExecution.optimizedPlan.toString.contains("dot_product"))
  }

  test("sampling: deterministic, stratified caps respected, split exhaustive") {
    import graft.ops.Sampling
    val docs = (1L to 100L).map(i => (i, if (i % 2 == 0) "en" else "es"))
      .toDF("doc_id", "lang")
    val s1 = Sampling.stratifiedSample(docs, Seq("lang"), "doc_id", 5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val s2 = Sampling.stratifiedSample(docs, Seq("lang"), "doc_id", 5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(s1 == s2 && s1.length == 10) // deterministic; 5 per stratum
    val capped = Sampling.capPerStratum(docs, Seq("lang"), "doc_id", 3)
    assert(capped.groupBy("lang").count().as[(String, Long)].collect()
      .forall(_._2 == 3))
    val split = Sampling.hashSplit(docs, "doc_id", 0.2, 0.2)
    assert(split.count() == 100) // exhaustive
    val labels = split.select("split").distinct().as[String].collect().toSet
    assert(labels.subsetOf(Set("train", "validation", "test")))
    // disjoint by construction (single label column); re-run identical
    val again = Sampling.hashSplit(docs, "doc_id", 0.2, 0.2)
      .orderBy("doc_id").select("split").as[String].collect().toSeq
    assert(again == split.orderBy("doc_id").select("split").as[String].collect().toSeq)
  }

  test("incremental dedup: new batch vs persisted fingerprint index") {
    import graft.ops.Dedup
    import graft.store.TableStore
    val dir = java.nio.file.Files.createTempDirectory("graft-incdedup").toString
    val store = new TableStore(spark, dir)
    val batch1 = Seq((1L, "the quick brown fox"), (2L, "hello world"))
      .toDF("doc_id", "text")
    store.overwrite("fp_index",
      Dedup.fingerprintIndex(batch1, "doc_id", "text"), maxFiles = 1)
    // batch 2: one cross-batch dup (whitespace/case variant of doc 1), one
    // within-batch dup pair, one genuinely new doc
    val batch2 = Seq(
      (10L, "The  Quick   Brown FOX"), // dup of indexed doc 1 -> dropped
      (11L, "fresh content"), (12L, "fresh   CONTENT"), // in-batch pair -> min id
      (13L, "entirely new")).toDF("doc_id", "text")
    val surv = Dedup.dedupAgainstIndex(batch2, store.read("fp_index"),
      "doc_id", "text")
    assert(surv.select("doc_id").as[Long].collect().sorted.toSeq == Seq(11L, 13L))
    // extending the index with batch 2's survivors makes a replay of the
    // same batch fully deduped — the incremental loop is closed
    store.append("fp_index",
      Dedup.fingerprintIndex(surv, "doc_id", "text"), maxFiles = 1)
    assert(Dedup.dedupAgainstIndex(batch2.filter(col("doc_id") =!= 12L),
      store.read("fp_index"), "doc_id", "text").count() == 0)
  }

  test("incremental near-dup: signature index finds variants, history never re-read") {
    import graft.ops.Dedup
    // a DIVERSE long text (repetition would collapse the distinct-shingle
    // set and let the estimator's small-sample variance dominate); the
    // variant edits one trailing word -> Jaccard ~0.95
    val base = (1 to 60).map(i => s"tok$i word$i").mkString(" ")
    val batch1 = Seq((1L, base + " ending one"),
      (2L, "completely different content here ok"))
      .toDF("doc_id", "text")
    val index = Dedup.minhashIndex(batch1, "doc_id", "text")
    // index carries (id, band, bucket, sig) ONLY — no text column at all:
    // the historical side is structurally incapable of being re-read
    assert(index.columns.sorted.toSeq == Seq("band", "bucket", "id", "sig"))
    val batch2 = Seq(
      (10L, base + " ending two"), // near-dup of doc 1
      (11L, "fresh unrelated text that matches nothing at all"))
      .toDF("doc_id", "text")
    val m = Dedup.nearDupAgainstIndex(batch2, index, "doc_id", "text")
      .select("id", "matched_id", "est_jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(m.exists { case (id, hid, est) => id == 10L && hid == 1L && est >= 0.7 },
      s"variant not matched: ${m.toSeq}")
    assert(!m.exists(_._1 == 11L), s"fresh doc falsely matched: ${m.toSeq}")
    // estimator sanity: identical docs agree on every component
    val self = Dedup.nearDupAgainstIndex(batch1, index, "doc_id", "text")
      .filter(col("id") === col("matched_id"))
    assert(self.select("est_jaccard").as[Double].collect().forall(_ == 1.0))
  }

  test("incremental embedding near-dup equals the cross-split within-corpus pairs") {
    import graft.ops.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // ground truth: the full within-corpus operator's pairs that cross the
    // even/odd split, oriented as (incoming odd, indexed even)
    val full = Similarity.embeddingNearDupLsh(e, "vec_id", "embedding",
        threshold = 0.2, numPlanes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a % 2 != b % 2 }
      .map { case (a, b, c) =>
        if (a % 2 == 1) (a, b, c) else (b, a, c) }.toSet
    val index = Similarity.embeddingIndex(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", numPlanes = 4)
    val incr = Similarity.embeddingNearDupAgainstIndex(
        e.filter(col("vec_id") % 2 === 1), index, "vec_id", "embedding",
        threshold = 0.2, numPlanes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incr.nonEmpty, "split produced no cross pairs — test data changed?")
    assert(incr == full)
  }

  test("mixCorpus: hits target mass, keeps small domains whole, monotone in budget") {
    import graft.ops.Sampling
    // three domains with very different raw mass; each row weighs 10
    val docs = ((1L to 400L).map(i => (i, "web", 10L)) ++
      (401L to 440L).map(i => (i, "code", 10L)) ++
      (441L to 640L).map(i => (i, "books", 10L)) ++
      (641L to 700L).map(i => (i, "junk", 10L)))
      .toDF("doc_id", "domain", "mass")
    val shares = Map("web" -> 0.5, "code" -> 0.3, "books" -> 0.2)
    val mixed = Sampling.mixCorpus(docs, "domain", "doc_id", "mass", shares, 1000L)
    val kept = mixed.groupBy("domain").agg(sum("mass").as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!kept.contains("junk")) // not in the mix spec -> dropped
    // every domain's allocation (web 500, code 300, books 200) is below
    // its raw mass (4000 / 400 / 2000), so all three genuinely sample.
    // Hash sampling is binomial around the target, so assert a loose
    // band, not equality.
    assert(kept("web") > 200 && kept("web") < 800, s"web kept ${kept("web")}")
    assert(kept("code") > 120 && kept("code") < 400, s"code kept ${kept("code")}")
    // a domain too small to fill its allocation is kept WHOLE
    val tiny = Sampling.mixCorpus(docs, "domain", "doc_id", "mass",
      Map("code" -> 1.0), 100000L)
    assert(tiny.count() == 40)
    // monotone: a larger budget strictly extends the smaller selection
    val small = mixed.select("doc_id").as[Long].collect().toSet
    val big = Sampling.mixCorpus(docs, "domain", "doc_id", "mass", shares, 2000L)
      .select("doc_id").as[Long].collect().toSet
    assert(small.subsetOf(big))
    // deterministic across runs
    val again = Sampling.mixCorpus(docs, "domain", "doc_id", "mass", shares, 1000L)
      .select("doc_id").as[Long].collect().toSet
    assert(again == small)
  }

  test("weightedSample: expected size, zero weight excluded, monotone, deterministic") {
    import graft.ops.Sampling
    // 1000 rows, weights 0..9 cycling: expected-100 sample should land
    // near 100 and favor heavy rows ~linearly in weight
    val rows = (1L to 1000L).map(i => (i, (i % 10).toDouble)).toDF("id", "w")
    val s = Sampling.weightedSample(rows, "id", "w", 100L)
    val n = s.count()
    assert(n > 55 && n < 160, s"expected ~100, got $n") // binomial band
    // zero-weight rows can never be drawn
    assert(s.filter(col("w") === 0.0).count() == 0)
    // heavier rows are drawn more often (aggregate check: mean kept
    // weight well above the population mean of 4.5)
    val meanW = s.agg(avg("w")).collect().head.getDouble(0)
    assert(meanW > 4.5, s"PPS sample mean weight $meanW not above uniform mean")
    // monotone in the expected size; deterministic across runs
    val ids = s.select("id").as[Long].collect().toSet
    val bigger = Sampling.weightedSample(rows, "id", "w", 300L)
      .select("id").as[Long].collect().toSet
    assert(ids.subsetOf(bigger))
    val again = Sampling.weightedSample(rows, "id", "w", 100L)
      .select("id").as[Long].collect().toSet
    assert(again == ids)
    // NULL weights are undrawable (least() skips nulls — an unguarded
    // NULL ratio would keep such rows with certainty), and an all-zero
    // corpus samples to EMPTY, not to itself (0/0 -> NaN -> threshold 0)
    val withNull = Seq((1L, Some(5.0)), (2L, None), (3L, Some(5.0)))
      .toDF("id", "w")
    assert(Sampling.weightedSample(withNull, "id", "w", 2L)
      .filter(col("w").isNull).count() == 0)
    val allZero = (1L to 50L).map(i => (i, 0.0)).toDF("id", "w")
    assert(Sampling.weightedSample(allZero, "id", "w", 10L).count() == 0)
    // same guard on mixCorpus: an all-zero-mass domain contributes nothing
    val zeroMass = (1L to 20L).map(i => (i, "a", 0L)).toDF("id", "dom", "m")
    assert(Sampling.mixCorpus(zeroMass, "dom", "id", "m",
      Map("a" -> 1.0), 100L).count() == 0)
  }

  test("assignShards: exhaustive dense positions, balanced, deterministic, shuffled") {
    import graft.ops.Layout
    val rows = (1L to 1000L).map(i => (i, s"doc$i")).toDF("doc_id", "payload")
    val sharded = Layout.assignShards(rows, "doc_id", 8)
      .select("doc_id", "shard", "shard_pos")
    val got = sharded.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 1000) // assignment is a permutation: no loss, no dup
    assert(got.map(_._1).distinct.length == 1000)
    val byShard = got.groupBy(_._2)
    assert(byShard.keySet.subsetOf((0L until 8L).toSet))
    // positions are DENSE per shard: 0..count-1 exactly
    byShard.foreach { case (sh, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (0L until rs.length).toSeq,
        s"shard $sh positions not dense")
    }
    // md5 balance: no shard collapses or hoards (binomial band around 125)
    assert(byShard.values.map(_.length).min > 60)
    assert(byShard.values.map(_.length).max < 200)
    // the within-shard order is a genuine shuffle, not id order (the
    // order key is domain-separated from both the id and the shard hash)
    val firstShard = byShard(got.minBy(_._2)._2).sortBy(_._3).map(_._1)
    assert(firstShard.toSeq != firstShard.sorted.toSeq)
    // deterministic across runs — a resumed job lands identical shards
    val again = Layout.assignShards(rows, "doc_id", 8)
      .select("doc_id", "shard", "shard_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSet == got.toSet)
  }

  test("leakageSafeSplit: exact-dup twins never straddle splits") {
    import graft.ops.Sampling
    // 200 distinct texts, each present twice more as whitespace/case
    // variants (same fingerprint group); enough groups that a per-row
    // split would all but surely straddle one.
    val rows = (1L to 200L).flatMap { i =>
      val t = s"document number $i with some shared boilerplate text"
      Seq((i * 3, t), (i * 3 + 1, t.toUpperCase), (i * 3 + 2, t.replace(" ", "  ")))
    }.toDF("doc_id", "text")
    val split = Sampling.leakageSafeSplit(rows, "text", 0.25, 0.25)
    // every fingerprint group maps to exactly one split
    val spans = split
      .groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
      .agg(countDistinct(col("split")).as("n"))
      .filter(col("n") > 1).count()
    assert(spans == 0, "a duplicate group straddles two splits")
    // all three splits are populated at 25/25/50 over 200 groups
    val counts = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "validation", "test"))
    // group atomicity means counts come in multiples of 3 (whole groups)
    assert(counts.values.forall(_ % 3 == 0))
  }

  test("kmeans: planted blobs recovered, deterministic, empty clusters degrade") {
    import graft.ops.KMeans
    // three tight, well-separated blobs in 4-d; any sane k=3 fit must
    // co-assign each blob regardless of seeding
    def blob(center: Array[Double], n: Int, off: Int) =
      (0 until n).map { i =>
        (off + i).toLong -> center.zipWithIndex.map { case (c, d) =>
          (c + 0.01 * ((i + d) % 5)).toFloat
        }
      }
    val rows = (blob(Array(10, 0, 0, 0), 20, 0) ++
      blob(Array(0, 10, 0, 0), 20, 100) ++
      blob(Array(0, 0, 10, 0), 20, 200))
      .toDF("id", "vec")
    val cents = KMeans.fit(rows, "id", "vec", k = 3, iters = 3)
    assert(cents.length == 3)
    assert(cents.map(_.nMembers).sorted == Seq(20L, 20L, 20L))
    val assigned = rows
      .withColumn("cluster", KMeans.assignExpr(
        graft.ops.Similarity.asDouble(col("vec")), cents))
      .select("id", "cluster")
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    // each blob lands wholly in one cluster, blobs in three different ones
    val byBlob = assigned.groupBy(_._1 / 100).map { case (b, xs) =>
      b -> xs.map(_._2).distinct }
    assert(byBlob.values.forall(_.length == 1), s"blob split: $byBlob")
    assert(byBlob.values.flatten.toSet.size == 3)
    // centroid of each cluster sits at its blob's center (within jitter)
    cents.foreach { c =>
      assert(c.comps.max > 9.9 && c.comps.max < 10.1, s"centroid off: $c")
    }
    // deterministic refit
    assert(KMeans.fit(rows, "id", "vec", k = 3, iters = 3) == cents)
    // persistence round-trip is BIT-identical: a later session reloads
    // the same model it fitted (doubles survive the flat DF exactly)
    assert(KMeans.fromDF(KMeans.centroidsDF(spark, cents)) == cents)
    // k above the distinct-point count: duplicate seeds starve — the
    // fitted model degrades to fewer centroids instead of failing
    val two = Seq(1L -> Array(1f, 0f), 2L -> Array(0f, 1f),
      3L -> Array(1f, 0f)).toDF("id", "vec")
    val degraded = KMeans.fit(two, "id", "vec", k = 3, iters = 2)
    assert(degraded.length <= 3 && degraded.nonEmpty)
    assert(degraded.map(_.nMembers).sum == 3)
  }

  test("running-min k-means seeding releases every checkpoint it creates") {
    import graft.ops.KMeans
    val rows = (0 until 120).map(i => i.toLong ->
      Array.tabulate(4)(d => math.sin(i * 7.0 + d * 3.0))).toDF("id", "vec")
    val k = 20 // the running-min regime: k > RunningMinSeedThreshold
    assert(k > KMeans.RunningMinSeedThreshold)
    val before = spark.sparkContext.getPersistentRDDs.size
    assert(KMeans.seedCentroids(rows, "id", "vec", k).size == k)
    assert(spark.sparkContext.getPersistentRDDs.size <= before)
  }

  test("bloom decontamination: no false negatives; superset of exact flags") {
    import graft.ops.Dedup
    val bench = Seq(1L -> "the quick brown fox jumps over the lazy dog")
      .toDF("doc_id", "text")
    val train = Seq(
      10L -> "we all saw the quick brown fox leave",  // shares a 3-gram
      11L -> "completely unrelated content about parquet row groups",
      12L -> "another clean document with nothing shared at all"
    ).toDF("doc_id", "text")
    val bitmap = Dedup.bloomBuild(bench, "text", shingleWords = 3,
      nWords = 64, k = 3)
    // every inserted shingle tests positive — Bloom never false-negatives
    val inserted = bench.select(
      explode(Dedup.wordShingles(col("text"), 3)).as("sh"))
    assert(inserted.filter(!Dedup.bloomMightContain(col("sh"), bitmap, 3))
      .count() == 0)
    val flagged = Dedup.decontaminateBloom(train, "doc_id", "text", 3,
      bitmap, k = 3).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(flagged(10L), "contaminated doc not flagged")
    // Bloom flags must cover the exact join's flags on the same split
    val exact = Dedup.decontaminate(train, bench, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    exact.foreach { case (id, c) => if (c) assert(flagged(id),
      s"exact flagged $id but bloom did not (false negative)") }
    // at this m the clean docs also stay clean (fp rate ~1e-6 here)
    assert(!flagged(11L) && !flagged(12L))
  }

  test("bloomAutoWords: floor at 1024, then linear in inserts — no saturation") {
    import graft.ops.Dedup
    // the sizing law: max(1024, ceil(16n/63)) words, integer-exact
    assert(Dedup.bloomAutoWords(0L) == 1024)
    assert(Dedup.bloomAutoWords(4032L) == 1024)      // 16*4032/63 = 1024
    assert(Dedup.bloomAutoWords(4033L) == 1025)      // first step past floor
    assert(Dedup.bloomAutoWords(63000L) == 16000)    // 16*63000/63
    assert(Dedup.bloomAutoWords(63001L) == 16001)    // ceil, not floor
    // bloomBuildAuto sizes from the benchmark itself: a benchmark big
    // enough to saturate the old fixed bitmap gets a proportionally
    // larger one, and the measured fp rate on clean probes stays low
    // (the 100x-probe failure mode: fixed 1024 words, fp -> 1)
    val bigBench = (0L until 2000L).map(i =>
      (i, s"bench entry alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"))
      .toDF("doc_id", "text")
    val bitmap = Dedup.bloomBuildAuto(bigBench, "text", shingleWords = 3,
      k = 3)
    assert(bitmap.length > 1024,
      s"auto sizing kept the floor at ${bitmap.length} words")
    val clean = (0L until 500L).map(i =>
      (i + 10000L, s"clean probe text nu$i xi$i omicron$i pi$i rho$i sigma$i"))
      .toDF("doc_id", "text")
    val flaggedN = Dedup.decontaminateBloom(clean, "doc_id", "text", 3,
      bitmap, k = 3).filter(col("contaminated")).count()
    assert(flaggedN <= 25, // ~5% of 500 — far from saturation's 100%
      s"auto-sized bloom still over-flagging: $flaggedN of 500 clean docs")
  }

  test("semDedup: less-typical twin survives, exact ties break by id") {
    import graft.ops.KMeans
    // one small blob containing two planted near-dup pairs, plus a far
    // blob of two EXACT duplicates; k=2 separates blob from far blob.
    //   pair (0, 1): cos ≈ 0.98 — survivor must be the one with the LOWER
    //     cosine to the blob centroid (id 0: its y=0 points away from the
    //     centroid's positive-y direction, so it is the outlier);
    //   pair (2, 3): same shape, id 2 is the outlier;
    //   pair (10, 11): identical vectors — centroid-cos ties exactly, so
    //     the lower id survives.
    val rows = Seq(
      0L  -> Array(1.0f, 0.0f),
      1L  -> Array(0.98f, 0.2f),
      2L  -> Array(0.6f, 0.8f),
      3L  -> Array(0.62f, 0.78f),
      10L -> Array(10.0f, 10.0f),
      11L -> Array(10.0f, 10.0f)).toDF("id", "vec")
    val cents = KMeans.fit(rows, "id", "vec", k = 2, iters = 2)
    val out = KMeans.semDedup(rows, "id", "vec", cents, threshold = 0.95)
      .orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 2L, 10L),
      s"wrong survivors: ${out.toSeq}")
    // survivors are genuinely the low-typicality members: every survivor's
    // centroid-cos is <= its dropped twin's (recompute via a fresh run
    // keeping all rows at an unreachable threshold)
    val all = KMeans.semDedup(rows, "id", "vec", cents, threshold = 1.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(all(0L) < all(1L) && all(2L) < all(3L) && all(10L) == all(11L))
  }

  test("semDedup incremental == batch restricted to the batch (even/odd split)") {
    import graft.ops.KMeans
    // history = even vec_ids: fit once there, round-trip the model
    // through the persisted centroid table, build the member index;
    // the odd batch against (index + itself) must equal the
    // full-corpus sweep (same centroids) restricted to odd ids —
    // the drop rule is one greedy pass over the pair relation, so a
    // partner's own dropped status never matters
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val hist = emb.filter(col("vec_id") % 2 === 0)
    val cents0 = KMeans.fit(hist, "vec_id", "embedding", k = 4, iters = 2)
    val cents = KMeans.fromDF(KMeans.centroidsDF(spark, cents0))
    assert(cents == cents0, "centroid table round-trip drifted")
    val index = KMeans.semIndex(hist, "vec_id", "embedding", cents)
    val inc = KMeans.semDedupAgainstIndex(
        emb.filter(col("vec_id") % 2 === 1), index,
        "vec_id", "embedding", cents, threshold = 0.3)
      .select("vec_id", "cluster", "cent_sim")
      .as[(Long, Int, Double)].collect().toSet
    val full = KMeans.semDedup(emb, "vec_id", "embedding", cents,
        threshold = 0.3)
      .filter(col("vec_id") % 2 === 1)
      .select("vec_id", "cluster", "cent_sim")
      .as[(Long, Int, Double)].collect().toSet
    assert(inc.nonEmpty && inc == full)
    // and the fixture is not vacuous: the sweep actually drops some
    // odd rows (planted near-dups exist at sf0.001)
    val nBatch = emb.filter(col("vec_id") % 2 === 1).count()
    assert(inc.size < nBatch, s"no drops at all ($nBatch rows survived)")
  }

  test("PQ: twin shares all codes and minimal ADC; codes deterministic") {
    import graft.ops.{KMeans, Similarity}
    val base = (0L until 60L).map { i =>
      i -> Array.tabulate(16)(d => math.sin(i * 2.3 + d).toFloat)
    }
    val rows = (base :+ (99L -> base(7)._2)).toDF("id", "vec")
    val books = KMeans.pqFit(rows, "id", "vec", m = 4, k = 4, iters = 1)
    assert(books.size == 4 && books.forall(_.nonEmpty))
    val codes = rows
      .select(col("id"), KMeans.pqCodesExpr(
        Similarity.asDouble(col("vec")), books).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // identical vector -> identical 4-code word; all codes valid ids
    assert(codes(99L) == codes(7L))
    assert(codes.values.forall(c => c.size == 4))
    val top = KMeans.pqTopK(rows, rows.filter(col("id") === 7), "id", "vec",
        kNN = 5, books).orderBy("rank").collect()
    // the twin's ADC is the query's own quantization residual — nothing
    // can score below it, so the twin carries the minimal ADC
    val twinAdc = top.find(_.getLong(1) == 99L)
      .getOrElse(fail(s"twin not in top-5: ${top.toSeq}")).getDouble(3)
    assert(math.abs(twinAdc - top.head.getDouble(3)) < 1e-12)
    // refit is deterministic
    assert(KMeans.pqFit(rows, "id", "vec", m = 4, k = 4, iters = 1) == books)
  }

  test("IVF-PQ: twin lands in the query's cell with minimal ADC") {
    import graft.ops.{KMeans, Similarity}
    val base = (0L until 60L).map { i =>
      i -> Array.tabulate(16)(d => math.sin(i * 2.3 + d).toFloat)
    }
    val rows = (base :+ (99L -> base(7)._2)).toDF("id", "vec")
    val coarse = KMeans.fit(rows, "id", "vec", k = 3, iters = 2)
    val v = Similarity.asDouble(col("vec"))
    val res = rows.select(col("id"),
      KMeans.residualExpr(v, KMeans.assignExpr(v, coarse), coarse).as("r"))
    val books = KMeans.pqFit(res, "id", "r", m = 4, k = 4, iters = 1)
    // fetch everything: with k=4 codes per subspace many vectors share
    // the twin's full code word and TIE at the minimal ADC (ties break
    // by id, and 99 is the largest id) — the invariant is that the twin
    // sits AT the minimum, not that it alone wins rank 1
    val top = KMeans.ivfPqTopK(rows, rows.filter(col("id") === 7), "id",
        "vec", kNN = 60, coarse, books, probes = 2)
      .orderBy("rank").collect()
    // the twin shares the query's cell BY CONSTRUCTION (cell is a
    // function of the vector) and its residual codes equal the query's,
    // so its ADC is the query's own quantization residual — minimal
    val twinAdc = top.find(_.getLong(1) == 99L)
      .getOrElse(fail(s"twin not returned: ${top.toSeq}")).getDouble(3)
    assert(math.abs(twinAdc - top.head.getDouble(3)) < 1e-12)
    assert(top.map(_.getInt(2)).toSeq == (1 to top.length), "ranks not dense")
    // the refine stage breaks the quantization tie EXACTLY: the twin's
    // true L2 is 0, so exact re-ranking of the ADC shortlist puts it at
    // rank 1 even though many vectors share its code word
    val refined = KMeans.ivfPqRefinedTopK(rows, rows.filter(col("id") === 7),
        "id", "vec", kNN = 5, coarse, books, probes = 2, shortlist = 60)
      .orderBy("rank").collect()
    assert(refined.head.getLong(1) == 99L,
      s"refine did not surface the twin: ${refined.toSeq}")
    assert(refined.head.getDouble(3) < 1e-12)
  }

  test("ivfTopKTrained: planted twin is rank-1 cosine 1.0; map-side assign") {
    import graft.ops.{KMeans, Similarity}
    // 40 spread vectors plus an exact twin of vector 7
    val base = (0L until 40L).map { i =>
      i -> Array.tabulate(8)(d => math.sin(i * 3.7 + d).toFloat)
    }
    val rows = (base :+ (99L -> base(7)._2)).toDF("id", "vec")
    val cents = KMeans.fit(rows, "id", "vec", k = 4, iters = 2)
    val top = KMeans.ivfTopKTrained(rows, rows.filter(col("id") === 7), "id",
        "vec", k = 5, cents, probes = 2)
      .orderBy("rank").collect()
    assert(top.head.getLong(1) == 99L, s"twin not rank 1: ${top.toSeq}")
    assert(math.abs(top.head.getDouble(3) - 1.0) < 1e-9)
    // the assignment stage is a pure map-side expression: no exchange, and
    // the distance runs through the native dot_product after the rewrite
    // (parquet-backed input — a LocalRelation would constant-fold the
    // whole projection and assert nothing)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents64 = KMeans.fit(emb, "vec_id", "embedding", k = 4, iters = 1)
    val assigned = emb
      .select(Similarity.asDouble(col("embedding")).as("v"))
      .withColumn("cell", KMeans.assignExpr(col("v"), cents64))
    val assignedPlan = assigned.queryExecution.executedPlan.toString
    assert(!assignedPlan.contains("Exchange"),
      s"kmeans assign shuffles:\n$assignedPlan")
    val optimized = assigned.queryExecution.optimizedPlan.toString
    assert(optimized.contains("dot_product"),
      s"assign distance not native:\n$optimized")
  }

  test("approx sketches within tolerance of exact") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val exact = li.agg(countDistinct(col("l_orderkey"))).collect().head.getLong(0)
    // rsd 0.01 — the default 0.05 legitimately wanders past 5% observed
    val approx = li.agg(approx_count_distinct(col("l_orderkey"), 0.01))
      .collect().head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.03)
  }

  test("rolling fingerprint: order-sensitive, stable") {
    import graft.ops.TextAnalysis
    val d = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"),
      (3L, "alpha beta gamma")).toDF("id", "t")
    val fps = d.select(col("id"), TextAnalysis.rollingFingerprint(col("t")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(3L))  // same order -> same fingerprint
    assert(fps(1L) != fps(2L))  // reordered tokens -> different
    assert(fps.values.forall(v => v >= 0 && v < 2147483647L))
  }

  test("segmentDedup: first occurrence survives, docs rebuilt in order") {
    import spark.implicits._
    val w = (1 to 10).map(i => s"w$i").mkString(" ")       // one full segment
    val u = (1 to 10).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      (1L, s"$w $u tail words"),          // segs: w, u, "tail words"
      (2L, s"$u extra"),                  // u duplicates doc 1 -> dropped
      (3L, s"$w $u tail words")           // full duplicate of doc 1 -> empty
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, "doc_id", "text", segWords = 10)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) == ((1L, 3L, 3L, s"$w $u tail words")))
    assert(out(1) == ((2L, 2L, 1L, "extra")))
    assert(out(2) == ((3L, 3L, 0L, "")))
  }

  test("segmentDedup: within-doc repeated segment keeps only the first") {
    import spark.implicits._
    val w = (1 to 10).map(i => s"r$i").mkString(" ")
    val docs = Seq((7L, s"$w $w")).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, "doc_id", "text", segWords = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.head == ((2L, 1L, w)))
  }

  test("randomProject: hand-derived plane components, exploded shape") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.randomProject(df, "vec_id", "embedding", outDims = 2)
      .orderBy("vec_id", "dim")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    // plane 0, dim 0: h = 0            -> (0 + 0) % M / 5e5 - 1   = -1.0
    // plane 0, dim 1: h = 19349663 % 1000003 = 349606
    //   (349606^2 + 349606) % 1000003 = 338170 -> 338170/5e5 - 1 = -0.32366
    assert(out(0) == ((1L, 0, -1.0)))
    assert(out(2) == ((2L, 0, -0.32366)))
    assert(out.length == 4)
    // unit basis vectors read the component directly, so each projected
    // value is in the plane family's [-1, 1) range
    assert(out.forall { case (_, _, v) => v >= -1.0 && v < 1.0 })
  }
}
