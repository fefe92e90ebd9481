package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for training-data pipelines: exact (hash-groupBy),
  * MinHash+LSH near-dup (shingle -> minhash -> band -> bucket-join), SimHash,
  * and n-gram Jaccard verification.
  *
  * Scale design (the part that matters at 100 TB):
  *   - exact dedup is a single hash shuffle on a 32-char fingerprint, never
  *     on the full text;
  *   - near-dup candidate generation is BANDED LSH — candidate pairs are
  *     produced ONLY by an equi-join on (band, bandHash) buckets, never by an
  *     all-pairs cross join; the verify step (true Jaccard) touches candidate
  *     pairs only;
  *   - signatures/shingles are pure column expressions (one md5 per
  *     shingle/token feeding an arithmetic universal-hash family):
  *     whole-stage codegen, no UDFs, no driver round-trips — and portable,
  *     so the DuckDB oracle re-derives the full pipelines independently.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup: one survivor (minimum id) per normalized-content
    * fingerprint. Shuffles only (fingerprint, id) pairs. */
  def exactSurvivors(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(TextAnalysis.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp").agg(min(col(idCol)).as(idCol), count(lit(1)).as("copies"))

  /** Rows of `df` minus exact duplicates (keeps min-id row per fingerprint). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactSurvivors(df, idCol, textCol).select(idCol)
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** The `(fp, id)` fingerprint-index rows for a batch — what an
    * incremental pipeline PERSISTS (e.g. `TableStore.append`) so later
    * batches dedup against all of history without ever rescanning it. */
  def fingerprintIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(TextAnalysis.fingerprint(col(textCol)).as("fp"), col(idCol))

  /** INCREMENTAL exact dedup: the rows of `incoming` that survive both
    * within-batch dedup (min-id per fingerprint) and an anti-join against
    * a persisted fingerprint index of everything processed before. This is
    * the 100 TB operating mode — a daily batch dedups against years of
    * corpus by touching fingerprints only, never historical text. Rows
    * with a NULL fingerprint (null text) survive the index check (an
    * unknown can't equal anything), matching SQL anti-join semantics.
    *
    * Scale shape: shuffles only the incoming batch's (fp, id) pairs plus
    * the index's fp column on the fp key; the index carries ~32 bytes a
    * document, so a 10^10-doc history is a few-hundred-GB equi-join side,
    * partition-pruned further if the index table is stored fp-bucketed. */
  def dedupAgainstIndex(incoming: DataFrame, index: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val keep = exactSurvivors(incoming, idCol, textCol)
      .join(index.select("fp").distinct(), Seq("fp"), "left_anti")
      .select(idCol)
    incoming.join(keep, Seq(idCol), "left_semi")
  }

  // ------------------------------------------------------------- shingles

  /** Distinct word n-gram shingles of `text` (lowercased, whitespace
    * tokenized), as an array column — no explode, no shuffle.
    *
    * The token array is BOUND as a lambda variable (the single-element
    * array wrap): an index-driven HOF lambda re-evaluates every
    * invariant subtree per element in Spark's interpreted HOF path, so
    * referencing `tokens(text)` directly inside the per-shingle lambda
    * re-ran the full-text regex tokenization once PER SHINGLE (~50x per
    * document — measured 5.5 s of the 7.2 s sf0.1 MinHash pipeline).
    * Binding it evaluates the tokenization once per row; the value is
    * identical by construction. */
  def wordShingles(text: Column, n: Int): Column =
    array_distinct(element_at(
      transform(array(TextAnalysis.tokens(text)), ts =>
        filter(
          transform(sequence(lit(0), greatest(size(ts) - n, lit(0))),
            i => concat_ws(" ", slice(ts, i + 1, lit(n)))),
          s => length(s) > 0)), 1))

  /** Distinct character k-shingles (whitespace-normalized, lowercased).
    * Empty/short texts must NOT contribute the empty string as a shingle —
    * two unrelated empty docs would otherwise score Jaccard 1.0 (the same
    * guard wordShingles applies). The normalized string is bound as a
    * lambda variable for the same per-element re-evaluation reason as
    * [[wordShingles]]. */
  def charShingles(text: Column, k: Int): Column =
    array_distinct(element_at(
      transform(array(regexp_replace(lower(text), "\\s+", " ")), tt =>
        filter(
          transform(sequence(lit(0), greatest(length(tt) - k, lit(0))),
            i => tt.substr(i + 1, lit(k))),
          s => length(s) > 0)), 1))

  /** Test-set decontamination: flag every training doc that shares at
    * least one word n-gram with the benchmark set, with the shared-shingle
    * count — the pipeline stage that keeps evaluation data out of a
    * training corpus. Candidates come only from the shingle equi-join and
    * the benchmark shingle set is broadcast (benchmark suites are tiny
    * next to a training corpus, so the corpus never shuffles). */
  def decontaminate(train: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, shingleWords: Int = 3): DataFrame = {
    val trSh = train.select(col(idCol),
      explode(wordShingles(col(textCol), shingleWords)).as("sh"))
    val bSh = benchmark
      .select(explode(wordShingles(col(textCol), shingleWords)).as("sh"))
      .distinct()
    val hits = trSh.join(broadcast(bSh), Seq("sh"))
      .groupBy(idCol).agg(countDistinct(col("sh")).as("n_shared"))
    train.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  // ---------------------------------------------------------------- bloom

  /** Bits per Bloom bitmap word: 63, not 64 — the probe's mask must stay
    * a positive long in every engine (a BIGINT `1 << 63` raises in DuckDB
    * and wraps to the sign bit in Spark), so bit indices cap at 62. */
  val BloomBitsPerWord: Int = 63

  /** Static 2^b lookup (b = 0..62): bit masks come from literal-array
    * indexing, never a runtime shift — portable and codegen-friendly. */
  private val bloomPow2: Column =
    array((0 until BloomBitsPerWord).map(b => lit(1L << b)): _*)

  /** The k Bloom bit positions of a shingle from ONE md5: k disjoint
    * 8-hex-digit windows (double-hashing style — one hash evaluation per
    * shingle, not k), each reduced mod m. Portable: any engine with
    * md5/substring derives identical positions. */
  def bloomPositions(s: Column, m: Int, k: Int): Seq[Column] = {
    require(k >= 1 && k <= 4, s"k must be in [1,4] (md5 has 4 windows): $k")
    require(m >= 1, s"m must be >= 1: $m")
    val hx = md5(s)
    (0 until k).map { j =>
      pmod(conv(substring(hx, 1 + 8 * j, 8), 16, 10).cast("long"),
        lit(m.toLong)).cast("int")
    }
  }

  /** Build an (nWords*63)-bit Bloom filter over the benchmark's distinct
    * word shingles, returned as the driver-held word array. The whole
    * reduction is a (word)-keyed bit_or aggregate whose map-side partials
    * collapse to <= nWords rows per partition before the exchange — the
    * shuffle is bounded by the FILTER size, never the benchmark's; the
    * driver holds nWords longs (8 KB at nWords=1024). That bounded state
    * is what turns the corpus-side probe into a pure map. */
  def bloomBuild(benchmark: DataFrame, textCol: String, shingleWords: Int,
                 nWords: Int, k: Int): Array[Long] = {
    val m = nWords * BloomBitsPerWord
    val rows = benchmark
      .select(explode(wordShingles(col(textCol), shingleWords)).as("sh"))
      .select(explode(array(bloomPositions(col("sh"), m, k): _*)).as("pos"))
      .select(floor(col("pos") / BloomBitsPerWord).cast("int").as("w"),
        element_at(bloomPow2, pmod(col("pos"), lit(BloomBitsPerWord)) + 1)
          .as("mask"))
      .groupBy("w").agg(expr("bit_or(mask)").as("bits"))
      .collect()
    val arr = new Array[Long](nWords)
    rows.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** Word count for a Bloom filter sized to its INSERT count: 16 bits
    * per inserted shingle (at k = 3 that is a ~0.5% false-positive
    * rate), floored at 1024 words (the classic 8 KB driver bitmap).
    * Integer-exact — `max(1024, ceil(16·n / 63))` in any engine — so an
    * oracle replays the size, and deliberately NOT a power-of-two snap
    * (nothing in the position arithmetic needs one).
    *
    * This sizing is what keeps the decontamination gate meaningful at
    * scale: a FIXED bitmap saturates as the benchmark grows — measured
    * on the 100× probe corpus, the old hard-coded 1024 words hit a
    * false-positive rate near 1.0 and the funnel's bloom stage passed 1
    * of 20,059 documents. `n` may safely overcount distinct shingles
    * (e.g. Σ per-doc distinct) — the filter just comes out larger. */
  def bloomAutoWords(nShingleInserts: Long, bitsPerShingle: Int = 16): Int = {
    require(nShingleInserts >= 0 && bitsPerShingle >= 1)
    math.max(1024L, (nShingleInserts * bitsPerShingle +
      (BloomBitsPerWord - 1)) / BloomBitsPerWord).toInt
  }

  /** [[bloomBuild]] with [[bloomAutoWords]] sizing from the benchmark's
    * own shingle count — one extra count job (benchmark-sized, tiny
    * next to the corpus the bitmap will probe). Returns the bitmap;
    * its length IS the sizing, so probes need no extra plumbing. */
  def bloomBuildAuto(benchmark: DataFrame, textCol: String,
                     shingleWords: Int, k: Int,
                     bitsPerShingle: Int = 16): Array[Long] = {
    val n = benchmark
      .select(explode(wordShingles(col(textCol), shingleWords)).as("sh"))
      .count()
    bloomBuild(benchmark, textCol, shingleWords,
      bloomAutoWords(n, bitsPerShingle), k)
  }

  /** Membership probe as a pure map-side expression over the bitmap
    * literal: possibly-present iff ALL k position bits are set. False
    * positives at the standard (1 - e^(-kn/m))^k rate; false negatives
    * never — Bloom flags are a SUPERSET of the exact join's. */
  def bloomMightContain(s: Column, bitmap: Array[Long], k: Int): Column = {
    val m = bitmap.length * BloomBitsPerWord
    val words = array(bitmap.map(lit): _*)
    bloomPositions(s, m, k).map { pos =>
      element_at(words, floor(pos / BloomBitsPerWord).cast("int") + 1)
        .bitwiseAND(element_at(bloomPow2,
          pmod(pos, lit(BloomBitsPerWord)) + 1)) =!= lit(0L)
    }.reduce(_ && _)
  }

  /** Decontamination for benchmark sets too big to broadcast raw (the
    * scale path beside [[decontaminate]]'s exact shingle join): probe
    * every training shingle against the Bloom bitmap map-side — zero
    * joins, the corpus text never shuffles; only the (id, hit-count)
    * aggregate exchanges. Output shape matches [[decontaminate]] with
    * `n_flagged` counting bloom-POSITIVE shingles. */
  def decontaminateBloom(train: DataFrame, idCol: String, textCol: String,
                         shingleWords: Int, bitmap: Array[Long],
                         k: Int): DataFrame = {
    val hits = train
      .select(col(idCol),
        explode(wordShingles(col(textCol), shingleWords)).as("sh"))
      .filter(bloomMightContain(col("sh"), bitmap, k))
      .groupBy(idCol).agg(countDistinct(col("sh")).as("n_flagged"))
    train.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        (coalesce(col("n_flagged"), lit(0L)) > 0).as("contaminated"))
  }

  /** n-gram Jaccard similarity of two shingle-array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni > 0, inter / uni).otherwise(lit(0.0))
  }

  // -------------------------------------------------------------- minhash

  /** Modulus of the universal hash family (2^31 - 1, prime). */
  private val HashP = 2147483647L

  /** Portable 60-bit base hash of a string: first 15 hex digits of its md5
    * as a non-negative long. Any engine with md5 computes the identical
    * value (the DuckDB correctness oracle re-derives the whole MinHash
    * pipeline from this), and ONE md5 per shingle feeding an arithmetic
    * hash family is cheaper than one seeded hash call per (shingle, i). */
  private[graft] def md5Hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Hash i of the family over base hash x: ((2i+1)·x + 12345·i + 1) mod P —
    * odd multipliers, universal-style; all values < 2^38, overflow-safe. */
  private def familyHash(i: Int, x: Column): Column =
    (x * (2L * i + 1) + (12345L * i + 1)) % HashP

  /** Codegen-fast minhash signatures from a (id, shingles: array<string>)
    * frame: explode, md5-hash each shingle ONCE, evaluate each family
    * member as a STATIC arithmetic column (whole-stage codegen), take
    * per-doc mins with map-side partial aggregation, re-pack into an array.
    * One shuffle on the doc id. Returns (id, sig: array<bigint>). */
  def minhashSignaturesFromShingles(sh: DataFrame, numHashes: Int): DataFrame = {
    val exploded = sh.select(col("id"), explode(col("shingles")).as("shingle"))
      .select(col("id"), (md5Hash60(col("shingle")) % HashP).as("x"))
    val aggs = (0 until numHashes).map(i => min(familyHash(i, col("x"))).as(s"h$i"))
    exploded.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleWords: Int, numHashes: Int): DataFrame =
    minhashSignaturesFromShingles(
      df.select(col(idCol).as("id"),
        wordShingles(col(textCol), shingleWords).as("shingles")),
      numHashes)

  /** LSH band keys: the signature is cut into `bands` bands of `rowsPerBand`
    * values; each band hashes to one bucket key struct(band, bucket). Two
    * docs collide in a band iff their signatures agree on that whole band.
    * The bucket is md5 of the comma-joined band values — fixed-width and
    * portable (the oracle computes md5(array_to_string(...))). */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"),
        md5(concat_ws(",",
          transform(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)),
            x => x.cast("string")))).as("bucket")))

  /** Candidate near-dup pairs via banded MinHash-LSH with exact-Jaccard
    * verification. Returns (idA, idB, jaccard) with idA < idB and
    * jaccard >= threshold.
    *
    * Plan shape: per-doc signature (map-only) -> explode bands (xN) ->
    * self-equi-join on (band, bucket) -> distinct pairs -> join back for
    * shingle arrays -> verify. The only shuffles are the band-bucket join
    * and the distinct; bucket collisions bound the join fan-out.
    */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          shingleWords: Int = 3, numHashes: Int = 64,
                          bands: Int = 16, threshold: Double = 0.7,
                          materialize: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    val rowsPerBand = numHashes / bands
    // shingle arrays feed the signature build AND both sides of the verify
    // join (3 plan uses). materialize=true caches them for the single
    // pass and RELEASES the cache after; the lazy path deliberately does
    // NOT cache — a local cache nobody can unpersist would pin the
    // largest intermediate in the session forever, and the persisted pair
    // list below means the 3x shingle computation happens at most once
    // per plan anyway.
    val shPlan = df.select(col(idCol).as("id"),
      wordShingles(col(textCol), shingleWords).as("shingles"))
    val sh = if (materialize) shPlan.cache() else shPlan
    val sig = minhashSignaturesFromShingles(sh, numHashes)
    val buckets = sig.select(col("id"),
        explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bucket"))
    val pairs = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("idA"), col("b.id").as("idB"))
      .distinct()
    val withShingles = pairs
      .join(sh.select(col("id").as("idA"), col("shingles").as("shA")), Seq("idA"))
      .join(sh.select(col("id").as("idB"), col("shingles").as("shB")), Seq("idB"))
    val verified = withShingles
      .select(col("idA"), col("idB"), jaccard(col("shA"), col("shB")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    if (materialize) {
      // materialize the (threshold-bounded) result while the shingle cache
      // is hot, then RELEASE the shingle cache — it is a large multiple of
      // the result and must not linger in a shared session competing with
      // later work's memory. Callers that iterate over the pairs
      // (clustering, curation funnels) want this — the returned frame IS
      // persisted and the caller owns unpersist() (as dedup_cluster does).
      val out = verified.persist()
      out.count()
      sh.unpersist(false)
      out
    } else verified
    // lazy path: the PLAIN lazy plan, deliberately un-persisted — a cache
    // entry pinned inside the operator is one no caller can release, and
    // distinct-input calls in a long-lived session would accumulate
    // CacheManager entries forever (the same reason the shingle frame
    // above is not cached here). Callers that will consume the pairs more
    // than once opt into materialize = true and own the unpersist.
  }

  /** The persisted MinHash near-dup index rows for a batch: one row per
    * (band, bucket) per doc, carrying the doc's full signature — what an
    * incremental pipeline appends (e.g. `TableStore.append`) so later
    * batches find near-dups against all of history by SIGNATURE, never
    * historical text. Columns: (id, band, bucket, sig). ~64×8B + bucket
    * per row, `bands` rows per doc — a 10^10-doc history is a few TB of
    * index vs the corpus' hundreds, and the (band, bucket) key is what a
    * bucketed/clustered layout prunes the candidate join on. */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
                   shingleWords: Int = 3, numHashes: Int = 64,
                   bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    minhashSignatures(df, idCol, textCol, shingleWords, numHashes)
      .select(col("id"),
        explode(lshBandKeys(col("sig"), bands, numHashes / bands)).as("bk"),
        col("sig"))
      .select(col("id"), col("bk.band").as("band"),
        col("bk.bucket").as("bucket"), col("sig"))
  }

  /** Signature-estimated Jaccard: the fraction of agreeing minhash
    * components — E[agreement] = true Jaccard, sd ≈ sqrt(j(1-j)/n)
    * (±0.06 at n=64 around j=0.7). The estimator that makes INCREMENTAL
    * near-dup possible: comparing signatures needs no shingles, so the
    * historical side is never re-read as text. */
  def sigAgreement(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / size(a)

  /** INCREMENTAL near-dup: match an incoming batch against a persisted
    * [[minhashIndex]] — candidates from the (band, bucket) equi-join,
    * verified by [[sigAgreement]] at `threshold`. Returns one row per
    * (incoming id, matched historical id) pair with the estimate; feed
    * the distinct matched incoming ids to an anti-join to drop them, or
    * keep the pairs for cluster assignment. The incoming side computes
    * signatures from text (it is the new data); history participates as
    * signatures only.
    *
    * Scale shape: the only joins are the bucket equi-join (fan-out
    * bounded by true bucket collisions, the same cost model as
    * minhashNearDupPairs) and two signature lookups on the candidate
    * pairs; per-candidate agreement is a 64-element zip — candidate-
    * bounded, like the exact-Jaccard verify it replaces. */
  def nearDupAgainstIndex(incoming: DataFrame, index: DataFrame,
                          idCol: String, textCol: String,
                          shingleWords: Int = 3, numHashes: Int = 64,
                          bands: Int = 16,
                          threshold: Double = 0.7): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    // ONE signature build for the incoming side, used for both the band
    // buckets and the final agreement join — BATCH-sized (the incoming
    // side is today's data, never history), so it is lazily
    // localCheckpointed: the shingle+signature aggregate runs once
    // instead of once per consuming branch. (An earlier shape derived
    // buckets and signatures from two independent minhashIndex() calls
    // plus a dropDuplicates: four full signature builds in the plan.)
    val sig = minhashSignatures(incoming, idCol, textCol, shingleWords,
      numHashes).localCheckpoint(false)
    val buckets = sig.select(col("id"),
        explode(lshBandKeys(col("sig"), bands, numHashes / bands)).as("bk"))
      .select(col("id"), col("bk.band").as("band"),
        col("bk.bucket").as("bucket"))
    // the pair list is CANDIDATE-bounded (true bucket collisions) at any
    // corpus size — checkpointing it means the bucket join runs once,
    // where the two lazy consumers below previously re-executed the
    // whole pair subtree (the ~13% recompute the earlier shape paid)
    val pairs = buckets
      .join(index.select(col("id").as("matched_id"), col("band"),
        col("bucket")), Seq("band", "bucket"))
      .select(col("id"), col("matched_id")).distinct()
      .localCheckpoint(false)
    // the index duplicates each doc's sig across its band rows; restrict
    // to the CANDIDATE ids first (left-semi against the pair list), then
    // collapse to one row per id — so the wide signature shuffle is
    // bounded by true candidates, never by the size of history. The
    // index side itself is deliberately NOT checkpointed: in production
    // it is a column-pruned parquet scan, and materializing a 10^10-doc
    // index would be the scale bug. No broadcast hint on the semi probe:
    // the checkpointed pair list carries no stats, and while it is
    // usually tiny, an adversarial corpus can push it past broadcast
    // limits — AQE promotes the join from the runtime sizes instead.
    val idxSig = index.select(col("id").as("matched_id"),
        col("sig").as("hsig"))
      .join(pairs.select("matched_id").distinct(), Seq("matched_id"),
        "left_semi")
      .dropDuplicates("matched_id")
    pairs.join(sig, Seq("id")).join(idxSig, Seq("matched_id"))
      .select(col("id"), col("matched_id"),
        sigAgreement(col("sig"), col("hsig")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Near-dedup survivors: drop every doc that matches a LOWER id at or
    * above the threshold (greedy min-id representative — the standard
    * large-scale policy; no connected components needed for dedup). */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   shingleWords: Int = 3, numHashes: Int = 64,
                   bands: Int = 16, threshold: Double = 0.7): DataFrame = {
    val drop = minhashNearDupPairs(df, idCol, textCol, shingleWords, numHashes,
        bands, threshold)
      .select(col("idB").as(idCol)).distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Connected components over a near-dup pair list: every doc in a
    * transitively-connected duplicate group maps to the group's MIN id —
    * the cluster step fuzzy dedup needs when groups are bigger than pairs
    * (A~B, B~C must collapse to one representative even if A!~C directly).
    *
    * Alternating LARGE-STAR / SMALL-STAR rounds (the published MapReduce
    * connected-components scheme of Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC'14): each round rewires every edge
    * toward the minimum of a node's neighborhood, which contracts
    * component "height" geometrically — O(log n) rounds even on a pure
    * CHAIN of near-dups (the 100 TB worst case), where plain min-label
    * propagation needs diameter-many rounds (a 10k-doc chain = 10k
    * shuffles). Each round is two groupBy+join passes over the edge list
    * only; the driver sees a single (count, hash) convergence signature
    * per round, never data. Returns (id, rep) for every node in `pairs`. */
  def clusterPairs(pairs: DataFrame, maxIter: Int = 25): DataFrame =
    clusterPairsCounted(pairs, maxIter)._1

  /** [[clusterPairs]] plus the number of large+small rounds executed —
    * package-visible so specs can assert the O(log n) round bound
    * directly. */
  private[graft] def clusterPairsCounted(pairs: DataFrame,
                                         maxIter: Int = 25): (DataFrame, Int) = {
    // canonical undirected edges (v < u), self-pairs split off; the
    // checkpoints cut the (possibly expensive) pair-generation lineage
    // out of every subsequent round AND the final label union. edges is
    // LAZY: the convergence signature right below materializes it in the
    // same job (an eager checkpoint would pay a separate job per round —
    // measured pure driver-paced overhead on edge-list-sized data).
    // selfOnly stays EAGER: it is consumed only by the final label union,
    // and several callers unpersist the pair frame as soon as this
    // function returns — a lazy selfOnly would then re-run the whole
    // pair generation from scratch at the final action.
    var edges = pairs
      .select(least(col("idA"), col("idB")).as("v"),
        greatest(col("idA"), col("idB")).as("u"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(false)
    val selfOnly = pairs.filter(col("idA") === col("idB"))
      .select(col("idA").as("id"), col("idA").as("rep")).distinct()
      .localCheckpoint(true)

    // convergence signature: order-independent (count, hash-xor) of the
    // edge set — one cheap aggregate per round over checkpointed data.
    // XOR, not sum: ANSI mode makes a long hash-sum throw on overflow.
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head
      (r.getLong(0), r.getLong(1))
    }

    var sig = signature(edges)
    var it = 0
    var converged = sig._1 == 0L
    while (!converged && it < maxIter) {
      // LARGE-STAR: every node n attaches each strictly-LARGER neighbor
      // to the min of its closed neighborhood m = min(N(n) ∪ {n}).
      // m <= n < nb, so (m, nb) is already canonical and never a loop.
      val nbrs = edges.select(col("u").as("n"), col("v").as("nb"))
        .unionByName(edges.select(col("v").as("n"), col("u").as("nb")))
      val mins = nbrs.groupBy("n").agg(min(col("nb")).as("mnb"))
        .select(col("n"), least(col("mnb"), col("n")).as("m"))
      val large = nbrs.filter(col("nb") > col("n"))
        .join(mins, "n")
        .select(col("m").as("v"), col("nb").as("u"))
        .distinct()
      // SMALL-STAR: orient edges to the larger endpoint; every node u
      // attaches its (all smaller) neighbors AND itself to their min m.
      val smins = large.groupBy("u").agg(min(col("v")).as("m"))
      val small = large.join(smins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("m").as("v"), col("v").as("u"))
        .unionByName(smins.select(col("m").as("v"), col("u")))
        .distinct()
      edges = small.localCheckpoint(false) // materialized by the signature
      val newSig = signature(edges)
      converged = newSig == sig
      sig = newSig
      it += 1
    }
    // at the fixed point every component is a star centered on its min:
    // non-roots are the u side, roots appear only as v. Nodes that only
    // ever appeared as SELF-pairs (idA == idB) have no edge but are still
    // "in pairs" — they label themselves. The min-agg dedupes the union
    // and makes the output deterministic; note it does NOT repair a run
    // truncated by maxIter (labels could then be non-transitive), but at
    // O(log n) rounds the default cap of 25 covers ~2^25-node components.
    val labels = edges.select(col("u").as("id"), col("v").as("rep"))
      .unionByName(edges.select(col("v").as("id"), col("v").as("rep")))
      .unionByName(selfOnly)
      .groupBy("id").agg(min(col("rep")).as("rep"))
    (labels, it)
  }

  // ----------------------------------------------------- segment-level

  /** Exact-substring dedup at fixed word-window granularity (the scalable
    * approximation of Lee et al. 2021's suffix-array ExactSubstr, as used
    * by production corpus pipelines): split every document into
    * consecutive `segWords`-word segments, keep exactly ONE copy of every
    * distinct segment corpus-wide (the globally first occurrence by
    * (docId, segIdx)), and rebuild each document from its surviving
    * segments.
    *
    * Returns (id, n_segs, n_kept, clean_text) — docs whose every segment
    * was already seen elsewhere come back with n_kept = 0 and empty text.
    *
    * Scale shape: segments are built with per-row array ops (no shuffle),
    * the keeper election is ONE shuffle — a row_number window partitioned
    * by the 32-char segment hash (cardinality ~ corpus segments, no skew
    * beyond true duplication) — and the rebuild is one hash-aggregate on
    * the doc key. Nothing touches the driver; the full text never
    * shuffles twice (only hash + segment strings do).
    */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
                   segWords: Int = 10): DataFrame = {
    val keeperW = Window.partitionBy(md5(col("seg")))
      .orderBy(col(idCol), col("seg_idx"))
    val kept = docSegments(df, idCol, textCol, segWords)
      .withColumn("__rk", row_number().over(keeperW))
      .filter(col("__rk") === 1)
    rebuildFromSegments(df, idCol, textCol, segWords, kept)
  }

  /** Frequency-based BOILERPLATE removal (the CCNet/RefinedWeb line-dedup
    * shape at fixed word-window granularity): a segment appearing in MORE
    * than `maxDocFreq` distinct documents is boilerplate — headers,
    * footers, licence blocks, navigation chrome — and is dropped from
    * EVERY document. The complement of [[segmentDedup]]'s policy (which
    * keeps one copy): boilerplate keeps zero.
    *
    * Scale shape: one hash-agg on the 32-char segment hash for the
    * document-frequency table, one semi-join back on the same hash, one
    * doc-key rebuild agg. Full text shuffles once (the rebuild); only
    * hashes and segment strings move otherwise. */
  def boilerplateFilter(df: DataFrame, idCol: String, textCol: String,
                        segWords: Int = 10, maxDocFreq: Int = 2): DataFrame = {
    val segs = docSegments(df, idCol, textCol, segWords)
    val rare = segs.groupBy(md5(col("seg")).as("__h"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") <= maxDocFreq).select("__h")
    val kept = segs.withColumn("__h", md5(col("seg")))
      .join(rare, Seq("__h"), "left_semi")
    rebuildFromSegments(df, idCol, textCol, segWords, kept)
  }

  /** Consecutive `segWords`-word segments of every document as
    * (idCol, seg_idx, seg) — per-row array ops, no shuffle. */
  private def docSegments(df: DataFrame, idCol: String, textCol: String,
                          segWords: Int): DataFrame = {
    // word array bound as a lambda variable (the wordShingles lesson):
    // the per-segment lambda would otherwise re-split the text per segment
    val segs = element_at(transform(array(split(col(textCol), " ")), ws =>
      transform(
        sequence(lit(0),
          ceil(size(ws) / lit(segWords.toDouble)).cast("int") - 1),
        i => concat_ws(" ", slice(ws, i * segWords + 1, lit(segWords))))), 1)
    df.select(col(idCol), posexplode(segs).as(Seq("seg_idx", "seg")))
  }

  /** Rebuild (id, n_segs, n_kept, clean_text) from surviving segments —
    * docs whose every segment was dropped come back n_kept = 0, empty. */
  private def rebuildFromSegments(df: DataFrame, idCol: String,
                                  textCol: String, segWords: Int,
                                  kept: DataFrame): DataFrame = {
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          s => s.getField("seg"))).as("clean_text"))
    val words = split(col(textCol), " ")
    val nSegs = ceil(size(words) / lit(segWords.toDouble)).cast("int")
    df.select(col(idCol), nSegs.cast("long").as("n_segs"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Exact duplicated-SPAN dedup at ANY alignment — the sliding-window
    * re-expression of Lee et al. 2021's suffix-array ExactSubstr
    * (arXiv:2107.06499: token spans of at least `windowTokens` occurring
    * more than once in the corpus are duplicated training text; every
    * occurrence but the first is removed). [[segmentDedup]] approximates
    * this with DISJOINT tiles and therefore misses the same passage at a
    * shifted offset; here a hash window slides over every token
    * position, so a duplicated span of any length ≥ windowTokens is
    * covered by duplicated windows at every offset inside it, alignment
    * be damned.
    *
    * Rule (deterministic, engine-replayable): for each distinct window
    * hash occurring more than once, the canonical occurrence is the
    * minimum (doc, pos); every token position covered by a
    * NON-canonical duplicated window is a duplicated token. Output per
    * input doc: token counts, duplicated-token count and fraction, and
    * the document rebuilt from its surviving tokens in order
    * (lowercased token stream — the [[graft.ops.TextAnalysis.tokens]]
    * normalization, same as every dedup operator here).
    *
    * Scale shape: window construction is per-row array ops; what
    * shuffles is (id, pos, 32-char hash) — one row per token position,
    * independent of windowTokens (the W× blowup is map-side CPU only).
    * Duplicated hashes come from a map-side-partial hash aggregate; the
    * canonical struct-min runs ONLY on the duplicated subset (true
    * duplication-sized — a SortAggregate there is candidate-bounded,
    * never corpus-bounded); coverage explodes W positions per
    * non-canonical duplicated window only; the rebuild is the
    * stripRepeatedLines shape (anti-join + one doc-keyed reassembly).
    * No all-pairs term anywhere. The suffix array remains the right
    * tool when windowTokens must be "any length ≥ 50" EXACTLY at
    * minimal memory; the window form trades a fixed granularity for
    * pure equi-join/aggregate Spark semantics. */
  def stripDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                           windowTokens: Int = 16): DataFrame = {
    require(windowTokens >= 2,
      s"windowTokens must be >= 2, got $windowTokens")
    val w = windowTokens
    val wins = slidingWindows(df, idCol, textCol, w)
    val dupH = wins.groupBy("__h").agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1).select("__h")
    val dupWins = wins.join(dupH, Seq("__h"))
    val canon = dupWins.groupBy("__h")
      .agg(min(struct(col(idCol).as("i"), col("__pos").as("p"))).as("__cn"))
    val nonCanon = dupWins.join(canon, Seq("__h"))
      .filter(!(col(idCol) === col("__cn.i") && col("__pos") === col("__cn.p")))
    val covered = nonCanon
      .select(col(idCol),
        explode(sequence(col("__pos"), col("__pos") + (w - 1))).as("__p"))
      .distinct()
    rebuildMinusCovered(df, idCol, textCol, covered)
  }

  /** The persisted window-hash index rows for a batch — (h, id, pos) per
    * sliding window, the [[fingerprintIndex]]/[[minhashIndex]] sibling
    * for SPAN-level dedup: an incremental pipeline appends these so
    * later batches strip spans already present anywhere in history
    * without re-reading historical text. ~32 bytes + (id, pos) per
    * token position; store bucketed on h to prune the probe join. */
  def windowHashIndex(df: DataFrame, idCol: String, textCol: String,
                      windowTokens: Int = 16): DataFrame =
    slidingWindows(df, idCol, textCol, windowTokens)
      .select(col("__h").as("h"), col(idCol), col("__pos").as("pos"))

  /** INCREMENTAL duplicated-span strip: every token of `incoming`
    * covered by a window whose hash exists in a persisted
    * [[windowHashIndex]] is duplicated HISTORY text and stripped —
    * history is canonical by definition (every historical occurrence
    * precedes the batch), so no canonical election is needed here.
    * Within-batch duplication is deliberately out of scope (run
    * [[stripDuplicatedSpans]] over the batch for it — the two compose,
    * same as dedupAgainstIndex vs exactDedup).
    *
    * Scale shape: the incoming batch's (id, pos, hash) rows equi-join
    * the index's DISTINCT hashes (semi-join — the index side carries no
    * payload into the probe); coverage explodes W positions per HIT
    * window only; rebuild is the established anti-join shape. History
    * text is never touched. */
  def stripSpansAgainstIndex(incoming: DataFrame, index: DataFrame,
                             idCol: String, textCol: String,
                             windowTokens: Int = 16): DataFrame = {
    val w = windowTokens
    val wins = slidingWindows(incoming, idCol, textCol, w)
    val hits = wins.join(index.select(col("h").as("__h")).distinct(),
      Seq("__h"), "left_semi")
    val covered = hits
      .select(col(idCol),
        explode(sequence(col("__pos"), col("__pos") + (w - 1))).as("__p"))
      .distinct()
    rebuildMinusCovered(incoming, idCol, textCol, covered)
  }

  /** Sliding windowTokens-token md5 windows per document as
    * (idCol, __pos, __h) — per-row array ops, one output row per token
    * position, W-independent shuffle payload. */
  private def slidingWindows(df: DataFrame, idCol: String, textCol: String,
                             w: Int): DataFrame =
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__t"))
      .where(size(col("__t")) >= w)
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col("__t")) - (w - 1)),
        i => struct(i.as("p"),
          md5(array_join(slice(col("__t"), i, lit(w)), " ")).as("h"))))
        .as("__w"))
      .select(col(idCol), col("__w.p").as("__pos"), col("__w.h").as("__h"))

  /** Rebuild each doc from the tokens NOT in `covered` (idCol, __p) —
    * the shared tail of both span-strip forms: anti-join + one
    * doc-keyed ordered reassembly, spine-joined so every input doc
    * keeps a row. Output: (id, n_toks, n_dup_toks, dup_frac,
    * text_clean) over the lowercased token stream. */
  private def rebuildMinusCovered(df: DataFrame, idCol: String,
                                  textCol: String,
                                  covered: DataFrame): DataFrame = {
    val tokStream = df
      .select(col(idCol), posexplode(TextAnalysis.tokens(col(textCol)))
        .as(Seq("__p0", "__tok")))
      .select(col(idCol), (col("__p0") + 1).as("__p"), col("__tok"))
    val rebuilt = tokStream.join(covered, Seq(idCol, "__p"), "left_anti")
      .groupBy(idCol)
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__p"), col("__tok")))),
        s => s("__tok")), " ").as("text_clean"))
    val stats = covered.groupBy(idCol)
      .agg(count(lit(1)).as("n_dup_toks"))
    df.select(col(idCol),
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("n_toks"))
      .join(stats, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_toks"),
        coalesce(col("n_dup_toks"), lit(0L)).as("n_dup_toks"),
        when(col("n_toks") > 0,
          round(coalesce(col("n_dup_toks"), lit(0L)) / col("n_toks"), 6))
          .as("dup_frac"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash over word tokens, represented as FOUR 16-bit quarter
    * values (array<int>, MSB-first within each quarter), computed the
    * codegen-fast way: explode tokens, hash each token ONCE (xxhash64),
    * derive all 64 bit scores as static shift/mask columns, sum per doc
    * (map-side partial agg), pack quarters. The quartered representation
    * avoids 64-bit sign-bit packing (ANSI-overflow-safe) and doubles as the
    * LSH blocking key. Returns (id, sh: array<int>[4]). Docs with zero
    * tokens have no signature (dropped — nothing to compare). */
  def simhashQuarters(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
    // 64 portable bits from one md5 per token: hex digits 1-8 are bits
    // 0..31, digits 9-16 are bits 32..63 — the DuckDB oracle re-derives
    // the identical fingerprints from the same substrings.
    val hA = conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long")
    val hB = conv(substring(md5(col("tok")), 9, 8), 16, 10).cast("long")
    val bitAggs = (0 until 64).map { b =>
      val src = if (b < 32) shiftrightunsigned(hA, b)
                else shiftrightunsigned(hB, b - 32)
      sum(when(src.bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val scored = toks.groupBy("id").agg(bitAggs.head, bitAggs.tail: _*)
    val quarters = (0 until 4).map { q =>
      (0 until 16).map(i =>
        when(col(s"b${q * 16 + i}") > 0, 1 << (15 - i)).otherwise(0))
        .reduce(_ + _).as(s"q$q")
    }
    scored.select(col("id") +: quarters: _*)
      .select(col("id"), array((0 until 4).map(i => col(s"q$i")): _*).as("sh"))
  }

  /** Hamming distance between two quartered simhash fingerprints:
    * sum of per-quarter popcounts of XOR. */
  def hammingQuarters(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("int")),
      lit(0), (acc, v) => acc + v)

  /** SimHash near-dup candidates: block on the four 16-bit quarters of the
    * fingerprint (a pair within hamming distance 3 must agree on at least
    * one quarter — pigeonhole), then verify true hamming distance. Same
    * banded-join shape as MinHash-LSH: no all-pairs comparison. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3,
                          approxRecall: Boolean = false): DataFrame =
    quarterNearDupPairs(simhashQuarters(df, idCol, textCol), maxHamming,
      approxRecall)

  /** Bucket-size threshold past which [[quarterNearDupPairs]] escalates
    * a quarter bucket to the level-2 sub-block join. 4096 members is
    * ~8M raw pairs for one bucket — past what one task should verify;
    * real web media guarantees such buckets (all-zero dHash quarters
    * from flat/dark images, silence audio prints, boilerplate simhash)
    * even when the corpus at large is diverse. */
  val HotBucketThreshold = 4096

  /** The 48 fingerprint bits OUTSIDE quarter `q`, packed high-to-low in
    * quarter order — the key material for the level-2 re-block — as a
    * codegen CASE over the PACKED print: the pack is bijective over
    * disjoint 16-bit ranges (q0 high), so cutting quarter q out of pk by
    * shift/mask arithmetic equals a shift-accumulate over the three
    * remaining quarters (spec-pinned equal to that array fold on random
    * prints, all q). */
  private[graft] def rem48Pk(pk: Column, q: Column): Column =
    when(q === 0, pk.bitwiseAND(lit(0xFFFFFFFFFFFFL)))
      .when(q === 1, shiftleft(shiftrightunsigned(pk, 48), 32) +
        pk.bitwiseAND(lit(0xFFFFFFFFL)))
      .when(q === 2, shiftleft(shiftrightunsigned(pk, 32), 16) +
        pk.bitwiseAND(lit(0xFFFFL)))
      .otherwise(shiftrightunsigned(pk, 16))

  /** The four 12-bit sub-blocks of [[rem48Pk]]: a pair agreeing on
    * quarter `q` with <= 3 bit errors has those errors inside the
    * remaining 48 bits, so it agrees on at least one of four 12-bit
    * blocks — the SAME pigeonhole argument as level 1, one level down.
    * Pure shift/mask codegen over the packed print; what the hot-bucket
    * level-2 joins key on. */
  private[graft] def subKeysPk(pk: Column, q: Column): Column = {
    val rem = rem48Pk(pk, q)
    array((0 to 3).map { i =>
      shiftright(rem, 36 - 12 * i).bitwiseAND(lit(0xfffL))
    }: _*)
  }

  /** One 64-bit packed print from the four 16-bit quarters (q0 high).
    * Quarters are in [0, 65535], so the pack is exact and bijective --
    * the single-long group/join key of the exact-print collapse. */
  private[graft] def packPrint(sh: Column): Column =
    (1 to 4).map(i => shiftleft(element_at(sh, i).cast("long"), 16 * (4 - i)))
      .reduce(_ + _)

  /** Hamming distance between two PACKED prints: the quarters occupy
    * disjoint bit ranges of pk (the pack is bijective), so
    * popcount(pkA XOR pkB) equals the quarter-wise [[hammingQuarters]]
    * sum exactly — one codegen bit_count per candidate pair instead of
    * the interpreted zip_with/aggregate fold, and join branches that use
    * it stop carrying the sh array through the shuffle. */
  private[graft] def hammingPk(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  /** Inverse of [[packPrint]]: the four 16-bit quarters back out of the
    * packed long (masking makes the shift's sign handling irrelevant).
    * Lets the rep aggregate carry only (pk, min(id)) — a HASH aggregate
    * with map-side partials — where an agg buffer holding the sh array
    * (`first(sh)`) forces a Sort + SortAggregate over every print per
    * consuming branch. */
  private[graft] def unpackPrint(pk: Column): Column =
    array((1 to 4).map(i =>
      shiftrightunsigned(pk, 16 * (4 - i)).bitwiseAND(lit(0xffffL))): _*)

  /** EXACT-PRINT COLLAPSE + pigeonhole blocking join over ANY quartered
    * 64-bit fingerprint frame (id, sh: array of four 16-bit blocks) --
    * SimHash text prints and perceptual image dHashes
    * ([[Multimodal.dHashQuarters]]) share it: a pair within hamming
    * distance 3 must agree on at least one quarter, so candidates come
    * from a quarter equi-join and the true distance is verified on the
    * candidate set only.
    *
    * Bit-IDENTICAL prints (true silence, flat/black frames -- guaranteed
    * degenerates of any crawl) are collapsed FIRST: rows group by the
    * packed 64-bit print, the pigeonhole candidate join runs over the
    * DISTINCT prints only (min-id representative), and group membership
    * fans back out afterwards. The pair SET is unchanged -- members of
    * one print group pair with each other at hamming 0 (<= any radius,
    * so blocking cannot drop them), and a member inherits its
    * representative's cross-print matches verbatim because hamming
    * depends only on the print bits. What changes is the COST: the
    * candidate join's input shrinks from rows to distinct prints, so a
    * 10M-copy silence print contributes ONE candidate row instead of an
    * O(10M^2) bucket join, and the only quadratic work left is
    * output-sized (an identical group's true pair set is itself
    * quadratic -- emitted by a plain equi-join on the packed print,
    * never re-verified, never distinct-shuffled).
    *
    * HOT-BUCKET ESCALATION (over distinct prints, maxHamming <= 3 only):
    * a degenerate shared QUARTER (the all-zero quarter of flat images,
    * silence audio, boilerplate text) still puts unboundedly many
    * distinct prints in one (q, key) bucket, and the bucket join is
    * O(|bucket|^2) BEFORE the hamming filter -- AQE skew-split can
    * parallelize that work but cannot shrink it. Buckets past
    * `hotThreshold` members therefore re-block on the four 12-bit
    * sub-blocks of their remaining 48 bits ([[subKeysPk]]): within such a
    * bucket a <=3-error pair still agrees on a sub-block (pigeonhole,
    * level 2), so the escalated result is IDENTICAL to the plain join.
    * An `approxRecall` radius above 3 runs the PLAIN level-1 join
    * instead -- level-2 escalation is only provably exact for <= 3
    * errors, and the blocking-limited contract such callers accept (an
    * oracle replaying level-1 blocking) must not have its recall
    * silently changed inside hot buckets. COST EXPOSURE of that >3
    * path: without escalation, a degenerate shared quarter across many
    * DISTINCT prints re-opens the unguarded O(|bucket|^2) candidate
    * join that hotThreshold bounds at radius <= 3 -- approx callers on
    * adversarial corpora (boilerplate simhash quarters) own that risk;
    * prefer radius <= 3, or pre-split hot quarters upstream. */
  def quarterNearDupPairs(f: DataFrame, maxHamming: Int = 3,
                          approxRecall: Boolean = false,
                          hotThreshold: Int = HotBucketThreshold): DataFrame = {
    // 4-block pigeonhole is complete ONLY for maxHamming <= 3: four bit
    // errors can hit all four quarters, so a larger radius silently
    // misses pairs. A caller whose CONTRACT is approximate recall (the
    // candidate set is "pairs agreeing on a quarter", e.g. a simhash
    // radius-6 screen whose oracle replays the same blocking) must say
    // so explicitly via approxRecall = true.
    require(approxRecall || (maxHamming >= 0 && maxHamming <= 3),
      s"4-quarter pigeonhole blocking is complete only for maxHamming in [0,3], got $maxHamming; pass approxRecall=true to accept blocking-limited recall")
    require(hotThreshold >= 2, s"hotThreshold must be >= 2, got $hotThreshold")
    // The (id, pk) proxy frame feeds FIVE plan branches (both sides of
    // the identical-print equi-join, the rep groupBy, both membership
    // fan-out joins) — without a materialization boundary each branch
    // re-evaluates the upstream print builder (media decode, the simhash
    // token aggregate) from scratch. A LAZY localCheckpoint computes the
    // 16-byte-per-row proxy once at the first action and every branch
    // reads the stored blocks — the guide's decide-on-small-rows shape
    // (§8.4): payloads are decoded once, and only print-sized rows are
    // ever re-read. The pack is bijective, so sh itself never needs to
    // ride along (quarters unpack from pk wherever blocking needs them).
    val m = f.select(col("id"), packPrint(col("sh")).as("pk"))
      .localCheckpoint(false)
    // identical-print pairs: output-sized equi-join on the packed print,
    // hamming 0 by construction (included at every radius >= 0)
    val samePairs = m.as("a").join(m.as("b"),
        col("a.pk") === col("b.pk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("idA"), col("b.id").as("idB"),
        lit(0).as("hamming"))
    // the rep aggregate recurs in pigeonholeRepPairs' branches reading the
    // checkpointed m (a second checkpoint here measured as pure overhead
    // on sub-second inputs); it aggregates ONLY (pk, min(id)) — hash-
    // aggregable with map-side partials — where `first(sh)` forced a
    // Sort + SortAggregate over every print per consuming branch
    val reps = m.groupBy("pk").agg(min(col("id")).as("id"))
    val repPairs = pigeonholeRepPairs(reps, maxHamming, approxRecall,
      hotThreshold)
    // fan group membership back out: every member inherits its
    // representative print's matches (hamming is a print property)
    val crossPairs = repPairs
      .join(m.select(col("pk").as("pkA"), col("id").as("ia")), "pkA")
      .join(m.select(col("pk").as("pkB"), col("id").as("ib")), "pkB")
      .select(least(col("ia"), col("ib")).as("idA"),
        greatest(col("ia"), col("ib")).as("idB"), col("hamming"))
    samePairs.union(crossPairs)
  }

  /** Candidate generation over a DISTINCT-print frame carrying (pk, id)
    * with unique pk and unique id: level-1 quarter pigeonhole; for
    * maxHamming <= 3, buckets past `hotThreshold` escalate to the
    * level-2 12-bit sub-block re-block (provably exact there -- see
    * [[quarterNearDupPairs]]). Returns (pkA, pkB, hamming) with hamming
    * in [1, maxHamming], each unordered distinct-print pair once.
    * Quarters unpack from pk ([[unpackPrint]] is the bijective inverse)
    * and every join projection carries only (pk, id, q, key) -- the sh
    * array neither rides the shuffles nor feeds an interpreted fold
    * (level-2 keys come from [[subKeysPk]], pure shift/mask codegen). */
  private[graft] def pigeonholeRepPairs(reps: DataFrame, maxHamming: Int,
                                 approxRecall: Boolean,
                                 hotThreshold: Int): DataFrame = {
    val withQ = reps.select(col("pk"), col("id"),
        posexplode(unpackPrint(col("pk"))))
      .withColumnRenamed("pos", "q").withColumnRenamed("col", "key")
    val raw =
      if (maxHamming > 3) {
        // approxRecall contract: replay EXACTLY level-1 blocking
        withQ.as("a").join(withQ.as("b"),
            col("a.q") === col("b.q") && col("a.key") === col("b.key") &&
              col("a.id") < col("b.id"))
          .select(col("a.pk").as("pkA"), col("b.pk").as("pkB"),
            hammingPk(col("a.pk"), col("b.pk")).as("hamming"))
      } else {
        // Only the HOT keys are materialized and broadcast: at most
        // 4n/hotThreshold keys can exceed the threshold (pigeonhole on
        // the exploded row count), so the set is small BY CONSTRUCTION
        // at any corpus size -- tagging is then a map-side broadcast
        // join, and the cold path's cost over the unguarded join is one
        // partial-collapsed count aggregate, not a corpus-wide shuffle
        // join of sizes.
        val hotKeys = broadcast(
          withQ.groupBy("q", "key").agg(count(lit(1)).as("__bn"))
            .filter(col("__bn") > hotThreshold)
            .select(col("q"), col("key"), lit(true).as("__hot")))
        val tagged = withQ.join(hotKeys, Seq("q", "key"), "left")
        val cold = tagged.filter(col("__hot").isNull).drop("__hot")
        val coldPairs = cold.as("a").join(cold.as("b"),
            col("a.q") === col("b.q") && col("a.key") === col("b.key") &&
              col("a.id") < col("b.id"))
          .select(col("a.pk").as("pkA"), col("b.pk").as("pkB"),
            hammingPk(col("a.pk"), col("b.pk")).as("hamming"))
        val hot = tagged.filter(col("__hot").isNotNull)
          .select(col("pk"), col("id"), col("q"), col("key"),
            posexplode(subKeysPk(col("pk"), col("q"))))
          .withColumnRenamed("pos", "sq").withColumnRenamed("col", "skey")
        val hotPairs = hot.as("a").join(hot.as("b"),
            col("a.q") === col("b.q") && col("a.key") === col("b.key") &&
              col("a.sq") === col("b.sq") && col("a.skey") === col("b.skey") &&
              col("a.id") < col("b.id"))
          .select(col("a.pk").as("pkA"), col("b.pk").as("pkB"),
            hammingPk(col("a.pk"), col("b.pk")).as("hamming"))
        coldPairs.union(hotPairs)
      }
    raw.distinct().filter(col("hamming") <= maxHamming)
  }

  /** INCREMENTAL sibling of [[quarterNearDupPairs]] -- the
    * fingerprint-index convention every dedup family here carries
    * (exact, minhash, span, embedding): history participates as its
    * persisted (id, sh) quartered prints only -- payloads are never
    * re-decoded or re-read -- and each incoming batch row pairs against
    * any history print within `maxHamming` via the same quarter
    * pigeonhole equi-join. Both sides ride the same exact-print
    * collapse: a batch print identical to an index print pairs with
    * every such index member through the output-sized packed-print
    * equi-join (hamming 0), and distinct-print candidates come from the
    * pigeonhole join over the two rep frames. Within-batch duplication
    * composes with the batch operator, the established
    * dedupAgainstIndex convention.
    *
    * Precondition: `index` is a deterministic or persisted scan — a
    * column-pruned read of the print store, as every incremental and
    * streaming caller passes. It feeds three plan branches
    * (identical-print join, rep groupBy, membership fan-out), each of
    * which evaluates it separately, so a caller whose index is derived
    * in-plan from a nondeterministic or costly source checkpoints it
    * first: otherwise the three branches may see different indexes (an
    * inconsistent pair set) and re-run the derivation three times. */
  def quarterNearDupAgainstIndex(batch: DataFrame, index: DataFrame,
                                 maxHamming: Int = 3,
                                 approxRecall: Boolean = false,
                                 hotThreshold: Int = HotBucketThreshold): DataFrame = {
    require(approxRecall || (maxHamming >= 0 && maxHamming <= 3),
      s"4-quarter pigeonhole blocking is complete only for maxHamming in [0,3], got $maxHamming; pass approxRecall=true to accept blocking-limited recall")
    require(hotThreshold >= 2, s"hotThreshold must be >= 2, got $hotThreshold")
    // same materialization discipline as quarterNearDupPairs: the BATCH
    // side's (id, pk) proxy feeds three plan branches (identical-print
    // join, rep groupBy, membership fan-out) — checkpoint once, decode
    // once. The INDEX side is NOT checkpointed: it is a column-pruned
    // scan of the persisted print store, and materializing the whole
    // growing history per call is the scale bug the minhash twin's doc
    // names — its three consuming branches read three pruned (id, sh)
    // scans instead.
    val mb = batch.select(col("id"), packPrint(col("sh")).as("pk"))
      .localCheckpoint(false)
    val mi = index.select(col("id"), packPrint(col("sh")).as("pk"))
    val samePairs = mb.as("a").join(mi.as("b"), col("a.pk") === col("b.pk"))
      .select(col("a.id").as("idA"), col("b.id").as("idB"),
        lit(0).as("hamming"))
    // (pk, min(id)) hash aggregate, as in quarterNearDupPairs; quarters
    // unpack from pk wherever blocking needs them
    val rb = mb.groupBy("pk").agg(min(col("id")).as("id"))
    val ri = mi.groupBy("pk").agg(min(col("id")).as("id"))
    def exploded(f: DataFrame) =
      f.select(col("pk"), col("id"), posexplode(unpackPrint(col("pk"))))
        .withColumnRenamed("pos", "q").withColumnRenamed("col", "key")
    val eb = exploded(rb)
    val ei = exploded(ri)
    val raw =
      if (maxHamming > 3) {
        eb.as("a").join(ei.as("b"),
            col("a.q") === col("b.q") && col("a.key") === col("b.key") &&
              col("a.pk") =!= col("b.pk"))
          .select(col("a.pk").as("pkA"), col("b.pk").as("pkB"),
            hammingPk(col("a.pk"), col("b.pk")).as("hamming"))
      } else {
        // hotness is a property of the COMBINED bucket (batch x index
        // pairs are what explode), so both sides tag against the same
        // broadcast hot-key set -- small by construction
        // (<= 4(n_batch + n_index)/hotThreshold keys can exceed the
        // threshold)
        val hotKeys = broadcast(
          eb.select("q", "key").union(ei.select("q", "key"))
            .groupBy("q", "key").agg(count(lit(1)).as("__bn"))
            .filter(col("__bn") > hotThreshold)
            .select(col("q"), col("key"), lit(true).as("__hot")))
        def tag(f: DataFrame) = f.join(hotKeys, Seq("q", "key"), "left")
        val tb = tag(eb); val ti = tag(ei)
        def subbed(f: DataFrame) = f
          .select(col("pk"), col("id"), col("q"), col("key"),
            posexplode(subKeysPk(col("pk"), col("q"))))
          .withColumnRenamed("pos", "sq").withColumnRenamed("col", "skey")
        val coldPairs = tb.filter(col("__hot").isNull).drop("__hot").as("a")
          .join(ti.filter(col("__hot").isNull).drop("__hot").as("b"),
            col("a.q") === col("b.q") && col("a.key") === col("b.key") &&
              col("a.pk") =!= col("b.pk"))
          .select(col("a.pk").as("pkA"), col("b.pk").as("pkB"),
            hammingPk(col("a.pk"), col("b.pk")).as("hamming"))
        val hotPairs = subbed(tb.filter(col("__hot").isNotNull).drop("__hot")).as("a")
          .join(subbed(ti.filter(col("__hot").isNotNull).drop("__hot")).as("b"),
            col("a.q") === col("b.q") && col("a.key") === col("b.key") &&
              col("a.sq") === col("b.sq") && col("a.skey") === col("b.skey") &&
              col("a.pk") =!= col("b.pk"))
          .select(col("a.pk").as("pkA"), col("b.pk").as("pkB"),
            hammingPk(col("a.pk"), col("b.pk")).as("hamming"))
        coldPairs.union(hotPairs)
      }
    val repPairs = raw.distinct().filter(col("hamming") <= maxHamming)
    val crossPairs = repPairs
      .join(mb.select(col("pk").as("pkA"), col("id").as("ia")), "pkA")
      .join(mi.select(col("pk").as("pkB"), col("id").as("ib")), "pkB")
      .select(col("ia").as("idA"), col("ib").as("idB"), col("hamming"))
    samePairs.union(crossPairs)
  }
}
