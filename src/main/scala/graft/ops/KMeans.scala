package graft.ops

import graft.Overlap
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic Lloyd k-means over an embedding column — the TRAINED
  * coarse quantizer for IVF approximate-nearest-neighbor search (the
  * "swap in real centroids" step [[Similarity.ivfTopK]]'s contract points
  * at), and a standalone corpus-structure operator (cluster sizes are a
  * topic/domain profile of an embedding space).
  *
  * Why this shape at 100 TB: each Lloyd iteration is ONE corpus scan with
  * a map-side nearest-centroid expression (the k×dims centroid table is a
  * driver-held literal — k ≤ a few hundred — so assignment never joins,
  * never shuffles the corpus) plus one (cluster, dim)-keyed aggregate
  * whose map-side partials collapse to `partitions × k × dims` rows
  * before the exchange. That is the canonical distributed k-means cost
  * model: O(iters) scans, shuffles bounded by k×dims, never by rows.
  * Driver state is k×dims doubles per iteration — bounded and tiny, the
  * same class as the grid-header collect.
  *
  * Determinism / engine portability (the DuckDB oracle re-derives every
  * step):
  *   - seeding: deterministic farthest-first traversal from the lowest
  *     md5-priority vector (see [[seedCentroids]] — identical on any
  *     engine or rerun, no RNG anywhere);
  *   - centroids are QUANTIZED to 6 decimal digits each update — so the
  *     one place cross-engine float drift could creep in (decimal-sum →
  *     double division) is rounded away, and every downstream distance is
  *     computed from bit-identical centroid literals;
  *   - per-component means accumulate as FLOOR-SCALED integers
  *     (`floor(x * 1e9)` summed through DECIMAL(38,0)) — exact and
  *     partition-order-independent (a double sum would depend on task
  *     scheduling), and floor is tie-free by construction, unlike a
  *     double→decimal cast whose half-way ties round HALF_UP in Spark
  *     but half-even in DuckDB (a float that is an odd multiple of
  *     2^-13 ties at the 12th decimal digit and diverges). The ≤1e-9
  *     per-element truncation vanishes under the 6-dp quantization;
  *   - nearest-centroid ranking uses the shifted squared distance
  *     |c|² − 2·v·c (the |v|² term is constant per row and cannot change
  *     the argmin), ties broken by cluster id.
  */
object KMeans {

  /** One centroid: dense id, quantized components, member count as of the
    * update that produced it (0 for seeds). */
  final case class Centroid(cluster: Int, comps: Seq[Double], nMembers: Long)

  private def vecs(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
      Similarity.asDouble(col(vecCol)).as("__v"))

  /** The k seed centroids by deterministic FARTHEST-FIRST traversal
    * (Gonzalez): seed 0 is the vector with the lowest md5
    * [[Sampling.hashPriority]] of its id; each next seed is the vector
    * maximizing its distance to the nearest already-chosen seed (ties by
    * id). Farthest-first provably 2-approximates the k-center objective —
    * the spread-out seeding that lets Lloyd separate genuine clusters,
    * where a hash-random seed can land several seeds in one dense blob
    * and merge clusters forever.
    *
    * Cost: k passes, each a map-side min-distance expression (chosen
    * seeds inlined as literals) + a TakeOrdered(1) — no shuffle beyond
    * the top-1 reduction, driver state one vector per pass. Every fit in
    * the repo is a quantizer of k ≤ 16, where k scans is the honest,
    * portable choice; any larger k takes the same running-min traversal
    * (k scans, one new distance per row per scan). A k in the thousands
    * (SemDeDup's paper setting) needs sampled k-means|| seeding instead,
    * which is not implemented.
    * Duplicate data points degrade gracefully: once every remaining
    * vector coincides with a seed, subsequent picks tie at distance 0
    * and the starved clusters drop out in the first Lloyd update. */
  def seedCentroids(df: DataFrame, idCol: String, vecCol: String,
                    k: Int): Seq[Centroid] =
    seedFromVecs(vecs(df, idCol, vecCol), k)

  private def seedFromVecs(vIn: DataFrame, k: Int): Seq[Centroid] = {
    require(k >= 1, s"k must be >= 1, got $k")
    val v = vIn
      .withColumn("__vn2", Similarity.dot(col("__v"), col("__v")))
    val firstRow = v
      .select(col("__id"), transform(col("__v"), x => round(x, 6)).as("__c"))
      .orderBy(Sampling.hashPriority(col("__id")), col("__id"))
      .limit(1).collect()
    require(firstRow.nonEmpty,
      "KMeans.seedCentroids: no input rows — nothing to seed from")
    val first = firstRow.head.getSeq[Double](1)
    var seeds = Vector(first)
    // true squared distance vn2 + (cn2 - 2 v.c), exactly the fold the
    // oracle replays (the |v|^2 term matters here, unlike in assignment:
    // the ARGMAX across rows compares different v)
    def distTo(c: Seq[Double]): Column = {
      val cArr = array(c.map(lit): _*)
      val cn2 = c.map(x => x * x).sum
      col("__vn2") + (lit(cn2) - lit(2.0) * Similarity.dot(col("__v"), cArr))
    }
    // RUNNING-MIN distance column instead of a per-round least() over
    // every chosen seed: round r's pick previously inlined all r seed
    // vectors as literals (O(k²·dims) literal growth across the
    // traversal — re-planned every round, and every row re-computed r
    // distances per scan). Here __d carries min-distance-to-chosen and
    // each round computes ONE new distance, `least`-folded in —
    // bit-identical (least chains associate exactly for non-NaN
    // doubles) — with the frame lazily localCheckpointed per round so
    // the pick's TakeOrdered materializes it in the SAME job (no extra
    // job per round; constant-size plan per round). Residency: at most
    // two copies of the (id, v, vn2, d) frame — each round releases its
    // predecessor's checkpoint once its own has materialized, and the
    // last is released on return.
    // CROSSOVER: below RunningMinSeedThreshold the checkpoint
    // round-trip costs more than the few-literal chained-least plans it
    // replaces (measured: k=8 coarse fits −5-8%, k=16 subspace fits
    // +15% the other way), so small k keeps the in-plan chain — the
    // distances per round are ≤ threshold and the plan stays small. The
    // chained form computes the identical least() fold lazily, so the
    // two paths are value-identical by construction.
    if (k > 1 && k <= RunningMinSeedThreshold) {
      while (seeds.size < k) {
        val minD = seeds.map(distTo).reduce(least(_, _))
        seeds :+= v
          .select(transform(col("__v"), x => round(x, 6)).as("__c"),
            minD.as("__d"), col("__id"))
          .orderBy(col("__d").desc, col("__id"))
          .limit(1).collect().head.getSeq[Double](0)
      }
    } else if (k > 1) {
      var cur = v.withColumn("__d", distTo(first)).localCheckpoint(false)
      var prev: Option[DataFrame] = None
      try while (seeds.size < k) {
        val next = cur
          .select(transform(col("__v"), x => round(x, 6)).as("__c"),
            col("__d"), col("__id"))
          .orderBy(col("__d").desc, col("__id"))
          .limit(1).collect().head.getSeq[Double](0)
        // the pick materialized cur's checkpoint: its predecessor is no
        // longer read
        prev.foreach(releaseCheckpoint)
        prev = None
        seeds :+= next
        if (seeds.size < k) {
          prev = Some(cur)
          cur = cur.withColumn("__d", least(col("__d"), distTo(next)))
            .localCheckpoint(false)
        }
      } finally { prev.foreach(releaseCheckpoint); releaseCheckpoint(cur) }
    }
    seeds.zipWithIndex.map { case (c, i) => Centroid(i, c, 0L) }.toSeq
  }

  /** Drop a localCheckpoint's blocks from executor storage. */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
    }

  /** Seeding-scan crossover: at or below this k the farthest-first
    * picks inline the chosen seeds as a chained least() (small plans,
    * no materialization); above it each round folds one new distance
    * into a checkpointed running-min column (constant plan size, O(1)
    * distances/row/round). Both compute the identical min — the
    * crossover is a cost choice, not a semantic one. */
  val RunningMinSeedThreshold = 8

  /** The k (shifted-distance, cluster) score structs over inlined
    * centroid literals — each distance a native
    * [[graft.expressions.DotProduct]] after the optimizer rewrite. */
  private def scoredStructs(v: Column, cents: Seq[Centroid]): Seq[Column] =
    cents.map { c =>
      val cArr = array(c.comps.map(lit): _*)
      val cn2 = c.comps.map(x => x * x).sum // ascending-dim fold, like dot
      struct((lit(cn2) - lit(2.0) * Similarity.dot(v, cArr)).as("s"),
        lit(c.cluster).as("cluster"))
    }

  /** Ordered ids of the `probes` nearest centroids as a MAP-SIDE column
    * expression over a double-array column: the centroid table is inlined
    * as literals, each distance is a native [[graft.expressions.DotProduct]]
    * after the optimizer rewrite, and the argmin is an array_sort over k
    * structs — no join, no shuffle, whole corpus streams through.
    * (A `least`-over-structs codegen argmin was tried and REVERTED: it
    * measured 1.3–5x SLOWER than the array_sort form across every
    * consumer — the k score structs are one array-backed buffer for the
    * sort, but k independent struct allocations per row for least.) */
  def nearestExpr(v: Column, cents: Seq[Centroid], probes: Int): Column = {
    require(cents.nonEmpty, "no centroids")
    val scored = array(scoredStructs(v, cents): _*)
    transform(slice(array_sort(scored), 1, probes), s => s("cluster"))
  }

  /** Nearest-centroid id (probe 1) as a map-side expression. */
  def assignExpr(v: Column, cents: Seq[Centroid]): Column =
    element_at(nearestExpr(v, cents, 1), 1)

  /** One Lloyd update: per-cluster componentwise mean of the RAW vectors
    * (floor-scaled exact integer sums — see the portability note above —
    * quantized to 6 dp), collected to the driver — k×dims rows, bounded
    * by the model size, never by data. Clusters that lost every member
    * disappear (k degrades gracefully). Each floor(x*1e9) is an integral
    * double below 2^53 for |x| < 9e6, so the decimal cast is exact; the
    * DECIMAL(38,0) sum then never rounds. */
  private def update(assigned: DataFrame): Seq[Centroid] = {
    val rows = assigned
      .select(col("__cluster"), posexplode(col("__v")).as(Seq("__pos", "__x")))
      .groupBy("__cluster", "__pos")
      .agg(sum(floor(col("__x") * lit(1e9)).cast("decimal(38,0)")).as("__s"),
        count(lit(1)).as("__n"))
      .select(col("__cluster"), col("__pos"),
        round(col("__s").cast("double") / col("__n") / lit(1e9), 6)
          .as("__comp"),
        col("__n"))
      .collect()
    rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (cl, rs) =>
      Centroid(cl, rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq,
        rs.head.getLong(3))
    }
  }

  /** Fit `iters` Lloyd iterations from the deterministic seeds. Each
    * iteration is one scan (map-side assign) + one k×dims aggregate.
    * The (id, vector) projection is CACHED for the duration of the fit
    * and released before returning: seeding alone is k driver-paced
    * passes, and when the input is itself an expression chain (the
    * IVF-PQ residuals re-derive a coarse assignment per row) re-running
    * that lineage k+iters times dominated the fit cost. Everything that
    * reads the cache is collected eagerly inside this call, so the
    * unpersist strands no lazy consumer. */
  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int,
          iters: Int): Seq[Centroid] = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val v = vecs(df, idCol, vecCol).persist()
    try {
      var cents = seedFromVecs(v, k)
      for (_ <- 0 until iters)
        cents = update(v.withColumn("__cluster", assignExpr(col("__v"), cents)))
      cents
    } finally { v.unpersist(); () }
  }

  /** The fitted model as a flat DataFrame (cluster, pos, comp, n_members)
    * — the audit/persist format (a later session reloads it into literals
    * for [[nearestExpr]] without refitting). */
  def centroidsDF(spark: SparkSession, cents: Seq[Centroid]): DataFrame = {
    val rows = cents.flatMap { c =>
      c.comps.zipWithIndex.map { case (x, p) =>
        Row(c.cluster, p, x, c.nMembers)
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("cluster", IntegerType, nullable = false),
        StructField("pos", IntegerType, nullable = false),
        StructField("comp", DoubleType, nullable = false),
        StructField("n_members", LongType, nullable = false))))
  }

  /** Reload a persisted [[centroidsDF]] into driver literals — the
    * round-trip that lets a later session (or another cluster) assign
    * against a quantizer WITHOUT refitting: fit once, persist the k×dims
    * table, reload anywhere. Doubles survive parquet exactly, so the
    * reloaded model is bit-identical to the fitted one (spec-pinned). A
    * k×dims collect — bounded by the model, never by data. */
  def fromDF(centroids: DataFrame): Seq[Centroid] = {
    val rows = centroids.select("cluster", "pos", "comp", "n_members").collect()
    require(rows.nonEmpty, "empty centroid table")
    rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (cl, rs) =>
      Centroid(cl, rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq,
        rs.head.getLong(3))
    }
  }

  /** Cosine of each row's vector to ITS OWN assigned centroid, as a
    * map-side k-branch CASE over the inlined centroid literals — the
    * "typicality" score SemDeDup ranks duplicates by. Only the matched
    * branch's cosine is evaluated per row. */
  private def centroidCosExpr(v: Column, cluster: Column,
                              cents: Seq[Centroid]): Column =
    coalesce(cents.map { c =>
      when(cluster === c.cluster,
        Similarity.cosine(v, array(c.comps.map(lit): _*)))
    }: _*)

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication through the trained quantizer — cluster the embedding
    * space with k-means, then search for near-duplicate pairs ONLY within
    * each cluster, and keep, of any duplicate pair, the item LESS typical
    * of its cluster (lowest cosine to its own centroid — the paper's
    * keep-the-outlier rule, which preserves diversity; ties by id).
    *
    * Exact rule (deterministic, engine-replayable): a row is DROPPED iff
    * some same-cluster row within `threshold` cosine has a strictly lower
    * centroid-cosine, or an equal one with a lower id. One greedy pass
    * over the pair relation — not a transitive closure — matching the
    * published implementation's per-cluster sweep.
    *
    * 100 TB posture: assignment and the centroid-cosine are map-side
    * expressions (centroids are driver-held literals); the only shuffle
    * is the within-cluster self-equi-join, whose cost is Σ|cluster|² —
    * bounded by construction because k is chosen ∝ corpus size precisely
    * so clusters stay small (the paper runs 50k clusters on LAION); the
    * final step is a distinct on dropped ids + a left-anti join. No
    * all-pairs term ever touches the full corpus.
    *
    * The assigned frame feeds THREE plan uses (both self-join sides and
    * the anti-join probe). `materialize = true` caches it for the pass
    * and releases it once the (small) survivor frame is persisted —
    * callers that keep the result own unpersist(), the
    * [[graft.ops.Dedup.minhashNearDupPairs]] discipline; the lazy path
    * deliberately does not cache (an unowned cache would pin the
    * largest intermediate in a shared session forever). */
  /** Cluster assignment plus the typicality score, WITHOUT the dedup
    * sweep: (id, cluster, cent_sim) for every row — the quantizer view
    * semantic packing and diagnostics consume. Pure map-side
    * expressions over driver-held centroid literals; zero shuffles. */
  def assignments(df: DataFrame, idCol: String, vecCol: String,
                  cents: Seq[Centroid]): DataFrame =
    vecs(df, idCol, vecCol)
      .withColumn("__cluster", assignExpr(col("__v"), cents))
      .withColumn("__cs",
        centroidCosExpr(col("__v"), col("__cluster"), cents))
      .select(col("__id").as(idCol), col("__cluster").as("cluster"),
        col("__cs").as("cent_sim"))

  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               cents: Seq[Centroid], threshold: Double,
               materialize: Boolean = false): DataFrame = {
    val basePlan = vecs(df, idCol, vecCol)
      .withColumn("__cluster", assignExpr(col("__v"), cents))
      .withColumn("__cs", centroidCosExpr(col("__v"), col("__cluster"), cents))
    val base = if (materialize) basePlan.cache() else basePlan
    val a = base.select(col("__cluster"), col("__id").as("__idA"),
      col("__v").as("__va"), col("__cs").as("__csA"))
    val b = base.select(col("__cluster"), col("__id").as("__idB"),
      col("__v").as("__vb"), col("__cs").as("__csB"))
    val dropped = a.join(b, Seq("__cluster"))
      .filter(col("__idA") =!= col("__idB"))
      .filter(Similarity.cosine(col("__va"), col("__vb")) >= threshold)
      .filter(col("__csB") < col("__csA") ||
        (col("__csB") === col("__csA") && col("__idB") < col("__idA")))
      .select(col("__idA").as("__dropped")).distinct()
    val out = base
      .join(dropped, base("__id") === dropped("__dropped"), "left_anti")
      .select(col("__id").as(idCol), col("__cluster").as("cluster"),
        col("__cs").as("cent_sim"))
    if (materialize) {
      // base's cache is scoped to this eager pass: release it even when
      // the count throws (a failed job must not leave the largest
      // intermediate pinned in a long-lived session)
      val o = out.persist()
      try o.count()
      catch { case e: Throwable => o.unpersist(false); throw e }
      finally base.unpersist(false)
      o
    } else out
  }

  /** Persisted member index for INCREMENTAL SemDeDup — the
    * fingerprint-index convention the other dedup families carry
    * (exact, minhash, embedding, phash): one (id, cluster, cent_sim,
    * vec) row per indexed item, all derived map-side against the
    * PERSISTED centroid literals. THE CALLER CHOOSES THE MEMBERSHIP:
    * index ALL history rows (dropped partners included) to get the
    * spec-pinned batch == full-corpus-sweep equivalence of
    * [[semDedupAgainstIndex]] (semDedup's greedy pass consults dropped
    * partners too), or index SURVIVORS ONLY for the streaming gate's
    * arrival-order semantics — the two memberships yield different
    * drop sets, so don't persist survivors and expect the equivalence.
    * The vec column is what pairwise cosine needs at match time;
    * cluster + cent_sim are the per-id scalars the drop rule reads.
    * History is never re-embedded and the quantizer is never re-fit —
    * a later batch consumes this table and [[centroidsDF]]/[[fromDF]]
    * alone. */
  def semIndex(df: DataFrame, idCol: String, vecCol: String,
               cents: Seq[Centroid]): DataFrame =
    vecs(df, idCol, vecCol)
      .withColumn("__cluster", assignExpr(col("__v"), cents))
      .withColumn("__cs", centroidCosExpr(col("__v"), col("__cluster"), cents))
      .select(col("__id").as(idCol), col("__cluster").as("cluster"),
        col("__cs").as("cent_sim"), col("__v").as("vec"))

  /** INCREMENTAL SemDeDup: dedup an incoming batch against a persisted
    * [[semIndex]] WITHOUT refitting the quantizer or re-reading
    * history payloads. The batch assigns map-side against the same
    * persisted centroids the index was built with; candidate partners
    * are, per cluster, the index members PLUS the batch itself
    * (within-batch duplication composes, the dedupAgainstIndex
    * convention); the greedy drop rule is [[semDedup]]'s verbatim — a
    * batch row is DROPPED iff some same-cluster partner within
    * `threshold` cosine is strictly less typical (lower cent_sim), or
    * equally typical with a lower id. Index rows are never dropped
    * (history is already accepted). With an index covering all prior
    * rows and the same centroids, the surviving batch rows equal the
    * full-corpus [[semDedup]] restricted to the batch (spec-pinned on
    * an even/odd split).
    *
    * 100 TB posture: the only data-scale shuffle is the within-cluster
    * equi-join of batch rows against partners — Σ|cluster|-bounded per
    * batch row, never all-pairs; centroids stay driver-held literals;
    * history participates as the model-sized centroid table plus its
    * per-id index rows. */
  def semDedupAgainstIndex(batch: DataFrame, index: DataFrame,
                           idCol: String, vecCol: String,
                           cents: Seq[Centroid],
                           threshold: Double): DataFrame = {
    // the assigned batch frame feeds three plan branches (drop-join A
    // side, partner union, final anti-join) — checkpoint lazily so the
    // k-branch assignment/typicality expressions run once per row
    val b = vecs(batch, idCol, vecCol)
      .withColumn("__cluster", assignExpr(col("__v"), cents))
      .withColumn("__cs", centroidCosExpr(col("__v"), col("__cluster"), cents))
      .localCheckpoint(false)
    val fromIndex = index.select(col("cluster").as("__cluster"),
      col(idCol).as("__idB"), col("vec").as("__vb"),
      col("cent_sim").as("__csB"))
    val fromBatch = b.select(col("__cluster"), col("__id").as("__idB"),
      col("__v").as("__vb"), col("__cs").as("__csB"))
    val partners = fromIndex.unionByName(fromBatch)
    val dropped = b.select(col("__cluster"), col("__id").as("__idA"),
        col("__v").as("__va"), col("__cs").as("__csA"))
      .join(partners, Seq("__cluster"))
      .filter(col("__idA") =!= col("__idB"))
      .filter(Similarity.cosine(col("__va"), col("__vb")) >= threshold)
      .filter(col("__csB") < col("__csA") ||
        (col("__csB") === col("__csA") && col("__idB") < col("__idA")))
      .select(col("__idA").as("__dropped")).distinct()
    b.join(dropped, b("__id") === dropped("__dropped"), "left_anti")
      .select(col("__id").as(idCol), col("__cluster").as("cluster"),
        col("__cs").as("cent_sim"))
  }

  // -------------------------------------------------------------------- PQ

  /** Product-quantization codebooks (Jégou, Douze, Schmid 2011 — the
    * billion-scale ANN compression standard): the vector is cut into `m`
    * contiguous subvectors and each subspace gets its own k-centroid
    * quantizer, fitted with the SAME deterministic Lloyd as the coarse
    * quantizer (farthest-first seeds, 6-dp centroids, exact integer
    * sums) — so the whole codebook set is engine-replayable. Returns one
    * centroid list per subspace.
    *
    * The m fits are INDEPENDENT, and each is a chain of small
    * driver-paced jobs (k seed passes + the Lloyd rounds) whose cost is
    * dominated by job-scheduling latency, not compute — so they overlap
    * ([[graft.Overlap]]), without touching the deterministic
    * per-subspace result. */
  def pqFit(df: DataFrame, idCol: String, vecCol: String, m: Int, k: Int,
            iters: Int): Seq[Seq[Centroid]] = {
    // The input is evaluated by the dims check AND by each of the m
    // subspace fits' own cache fills — when it is an expression chain
    // (the IVF-PQ residuals re-derive a coarse assignment per row) that
    // lineage would otherwise run m+1 times. Persist the (id, vec)
    // projection once for the duration of the fit; everything that reads
    // it is collected eagerly inside this call.
    val base = df.select(col(idCol), col(vecCol)).persist()
    try {
      val mm = base.agg(min(size(col(vecCol))).as("lo"),
        max(size(col(vecCol))).as("hi")).collect().head
      require(!mm.isNullAt(0), "pqFit: empty input")
      require(mm.getInt(0) == mm.getInt(1),
        s"pqFit: ragged embedding dims [${mm.getInt(0)}, ${mm.getInt(1)}]")
      val dim = mm.getInt(0)
      require(dim % m == 0, s"pqFit: dim $dim not divisible into $m subspaces")
      val sub = dim / m
      Overlap(df.sparkSession, m)((0 until m).map { s =>
        s"pq fit: subspace $s" -> (() => fit(base.select(col(idCol),
            slice(col(vecCol), s * sub + 1, sub).as("__sub")),
          idCol, "__sub", k, iters))
      })
    } finally { base.unpersist(); () }
  }

  /** PQ code assignment as a map-side expression: the code array is one
    * nearest-centroid argmin per subspace over inlined codebook literals
    * — m small CASEs, no join, no shuffle; the corpus compresses to m
    * ints per vector (the representation ADC search reads). */
  def pqCodesExpr(v: Column, books: Seq[Seq[Centroid]]): Column = {
    val m = books.size
    array(books.zipWithIndex.map { case (book, s) =>
      val sub = book.head.comps.size
      assignExpr(slice(v, s * sub + 1, sub), book)
    }: _*)
  }

  /** [[Similarity.sqDist]] against an inlined literal centroid. */
  private def sqDist(q: Column, comps: Seq[Double]): Column =
    Similarity.sqDist(q, array(comps.map(lit): _*))

  /** The m x k ADC lookup table for one query-side vector `q`: exact
    * subspace distances ||q_s - c_j||^2 over inlined codebook literals.
    * Indexed by CLUSTER ID — fit does NOT renumber when a starved
    * cluster drops out, so the table spans 0..maxId with inert entries
    * at the gaps (assignExpr never emits a missing id). */
  private def adcDistTable(q: Column, books: Seq[Seq[Centroid]]): Column = {
    val sub = books.head.head.comps.size
    array(books.zipWithIndex.map { case (book, s) =>
      val qs = slice(q, s * sub + 1, sub)
      val maxId = book.map(_.cluster).max
      array((0 to maxId).map { cid =>
        book.find(_.cluster == cid)
          .map(c => sqDist(qs, c.comps))
          .getOrElse(lit(Double.MaxValue))
      }: _*)
    }: _*)
  }

  /** ADC = the m table lookups summed in ascending-subspace order (a
    * deterministic left-associated sum — never an unordered SUM, which
    * would reassociate doubles differently per engine). Emitted as a
    * static `t1 + t2 + ... + tm` expression tree (m is a plan-time
    * constant): codegen-native, where the equivalent `aggregate` fold
    * runs interpreted per candidate row. Association is identical to the
    * fold's `(((0 + t1) + t2) + ...)` because every lookup is a
    * non-negative squared distance, and `0.0 + x == x` exactly for
    * non-negative IEEE doubles. */
  private def adcExpr(dt: Column, codes: Column, m: Int): Column =
    (1 to m).map { s =>
      element_at(element_at(dt, s), element_at(codes, s) + 1)
    }.reduce(_ + _)

  /** Asymmetric-distance top-k over PQ codes: each query precomputes its
    * m x k table of exact subspace distances ||q_s - c_j||^2 (map-side,
    * codebooks inlined), the corpus carries only its m-int code arrays,
    * and the ADC score is m table lookups summed in ascending-subspace
    * order. Same plan skeleton as bruteForceTopK: corpus streams against
    * the BROADCAST query side (codes + tables), ranked by a per-query
    * window. At real scale this composes with the IVF cell join (IVF-PQ)
    * so the per-query candidate set is cell-bounded rather than the
    * whole corpus. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, kNN: Int, books: Seq[Seq[Centroid]]): DataFrame = {
    val q = vecs(queries, idCol, vecCol)
      .select(col("__id").as("qid"), col("__v").as("qv"))
      .select(col("qid"), adcDistTable(col("qv"), books).as("dt"))
    val c = vecs(corpus, idCol, vecCol)
      .select(col("__id").as("nid"), pqCodesExpr(col("__v"), books).as("codes"))
    val scored = c.join(broadcast(q), col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        adcExpr(col("dt"), col("codes"), books.size).as("adc"))
    val w = Window.partitionBy("qid").orderBy(col("adc"), col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNN)
      .select("qid", "nid", "rank", "adc")
  }

  /** Residual to the row's assigned coarse centroid — the vector IVF-PQ
    * actually quantizes — as a map-side k-branch CASE. Deliberately a
    * zip_with lambda: a static per-dimension unroll
    * (element_at(v, i) - literal) was tried and REVERTED — when `v` is
    * itself an expression tree (the IVF-PQ residual feeding pqCodesExpr)
    * every element_at reference DUPLICATES that tree, and the composed
    * plan blew up ~5x in wall time (ann_ivf_pq 7.5 -> 40 s). The
    * interpreted lambda evaluates its input once per row. */
  def residualExpr(v: Column, cluster: Column,
                   cents: Seq[Centroid]): Column =
    coalesce(cents.map { c =>
      when(cluster === c.cluster,
        zip_with(v, array(c.comps.map(lit): _*), (x, y) => x - y))
    }: _*)

  /** IVF-PQ (the FAISS billion-scale standard, composed from the two
    * trained quantizers): corpus rows live in their coarse cell and
    * carry only the PQ codes of their RESIDUAL to that cell's centroid;
    * queries probe their `probes` nearest cells and build one ADC table
    * per probed cell from their residual TO THAT CELL — so candidates
    * come from the cell equi-join only, and each candidate costs m
    * lookups. A corpus row lives in exactly one cell, so no pair is
    * scored twice. Everything upstream of the cell join is map-side. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, kNN: Int, coarse: Seq[Centroid],
                books: Seq[Seq[Centroid]], probes: Int = 2): DataFrame = {
    val c = vecs(corpus, idCol, vecCol)
      .withColumn("cell", assignExpr(col("__v"), coarse))
      .select(col("__id").as("nid"), col("cell"),
        pqCodesExpr(residualExpr(col("__v"), col("cell"), coarse), books)
          .as("codes"))
    val q = vecs(queries, idCol, vecCol)
      .select(col("__id").as("qid"), col("__v"),
        explode(nearestExpr(col("__v"), coarse, probes)).as("cell"))
      .select(col("qid"), col("cell"),
        adcDistTable(residualExpr(col("__v"), col("cell"), coarse), books)
          .as("dt"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        adcExpr(col("dt"), col("codes"), books.size).as("adc"))
    val w = Window.partitionBy("qid").orderBy(col("adc"), col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNN)
      .select("qid", "nid", "rank", "adc")
  }

  /** The FAISS refine stage over [[ivfPqTopK]]: rank an ADC SHORTLIST
    * (`shortlist` candidates per query), then re-rank it by EXACT L2 and
    * keep kNN. The exact pass touches shortlist rows only — the
    * (queries × shortlist) id set broadcasts against one corpus scan, so
    * the refine cost is candidate-bounded, never corpus², and it buys
    * back the recall quantized-only ranking loses (worst on
    * near-isotropic embedding spaces, where ADC distortion reorders
    * near-equidistant neighbors). */
  def ivfPqRefinedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, kNN: Int, coarse: Seq[Centroid],
                       books: Seq[Seq[Centroid]], probes: Int = 2,
                       shortlist: Int = 50): DataFrame =
    refineExact(ivfPqTopK(corpus, queries, idCol, vecCol, shortlist,
      coarse, books, probes), corpus, queries, idCol, vecCol, kNN)

  /** The refine stage standalone: exact-L2 re-rank of an already-ranked
    * (qid, nid) shortlist, keeping kNN. Public so a caller holding a
    * shortlist (e.g. one that also reads its rank<=k prefix as the
    * quantized-only answer, as pq_recall does) pays the ADC pipeline
    * ONCE instead of per consumer. */
  def refineExact(shortlist: DataFrame, corpus: DataFrame,
                  queries: DataFrame, idCol: String, vecCol: String,
                  kNN: Int): DataFrame = {
    val short = shortlist.select("qid", "nid")
    val cv = vecs(corpus, idCol, vecCol)
      .select(col("__id").as("nid"), col("__v").as("cv"))
    val qv = vecs(queries, idCol, vecCol)
      .select(col("__id").as("qid"), col("__v").as("qv"))
    val rer = cv.join(broadcast(short), Seq("nid"))
      .join(broadcast(qv), Seq("qid"))
      .select(col("qid"), col("nid"),
        Similarity.sqDist(col("qv"), col("cv")).as("d2"))
    val w = Window.partitionBy("qid").orderBy(col("d2"), col("nid"))
    rer.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNN)
      .select("qid", "nid", "rank", "d2")
  }

  /** IVF ANN with the TRAINED quantizer: corpus rows live in their nearest
    * centroid's cell (map-side assign — one scan, no shuffle), queries
    * probe their `probes` nearest cells, candidates come from the cell
    * equi-join only, ranked by exact cosine. Same plan skeleton as
    * [[Similarity.ivfTopK]] — broadcast query side, windowed top-k —
    * with the hash-surrogate cell id replaced by the learned one. */
  def ivfTopKTrained(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, cents: Seq[Centroid],
                     probes: Int = 2): DataFrame = {
    val c = vecs(corpus, idCol, vecCol)
      .select(col("__id").as("nid"), col("__v").as("cv"),
        assignExpr(col("__v"), cents).as("cell"))
      .withColumn("cn", Similarity.l2Norm(col("cv")))
    val q = vecs(queries, idCol, vecCol)
      .select(col("__id").as("qid"), col("__v").as("qv"),
        explode(nearestExpr(col("__v"), cents, probes)).as("cell"))
      .withColumn("qn", Similarity.l2Norm(col("qv")))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        when(col("qn") * col("cn") > 0,
          Similarity.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
          .otherwise(lit(0.0)).as("cosine"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "rank", "cosine")
  }
}
