package graft

import graft.ops.Dedup
import org.apache.spark.sql.functions._

/** Scale-evidence probes (COVERAGE.md): adversarial topologies and skew
  * shapes the sf-scaled bench doesn't naturally produce. Each subcommand
  * prints one `[probe]` line; not part of the driver contract. */
object Probe {

  /** The nanosAsLong read of TIMESTAMP(NANOS) parquet is runtime-dependent
    * (see [[graft.sources.EventTime]]): the SAME conf + file has delivered
    * a raw nanos LONG in one session and a TIMESTAMP_NTZ in another (it
    * flipped again between rounds 15 and 16). Probe outputs must be
    * deterministic regardless, so events' ts is normalized to a PLAIN
    * INT64 nanos column before writing: already-long passes through;
    * a timestamp read converts via unix_micros (session tz pinned UTC, so
    * NTZ wall-time is the true instant) ×1000 — exact, < 2^63. Readers
    * then always see a raw long and the per-row magnitude guard applies. */
  private[graft] def eventsAsRawNanos(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType) df
    else df.withColumn("ts",
      unix_micros(col("ts").cast("timestamp")) * lit(1000L))

  /** Driver-gap attribution for jobs that may overlap (parallel ingest
    * pools, overlapped funnel chains): `jobs` are (start, duration) in ms,
    * sorted by start. Returns the length of the union of the job intervals
    * and, per job, the time since the latest end of any earlier job (0
    * when another job is still running), so no gap is negative and busy
    * time never exceeds wall time. */
  private[graft] def jobGaps(jobs: Seq[(Long, Long)]): (Long, Seq[Long]) = {
    var busy = 0L
    var end = Long.MinValue
    val gaps = jobs.map { case (start, dur) =>
      val gap = if (end == Long.MinValue) 0L else math.max(0L, start - end)
      busy += math.max(0L, start + dur - math.max(start, end))
      end = math.max(end, start + dur)
      gap
    }
    (busy, gaps)
  }

  def main(args: Array[String]): Unit = {
    val spark = LocalSession.build(defaultCpus = "32")

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    args(0) match {
      // per-JOB attribution of one declared query (guide §1.1 empirical
      // loop without a UI): a SparkListener records every job's start
      // time, duration and description; the printout shows job count,
      // the union of job intervals vs wall (the difference is pure
      // driver-side work), and the driver GAP before each job — how a
      // driver-paced fit chain (k seeding picks, Lloyd collects,
      // micro-batch setup) is distinguished from genuinely slow stages.
      case "jobs" =>
        val name = args(1)
        val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
        val fn = SparkEntry.queries(name)
        val recs =
          new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Long)]()
        val starts =
          new java.util.concurrent.ConcurrentHashMap[Integer, (String, Long)]()
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val desc = Option(js.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse("")
            starts.put(js.jobId, (desc, js.time)); ()
          }
          override def onJobEnd(
              je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val s = starts.remove(je.jobId)
            if (s != null) recs.add((je.jobId, s._1, s._2, je.time - s._2))
            ()
          }
        }
        // optional warm-up pass (JIT/page cache) so the recorded run
        // reflects the bench's min-of-iterations shape, not cold-start
        if (args.contains("--warm")) { fn(spark, dir).count(); () }
        spark.catalog.clearCache()
        spark.sparkContext.addSparkListener(listener)
        val (n, t) = timed(fn(spark, dir).count())
        Thread.sleep(2000) // let the listener bus drain
        spark.sparkContext.removeSparkListener(listener)
        import scala.jdk.CollectionConverters._
        val rs = recs.asScala.toSeq.sortBy(r => (r._3, r._1))
        val (busyMs, gaps) = jobGaps(rs.map(r => (r._3, r._4)))
        val busy = busyMs / 1000.0
        println(f"[jobs] $name%s rows=$n%d wall=$t%.3f s jobs=${rs.size}%d " +
          f"jobBusy=$busy%.3f s driverGapSum=${t - busy}%.3f s")
        rs.zip(gaps).foreach { case ((id, d, _, ms), gap) =>
          println(f"[jobs]   #$id%4d dur=$ms%6d ms gap=$gap%6d ms  $d%s")
        }

      // EXECUTED (post-AQE) plan telemetry of one declared query: the
      // initial explain cannot show runtime exchange/stage reuse, so
      // claims like "the scan runs once" are checked here against the
      // final adaptive plan (scan / exchange / reuse node counts plus
      // the full tree on request).
      case "execplan" =>
        val name = args(1)
        val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
        val df = SparkEntry.queries(name)(spark, dir)
        // drive THIS queryExecution to completion (df.count() would plan
        // a separate execution and leave this one isFinalPlan=false)
        df.queryExecution.executedPlan.executeCollect()
        val plan = df.queryExecution.executedPlan.toString
        def n(pat: String) = pat.r.findAllIn(plan).length
        println(s"[execplan] $name: scans=${n("Scan parquet")} " +
          s"exchanges=${n("Exchange (hash|range|single|rebalance)")} " +
          s"reusedExchange=${n("ReusedExchange")} " +
          s"reusedStage=${n("ReusedQueryStage|StageReuse")} " +
          s"hofAggregate=${n("aggregate\\(")} bytes=${plan.length}")
        if (args.contains("--full")) println(plan)

      // stage-by-stage wall clock of the curate_corpus_v2 funnel
      case "funnel" =>
        val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
        val (df, build) = timed(SparkEntry.curateFunnelV2(spark, dir))
        println(s"[funnel] construct (bloom+kmeans+semdedup eager): $build%s")
        val (n, c) = timed(df.count())
        println(s"[funnel] toExport count=$n: $c")
        val (_, c2) = timed(df.count())
        println(s"[funnel] toExport count again: $c2")
        // plan-size telemetry: the lineage-cut regression signature is
        // this count exploding (~4000 pre-localCheckpoint, ~27 after)
        val plan = df.queryExecution.executedPlan.toString
        println(s"[funnel] parquet scans: ${"Scan parquet".r.findAllIn(plan).length}")
        println(s"[funnel] inmem scans: ${"InMemoryTableScan".r.findAllIn(plan).length}")
        val out = java.nio.file.Files.createTempDirectory("probe-funnel").toString
        val (_, w) = timed(graft.sources.Jsonl.write(df, out,
          partitionBy = Seq("shard")))
        println(s"[funnel] jsonl write: $w")

      // k-means|| seeding at genuinely large k: wall clock + cluster
      // coverage vs the k sequential scans the farthest-first path would
      // need (at k=256 that is 256 driver-paced jobs before Lloyd starts)
      case "kmeanslargek" =>
        import spark.implicits._
        val n = if (args.length > 1) args(1).toInt else 20000
        val k = if (args.length > 2) args(2).toInt else 256
        val dims = 32
        val vecs = (0L until n.toLong).map { i =>
          var h = i * 2654435761L + 99991L
          (i, Array.tabulate(dims) { _ =>
            h = h * 6364136223846793005L + 1442695040888963407L
            ((h >>> 33) % 1000L).toFloat / 100.0f +
              (if ((i % k) == (h % k)) 5.0f else 0.0f)
          })
        }.toDF("vec_id", "embedding")
        val (cents, secs) = timed(
          graft.ops.KMeans.fit(vecs, "vec_id", "embedding", k, iters = 2))
        println(f"[largek] fit n=$n k=$k dims=$dims: $secs%.1fs, " +
          f"${cents.size} centroids, " +
          f"members=${cents.map(_.nMembers).sum}")

      // k-means|| SEEDING alone at SemDeDup-scale k: exercises the
      // distributed pre-reduction (candidates > max(2k, 4096) never all
      // reach the driver — weights computed distributed, TakeOrdered
      // keeps the cap-bounded heaviest). Lloyd is deliberately excluded:
      // at k in the thousands assignment belongs to a join/codes design,
      // not 4096 inlined literal branches.
      case "seedlargek" =>
        import spark.implicits._
        val n = args.lift(1).map(_.toInt).getOrElse(40000)
        val k = args.lift(2).map(_.toInt).getOrElse(4096)
        val dims = 32
        val vecs = (0L until n.toLong).map { i =>
          var h = i * 2654435761L + 99991L
          (i, Array.tabulate(dims) { _ =>
            h = h * 6364136223846793005L + 1442695040888963407L
            ((h >>> 33) % 1000L).toFloat / 100.0f +
              (if ((i % k) == (h % k)) 5.0f else 0.0f)
          })
        }.toDF("vec_id", "embedding")
        val v = vecs.select(col("vec_id").as("__id"),
          graft.ops.Similarity.asDouble(col("embedding")).as("__v"))
        val cap = math.max(2L * k, 4096L)
        val (seeds, secs) = timed(graft.ops.KMeans.seedLargeK(v, k))
        val heapMb = (Runtime.getRuntime.totalMemory() -
          Runtime.getRuntime.freeMemory()) / (1024 * 1024)
        println(f"[seedlargek] n=$n k=$k dims=$dims: $secs%.1fs " +
          f"seeds=${seeds.size} driver_cap=$cap vectors " +
          f"(~${cap * dims * 8 / (1024 * 1024)} MB) heap_used=${heapMb}MB")

      // BPE merge training + corpus encode at realistic merge depth:
      // synthetic vocabulary large enough that 1000+ rounds don't
      // exhaust, per-round rate compared across depths for flatness
      case "bpedepth" =>
        import spark.implicits._
        val nWords = if (args.length > 1) args(1).toInt else 20000
        val rounds = if (args.length > 2) args(2).toInt else 1000
        // chars must mix ALL bits of i (a mod-26 linear form collapses
        // to 26 distinct words and exhausts the merge space at ~240)
        val words = (0 until nWords).map { i =>
          var h = i.toLong * 2654435761L + 12345L
          (0 until 10).map { _ =>
            h = h * 6364136223846793005L + 1442695040888963407L
            ('a' + math.floorMod(h >>> 33, 26L).toInt).toChar
          }.mkString
        }
        println(s"[bpedepth] vocabulary: ${words.distinct.size} distinct " +
          s"of $nWords generated")
        val corpus = words.toDF("text")
        val batchOnly = args.lift(3).contains("batchonly")
        for (r <- Seq(rounds / 4, rounds) if !batchOnly) {
          val (ms, secs) = timed(graft.ops.Bpe.fit(corpus, "text", r))
          println(f"[bpedepth] fit rounds=$r: $secs%.1fs " +
            f"(${secs / r}%.3f s/round, learned ${ms.size})")
          if (r == rounds) {
            val (enc, esecs) = timed(
              graft.ops.Bpe.encodedLengths(corpus.select(
                  monotonically_increasing_id().as("id"), col("text")),
                "id", "text", ms).count())
            println(f"[bpedepth] encodedLengths with ${ms.size} merges: " +
              f"$esecs%.1fs over $enc docs")
          }
        }
        // batched vs sequential at the same merge budget: driver rounds
        // (the wall-clock driver), wall clock, and the learned merge
        // LIST vs sequential — strict mode must come out IDENTICAL (the
        // empirical check of the prefix proof); non-strict shows the
        // classic approximation's drift on this worst-case (near-tied
        // counts) corpus
        val mb = rounds / 4
        val ((seqM, seqIters), tSeq) = timed(
          graft.ops.Bpe.fitCounted(corpus, "text", mb, batchSize = 1))
        for (strict <- Seq(true, false)) {
          val ((batM, batIters), tBat) = timed(graft.ops.Bpe.fitCounted(
            corpus, "text", mb, batchSize = 8, strict = strict))
          val seqVocab = seqM.map(m => m.left + m.right).toSet
          val batVocab = batM.map(m => m.left + m.right).toSet
          println(f"[bpedepth] batch strict=$strict: merges=$mb " +
            f"seq_rounds=$seqIters (${tSeq}%.1fs) " +
            f"batch8_rounds=$batIters (${tBat}%.1fs) " +
            f"rounds_ratio=${seqIters.toDouble / batIters}%.1fx " +
            f"time_ratio=${tSeq / tBat}%.1fx " +
            f"merges_equal=${batM == seqM} " +
            f"vocab_overlap=${(seqVocab & batVocab).size}/${seqVocab.size}")
        }

      // SemDeDup's cost lever measured: the within-cluster self-join
      // mass is Σ|cluster|², so k must grow with the corpus — this
      // probe fits k = 8/32/64 on the same embeddings (64 crosses the
      // k-means|| dispatch) and publishes pair mass + wall clock, the
      // evidence behind the "k ∝ n" deployment rule
      case "semdedupk" =>
        import graft.ops.{KMeans, Similarity}
        val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val nRows = emb.count()
        for (k <- Seq(8, 32, 64)) {
          val (cents, tFit) = timed(
            KMeans.fit(emb, "vec_id", "embedding", k, iters = 2))
          val sizes = emb.select(KMeans.assignExpr(
              Similarity.asDouble(col("embedding")), cents).as("c"))
            .groupBy("c").count().collect().map(_.getLong(1))
          val pairMass = sizes.map(s => s * s).sum
          val (surv, tD) = timed {
            val f = KMeans.semDedup(emb, "vec_id", "embedding", cents,
              0.3, materialize = true)
            val c = f.count(); f.unpersist(false); c
          }
          println(f"[semdedupk] n=$nRows k=$k (${cents.size} live): " +
            f"fit=$tFit%.1fs pair_mass=$pairMass " +
            f"(${pairMass.toDouble / (nRows * nRows)}%.3f of n^2) " +
            f"dedup=$tD%.1fs survivors=$surv")
        }

      // the in-memory trainer vs the distributed rounds: byte-identity
      // at a shared depth, then fitLocal alone at real tokenizer depths
      // (the path that closes the 30k-merge sequential-round ceiling
      // whenever the word table fits driver memory)
      case "bpelocal" =>
        import spark.implicits._
        val nWords = args.lift(1).map(_.toInt).getOrElse(20000)
        val deep = args.lift(2).map(_.toInt).getOrElse(30000)
        val words = (0 until nWords).map { i =>
          var h = i.toLong * 2654435761L + 12345L
          (0 until 10).map { _ =>
            h = h * 6364136223846793005L + 1442695040888963407L
            ('a' + math.floorMod(h >>> 33, 26L).toInt).toChar
          }.mkString
        }
        val corpus = words.toDF("text")
        val (dist, tD) = timed(graft.ops.Bpe.fit(corpus, "text", 250))
        val (loc, tL) = timed(graft.ops.Bpe.fitLocal(corpus, "text", 250))
        println(f"[bpelocal] n=$nWords merges=250: distributed $tD%.1fs, " +
          f"local $tL%.1fs (${tD / tL}%.0fx), identical=${dist == loc}")
        for (d <- Seq(1000, 5000, deep)) {
          val (ms, t) = timed(graft.ops.Bpe.fitLocal(corpus, "text", d))
          println(f"[bpelocal] fitLocal merges=$d: $t%.1fs " +
            f"(learned ${ms.size}; distributed-round estimate " +
            f"${d * 0.37 / 60}%.0f min)")
        }

      // WordPiece in-memory trainer at depth: parity + wall clock vs
      // the distributed rounds, then real-tokenizer merge depths — the
      // lazy-heap re-push discipline is what scales or doesn't
      case "wplocal" =>
        import spark.implicits._
        val nWords = args.lift(1).map(_.toInt).getOrElse(20000)
        val deep = args.lift(2).map(_.toInt).getOrElse(30000)
        val words = (0 until nWords).map { i =>
          var h = i.toLong * 2654435761L + 12345L
          (0 until 10).map { _ =>
            h = h * 6364136223846793005L + 1442695040888963407L
            ('a' + math.floorMod(h >>> 33, 26L).toInt).toChar
          }.mkString
        }
        val corpus = words.toDF("text")
        val (dist, tD) = timed(graft.ops.WordPiece.fit(corpus, "text", 64))
        val (loc, tL) =
          timed(graft.ops.WordPiece.fitLocal(corpus, "text", 64))
        println(f"[wplocal] n=$nWords merges=64: distributed $tD%.1fs, " +
          f"local $tL%.1fs (${tD / tL}%.0fx), identical=${dist == loc}")
        for (d <- Seq(1000, 5000, deep)) {
          val (ms, t) = timed(graft.ops.WordPiece.fitLocal(corpus, "text", d))
          println(f"[wplocal] fitLocal merges=$d: $t%.1fs " +
            f"(learned ${ms.size})")
        }

      // Driver bytes per distinct word of the in-memory trainers' state
      // (the fitLocal boundary): collect the synthetic vocabulary, then
      // build EXACTLY Bpe.fitLocal's resident shapes — split symbol
      // arrays, counts, pair->count and pair->wordSet maps — and read
      // the retained heap around each stage. Word shape mirrors crawl
      // junk tokens (~12 chars, digit-heavy). Published in COVERAGE.md;
      // the measured B/word sizes Bpe/WordPiece.FitLocalMaxWords.
      case "vocabmem" =>
        val sizes = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
                    else Seq(1000000, 5000000, 10000000)
        def mem(): Long = {
          System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(200)
          val r = Runtime.getRuntime; r.totalMemory - r.freeMemory
        }
        for (n <- sizes) {
          val m0 = mem()
          val rows = spark.range(n.toLong)
            .select(format_string("w%09dq%02d", col("id"), col("id") % 89)
              .as("w"), (col("id") % 7 + 1).as("n"))
            .collect()
          val m1 = mem()
          val words = rows.map(_.getString(0).split("").toSeq :+ "</w>")
            .map(_.toArray)
          val wCnt = rows.map(_.getLong(1))
          val pairCnt = collection.mutable.Map.empty[(String, String), Long]
          val pairWords = collection.mutable
            .Map.empty[(String, String), collection.mutable.Set[Int]]
          words.indices.foreach { wi =>
            val s = words(wi)
            var i = 0
            while (i + 1 < s.length) {
              val p = (s(i), s(i + 1))
              pairCnt(p) = pairCnt.getOrElse(p, 0L) + wCnt(wi)
              pairWords.getOrElseUpdate(p,
                collection.mutable.Set.empty[Int]) += wi
              i += 1
            }
          }
          val m2 = mem()
          println(f"[vocabmem] n=$n%,d: collect ${(m1 - m0).toDouble / n}%.0f B/word, " +
            f"full fitLocal state ${(m2 - m0).toDouble / n}%.0f B/word " +
            f"(${(m2 - m0) / 1e9}%.2f GB total; pairs=${pairCnt.size}%,d, " +
            f"pairWord entries=${pairWords.valuesIterator.map(_.size.toLong).sum}%,d)")
          // keep the state reachable until after the measurement
          if (words.length + wCnt.length < 0) println(pairWords.size)
        }

      // Hot-bucket escalation at adversarial scale: n prints ALL sharing
      // quarter 0 (the flat-image/silence degenerate), md5-diverse
      // elsewhere. Reports the escalated candidate count (sum of
      // C(m,2) over level-2 sub-buckets) vs the plain join's n(n-1)/2,
      // and the end-to-end escalated pair-join wall clock.
      case "hotbucket" =>
        val sizes = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
                    else Seq(10000, 50000, 100000)
        for (n <- sizes) {
          val f = spark.range(n.toLong)
            .selectExpr("id", "md5(CAST(id AS STRING)) AS h")
            .selectExpr("id",
              "array(CAST(0 AS BIGINT), " +
                "CAST(conv(substr(h, 1, 4), 16, 10) AS BIGINT), " +
                "CAST(conv(substr(h, 5, 4), 16, 10) AS BIGINT), " +
                "CAST(conv(substr(h, 9, 4), 16, 10) AS BIGINT)) AS sh")
            .localCheckpoint()
          val cand = f
            .select(col("id"), posexplode(Dedup.subKeys(col("sh"), lit(0))))
            .groupBy("pos", "col").agg(count(lit(1)).as("m"))
            .agg(sum((col("m") * (col("m") - 1) / 2).cast("long")))
            .collect()(0).getLong(0)
          val (pairs, t) = timed(
            Dedup.quarterNearDupPairs(f, maxHamming = 3).count())
          println(f"[hotbucket] n=$n%,d: escalated candidates=$cand%,d " +
            f"(plain would be ${n.toLong * (n - 1) / 2}%,d, " +
            f"${n.toLong * (n - 1) / 2.0 / math.max(cand, 1)}%.0fx more), " +
            f"pairs<=3: $pairs in $t%.1fs")
        }

      // BIT-IDENTICAL prints at adversarial scale (true silence / flat
      // frames): before the exact-print collapse, n identical prints
      // rode the level-2 re-block into ONE sub-bucket — O(n^2)
      // candidates x16 sub-key copies through a distinct. After the
      // collapse the candidate join sees ONE distinct print (0 rep
      // candidates) and the n(n-1)/2 true pairs come from a single
      // output-sized equi-join on the packed print.
      case "identprints" =>
        val sizes = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
                    else Seq(10000, 50000)
        for (n <- sizes) {
          val f = spark.range(n.toLong)
            .selectExpr("id",
              "array(CAST(7 AS BIGINT), CAST(11 AS BIGINT), " +
                "CAST(13 AS BIGINT), CAST(17 AS BIGINT)) AS sh")
            .localCheckpoint()
          val reps = f
            .select(col("id"), col("sh"),
              Dedup.packPrint(col("sh")).as("pk"))
            .groupBy("pk")
            .agg(org.apache.spark.sql.functions.min(col("id")).as("id"),
              org.apache.spark.sql.functions.first(col("sh")).as("sh"))
          val repCand = Dedup.pigeonholeRepPairs(reps, 3, approxRecall = false,
            Dedup.HotBucketThreshold).count()
          val (pairs, t) = timed(
            Dedup.quarterNearDupPairs(f, maxHamming = 3).count())
          println(f"[identprints] n=$n%,d: rep-level candidates=$repCand%,d " +
            f"(collapse to ${reps.count()}%,d distinct prints), " +
            f"output pairs: $pairs%,d in $t%.1fs")
        }

      // strict batching on NATURAL text (the testdata documents corpus):
      // Zipfian pair counts separate cleanly, so provably-exact batches
      // actually fill — the round-reduction a real tokenizer fit gets
      // with zero vocabulary drift
      case "bpebatch" =>
        val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
        val mb = if (args.length > 2) args(2).toInt else 64
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val ((seqM, seqIters), tSeq) = timed(
          graft.ops.Bpe.fitCounted(docs, "text", mb, batchSize = 1))
        for ((strict, bs) <- Seq((true, 8), (true, 16), (false, 8))) {
          val ((batM, batIters), tBat) = timed(graft.ops.Bpe.fitCounted(
            docs, "text", mb, batchSize = bs, strict = strict))
          val seqVocab = seqM.map(m => m.left + m.right).toSet
          val batVocab = batM.map(m => m.left + m.right).toSet
          println(f"[bpebatch] dir=$dir merges=$mb strict=$strict bs=$bs: " +
            f"seq_rounds=$seqIters (${tSeq}%.1fs) " +
            f"batch_rounds=$batIters (${tBat}%.1fs) " +
            f"rounds_ratio=${seqIters.toDouble / batIters}%.1fx " +
            f"time_ratio=${tSeq / tBat}%.1fx " +
            f"merges_equal=${batM == seqM} " +
            f"vocab_overlap=${(seqVocab & batVocab).size}/${seqVocab.size}")
        }

      // construction sub-steps of the funnel, timed independently
      case "funnelsub" =>
        import graft.ops._
        val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val hist = Seq("src0", "src1", "src2", "src3", "src4")
        val g = TextAnalysis.gopherRules(col("text"))
        val mapGate = docs
          .filter(!col("source").isin(hist: _*))
          .filter(TextAnalysis.langIdHeuristic(col("text")) === "en")
          .filter(g.getField("word_count_ok") && g.getField("mean_word_len_ok") &&
            g.getField("symbol_ratio_ok") && g.getField("bullet_ok") &&
            g.getField("ellipsis_ok") && g.getField("alpha_word_ok"))
          .cache()
        println(s"[sub] mapGate count=${timed(mapGate.count())}")
        val repOk = Corpus.lineRepetitionSignals(mapGate, "doc_id", "text")
          .filter(col("dup_line_ok") && col("dup_char_ok")).select("doc_id")
        println(s"[sub] repOk=${timed(repOk.count())}")
        val (bitmap, tb) = timed(Dedup.bloomBuildAuto(
          docs.filter(col("doc_id") % 50 === 0), "text", 3, 3))
        println(s"[sub] bloom words=${bitmap.length}")
        println(s"[sub] bloomBuild: $tb")
        val nsh = mapGate.select(col("doc_id"),
          size(Dedup.wordShingles(col("text"), 3)).cast("long").as("n_sh"))
        val bloomOk = Dedup.decontaminateBloom(mapGate, "doc_id", "text", 3,
            bitmap, 3)
          .join(nsh, "doc_id").filter(col("n_flagged") * 5 < col("n_sh"))
          .select("doc_id")
        println(s"[sub] bloomOk=${timed(bloomOk.count())}")
        val index = Dedup.minhashIndex(
          docs.filter(col("source").isin(hist: _*)), "doc_id", "text")
        val ndDrop = Dedup.nearDupAgainstIndex(mapGate, index, "doc_id", "text")
          .select(col("id").as("doc_id")).distinct()
        println(s"[sub] ndDrop=${timed(ndDrop.count())}")
        val g3 = mapGate.select("doc_id", "source", "n_chars")
          .join(repOk, "doc_id").join(bloomOk, "doc_id")
          .join(ndDrop, Seq("doc_id"), "left_anti").cache()
        println(s"[sub] g3=${timed(g3.count())}")
        println(s"[sub] g3 again=${timed(g3.count())}")
        val (cents, tk) = timed(KMeans.fit(emb, "vec_id", "embedding", 8, 2))
        println(s"[sub] kmeans fit: $tk")
        val g3e = emb.join(g3.select(col("doc_id").as("vec_id")), "vec_id")
        val (sk, ts) = timed {
          val f = KMeans.semDedup(g3e, "vec_id", "embedding", cents, 0.3,
            materialize = true)
          f.count()
        }
        println(s"[sub] semDedup eager: $ts ($sk rows)")
      // stage-by-stage wall clock of the MinHash-LSH pair pipeline (the
      // shared engine of dedup_minhash/_cluster/_keep_best and the
      // curation funnels) — where inside the one pipeline the time goes
      case "minhashstages" =>
        val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val sh = docs.select(col("doc_id").as("id"),
          Dedup.wordShingles(col("text"), 3).as("shingles")).cache()
        println(s"[mh] shingles cache+count: ${timed(sh.count())}")
        val sig = Dedup.minhashSignaturesFromShingles(sh, 64)
        println(s"[mh] signatures: ${timed(sig.count())}")
        val buckets = sig.select(col("id"),
            explode(Dedup.lshBandKeys(col("sig"), 16, 4)).as("bk"))
          .select(col("id"), col("bk.band"), col("bk.bucket"))
        println(s"[mh] buckets: ${timed(buckets.count())}")
        val cand = buckets.as("a").join(buckets.as("b"),
            col("a.band") === col("b.band") &&
              col("a.bucket") === col("b.bucket") &&
              col("a.id") < col("b.id"))
          .select(col("a.id").as("idA"), col("b.id").as("idB")).distinct()
        println(s"[mh] candidates distinct: ${timed(cand.count())}")
        val withSh = cand
          .join(sh.select(col("id").as("idA"), col("shingles").as("shA")),
            Seq("idA"))
          .join(sh.select(col("id").as("idB"), col("shingles").as("shB")),
            Seq("idB"))
          .select(col("idA"), col("idB"),
            Dedup.jaccard(col("shA"), col("shB")).as("jaccard"))
          .filter(col("jaccard") >= 0.7)
        println(s"[mh] verified: ${timed(withSh.count())}")
        sh.unpersist()
        val (n2, full) = timed(Dedup.minhashNearDupPairs(docs, "doc_id",
          "text", 3, 64, 16, 0.7, materialize = false).count())
        println(f"[mh] full lazy pipeline: $full%.3f s ($n2 pairs)")

      // a pure PATH of near-dups: the worst case for label propagation
      // (diameter = n); large-star/small-star must stay logarithmic
      case "chain" =>
        val n = args(1).toInt
        val pairs = spark.range(n - 1)
          .select(col("id").as("idA"), (col("id") + 1).as("idB"))
        val ((labels, rounds), secs) =
          timed(Dedup.clusterPairsCounted(pairs) match {
            case (l, r) => (l.collect(), r)
          })
        val allMin = labels.forall(_.getLong(1) == 0L)
        println(f"[probe] chain n=$n rounds=$rounds nodes=${labels.length} " +
          f"all_to_min=$allMin time=$secs%.2fs")

      // round count + wall time of the real dedup_cluster pair graph
      case "cluster_rounds" =>
        val dir = args(1)
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
          shingleWords = 3, numHashes = 64, bands = 16, threshold = 0.7,
          materialize = true)
        val ((n, rounds), secs) = timed(Dedup.clusterPairsCounted(pairs) match {
          case (l, r) => (l.count(), r)
        })
        pairs.unpersist(false)
        println(f"[probe] cluster_rounds dir=$dir rounds=$rounds nodes=$n " +
          f"time=$secs%.2fs")

      // natural 10x scale-up of the sf tables: 10 transformed copies per
      // table, id spaces disjoint, content DECORRELATED across copies
      // (word substitution / embedding rotation / user+time shifts) so
      // within-copy duplicate/near-dup/session structure replicates 10x
      // but no cross-copy cliques appear — the "same distribution, more
      // of it" shape a real corpus grows by, unlike the adversarial
      // duplication probe which multiplies pair counts quadratically.
      case "gensf1" =>
        val (src, dst) = (args(1), args(2))
        new java.io.File(dst).mkdirs()
        val K = 10
        def copies(f: Int => org.apache.spark.sql.DataFrame) =
          (0 until K).map(f).reduce(_.unionByName(_))

        // LAYOUT: every table is a 32-part DIRECTORY named <table>.parquet —
        // at 10x the data a real lake delivers more FILES, and a scan-stage
        // ratio measured single-file-to-single-file would time one thread
        // doing 10x the work (a layout artifact, not operator scaling; the
        // baseline side gets the same 32-file layout via `relayout`). The
        // streaming queries glob `pathGlobFilter=<table>.parquet` for a
        // single FILE, so documents/events additionally land as one-file
        // twins under $dst/stream/ (benched there, against the equally
        // single-file driver sf0.1).
        def writeDir(df: org.apache.spark.sql.DataFrame, name: String): Unit =
          df.repartition(32).write.mode("overwrite")
            .parquet(s"$dst/$name.parquet")

        def writeSingle(df: org.apache.spark.sql.DataFrame, dstDir: String,
                        name: String): Unit = {
          import org.apache.hadoop.fs.Path
          val tmp = s"$dstDir/.__gen_$name"
          df.coalesce(1).write.mode("overwrite").parquet(tmp)
          val fs = new Path(dstDir).getFileSystem(
            spark.sparkContext.hadoopConfiguration)
          val part = fs.listStatus(new Path(tmp)).map(_.getPath)
            .find(p => p.getName.startsWith("part-") &&
              p.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"no part file under $tmp"))
          val target = new Path(s"$dstDir/$name.parquet")
          if (fs.exists(target)) fs.delete(target, true)
          if (!fs.rename(part, target))
            sys.error(s"rename $part -> $target failed")
          fs.delete(new Path(tmp), true)
        }

        writeDir(copies { k =>
          val d = spark.read.parquet(s"$src/documents.parquet")
          // replace every 5th word (offset k) with a copy token: within-copy
          // shingle structure intact, cross-copy Jaccard ~0.25 (< 0.7)
          val words = split(col("text"), " ")
          val mutated =
            if (k == 0) col("text")
            else concat_ws(" ", transform(words, (w, i) =>
              when(i % 5 === k % 5, concat(lit("zc"), lit(k))).otherwise(w)))
          d.select((col("doc_id") + k * 10000000L).as("doc_id"),
            mutated.as("text"), col("lang"), col("source"),
            length(mutated).cast("long").as("n_chars"))
        }, "documents")

        writeDir(copies { k =>
          val e = spark.read.parquet(s"$src/embeddings.parquet")
          // rotate the vector by k dims: orthogonal per copy, so norms and
          // within-copy cosines are preserved but copies decorrelate
          val emb =
            if (k == 0) col("embedding")
            else concat(slice(col("embedding"), k + 1, 10000),
              slice(col("embedding"), 1, k))
          e.select((col("vec_id") + k * 10000000L).as("vec_id"),
            emb.as("embedding"), col("label"))
        }, "embeddings")

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        writeDir(copies { k =>
          val ev = Probe.eventsAsRawNanos(
            spark.read.parquet(s"$src/events.parquet"))
          ev.select((col("event_id") + k * 100000000L).as("event_id"),
            (col("ts") + k).as("ts"), // raw nanos long
            (col("user_id") + k * 10000000L).as("user_id"),
            col("event_type"), col("value"), col("props"))
        }, "events")

        writeDir(copies { k =>
          spark.read.parquet(s"$src/lineitem.parquet")
            .withColumn("l_orderkey", col("l_orderkey") + k * 100000000L)
        }, "lineitem")

        writeDir(copies { k =>
          spark.read.parquet(s"$src/orders.parquet")
            .withColumn("o_orderkey", col("o_orderkey") + k * 100000000L)
            .withColumn("o_custkey", col("o_custkey") + k * 10000000L)
        }, "orders")

        // customer/part shift in lockstep with the fact keys, preserving
        // referential integrity per copy (q03 broadcast join, q05 melt)
        writeDir(copies { k =>
          spark.read.parquet(s"$src/customer.parquet")
            .withColumn("c_custkey", col("c_custkey") + k * 10000000L)
        }, "customer")

        writeDir(copies { k =>
          spark.read.parquet(s"$src/part.parquet")
            .withColumn("p_partkey", col("p_partkey") + k * 10000000L)
        }, "part")

        // one-file twins for the file-stream sources (read back from the
        // just-written dirs, so content is byte-identical to the batch side)
        new java.io.File(s"$dst/stream").mkdirs()
        writeSingle(spark.read.parquet(s"$dst/documents.parquet"),
          s"$dst/stream", "documents")
        writeSingle(spark.read.parquet(s"$dst/events.parquet"),
          s"$dst/stream", "events")
        println(s"[probe] gensf1 src=$src dst=$dst copies=$K done")

      // re-layout existing single-file tables as 32-part dirs: the batch
      // BASELINE side of the natural-10x ratio, so both scales are read
      // at the same files-per-table and the ratio isolates data growth
      case "relayout" =>
        val (src, dst) = (args(1), args(2))
        new java.io.File(dst).mkdirs()
        for (t <- Seq("documents", "embeddings", "events", "lineitem",
            "orders", "customer", "part")) {
          if (t == "events")
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          val df = spark.read.parquet(s"$src/$t.parquet")
          val out = if (t == "events") Probe.eventsAsRawNanos(df) else df
          out.repartition(32).write.mode("overwrite")
            .parquet(s"$dst/$t.parquet")
        }
        println(s"[probe] relayout src=$src dst=$dst done")

      // SmartUpdate.classify under dataset skew: 90% of a multi-dataset
      // incoming batch in ONE dataset. The merge key is the full
      // (dataset, date) composite, so hash partitioning spreads the hot
      // dataset across every shuffle partition — the probe publishes the
      // classify stage's task-duration p50/p99 to show no straggler.
      case "skew" =>
        val n = args.lift(1).map(_.toInt).getOrElse(4000000)
        def batch(ids: org.apache.spark.sql.DataFrame, delta: Double) =
          ids.select(
            concat_ws("|",
              when(col("id") % 10 === 0,
                concat(lit("ds"), ((col("id") / 10) % 9 + 1).cast("string")))
                .otherwise(lit("ds_hot")),
              col("id").cast("string")).as("key"),
            ((col("id") % 997).cast("double") + delta).as("value"))
        val inc = batch(spark.range(n).toDF("id"), 0.0)
        val ex = batch(spark.range(n / 2, n + n / 2).toDF("id"), 0.5)
        val cls = graft.merge.SmartUpdate.classify(inc, ex, "key", Seq("value"))
          .groupBy("status").agg(count(lit(1)).as("cnt"))
        val durations = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            durations.add(e.taskInfo.duration)
        }
        spark.sparkContext.addSparkListener(listener)
        val (counts, secs) = timed(cls.collect())
        spark.sparkContext.removeSparkListener(listener)
        import scala.jdk.CollectionConverters._
        val ds = durations.asScala.toVector.sorted
        def pct(p: Double) = ds((p * (ds.size - 1)).toInt)
        val byStatus = counts.map(r => s"${r.getString(0)}=${r.getLong(1)}")
          .sorted.mkString(",")
        println(f"[probe] skew n=$n $byStatus tasks=${ds.size} " +
          f"p50=${pct(0.5)}ms p99=${pct(0.99)}ms max=${ds.last}ms " +
          f"p99_over_p50=${pct(0.99).toDouble / pct(0.5).max(1)}%.2f " +
          f"time=$secs%.2fs")

      // V2 edb-grid BatchScan at 10x the file count: the distributed-parse
      // claim is that scan cost is ONE partition per file, parsed entirely
      // executor-side — so 10x the files costs ~10x the task work spread
      // over the same threads (per-file throughput flat), never a 10x
      // driver-side parse loop. Dirs of n and 10n copies of the checked-in
      // workbook fixture; min-of-3 full scans each; publishes files/sec at
      // both scales plus the row-count check (rows = files x 13 grid rows).
      case "gridscale" =>
        val n = args.lift(1).map(_.toInt).getOrElse(32)
        val src = java.nio.file.Paths.get(
          s"${SparkEntry.fixturesDir}/edb_auto_sales.csv")
        def mkDir(files: Int): String = {
          val d = java.nio.file.Files.createTempDirectory(s"graft-grid$files")
          (1 to files).foreach(i => java.nio.file.Files.copy(src,
            d.resolve(f"extract_$i%05d.csv")))
          d.toString
        }
        def scanRows(dir: String): Long =
          spark.read.format("edb-grid").option("dataLocation", "A6:K18")
            .load(dir).count()
        def minOf3(dir: String): Double =
          (1 to 3).map(_ => timed(scanRows(dir))._2).min
        val (small, big) = (mkDir(n), mkDir(10 * n))
        try {
          val (rowsSmall, rowsBig) = (scanRows(small), scanRows(big)) // warm
          val (tS, tB) = (minOf3(small), minOf3(big))
          println(f"[probe] gridscale files=$n/${10 * n} " +
            f"rows=$rowsSmall/$rowsBig time=$tS%.2fs/$tB%.2fs " +
            f"files_per_sec=${n / tS}%.0f/${10 * n / tB}%.0f " +
            f"time_ratio=${tB / tS}%.2f (data 10x)")
        } finally Seq(small, big).foreach(d =>
          org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(d)))

      case other => sys.error(s"unknown probe: $other")
    }
    spark.stop()
  }
}
