package graft

import graft.merge.SmartUpdate
import graft.ops.Reshape
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import java.sql.Timestamp

/** Property-based invariants (SURVEY.md §5.2). Spark jobs per case are
  * expensive — minSuccessfulTests is capped low; the generators still cover
  * sign/magnitude/duplicate-key structure. */
object GraftProperties extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withMaxDiscardRatio(10)

  private lazy val spark = SparkSuite.spark
  import spark.implicits._
  private val ts = Timestamp.valueOf("2025-06-01 00:00:00")
  private val emptyDV = Seq.empty[(String, Double)].toDF("date", "value")

  private val dateGen: Gen[String] = for {
    y <- Gen.choose(2015, 2025); m <- Gen.choose(1, 12)
  } yield f"$y%04d-$m%02d-01"

  private val valueGen: Gen[Double] =
    Gen.oneOf(Gen.choose(-1e6, 1e6), Gen.choose(-1.0, 1.0))

  private val batchGen: Gen[Map[String, Double]] = for {
    n <- Gen.choose(1, 8)
    dates <- Gen.listOfN(n, dateGen)
    values <- Gen.listOfN(n, valueGen)
  } yield dates.zip(values).toMap // map => unique keys

  // smart_update idempotence: merging the same batch twice changes nothing
  property("smartUpdate.idempotent") = Prop.forAll(batchGen) { batch =>
    val df = batch.toSeq.toDF("date", "value")
    val (m1, _, c1) = SmartUpdate.merge(df, emptyDV, "date", Seq("value"), "p", ts)
    val (_, _, c2) = SmartUpdate.merge(df, m1, "date", Seq("value"), "p", ts)
    c1.newRows == batch.size && c2 == SmartUpdate.MergeCounts(0, 0, 0)
  }

  // tolerance law: |delta| <= 0.001 never revises; |delta| > 0.0011 always does
  property("smartUpdate.toleranceLaw") = Prop.forAll(
    dateGen, Gen.choose(-1000.0, 1000.0), Gen.choose(-0.001, 0.001),
    Gen.choose(0.0012, 10.0)) { (d, v, small, big) =>
    val base = Seq((d, v)).toDF("date", "value")
    val (m1, _, _) = SmartUpdate.merge(base, emptyDV, "date", Seq("value"), "p", ts)
    val (_, _, cSmall) = SmartUpdate.merge(
      Seq((d, v + small)).toDF("date", "value"), m1, "date", Seq("value"), "p", ts)
    val (_, _, cBig) = SmartUpdate.merge(
      Seq((d, v + big)).toDF("date", "value"), m1, "date", Seq("value"), "p", ts)
    // small may round to a representable delta <= 0.001 -> never revise is
    // only guaranteed when the FLOAT difference is within tolerance
    val smallOk =
      if (math.abs((v + small) - v) <= SmartUpdate.Tolerance)
        cSmall == SmartUpdate.MergeCounts(0, 0, 0)
      else cSmall == SmartUpdate.MergeCounts(0, 1, 1)
    smallOk && cBig == SmartUpdate.MergeCounts(0, 1, 1)
  }

  // revision count == number of fields whose change exceeds tolerance
  property("smartUpdate.revisionCountLaw") = Prop.forAll(
    dateGen, valueGen, valueGen,
    Gen.oneOf(0.0, 0.01), Gen.oneOf(0.0, 0.01)) { (d, a, b, da, db) =>
    val base = Seq((d, a, b)).toDF("date", "fa", "fb")
    val emptyAB = Seq.empty[(String, Double, Double)].toDF("date", "fa", "fb")
    val (m1, _, _) = SmartUpdate.merge(base, emptyAB, "date", Seq("fa", "fb"), "p", ts)
    val (_, revs, c) = SmartUpdate.merge(
      Seq((d, a + da, b + db)).toDF("date", "fa", "fb"),
      m1, "date", Seq("fa", "fb"), "p", ts)
    val expected = Seq(
      math.abs((a + da) - a) > SmartUpdate.Tolerance,
      math.abs((b + db) - b) > SmartUpdate.Tolerance).count(identity)
    c.revisions == expected && revs.count() == expected &&
      c.updated == (if (expected > 0) 1 else 0)
  }

  // One write path, three layouts: on fresh stores, the whole-table runner,
  // the year-partitioned runner and the stream ingest (fed the same batches
  // as micro-batches) leave the same rows and revisions and report the same
  // counts after every batch. Seeded sequences of three batches over keys
  // spanning five years: new keys, resends, changes of exactly the 0.001
  // tolerance and just over it, large changes, NaN and null cells, and a
  // duplicated key per batch. The duplicate repeats its row: without an
  // order column the merge keeps any one row per key, so only identical
  // duplicates have one right answer.
  private def layoutBatches(seed: Long): Seq[Seq[(String, Option[Double])]] = {
    val rnd = new scala.util.Random(seed)
    val keys = (0 until 15).map(i => f"${2019 + i % 5}%04d-${1 + i % 12}%02d-01")
    val last = collection.mutable.Map.empty[String, Option[Double]]
    Seq.fill(3) {
      val rows = rnd.shuffle(keys).take(4 + rnd.nextInt(6)).map { k =>
        val v = last.get(k).flatten.filterNot(_.isNaN) match {
          case None => Some(rnd.nextInt(2000) / 8.0)
          case Some(old) => rnd.nextInt(6) match {
            case 0 => Some(old)
            case 1 => Some(old + SmartUpdate.Tolerance)
            case 2 => Some(old + 0.0011)
            case 3 => Some(old + 1 + rnd.nextInt(100))
            case 4 => Some(Double.NaN)
            case _ => None
          }
        }
        last(k) = v
        k -> v
      }
      rnd.shuffle(rows :+ rows(rnd.nextInt(rows.size)))
    }
  }

  private def layoutRun(batches: Seq[Seq[(String, Option[Double])]],
                        layout: String): Seq[(Seq[String], Seq[String], Seq[Long])] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft-layout").toString
    val store = new graft.store.TableStore(spark, dir)
    var now = Timestamp.valueOf("2025-06-01 00:00:00")
    val runner = new graft.pipeline.Runner(spark, store, () => now)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Option[Double])]
    val query = if (layout != "stream") None else Some(graft.streaming.StreamIngest
      .ingest(mem.toDF().toDF("date", "value"), store, "series", "value",
        s"$dir/_ckpt", () => now, trigger = Trigger.ProcessingTime(0)))
    def str(r: org.apache.spark.sql.Row) =
      r.toSeq.map(v => String.valueOf(v)).mkString("|")
    def rows() = if (!store.exists("series")) Seq.empty[String]
      else store.read("series").select("date", "value").collect().map(str).sorted.toSeq
    def revs() = if (!store.exists(graft.config.Registry.RevisionsTable)) Seq.empty[String]
      else store.read(graft.config.Registry.RevisionsTable).collect().map(str).sorted.toSeq
    var (rows0, revs0) = (Seq.empty[String], Seq.empty[String])
    try batches.map { b =>
      now = new Timestamp(now.getTime + 86400000L)
      val df = b.toDF("date", "value")
      val result = layout match {
        case "whole" =>
          Some(runner.runDataset("series", df, Seq("value"), gateHours = 0))
        case "partitioned" =>
          Some(runner.runDatasetPartitioned("series", df, Seq("value"), gateHours = 0))
        case "stream" =>
          mem.addData(b)
          query.get.processAllAvailable()
          None
      }
      val (rows1, revs1) = (rows(), revs())
      // the stream reports no counts: new rows are the rows it added, and
      // with one value field every updated row carries one revision
      val added = (revs1.size - revs0.size).toLong
      val counts = result.fold(Seq((rows1.size - rows0.size).toLong, added, added))(r =>
        Seq(r.newRows, r.updated, r.revisions))
      rows0 = rows1
      revs0 = revs1
      (rows1, revs1, counts)
    } finally query.foreach(_.stop())
  }

  property("smartUpdate.layoutEquivalence") = Prop.forAll(Gen.choose(1L, 1000000L)) { seed =>
    import org.scalacheck.Prop.propBoolean
    val batches = layoutBatches(seed)
    val whole = layoutRun(batches, "whole")
    val partitioned = layoutRun(batches, "partitioned")
    val stream = layoutRun(batches, "stream")
    ((whole == partitioned) :| s"partitioned $partitioned != whole $whole") &&
      ((whole == stream) :| s"stream $stream != whole $whole")
  }

  // melt -> pivot round-trip recovers the wide table
  // generated "documents": words mixing PII-ish shapes with plain prose
  private val piiWordGen: Gen[String] = Gen.oneOf(
    Gen.oneOf("the", "data", "pipeline", "scan", "2024-01-01", "12.99", "42"),
    Gen.choose(0, 999).map(n => s"user$n@ex$n.example.org"),
    Gen.choose(0, 255).map(n => s"10.0.$n.7"),
    Gen.choose(0L, 999999L).map(n => (4000000000000000L + n).toString))
  private val piiTextGen: Gen[String] = for {
    n <- Gen.choose(1, 20); ws <- Gen.listOfN(n, piiWordGen)
  } yield ws.mkString(" ")

  // redaction is idempotent: placeholders never re-match any pattern
  property("redactPii.idempotent") = Prop.forAll(Gen.listOfN(4, piiTextGen)) {
    texts =>
      val once = texts.toDF("text")
        .select(graft.ops.TextAnalysis.redactPii(col("text")).as("t"))
      val twice = once
        .select(graft.ops.TextAnalysis.redactPii(col("t")).as("t"))
      once.collect().map(_.getString(0)).toSeq ==
        twice.collect().map(_.getString(0)).toSeq
  }

  private val segTextGen: Gen[String] = for {
    n <- Gen.choose(1, 30)
    ws <- Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))
  } yield ws.mkString(" ")

  // boilerplate invariants: kept <= total segments; raising the allowed
  // doc frequency never drops MORE (monotonicity in maxDocFreq)
  property("boilerplateFilter.monotone") = Prop.forAll(
    Gen.listOfN(5, segTextGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def kept(maxDf: Int) = graft.ops.Dedup
        .boilerplateFilter(docs, "doc_id", "text", segWords = 3, maxDocFreq = maxDf)
        .orderBy("doc_id").collect()
        .map(r => (r.getAs[Long]("n_kept"), r.getAs[Long]("n_segs")))
      val loose = kept(5)
      val strict = kept(1)
      loose.forall { case (k, n) => k <= n } &&
        strict.zip(loose).forall { case ((ks, _), (kl, _)) => ks <= kl }
  }

  // BIFF8 codec fuzz: any grid of text/numeric/edge-lexical cells survives
  // write -> read EXACTLY (empty cells come back null; no Spark involved,
  // so this one runs cheap and wide)
  private val cellGen: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(12)),
    Gen.choose(-1e9, 1e9).map(d => graft.sources.XlsReader.numText(d)),
    Gen.choose(0, 99).map(n => f"0.$n%02d"), // "0.50"-style non-canonical
    Gen.oneOf("", "2016.0", "007", "1e3", "café 日本語", "-0.0"),
    Gen.choose(-536870912, 536870911).map(_.toString)) // RK int range
  property("xls.gridRoundTrip") = Prop.forAll(
    Gen.listOfN(6, Gen.listOfN(4, cellGen))) { rows =>
      val grid = rows.map(_.toVector).toVector
      val path = java.nio.file.Files
        .createTempFile("graft-prop", ".xls").toString
      graft.sources.XlsWriter.write(path, grid)
      val expected = grid.map(_.map(v => if (v == null || v.isEmpty) null else v))
      graft.sources.XlsReader.readFirstSheet(path) == expected
  }

  property("melt.pivotRoundTrip") = Prop.forAll(
    Gen.choose(1, 5), Gen.listOfN(5, valueGen), Gen.listOfN(5, valueGen)) {
    (n, as, bs) =>
      val wide = (0 until n).map(i => (i, as(i), bs(i))).toDF("id", "a", "b")
      val long = Reshape.melt(wide, Seq("id"), Seq("a", "b"))
      val back = long.groupBy("id").pivot("variable", Seq("a", "b"))
        .agg(first("value"))
      val orig = wide.orderBy("id").collect().map(r =>
        (r.getInt(0), r.getDouble(1), r.getDouble(2))).toSeq
      val rt = back.orderBy("id").collect().map(r =>
        (r.getInt(0), r.getDouble(1), r.getDouble(2))).toSeq
      rt == orig
  }

  // PPS sampling laws over arbitrary non-negative (incl. fractional and
  // zero) weights: the draw is a subset of the input, identical across
  // runs AND across physical partitionings (the DECIMAL total makes the
  // sum order-independent — a plain double sum fails this), monotone in
  // the expected size, and never includes a zero-weight row.
  property("weightedSample.samplingLaws") = Prop.forAll(
    Gen.choose(5, 40).flatMap(n => Gen.listOfN(n,
      Gen.oneOf(Gen.const(0.0), Gen.choose(0.05, 10.0)))),
    Gen.choose(1L, 30L)) { (ws, n) =>
      import graft.ops.Sampling
      val df = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }
        .toDF("id", "w")
      def draw(d: org.apache.spark.sql.DataFrame, k: Long) =
        Sampling.weightedSample(d, "id", "w", k)
          .select("id").as[Long].collect().toSet
      val s1 = draw(df, n)
      val zeros = ws.zipWithIndex.collect {
        case (w, i) if w == 0.0 => i.toLong }.toSet
      s1 == draw(df.repartition(7), n) &&
        s1.subsetOf(draw(df, n * 3)) &&
        s1.intersect(zeros).isEmpty &&
        s1.subsetOf(ws.indices.map(_.toLong).toSet)
  }

  // Incremental-dedup laws over random corpora with forced duplicates:
  // a batch deduped against ITS OWN index vanishes entirely (everything
  // is history), and against an EMPTY index it degenerates to plain
  // within-batch exact dedup — the two boundary conditions that anchor
  // the incremental operator to the batch one.
  property("dedupAgainstIndex.boundaryLaws") = Prop.forAll(
    Gen.choose(3, 20).flatMap(n => Gen.listOfN(n,
      Gen.oneOf("alpha beta", "gamma delta", "alpha  BETA", "epsilon",
        "zeta eta theta", "GAMMA delta")))) { texts =>
      import graft.ops.Dedup
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val own = Dedup.fingerprintIndex(df, "doc_id", "text")
      val emptyIdx = own.limit(0)
      val vsOwn = Dedup.dedupAgainstIndex(df, own, "doc_id", "text").count()
      val vsEmpty = Dedup.dedupAgainstIndex(df, emptyIdx, "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet
      val plain = Dedup.exactDedup(df, "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet
      vsOwn == 0L && vsEmpty == plain
  }

  // Hot-bucket escalation exactness: for ANY print population (skewed
  // toward shared quarters so buckets actually escalate) and any
  // threshold, the level-2 re-block returns the identical pair set as
  // the plain pigeonhole join at maxHamming <= 3
  property("quarterNearDup.escalationExact") = Prop.forAll(for {
    n <- Gen.choose(8, 40)
    // few distinct quarter values => heavy shared buckets
    qs <- Gen.listOfN(n, Gen.listOfN(4, Gen.oneOf(0L, 1L, 3L, 7L,
      255L, 256L, 4096L, 65535L)))
    thr <- Gen.choose(2, 6)
  } yield (qs, thr)) { case (qs, thr) =>
    import graft.ops.Dedup
    val df = qs.zipWithIndex.map { case (q, i) => (i.toLong, q.toArray) }
      .toDF("id", "sh")
    def pairs(t: Int) = Dedup.quarterNearDupPairs(df, maxHamming = 3,
        hotThreshold = t)
      .select("idA", "idB", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    pairs(thr) == pairs(Int.MaxValue)
  }

  // Bloom decontamination never false-negatives: whatever benchmark and
  // corpus the generator produces, every doc the EXACT shingle join
  // flags is also bloom-flagged (the converse — extra bloom flags — is
  // the permitted false-positive rate)
  property("bloomDecontaminate.noFalseNegatives") = Prop.forAll(
    for {
      nb <- Gen.choose(1, 4)
      nt <- Gen.choose(2, 10)
      mkDoc = Gen.choose(3, 9).flatMap(k => Gen.listOfN(k,
        Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
          "eta", "theta", "iota", "kappa")).map(_.mkString(" ")))
      bench <- Gen.listOfN(nb, mkDoc)
      train <- Gen.listOfN(nt, mkDoc)
    } yield (bench, train)) { case (bench, train) =>
      import graft.ops.Dedup
      val b = bench.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val t = train.zipWithIndex.map { case (x, i) => (100L + i, x) }
        .toDF("doc_id", "text")
      val bitmap = Dedup.bloomBuild(b, "text", shingleWords = 3,
        nWords = 64, k = 3)
      val bloom = Dedup.decontaminateBloom(t, "doc_id", "text", 3, bitmap, 3)
        .filter(col("contaminated")).select("doc_id").as[Long].collect().toSet
      val exact = Dedup.decontaminate(t, b, "doc_id", "text", 3)
        .filter(col("contaminated")).select("doc_id").as[Long].collect().toSet
      exact.subsetOf(bloom)
  }

  // stripDuplicatedSpans agrees with the naive reference: all sliding
  // windows, duplicated hash -> keep only the min (doc, pos) occurrence,
  // strip every position a non-canonical duplicated window covers,
  // rebuild in order — over tiny-vocab docs where window collisions are
  // plentiful (periodic text, cross-doc repeats, within-doc repeats)
  property("stripDuplicatedSpans.matchesReference") = Prop.forAll(for {
    n <- Gen.choose(1, 5)
    w <- Gen.choose(2, 3)
    docs <- Gen.listOfN(n, Gen.choose(0, 8).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("aa", "bb", "cc")).map(_.mkString(" "))))
  } yield (docs, w)) { case (docs, w) =>
    import graft.ops.Dedup
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val got = Dedup.stripDuplicatedSpans(df, "id", "text", w)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(4))))
      .toMap
    // reference
    val toks = docs.map(_.split("\\s+").filter(_.nonEmpty))
    val wins = for {
      (t, d) <- toks.zipWithIndex
      p <- 1 to t.length - w + 1
    } yield ((d.toLong, p), t.slice(p - 1, p - 1 + w).mkString(" "))
    val byKey = wins.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val covered = byKey.values.filter(_.size > 1).flatMap { occs =>
      val canon = occs.min
      occs.filter(_ != canon).flatMap { case (d, p) =>
        (p until p + w).map(d -> _)
      }
    }.toSet
    toks.zipWithIndex.forall { case (t, d) =>
      val keep = t.zipWithIndex.collect {
        case (tok, i) if !covered.contains((d.toLong, i + 1)) => tok
      }
      val nd = t.indices.count(i => covered.contains((d.toLong, i + 1)))
      got(d.toLong) == ((nd.toLong, keep.mkString(" ")))
    }
  }

  // stripRepeatedLines agrees with the naive reference implementation:
  // count every NON-EMPTY line corpus-wide, keep lines at or under the
  // cap, join survivors in order — blanks are never boilerplate
  // candidates (C4's rule) and always survive in place
  private val lineGen: Gen[String] =
    Gen.oneOf(Gen.oneOf("shared a", "shared b", ""),
      Gen.choose(0, 10000).map(n => s"unique line $n"))
  property("stripRepeatedLines.matchesReference") = Prop.forAll(for {
    n <- Gen.choose(1, 6)
    docs <- Gen.listOfN(n, Gen.listOfN(4, lineGen).map(_.mkString("\n")))
    cap <- Gen.choose(1, 3)
  } yield (docs, cap)) { case (docs, cap) =>
    import graft.ops.Corpus
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val got = Corpus.stripRepeatedLines(df, "id", "text", cap)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(3)))
      .toMap
    val counts = docs.flatMap(_.split("\n", -1)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    docs.zipWithIndex.forall { case (t, i) =>
      val keep = t.split("\n", -1).filter(l => l.isEmpty || counts(l) <= cap)
      got(i.toLong) == ((keep.mkString("\n"), keep.length.toLong))
    }
  }

  // perplexityBuckets laws: buckets cover every scored doc, are
  // score-monotone (every head score <= every middle score <= every
  // tail score), and the head reaches at least a third of the corpus
  // (the cutoff rule: smallest value whose cumulative count reaches
  // ceil(n/3) — ties can only GROW head, never shrink it)
  property("perplexityBuckets.tercileLaws") = Prop.forAll(for {
    n <- Gen.choose(3, 12)
    texts <- Gen.listOfN(n, Gen.choose(1, 6).flatMap(w =>
      Gen.listOfN(w, Gen.oneOf("the", "a", "rare", "mid", "word"))
        .map(_.mkString(" "))))
  } yield texts) { texts =>
    import graft.ops.Corpus
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val out = Corpus.perplexityBuckets(df, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getString(4)))
    val byBucket = out.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    def maxOf(b: String) = byBucket.get(b).map(_.max)
    def minOf(b: String) = byBucket.get(b).map(_.min)
    val mono =
      maxOf("head").forall(h => minOf("middle").forall(h <= _)) &&
        maxOf("head").forall(h => minOf("tail").forall(h <= _)) &&
        maxOf("middle").forall(m => minOf("tail").forall(m <= _))
    val n = out.length
    out.length == texts.length && mono &&
      byBucket.getOrElse("head", Array.empty[Long]).length * 3 >= n
  }

  // temperatureShares laws: ppm shares sum to <= 1e6 (integer DIV floor),
  // alpha=1 is mass-proportional DIV, and weights are the exact
  // floor(sqrt-product x 1e6) integers
  property("temperatureShares.exactIntegerLaws") = Prop.forAll(for {
    n <- Gen.choose(1, 5)
    masses <- Gen.listOfN(n, Gen.choose(1L, 100000L))
  } yield masses) { masses =>
    import graft.ops.Sampling
    val df = masses.zipWithIndex.flatMap { case (m, i) =>
      Seq((i.toLong, s"d$i", m)) }.toDF("id", "domain", "chars")
    (1 to 4).forall { q =>
      val rows = Sampling.temperatureShares(df, "domain", "chars", q)
        .collect().map(r => (r.getString(0), r.getDouble(1),
          r.getLong(2), r.getLong(3)))
      val wSum = rows.map(_._3).sum
      val expected = rows.map { case (_, m, _, _) =>
        val s2 = math.sqrt(m); val s4 = math.sqrt(s2)
        val p = q match {
          case 1 => s4; case 2 => s2; case 3 => s2 * s4; case 4 => m
        }
        math.floor(p * 1e6).toLong
      }
      rows.map(_._3).sameElements(expected) &&
        rows.map(_._4).sum <= 1000000L &&
        rows.forall { case (_, _, w, ppm) => ppm == 1000000L * w / wSum }
    }
  }

  // WordPiece fitLocal == fit over random TINY-ALPHABET corpora — ties
  // are dense there (many pairs share counts and denominators), which
  // is exactly where the lazy-heap re-push discipline could silently
  // diverge from the distributed argmax; and MaxMatch reconstruction:
  // stripping ## from the tokens re-concatenates the word
  property("wordPiece.localEqualsFitAndMaxMatchReconstructs") =
    Prop.forAll(for {
      nWords <- Gen.choose(2, 8)
      words <- Gen.listOfN(nWords, for {
        len <- Gen.choose(1, 6)
        cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
      } yield cs.mkString)
      reps <- Gen.listOfN(nWords, Gen.choose(1, 4))
    } yield words.zip(reps)) { weighted =>
      import graft.ops.WordPiece
      val text = weighted.flatMap { case (w, n) => Seq.fill(n)(w) }
        .mkString(" ")
      val df = Seq(text).toDF("text")
      val rounds = 5
      val dist = WordPiece.fit(df, "text", rounds)
      val local = WordPiece.fitLocal(df, "text", rounds)
      val vocab = WordPiece.vocabulary(df, "text", dist)
      val recon = weighted.map(_._1).distinct.forall { w =>
        val toks = Seq(w).toDF("w")
          .select(WordPiece.maxMatchTokens(col("w"), vocab).as("t"))
          .as[Seq[String]].head()
        toks != Seq(WordPiece.Unk) &&
          toks.map(_.stripPrefix(WordPiece.Continuation)).mkString == w
      }
      Prop(dist == local) :| s"fitLocal diverged: $local vs $dist" &&
        Prop(recon) :| "MaxMatch failed to reconstruct a training word"
    }

  // Unigram Viterbi laws on random corpora: every training word
  // reconstructs from its pieces (char coverage guarantees a path),
  // and the winning segmentation's cost never exceeds the all-chars
  // fallback (Viterbi optimality against the one always-legal path)
  property("unigram.viterbiReconstructsAndBeatsChars") =
    Prop.forAll(for {
      nWords <- Gen.choose(2, 8)
      words <- Gen.listOfN(nWords, for {
        len <- Gen.choose(1, 6)
        cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
      } yield cs.mkString)
      reps <- Gen.listOfN(nWords, Gen.choose(1, 4))
    } yield words.zip(reps)) { weighted =>
      import graft.ops.Unigram
      val text = weighted.flatMap { case (w, n) => Seq.fill(n)(w) }
        .mkString(" ")
      val df = Seq(text).toDF("text")
      val ps = Unigram.fit(df, "text")
      val costs = ps.map(p => p.piece -> p.costMb).toMap
      val distinct = weighted.map(_._1).distinct
      val toksOf = distinct.map { w =>
        w -> Seq(w).toDF("w")
          .select(Unigram.viterbiTokens(col("w"), costs).as("t"))
          .as[Seq[String]].head()
      }.toMap
      val recon = distinct.forall(w => toksOf(w).mkString == w)
      val optimal = distinct.forall { w =>
        val got = toksOf(w).map(costs).sum
        val chars = w.split("").map(costs).sum
        got <= chars
      }
      Prop(recon) :| "viterbi failed to reconstruct a training word" &&
        Prop(optimal) :| "viterbi cost exceeded the all-chars path"
    }
}
