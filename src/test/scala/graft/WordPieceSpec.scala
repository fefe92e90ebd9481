package graft

import org.apache.spark.sql.functions._
import graft.ops.WordPiece

/** WordPiece trainer + MaxMatch encode (Schuster & Nakajima 2012, Wu
  * et al. 2016; the HuggingFace WordPieceTrainer worked example). */
class WordPieceSpec extends SparkSuite {
  import spark.implicits._

  // the HF course fixture: ("hug",10),("pug",5),("pun",12),("bun",4),
  // ("hugs",5) — as a corpus whose whitespace words carry those counts
  private def corpus = Seq(
    Seq.fill(10)("hug"), Seq.fill(5)("pug"), Seq.fill(12)("pun"),
    Seq.fill(4)("bun"), Seq.fill(5)("hugs")
  ).flatten.mkString(" ")

  test("wordpiece: likelihood-scored merges on the HF worked example") {
    val ms = WordPiece.fit(Seq(corpus).toDF("text"), "text", rounds = 2)
    // round 1, hand-computed: every ##u pair scores 1/36 (27777777 at
    // e9 quantization); (##g,##s) scores 5/(20*5) = 1/20 = 50000000 —
    // the published example's first merge
    assert(ms.head == WordPiece.WpMerge(1, "##g", "##s", "##gs",
      50000000L, 5L))
    // round 2: ALL remaining pairs tie at exactly 1/36 — the cnt-desc
    // tie-break picks (p,##u) at 17 over (##u,##n) 16 and (h,##u) 15
    assert(ms(1) == WordPiece.WpMerge(2, "p", "##u", "pu",
      27777777L, 17L))
  }

  test("wordpiece: merged token absorbs the continuation prefix") {
    assert(WordPiece.mergedToken("a", "##b") == "ab")
    assert(WordPiece.mergedToken("##a", "##b") == "##ab")
    assert(WordPiece.mergedToken("a", "b") == "ab")
  }

  test("wordpiece: MaxMatch is greedy longest-first with ## forms") {
    val df = Seq(corpus).toDF("text")
    val ms = WordPiece.fit(df, "text", rounds = 2)
    val vocab = WordPiece.vocabulary(df, "text", ms)
    assert(vocab.contains("##gs") && vocab.contains("pu"))
    def enc(w: String): Seq[String] =
      Seq(w).toDF("w")
        .select(WordPiece.maxMatchTokens(col("w"), vocab).as("t"))
        .as[Seq[String]].head()
    // longest-first: "pu" beats p + ##u; "##gs" beats ##g + ##s
    assert(enc("pugs") == Seq("pu", "##gs"))
    assert(enc("hugs") == Seq("h", "##u", "##gs"))
    assert(enc("bun") == Seq("b", "##u", "##n"))
    // a character outside the training alphabet fails the WHOLE word
    assert(enc("puzzle") == Seq(WordPiece.Unk))
  }

  test("wordpiece: fitLocal is merge-for-merge identical to fit") {
    // the HF fixture (tie-heavy round 2) and a mixed corpus whose
    // merges chain and whose denominators shift every round — the
    // lazy-heap re-push discipline is what's under test
    val fixtures = Seq(
      (corpus, 4),
      ("the quick brown fox jumps over the lazy dog " * 3 +
        "pack my box with five dozen liquor jugs " * 2 +
        "how vexingly quick daft zebras jump", 16))
    for ((text, rounds) <- fixtures) {
      val df = Seq(text).toDF("text")
      val dist = WordPiece.fit(df, "text", rounds)
      val local = WordPiece.fitLocal(df, "text", rounds)
      assert(local == dist,
        s"fitLocal diverged at rounds=$rounds:\n$local\nvs\n$dist")
    }
  }

  test("wordpiece: merge table persists and reloads bit-identically") {
    val ms = WordPiece.fit(Seq(corpus).toDF("text"), "text", rounds = 2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-wp").toString
    WordPiece.mergesDF(spark, ms).write.parquet(s"$dir/m")
    assert(WordPiece.fromDF(spark.read.parquet(s"$dir/m")) == ms)
  }

  test("wordpiece: encodeDigest keeps empty docs and orders tokens") {
    val docs = Seq(
      (1L, "hugs pun"),
      (2L, ""),
      (3L, "pun hugs") // same words, different order -> different md5
    ).toDF("doc_id", "text")
    val trained = Seq(corpus).toDF("text")
    val ms = WordPiece.fit(trained, "text", rounds = 2)
    val vocab = WordPiece.vocabulary(trained, "text", ms)
    val out = WordPiece.encodeDigest(docs, "doc_id", "text", vocab)
      .orderBy("doc_id").collect()
    assert(out.length == 3)
    assert(out(0).getLong(1) == 5L) // h ##u ##gs | pu ##n
    assert(out(1).getLong(1) == 0L)
    val emptyMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(Array.empty[Byte]).map("%02x".format(_)).mkString
    assert(out(1).getString(2) == emptyMd5)
    assert(out(2).getLong(1) == 5L)
    assert(out(0).getString(2) != out(2).getString(2))
  }
}
