package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Seeded curation corpus for the curate_corpus_v2 funnel, derived from the
  * sf0.1 test corpus (`data/sf0.1`: `documents`, 5,000 docs over 20
  * sources, and `embeddings`, 64-float vectors for the first 2,000 docs).
  * Every source row is kept, and a seeded `DupShare` of the documents gets a
  * near-duplicate: the text plus one of its own words appended, under a
  * seeded source, with a new doc_id after the last one. A copy of a
  * document with an embedding gets that embedding with seeded noise of
  * about 1e-3 per component. Copies of history-source docs (src0..src4)
  * that land in another source are what the minhash stage drops; copies
  * with an embedding are what the semantic dedup judges. That share is the
  * input property the funnel's dedup stages depend on. */
final class CorpusGen(seed: Long, base: CorpusGen.Base) {
  import CorpusGen._

  private val rnd = new scala.util.Random(seed ^ 0x2545f4914f6cdd1dL)

  private val sources = base.docs.map(_.getAs[String]("source")).distinct.sorted
  private val embeddingOf = base.embeddings.map(r => r.getAs[Long]("vec_id") -> r).toMap

  /** (new document, its embedding if the original has one). */
  private val dups: IndexedSeq[(Row, Option[Row])] = {
    val firstId = base.docs.map(_.getAs[Long]("doc_id")).max + 1
    val originals = rnd.shuffle(base.docs.indices.toList).take((base.docs.size * DupShare).toInt)
    originals.zipWithIndex.map { case (o, j) =>
      val orig = base.docs(o)
      val id = firstId + j
      val words = orig.getAs[String]("text").split(' ')
      val text = orig.getAs[String]("text") + " " + words(rnd.nextInt(words.length))
      val doc = Row(id, text, orig.getAs[String]("lang"), sources(rnd.nextInt(sources.size)),
        text.length.toLong)
      val emb = embeddingOf.get(orig.getAs[Long]("doc_id")).map { e =>
        val v = e.getSeq[Float](e.fieldIndex("embedding"))
        Row(id, v.map(x => x + (rnd.nextGaussian() * 1e-3).toFloat), e.getAs[Int]("label"))
      }
      (doc, emb)
    }.toIndexedSeq
  }

  def docCount: Int = base.docs.size + dups.size

  /** Write both tables as `<dir>/documents.parquet` and
    * `<dir>/embeddings.parquet`, one file each, in the source schemas. */
  def write(spark: SparkSession, dir: String): Unit = {
    def out(rows: IndexedSeq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    out(base.docs ++ dups.map(_._1), base.docSchema, "documents")
    out(base.embeddings ++ dups.flatMap(_._2), base.embeddingSchema, "embeddings")
  }
}

object CorpusGen {
  val DupShare = 0.1

  final case class Base(docSchema: StructType, docs: IndexedSeq[Row],
                        embeddingSchema: StructType, embeddings: IndexedSeq[Row])

  /** The source corpus under `dataDir/sf0.1`, in file order. */
  def load(spark: SparkSession, dataDir: String): Base = {
    val docs = spark.read.parquet(s"$dataDir/sf0.1/documents.parquet")
    val emb = spark.read.parquet(s"$dataDir/sf0.1/embeddings.parquet")
    Base(docs.schema, docs.collect().toIndexedSeq, emb.schema, emb.collect().toIndexedSeq)
  }
}
