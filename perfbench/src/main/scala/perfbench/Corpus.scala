package perfbench

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The generated document and embedding corpus, shaped like the
  * program's sf0.1 test tables (same schemas, vocabulary, language and
  * source mix, 64-dim clustered float vectors) at half their row counts
  * (sf0.1 has 5000 documents and 2000 vectors), so that a cold pass and
  * two measured passes of `search_mix` fit one run. It is a function of
  * a fixed seed, not of the run's seed, so the catalog queries over it
  * have pinned result digests.
  */
object Corpus {
  val NumDocs = 2500
  val NumVectors = 1000
  val Dim = 64
  private val CorpusSeed = 20250401L

  val Vocab: IndexedSeq[String] = ("query row stream the spark line small fast group customer batch " +
    "sort value hash filter big data dup part column order scan a slow agg key window table merge " +
    "vector join").split(" ").toIndexedSeq
  private val Langs = Seq("en" -> 0.4, "de" -> 0.15, "fr" -> 0.15, "es" -> 0.15, "zh" -> 0.15)

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  val documentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))

  val embeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType, containsNull = true)),
    StructField("label", IntegerType)))

  def words(rnd: Random, n: Int): Seq[String] = Seq.fill(n)(Vocab(rnd.nextInt(Vocab.size)))

  /** Replace `edits` random tokens of `text` and append the marker token:
    * a near-duplicate of it.
    */
  def nearDuplicate(rnd: Random, text: String, edits: Int): String = {
    val toks = text.split(" ").toBuffer
    (0 until edits).foreach(_ => toks(rnd.nextInt(toks.size)) = Vocab(rnd.nextInt(Vocab.size)))
    (toks :+ "dup").mkString(" ")
  }

  lazy val documents: IndexedSeq[Doc] = {
    val rnd = new Random(CorpusSeed)
    val out = scala.collection.mutable.ArrayBuffer.empty[Doc]
    (0 until NumDocs).foreach { i =>
      val r = rnd.nextDouble()
      val text =
        if (i > 10 && r < 0.02) out(rnd.nextInt(out.size)).text // exact duplicate
        else if (i > 10 && r < 0.06) nearDuplicate(rnd, out(rnd.nextInt(out.size)).text, 3)
        else words(rnd, 8 + rnd.nextInt(93)).mkString(" ")
      var u = rnd.nextDouble()
      val lang = Langs.find { case (_, w) => u -= w; u < 0 }.map(_._1).getOrElse("en")
      out += Doc(i.toLong, text, lang, s"src${i % 20}")
    }
    out.toIndexedSeq
  }

  lazy val embeddings: IndexedSeq[(Long, Array[Float], Int)] = {
    val rnd = new Random(CorpusSeed + 1)
    val centers = Array.fill(10, Dim)(rnd.nextGaussian() * 0.15)
    (0 until NumVectors).map { i =>
      val label = rnd.nextInt(centers.length)
      (i.toLong, Array.tabulate(Dim)(d => (centers(label)(d) + rnd.nextGaussian() * 0.05).toFloat), label)
    }
  }

  def documentRows(docs: Seq[Doc]): Seq[Row] =
    docs.map(d => Row(d.docId, d.text, d.lang, d.source, d.text.length.toLong))

  /** Write `documents.parquet` and `embeddings.parquet` under `dir`, in
    * the layout the program's table loader reads.
    */
  def write(spark: SparkSession, dir: String): Unit = {
    val sc = spark.sparkContext
    spark.createDataFrame(sc.parallelize(documentRows(documents), 1), documentSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val embRows = embeddings.map { case (id, v, l) => Row(id, v.toSeq, l) }
    spark.createDataFrame(sc.parallelize(embRows, 1), embeddingSchema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
