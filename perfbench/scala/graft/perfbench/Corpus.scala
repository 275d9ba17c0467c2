package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of a `documents`-shaped table
  * (`doc_id` 0..N-1, `text`, `lang`, `source`, `n_chars`).
  *
  * It keeps the value domains of the repository's `documents` fixture, so
  * every query and its oracle SQL run unchanged on it: the fixture's 30
  * content words (uniform), its five languages with the fixture's shares,
  * `source = src{doc_id % 20}`, `n_chars = length(text)`, and the fixture's
  * near-duplicate plant (5% of docs are an earlier doc's text plus " dup").
  * The doc class is `doc_id % 5` (see `SpanSynth`), so heavy docs are placed
  * on ids of classes 0-3 and giant single-span pages on class-4 ids.
  *
  * Only the knobs in [[Params]] vary per workload. Each document draws
  * from its own `SplittableRandom` split off the seed in id order, so the
  * same seed always yields the same table.
  */
object Corpus {

  case class Params(
      nDocs: Int,
      nHeavy: Int = 0, // docs above the salter's heavy threshold, classes 0-3
      heavyMinSpans: Int = 0,
      heavyMaxSpans: Int = 0,
      nGiantHtml: Int = 0, // single-span class-4 pages the salter cannot split
      giantWords: Int = 0,
      exactDupFrac: Double = 0.0, // copy of an earlier doc's text
      sharedParaFrac: Double = 0.0) // one paragraph drawn from a shared pool

  // length of a light doc in words, the fixture's near-duplicate share
  // (an earlier doc's text + " dup") and the size of the shared-paragraph pool
  private val MinWords = 10
  private val MaxWords = 100
  private val NearDupFrac = 0.05
  private val SharedParaPool = 16

  val Vocab: Array[String] = Array("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  private val Langs = Array("en", "de", "es", "fr", "zh")
  private val LangCum = Array(0.41, 0.55, 0.70, 0.85, 1.0)
  private val ParaWords = graft.synth.SpanSynth.ParaWords

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def words(r: java.util.SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(Vocab(r.nextInt(Vocab.length)))

  /** Ids of the given classes, drawn without replacement. Ids with
    * `id % 25 == 5` are skipped: those are the all-blank docs.
    */
  private def pickIds(r: java.util.SplittableRandom, n: Int, k: Int,
      classes: Set[Int], taken: Set[Int]): Seq[Int] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[Int]
    var guard = 0
    while (out.size < k && guard < 100000) {
      val id = r.nextInt(n)
      if (classes(id % 5) && id % 25 != 5 && !taken(id)) out += id
      guard += 1
    }
    out.toSeq
  }

  /** The generated rows, in doc_id order. */
  def rows(p: Params, seed: Long): IndexedSeq[Row] = {
    val root = new java.util.SplittableRandom(seed)
    val layout = root.split()
    val heavy = pickIds(layout, p.nDocs, p.nHeavy, Set(0, 1, 2, 3), Set.empty)
    val giant = pickIds(layout, p.nDocs, p.nGiantHtml, Set(4), heavy.toSet)
    val special = (heavy.map(_ -> 'h') ++ giant.map(_ -> 'g')).toMap
    val pool = Array.fill(SharedParaPool)(words(layout, ParaWords))
    val texts = new Array[String](p.nDocs)
    (0 until p.nDocs).map { id =>
      val r = root.split()
      val text = special.get(id) match {
        case Some('h') =>
          val spans = p.heavyMinSpans + r.nextInt(p.heavyMaxSpans - p.heavyMinSpans + 1)
          words(r, spans * ParaWords).mkString(" ")
        case Some(_) => words(r, p.giantWords).mkString(" ")
        case None =>
          val u = r.nextDouble()
          // a copy of a heavy or giant doc would be one too: keep copies light
          lazy val src = Some(texts(r.nextInt(id))).filter(_.length <= MaxWords * 12)
          if (id > 0 && u < p.exactDupFrac && src.nonEmpty) src.get
          else if (id > 0 && u < p.exactDupFrac + NearDupFrac && src.nonEmpty)
            src.get + " dup"
          else {
            val w = words(r, MinWords + r.nextInt(MaxWords - MinWords + 1))
            if (r.nextDouble() < p.sharedParaFrac) {
              val at = r.nextInt(w.length / ParaWords + 1) * ParaWords
              (w.take(at) ++ pool(r.nextInt(pool.length)) ++ w.drop(at)).mkString(" ")
            } else w.mkString(" ")
          }
      }
      texts(id) = text
      val u = r.nextDouble()
      val lang = Langs(LangCum.indexWhere(u < _))
      Row(id.toLong, text, lang, s"src${id % 20}", text.length.toLong)
    }
  }

  /** Writes `dir/documents.parquet` as `files` parquet files. */
  def write(spark: SparkSession, p: Params, seed: Long, dir: String,
      files: Int): Unit = {
    val rdd = spark.sparkContext.parallelize(rows(p, seed), files)
    spark.createDataFrame(rdd, schema).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
  }
}
