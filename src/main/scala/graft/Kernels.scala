package graft

import graft.model.Schemas
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

/** THE native-kernel registry. Every kernel is a static method on its
  * Scala object, named after the kernel (`ExtractKernel.extract_spans`,
  * `TextAnalysis.c4_doc`, ...), that takes and returns Catalyst's internal
  * values (`UTF8String`, `ArrayData`, `InternalRow`, primitives). A column
  * calls it through one `StaticInvoke`: whole-stage codegen emits a direct
  * static call, the interpreted path resolves the method once by
  * reflection, and plans print `static_invoke(<owner>.<name>(...))`.
  *
  * The kernels' `Column` helpers and the SQL surface
  * ([[GraftExtensions]]) are both derived from [[all]].
  */
object Kernels {

  /** One kernel: static method `name` on `owner` taking `args`, returning
    * `dataType`. `args` are also the implicit-cast input types, so a SQL
    * caller may pass a bare NULL or a narrower numeric type.
    * `propagateNull` = null in any argument gives null out without calling
    * the kernel; `returnNullable` = the kernel itself may return null.
    * `sql` = registered as a SQL function.
    */
  final case class Kernel(owner: Class[_], name: String, args: Seq[DataType],
      dataType: DataType, sql: Boolean = false, propagateNull: Boolean = true,
      returnNullable: Boolean = false) {

    def expr(children: Seq[Expression]): Expression = {
      require(children.length == args.length,
        s"$name expects ${args.length} arguments, got ${children.length}")
      StaticInvoke(owner, dataType, name, children, inputTypes = args,
        propagateNull = propagateNull, returnNullable = returnNullable)
    }

    def apply(children: Column*): Column =
      ColumnShim.column(expr(children.map(ColumnShim.expression)))
  }

  private val longs = ArrayType(LongType, containsNull = false)
  private val doubles = ArrayType(DoubleType)
  private val strings = ArrayType(StringType)
  private val seqType = ObjectType(classOf[IndexedSeq[_]])

  /** A plan-time constant handed to a kernel as-is (no per-row decode). */
  def constant(value: IndexedSeq[_]): Column = ColumnShim.column(Literal(value, seqType))

  val ExtractSpans = Kernel(extract.ExtractKernel.getClass, "extract_spans",
    Seq(Schemas.spans, StringType), Schemas.spans, sql = true)
  val SynthSpans = Kernel(synth.SynthKernel.getClass, "synth_spans",
    Seq(LongType, StringType), Schemas.spans, sql = true)
  val HtmlStrip = Kernel(extract.HtmlStrip.getClass, "html_strip", Seq(StringType),
    ArrayType(StructType(Schemas.span.fields.filterNot(_.name == "offset")),
      containsNull = false), sql = true)
  val ChunkSpans = Kernel(pipeline.SpanChunker.getClass, "chunk_spans",
    Seq(Schemas.spans, IntegerType), ArrayType(Schemas.spans, containsNull = false))
  val SpanStats = Kernel(serve.SpanStats.getClass, "span_stats", Seq(Schemas.spans), longs)

  val WordCount = Kernel(textops.WordStats.getClass, "word_count", Seq(StringType), LongType)
  val WordStats = Kernel(textops.WordStats.getClass, "word_stats", Seq(StringType), longs)
  val WordTf = Kernel(textops.WordStats.getClass, "word_tf", Seq(StringType),
    ArrayType(StructType(Seq(
      StructField("word", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))), containsNull = false))
  val TermCounts = Kernel(textops.WordStats.getClass, "term_counts",
    Seq(StringType, seqType), longs)

  val Jaccard = Kernel(textops.Jaccard.getClass, "jaccard", Seq(strings, strings),
    DoubleType, sql = true)
  val SimHash60 = Kernel(textops.SimHash.getClass, "simhash60", Seq(StringType), LongType,
    sql = true)
  val DotFold = Kernel(textops.Similarity.getClass, "dot_fold", Seq(doubles, doubles),
    DoubleType, returnNullable = true)
  val RhSignatures = Kernel(textops.Similarity.getClass, "rh_signatures",
    Seq(doubles, IntegerType, IntegerType), longs)

  val C4Doc = Kernel(textops.TextAnalysis.getClass, "c4_doc", Seq(LongType, StringType),
    StructType(Seq(
      StructField("lines", ArrayType(StringType, containsNull = false), nullable = false),
      StructField("kept", ArrayType(StringType, containsNull = false), nullable = false),
      StructField("page_keep", BooleanType, nullable = false))))
  val PiiScrub = Kernel(textops.TextAnalysis.getClass, "pii_scrub", Seq(StringType),
    StructType(Seq(
      StructField("clean_text", StringType, nullable = false),
      StructField("n_emails", IntegerType, nullable = false),
      StructField("n_ips", IntegerType, nullable = false),
      StructField("n_phones", IntegerType, nullable = false))))
  val RepetitionFracs = Kernel(textops.TextAnalysis.getClass, "repetition_fracs",
    Seq(StringType), ArrayType(DoubleType, containsNull = false), sql = true)
  val Fingerprint60 = Kernel(textops.TextAnalysis.getClass, "fingerprint60",
    Seq(StringType), LongType, sql = true)
  val GramHashes60 = Kernel(textops.TextAnalysis.getClass, "gram_hashes60",
    Seq(StringType), longs, sql = true)
  val NfcNormalize = Kernel(textops.TextAnalysis.getClass, "nfc_normalize",
    Seq(StringType), StringType, sql = true)

  val IvfAssign = Kernel(textops.Ivf.getClass, "ivf_assign", Seq(doubles, seqType),
    IntegerType)
  /** Null-tolerant: each null argument takes its cascade's null branch. */
  val FormatBestEffort = Kernel(textops.LlmFormat.getClass, "format_best_effort",
    Seq(StringType, StringType, StringType), StringType, sql = true,
    propagateNull = false, returnNullable = true)

  val all: Seq[Kernel] = Seq(ExtractSpans, SynthSpans, HtmlStrip,
    ChunkSpans, SpanStats, WordCount, WordStats, WordTf, TermCounts,
    Jaccard, SimHash60, DotFold, RhSignatures, C4Doc, PiiScrub,
    RepetitionFracs, Fingerprint60, GramHashes60, NfcNormalize, IvfAssign,
    FormatBestEffort)
}
