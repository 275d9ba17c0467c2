package graft.model

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.immutable.ArraySeq

/** The interleaved-span data model (SURVEY.md §1.4, BASELINE.json input_hint).
  *
  * Input table: `(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)`
  * where kind ∈ {"text","pdf","ocr","html","image"} on input and
  * {"text","image","error"} on extracted output. `offset` is the 0-based
  * position of the span in the document's sequence.
  *
  * Mirrors the reference's single flattened `extracted_text` column
  * (reference models.py:35) re-structured as an ordered span sequence.
  */
case class Span(kind: String, text: String, media_ref: String, offset: Int)

case class Doc(doc_id: String, spans: Seq[Span])

object Schemas {
  /** THE span struct: every kernel input/output type derives from it. */
  val span: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("media_ref", StringType, nullable = true),
    StructField("offset", IntegerType, nullable = false)
  ))

  /** A document's span array, as the kernels produce it. */
  val spans: ArrayType = ArrayType(span, containsNull = false)

  val doc: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("spans", spans, nullable = false)
  ))

  /** Input span kinds routed by the dispatch operator (reference utils.py:208-233). */
  val knownKinds: Seq[String] = Seq("text", "pdf", "ocr", "html", "image")
}

/** The one conversion between a Catalyst `array<`[[Schemas.span]]`>` value
  * and plain-Scala spans, shared by every native kernel that reads or
  * writes spans. Field positions come from [[Schemas.span]], never from
  * hand-written ordinals.
  */
object SpanCodec {

  /** Plain-Scala span: (kind, text, media_ref, offset). */
  type S = (String, String, String, Int)

  val Kind: Int = Schemas.span.fieldIndex("kind")
  val Text: Int = Schemas.span.fieldIndex("text")
  val MediaRef: Int = Schemas.span.fieldIndex("media_ref")
  val Offset: Int = Schemas.span.fieldIndex("offset")
  private val Width = Schemas.span.length

  /** Span struct `i` of `arr`; null for a null element. */
  def span(arr: ArrayData, i: Int): InternalRow = arr.getStruct(i, Width)

  /** Indexed, so the kernels' positional run scans stay linear. */
  def decode(arr: ArrayData): IndexedSeq[S] = {
    val out = new Array[S](arr.numElements())
    var i = 0
    while (i < out.length) {
      val r = span(arr, i)
      out(i) = (str(r, Kind), str(r, Text), str(r, MediaRef), r.getInt(Offset))
      i += 1
    }
    ArraySeq.unsafeWrapArray(out)
  }

  def encode(spans: Seq[S]): ArrayData =
    new GenericArrayData(spans.map { case (k, t, m, o) =>
      val row = new Array[Any](Width)
      row(Kind) = utf8(k); row(Text) = utf8(t); row(MediaRef) = utf8(m); row(Offset) = o
      new GenericInternalRow(row)
    }.toArray[Any])

  private def str(r: InternalRow, i: Int): String =
    if (r.isNullAt(i)) null else r.getUTF8String(i).toString

  def utf8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)
}
