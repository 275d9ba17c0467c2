package graft.serve

import graft.Kernels
import graft.model.SpanCodec
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._

/** Single-pass counters over an extracted span array (round-6 twin of
  * [[graft.textops.WordStats]] for the serving surface): the status
  * projection's four metrics — span count, image count, error count,
  * summed text chars — in one traversal instead of four interpreted
  * HOF passes per row. Raw integers only; every downstream cast and
  * aggregate is unchanged, so oracle values are untouched (parity
  * pinned in SpanStatsSpec).
  */
object SpanStats {

  /** 1-based indices into the [[stats]] array. */
  val NSpans = 1
  val NImages = 2
  val NErrors = 3
  val TextChars = 4

  /** Column-op reference (the round-5 shape; parity-pinned). */
  def statsColumnar(spans: Column): Column = array(
    size(spans).cast("long"),
    size(filter(spans, s => s.getField("kind") === "image")).cast("long"),
    size(filter(spans, s => s.getField("kind") === "error")).cast("long"),
    aggregate(spans, lit(0L),
      (acc, s) => acc + coalesce(length(s.getField("text")), lit(0))))

  /** `span_stats(spans)`: the [[Kernels.SpanStats]] entry —
    * [n_spans, n_images, n_errors, text_chars]. `text_chars` counts
    * CODEPOINTS (Spark's `length`), null texts contributing 0. A null
    * span element counts toward n_spans only, as in [[statsColumnar]].
    */
  def span_stats(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    var images = 0L; var errors = 0L; var chars = 0L
    var i = 0
    while (i < n) {
      val row = SpanCodec.span(arr, i)
      if (row != null) {
        if (!row.isNullAt(SpanCodec.Kind)) {
          val k = row.getUTF8String(SpanCodec.Kind).toString
          if (k == "image") images += 1
          else if (k == "error") errors += 1
        }
        if (!row.isNullAt(SpanCodec.Text))
          chars += row.getUTF8String(SpanCodec.Text).numChars()
      }
      i += 1
    }
    new GenericArrayData(Array[Any](n.toLong, images, errors, chars))
  }

  def stats(spans: Column): Column = Kernels.SpanStats(spans)
}
