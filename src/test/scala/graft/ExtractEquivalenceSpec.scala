package graft

import graft.extract.Extractor
import graft.synth.SpanSynth
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native [[graft.extract.ExtractKernel.extract_spans]] kernel and the pure
  * column-op implementation ([[Extractor.extractColumnar]]) must agree
  * span-for-span; and the pipeline must be deterministic under
  * repartitioning (SURVEY.md §5.2 items 3-4: determinism across partition
  * counts).
  */
class ExtractEquivalenceSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def flat(df: org.apache.spark.sql.DataFrame) = df
    .select(col("doc_id"), explode(col("spans")).as("s"))
    .select(col("doc_id"), col("s.kind"), col("s.text"), col("s.media_ref"), col("s.offset"))
    .orderBy(col("doc_id"), col("offset"))
    .collect()
    .toSeq

  test("native kernel == columnar reference implementation (sampled docs)") {
    // columnar HOF tree is interpreted and slow — sample a slice covering
    // all 5 document classes plus the sentinel/dead-letter modulo paths
    val in = SpanSynth.docsInput(spark, sfDir)
      .where(substring(col("doc_id"), 5, 8).cast("long") < 120)
      .cache()
    try {
      assert(flat(Extractor.extract(in)) === flat(Extractor.extractColumnar(in)))
    } finally in.unpersist()
  }

  test("native synth kernel == columnar synth (full sf0.001)") {
    val docs = SpanSynth.loadDocuments(spark, sfDir).cache()
    try {
      assert(flat(SpanSynth.synth(docs)) === flat(SpanSynth.synthColumnar(docs)))
    } finally docs.unpersist()
  }

  test("extraction result invariant under repartition") {
    val in = SpanSynth.docsInput(spark, sfDir)
      .where(substring(col("doc_id"), 5, 8).cast("long") < 200)
    val a = flat(Extractor.extract(in.repartition(1)))
    val b = flat(Extractor.extract(in.repartition(7)))
    assert(a === b)
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
