package graft

import graft.textops.{SimHash, TextAnalysis}
import org.scalatest.funsuite.AnyFunSuite

/** The SQL function surface: every native kernel callable from pure SQL
  * (registered via GraftExtensions.register / spark.sql.extensions).
  */
class GraftExtensionsSpec extends AnyFunSuite with SparkSpec {

  GraftExtensions.register(spark)

  test("simhash60 and fingerprint60 callable from SQL") {
    val r = spark.sql(
      "SELECT simhash60('a b c') AS s, fingerprint60('one two three four five six') AS f")
      .collect()(0)
    assert(r.getLong(0) === SimHash.simhash("a b c"))
    assert(r.getLong(1) === TextAnalysis.fingerprintScala("one two three four five six"))
  }

  test("gram_hashes60 and repetition_fracs callable from SQL") {
    val r = spark.sql(
      "SELECT gram_hashes60('one two three four five six') AS g, " +
        "repetition_fracs('a b a b a') AS rf")
      .collect()(0)
    assert(r.getSeq[Long](0).toSeq ===
      TextAnalysis.gramHashesScala("one two three four five six").toSeq)
    assert(r.getSeq[Double](1).toSeq ===
      TextAnalysis.repetitionScala("a b a b a").toSeq)
  }

  test("format_best_effort callable from SQL") {
    val r = spark.sql(
      """SELECT format_best_effort('name: acme, total: 2', '{"name": "", "total": ""}', NULL) AS x""")
      .collect()(0).getString(0)
    assert(r === """{"name": "acme", "total": "2"}""")
  }

  test("html_strip and extract_spans callable from SQL") {
    val html = "<html><body><div><p>some long enough paragraph of real text here</p></div></body></html>"
    val stripped = spark.sql(s"SELECT html_strip('$html') AS spans").collect()(0)
    assert(stripped.getSeq[Any](0).nonEmpty)
    val extracted = spark.sql(
      """SELECT extract_spans(
           array(named_struct('kind', 'text', 'text', ' hi ', 'media_ref', CAST(NULL AS STRING), 'offset', 0)),
           'doc-x') AS spans""").collect()(0)
    assert(extracted.getSeq[org.apache.spark.sql.Row](0).map(_.getString(1)) === Seq("hi"))
  }

  test("synth_spans callable from SQL matches the DataFrame path") {
    val viaSql = spark.sql(
      "SELECT synth_spans(CAST(7 AS BIGINT), 'alpha beta gamma') AS spans")
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    val direct = graft.synth.SynthKernel.synthDoc(7L, "alpha beta gamma")
    assert(viaSql.map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3)))
      === direct)
  }

  test("nfc_normalize callable from SQL, matches java.text.Normalizer") {
    val r = spark.sql("SELECT nfc_normalize('cafe\u0301') AS n").collect()(0).getString(0)
    assert(r === java.text.Normalizer.normalize(
      "cafe\u0301", java.text.Normalizer.Form.NFC))
    assert(r.length === 4) // composed: combining acute folded into the e
  }

  test("every SQL kernel resolves at its registry arity; null in gives null out") {
    val names = GraftExtensions.functions.map(_.name)
    assert(names.sorted === Seq("extract_spans", "fingerprint60", "format_best_effort",
      "gram_hashes60", "html_strip", "jaccard", "nfc_normalize", "repetition_fracs",
      "simhash60", "synth_spans"))
    GraftExtensions.functions.foreach { k =>
      def call(n: Int) = spark.sql(s"SELECT ${k.name}(${Seq.fill(n)("NULL").mkString(", ")}) AS r")
      val df = call(k.args.length)
      assert(df.schema.head.dataType === k.dataType, k.name)
      val r = df.collect()(0)
      // format_best_effort is the one null-tolerant kernel: a null
      // response still comes back null, a null template does not
      if (k.name != "format_best_effort") assert(r.isNullAt(0), k.name)
      intercept[Exception](call(k.args.length + 1).collect())
    }
    val fbe = spark.sql("SELECT format_best_effort('name: acme', NULL, NULL)")
      .collect()(0)
    assert(!fbe.isNullAt(0))
  }

  test("extensions class injects without error") {
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }
}
