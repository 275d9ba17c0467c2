package graft.perfbench

import graft.SparkEntry
import graft.extract.{ExtractKernel, Extractor, HtmlStrip}
import graft.pipeline.{ExtractPipeline, SkewSalter}
import graft.serve.Queries
import graft.synth.{SpanSynth, SynthKernel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** One benchmark run of one workload in this JVM.
  *
  * Usage: `graft.perfbench.Main --workload W --seed N --seconds S
  *   --trace 0|1 --work DIR --cores C --out FILE [--corpus DIR]
  *   [--min-iters K]`
  *
  * With `--corpus` the run reuses a corpus written by an earlier run (the
  * single-core level of `ingest`) and reports no set-up time. The result
  * goes to `--out` as one JSON object: raw timings, correctness counts,
  * the paths of outputs to check against the DuckDB oracles, the oracle
  * SQL itself, and (traced) the per-layer figures. `run.py` turns it into
  * the benchmark's metrics.
  */
object Main {

  case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, cores: Int, out: String, corpus: Option[String], minIters: Int)

  /** Per-workload corpus knobs; recorded in every result. */
  val Workloads: Map[String, Corpus.Params] = Map(
    "ingest" -> Corpus.Params(nDocs = 30000, exactDupFrac = 0.03,
      sharedParaFrac = 0.10),
    "skew_resume" -> Corpus.Params(nDocs = 3000, nHeavy = 8,
      heavyMinSpans = 9000, heavyMaxSpans = 9400, nGiantHtml = 2,
      giantWords = 30000))

  /** The curation suite runs in traced runs over the light docs among
    * the first `CurateDocs` ids of the workload's corpus.
    */
  val CurateDocs = 300
  val CurateSuite: Seq[String] = Seq("corpus_curate", "corpus_clean",
    "corpus_build", "corpus_dsir", "corpus_ppl_buckets", "dedup_containment",
    "dedup_passages", "dedup_paragraphs", "text_tfidf_keywords",
    "text_search_bm25", "corpus_decontam")

  val ShufflePartitions = 8
  val InputFiles = 4
  val NumBuckets = 32
  /** Set-ups per run. The first is JVM-cold and never the median. */
  val SetupRepeats = 5
  /** Timed iterations per untraced run, at least: the median of 3 drops
    * one outlier.
    */
  val MinIters = 3
  /** Untraced and traced iterations of a traced run, at least. */
  val TracedIters = 2
  /** Point lookups and queue scans per traced run. */
  val Lookups = 12
  val QueueScans = 2
  val AbsentFrac = 0.10

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"), m("cores").toInt, m("out"),
      m.get("corpus"), m.get("min-iters").fold(MinIters)(_.toInt))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.files.minPartitionNum", InputFiles.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val o = parse(args)
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    val spark = session(o.cores, o.work)
    try {
      val res = new Run(spark, o).result()
      Files.writeString(Paths.get(o.out), Json(res))
    } finally spark.stop()
  }
}

/** Minimal JSON writer for the result map. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

object ScanMetrics extends AdaptiveSparkPlanHelper {
  /** (files, rows) read by the file scans of an executed query. */
  def apply(df: DataFrame): (Long, Long) = {
    val scans = collect(df.queryExecution.executedPlan) {
      case p: SparkPlan if p.nodeName.startsWith("Scan") => p
    }
    def sum(name: String) = scans.flatMap(_.metrics.get(name)).map(_.value).sum
    (sum("numFiles"), sum("numOutputRows"))
  }
}

class Run(spark: SparkSession, o: Main.Opts) {
  import Main._

  private val params = Workloads(o.workload)
  private val counters = new Counters(spark.sparkContext)
  private val tracer = new Tracer(counters)
  private def span[T](name: String)(f: => T): T = tracer.span(name)(f)

  private val out = mutable.LinkedHashMap.empty[String, Any]
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private var attempted = 0
  private var failed = 0
  private val failures = mutable.ArrayBuffer.empty[String]

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def timedMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, ms(t0))
  }

  private var warming = false

  /** Counts one operation; a thrown error or a failed check fails it.
    * Warm-up calls are neither counted nor checked.
    */
  private def op(what: String)(f: => Boolean): Boolean = {
    if (warming) return { f; true }
    attempted += 1
    val ok = try f catch {
      case e: Exception =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        false
    }
    if (!ok) {
      failed += 1
      if (!failures.exists(_.startsWith(what))) failures += s"$what: check failed"
    }
    ok
  }

  /** Forces every output column, as `graft.Bench` does. */
  private def force(df: DataFrame): Unit = {
    df.select(max(xxhash64(struct(df.columns.map(col): _*)))).collect()
    ()
  }

  private def textBytes: org.apache.spark.sql.Column =
    expr("aggregate(spans, 0L, (acc, s) -> acc + coalesce(octet_length(s.text), 0))")

  private def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val all = Files.walk(root)
      try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally all.close()
    }
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val all = Files.walk(src)
    try all.forEach { f =>
      val dst = Paths.get(to).resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst) else Files.copy(f, dst)
    } finally all.close()
  }

  private def treeStats(p: String, onlyParquet: Boolean): (Long, Long) = {
    val root = Paths.get(p)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val all = Files.walk(root)
      try {
        val files = all.filter(f => Files.isRegularFile(f)).toArray.map(_.asInstanceOf[Path])
          .filter(f => !onlyParquet || f.getFileName.toString.endsWith(".parquet"))
        (files.length.toLong, files.map(f => Files.size(f)).sum)
      } finally all.close()
    }
  }

  private def storeBytes(store: String): Long =
    Seq("data", "_checkpoints", "_lineage")
      .map(d => treeStats(s"$store/$d", onlyParquet = false)._2).sum

  // ------------------------------------------------------------------ set-up

  /** A generated corpus and its cached span table; on `skew_resume` also
    * the half-done store, the buckets left to resume, and the ids and span
    * hashes (from the unsalted `Extractor.extract`) of the heavy and giant
    * docs.
    */
  case class Setup(dir: String, spans: DataFrame, nSpans: Long,
      inputTextBytes: Long, store: Option[String] = None,
      resumeHalf: Seq[Int] = Nil, bigHashes: Map[String, Long] = Map.empty)

  private val synthMs = mutable.ArrayBuffer.empty[Double]

  private def materializeSpans(dir: String): (DataFrame, Long, Long) = {
    val spans = SpanSynth.docsInput(spark, dir).persist(StorageLevel.MEMORY_AND_DISK)
    val (r, t) = timedMs(span("synth") {
      spans.select(sum(size(col("spans"))), sum(textBytes)).collect()(0)
    })
    synthMs += t
    (spans, r.getLong(0), r.getLong(1))
  }

  /** Heavy docs and giant single-span pages. */
  private def bigDocs(spans: DataFrame): DataFrame =
    spans.where(size(col("spans")) > SkewSalter.DefaultHeavyThreshold ||
      textBytes > 100000L)

  /** Buckets of the heavy and giant docs stay out of the pre-populated
    * half, so every resume does the skew work whatever the seed.
    */
  private def resumeHalf(spans: DataFrame): Seq[Int] = {
    val big = bigDocs(spans)
      .select(ExtractPipeline.bucketColOf(col("doc_id"), NumBuckets))
      .distinct().collect().map(_.getInt(0)).toSet
    (0 until NumBuckets).filterNot(big).take(NumBuckets / 2)
  }

  private def setupOnce(k: Int): Setup = {
    val dir = s"${o.work}/setup$k"
    span("setup") {
      span("synth.generate") { Corpus.write(spark, params, o.seed, dir, InputFiles) }
      val (spans, nSpans, bytes) = materializeSpans(dir)
      Setup(dir, spans, nSpans, bytes)
    }
  }

  /** The half-done store of `skew_resume`: a run over half the buckets.
    * It is made once, after the set-ups, and timed apart from them
    * (`prepopulate_s`): it is a fresh `ExtractPipeline.run`, the call that
    * `ingest` times.
    */
  private def prepopulate(s: Setup): Setup = {
    val half = resumeHalf(s.spans)
    val store = s"${s.dir}/half_store"
    val (_, t) = timedMs(span("pipeline.run_setup") {
      ExtractPipeline.run(spark,
        s.spans.where(ExtractPipeline.bucketColOf(col("doc_id"), NumBuckets)
          .isin(half: _*)),
        ExtractPipeline.Config(store, "half", numBuckets = NumBuckets))
    })
    out("prepopulate_s") = t / 1000.0
    s.copy(store = Some(store), resumeHalf = half,
      bigHashes = spanHashes(Extractor.extract(bigDocs(s.spans))))
  }

  /** Set-up `SetupRepeats` times (median reported), keeping the last. */
  private def setup(): Setup = o.corpus match {
    case Some(dir) =>
      val (spans, n, b) = materializeSpans(dir)
      Setup(dir, spans, n, b)
    case None =>
      var last: Setup = null
      val secs = (1 to SetupRepeats).map { k =>
        if (last != null) {
          last.spans.unpersist(blocking = true)
          deleteTree(last.dir)
        }
        val (s, t) = timedMs(setupOnce(k))
        last = s
        t / 1000.0
      }
      out("setup_s") = secs
      if (o.workload == "skew_resume") prepopulate(last) else last
  }

  // --------------------------------------------------------------- checks

  /** `verifyCheckpoints` and `staleCheckpoints` must both be empty. */
  private def checkpointsClean(store: String): Boolean = warming || {
    val (bad, vms) = timedMs(span("pipeline.verify_ckpt") {
      ExtractPipeline.verifyCheckpoints(spark, store).collect().length
    })
    val stale = ExtractPipeline.staleCheckpoints(spark, store, 0.0).collect().length
    verifyMs += vms
    if (bad + stale > 0) failures += s"$store: $bad bad and $stale stale checkpoint rows"
    bad + stale == 0
  }

  private val verifyMs = mutable.ArrayBuffer.empty[Double]
  private val doneBucketsMs = mutable.ArrayBuffer.empty[Double]

  private def timeDoneBuckets(store: String): Unit =
    doneBucketsMs += timedMs(span("pipeline.done_buckets") {
      ExtractPipeline.doneBuckets(spark, store, "extract")
    })._2

  // ------------------------------------------------------------ workloads

  /** Loops `body(i)` until `seconds` have passed (at least `minIters`).
    * A traced run alternates iterations with tracing off and on, so both
    * halves see the same warm-up.
    */
  private def loop(seconds: Double, minIters: Int)(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    val traced = o.trace && !warming
    val least = if (traced) 2 * TracedIters else minIters
    var i = 0
    while (i < least || (System.nanoTime() - t0) / 1e9 < seconds) {
      tracer.iteration += 1
      tracer.enabled = traced && i % 2 == 1
      body(i)
      i += 1
    }
    tracer.enabled = traced
  }

  // timings of the untraced and the traced iterations, and the task CPU
  // seconds of the untraced timed calls
  private val callMs, auxMs, tracedCallMs, tracedAuxMs, callCpuS =
    mutable.ArrayBuffer.empty[Double]
  private val stores = mutable.ArrayBuffer.empty[String]
  private def call(t: Double, c: Counts): Unit =
    if (tracer.enabled) tracedCallMs += t
    else { callMs += t; callCpuS += c.cpuNs / 1e9 }
  private def aux(t: Double): Unit = (if (tracer.enabled) tracedAuxMs else auxMs) += t

  /** A pipeline run, its wall time, and its Spark counters (read outside
    * the timed interval).
    */
  private def runPipeline(store: String, runId: String, input: DataFrame,
      spanName: String): (ExtractPipeline.RunReport, Double, Counts) = {
    val start = counters.read()
    val (rep, t) = timedMs(span(spanName) {
      ExtractPipeline.run(spark, input,
        ExtractPipeline.Config(store, runId, numBuckets = NumBuckets))
    })
    (rep, t, counters.since(start))
  }

  private def ingest(s: Setup, seconds: Double, tag: String, minIters: Int): Unit = {
    val spans = s.spans
    loop(seconds, minIters) { i =>
      val store = s"${o.work}/ingest/$tag-$i"
      op(s"fresh run $tag-$i") {
        val (rep, t, c) = runPipeline(store, s"fresh-$i", spans, "pipeline.run")
        call(t, c)
        rep.docsProcessed == params.nDocs && rep.bucketsDone == 0
      }
      // the no-op re-run adds no checkpoint rows, so the check after it
      // covers the fresh run's checkpoints too
      op(s"no-op re-run $tag-$i") {
        val (rep, t, _) = runPipeline(store, s"noop-$i", spans, "pipeline.run_noop")
        aux(t)
        rep.docsProcessed == 0 && rep.bucketsDone == NumBuckets &&
          checkpointsClean(store)
      }
      if (tracer.enabled) timeDoneBuckets(store)
      stores += store
    }
  }

  private def spanHashes(df: DataFrame): Map[String, Long] =
    df.select(col("doc_id"), xxhash64(col("spans")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Heavy and giant docs: the DuckDB oracle repeats a doc's word list on
    * every span row, so it cannot run on them; their stored spans are
    * checked against the unsalted kernel path (`Extractor.extract`).
    */
  private def bigDocsMatch(store: String, s: Setup): Boolean = warming || {
    val want = s.bigHashes
    val got = spanHashes(spark.read.parquet(s"$store/data")
      .where(col("doc_id").isin(want.keys.toSeq: _*)))
    if (got != want) failures += s"$store: big docs differ from Extractor.extract"
    want.nonEmpty && got == want
  }

  private def skewResume(s: Setup, seconds: Double, tag: String, minIters: Int): Unit = {
    val spans = s.spans
    val resumed = spans.where(!ExtractPipeline.bucketColOf(col("doc_id"), NumBuckets)
      .isin(s.resumeHalf: _*)).count()
    out("resumed_docs") = resumed
    loop(seconds, minIters) { i =>
      val store = s"${o.work}/skew/$tag-$i"
      copyTree(s.store.get, store)
      op(s"resume $tag-$i") {
        val (rep, t, c) = runPipeline(store, s"resume-$i", spans, "pipeline.run")
        call(t, c)
        rep.docsProcessed == resumed && rep.bucketsDone == s.resumeHalf.size &&
          bigDocsMatch(store, s)
      }
      // as in `ingest`, one checkpoint check after the no-op re-run
      op(s"no-op re-run $tag-$i") {
        val (rep, t, _) = runPipeline(store, s"noop-$i", spans, "pipeline.run_noop")
        aux(t)
        rep.docsProcessed == 0 && checkpointsClean(store)
      }
      if (tracer.enabled) timeDoneBuckets(store)
      stores += store
    }
  }

  private val lookupIds = mutable.ArrayBuffer.empty[String]
  private val lookupRows = mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
  private val lookupScan = mutable.ArrayBuffer.empty[(Long, Long)]
  private val lookupMs = mutable.ArrayBuffer.empty[Double]

  /** A uniform stored id (heavy and giant docs excluded: the DuckDB
    * oracle does not cover them), or with `AbsentFrac` an absent one.
    */
  private def lookupId(r: java.util.SplittableRandom, big: Map[String, Long]): String = {
    val n = params.nDocs
    val id =
      if (r.nextDouble() < AbsentFrac) f"doc-${n + r.nextInt(n)}%08d"
      else f"doc-${r.nextInt(n)}%08d"
    if (big.contains(id)) lookupId(r, big) else id
  }

  private val curateOut = mutable.LinkedHashMap.empty[String, String]

  /** One memo-cold pass of the curation suite: each query in its own
    * fresh session (the memo tables key on session identity), with the
    * call that builds the query and the forcing action timed together,
    * since some of those calls run eager jobs. The same session then writes the query's
    * output (memo-warm) for the oracle check.
    */
  private def curateProbe(corpusDir: String): Unit = {
    val dir = s"${o.work}/curate_corpus"
    spark.read.parquet(s"$corpusDir/documents.parquet")
      .where(col("doc_id") < CurateDocs && col("n_chars") <= 2000)
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    var cold, warm = 0.0
    for (q <- CurateSuite) op(s"curate $q") {
      val fn = SparkEntry.queries(q)
      val sess = spark.newSession()
      cold += timedMs(span(s"curate.$q") { force(fn(sess, dir)) })._2
      val outDir = s"${o.work}/curate_out/$q"
      warm += timedMs(span(s"curate_write.$q") { fn(sess, dir).write.parquet(outDir) })._2
      curateOut(q) = outDir
      true
    }
    layer("curate.suite_s") = cold / 1000.0
    layer("curate.suite_write_s") = warm / 1000.0
    out("curate_corpus") = dir
    out("curate_out") = curateOut
    out("curate_sql") = CurateSuite.map(q => q -> SparkEntry.oracleSql(q)).toMap
  }

  private def runLoop(s: Setup, seconds: Double, tag: String, minIters: Int): Unit =
    o.workload match {
      case "ingest" => ingest(s, seconds, tag, minIters)
      case "skew_resume" => skewResume(s, seconds, tag, minIters)
    }

  /** Untimed, unchecked iterations before timing, so JIT, codegen and file
    * caches are warm. Each workload makes two `ExtractPipeline.run` calls
    * before its timed loop; on `skew_resume` the store pre-population is
    * the first of them. The single-core JVM of a traced `ingest` run
    * (`--corpus`), which only gives the base of the scaling figure, makes
    * one, to keep the traced run within its time limit.
    */
  private def warmUp(s: Setup): Unit = {
    tracer.enabled = false
    warming = true
    runLoop(s, 0.0, "warmup", if (s.store.isDefined || o.corpus.isDefined) 1 else 2)
    warming = false
    stores.foreach(deleteTree)
    Seq(callMs, auxMs, tracedCallMs, tracedAuxMs, callCpuS, stores, doneBucketsMs)
      .foreach(_.clear())
    tracer.enabled = o.trace
  }

  // -------------------------------------------------------------- probes

  /** Spark-free kernel figures over the workload's own corpus. */
  private def kernelProbe(): Unit = {
    val rows = Corpus.rows(params, o.seed)
    val docs = rows.take(4000).map(r => (r.getLong(0), r.getString(1)))
      .map { case (did, text) =>
        (f"doc-$did%08d", SynthKernel.synthDoc(did, text))
      }
    val nIn = docs.map(_._2.length.toLong).sum
    def pass(slice: Seq[(String, Seq[ExtractKernel.S])]): Long =
      slice.map { case (id, sp) => ExtractKernel.extractDoc(id, sp).length.toLong }.sum
    def timeIt(minMs: Double)(f: => Unit): Double = { // ns per call
      var n = 0
      val t0 = System.nanoTime()
      while (n < 2 || ms(t0) < minMs) { f; n += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    pass(docs.toSeq) // JIT
    val ns1 = timeIt(400) { pass(docs.toSeq) }
    layer("extract.kernel_ns_per_span") = ns1 / nIn
    val html = docs.flatMap(_._2).filter(_._1 == "html").map(_._2).filter(_ != null)
      .filter(_.nonEmpty).take(2000).toSeq
    val htmlChars = html.map(_.length.toLong).sum
    html.foreach(HtmlStrip.strip)
    layer("extract.html_ns_per_char") =
      if (htmlChars == 0) 0.0 else timeIt(300) { html.foreach(HtmlStrip.strip) } / htmlChars
    // 1 vs 4 kernel threads over the same in-memory docs
    val slices = docs.toSeq.grouped((docs.length + 3) / 4).toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val ns4 = timeIt(400) {
        slices.map(sl => pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = pass(sl)
        })).foreach(_.get())
      }
      layer("extract.kernel_spans_per_s_1t") = nIn / (ns1 / 1e9)
      layer("extract.kernel_spans_per_s_4t") = nIn / (ns4 / 1e9)
      layer("extract.scaling_eff_1v4") = (ns1 / ns4) / 4.0
    } finally pool.shutdown()
  }

  private def extractProbe(s: Setup, spans: DataFrame): Unit = {
    val (r, t) = timedMs(span("extract") {
      Extractor.extract(spans).select(sum(size(col("spans")))).collect()(0).getLong(0)
    })
    layer("synth.spans") = s.nSpans
    layer("extract.s") = t / 1000.0
    layer("extract.spans_in") = s.nSpans
    layer("extract.spans_out") = r
    val heavy = spans.where(size(col("spans")) > SkewSalter.DefaultHeavyThreshold)
    val h = heavy.select(count(lit(1)), coalesce(sum(size(col("spans"))), lit(0L)))
      .collect()(0)
    layer("skew.heavy_docs") = h.getLong(0)
    layer("skew.heavy_spans_frac") = h.getLong(1).toDouble / s.nSpans
    val ((_, c), ts) = timedMs(counters.measure(span("skew.extract") {
      SkewSalter.extract(heavy).select(sum(size(col("spans")))).collect()
    }))
    layer("skew.extract_s") = ts / 1000.0
    layer("skew.shuffle_bytes") = c.shuffleWriteBytes
    layer("skew.task_max_over_p50") =
      if (c.taskP50Ms > 0) c.taskMaxMs / c.taskP50Ms else 0.0
  }

  /** Point lookups and queue scans over the last store, each checked
    * by `run.py` against `ExtractOracle.lookupSql` / `queueSql`.
    */
  private def serveProbe(s: Setup, store: String): Unit = {
    val r = new java.util.SplittableRandom(o.seed)
    val nb = (1 to 5).map(_ => timedMs(span("serve.stored_num_buckets") {
      Queries.storedNumBuckets(spark, store)
    })._2)
    val bo = (1 to 5).map(_ => timedMs(span("serve.bucket_of") {
      Queries.bucketOf(spark, lookupId(r, s.bigHashes), NumBuckets)
    })._2)
    layer("serve.stored_num_buckets_ms") = Stats.median(nb)
    layer("serve.bucket_of_ms") = Stats.median(bo)
    val lookups = (1 to Lookups).map { _ =>
      val id = lookupId(r, s.bigHashes)
      var scan = (0L, 0L)
      op(s"lookup $id") {
        val (rows, t) = timedMs(span("serve.lookup") {
          val df = Queries.lookupFrom(spark, store, id)
          val rows = df.collect()
          scan = ScanMetrics(df)
          rows
        })
        lookupIds += id
        lookupRows += rows.toSeq.map(_.toSeq)
        lookupScan += scan
        lookupMs += t
        true
      }
    }
    val queue = (1 to QueueScans).map { _ =>
      timedMs(span("serve.queue") { force(Queries.queueFrom(spark, store)) })._2
    }
    layer("serve.lookup_p50_ms") = Stats.median(lookupMs.toSeq)
    layer("serve.queue_scan_s") = Stats.median(queue) / 1000.0
    layer("serve.lookup_jobs") =
      Stats.median(tracer.named("serve.lookup").map(_.counts.jobs.toDouble))
    layer("serve.files_read_per_lookup") = Stats.median(lookupScan.map(_._1.toDouble).toSeq)
    layer("serve.rows_read_per_lookup") = Stats.median(lookupScan.map(_._2.toDouble).toSeq)
    layer("serve.queue_jobs") =
      Stats.median(tracer.named("serve.queue").map(_.counts.jobs.toDouble))
    val qdir = s"${o.work}/queue_out"
    Queries.queueFrom(spark, store).write.parquet(qdir)
    out("queue_out") = qdir
    out("lookups") = lookupIds.zip(lookupRows).map { case (id, rows) =>
      Map("id" -> id, "rows" -> rows)
    }.toSeq
    out("lookup_ms") = lookupMs.toSeq
    out("lookup_sql") = graft.verify.ExtractOracle.lookupSql("__ID__")
    out("queue_sql") = graft.verify.ExtractOracle.queueSql
  }

  private def pipelineLayer(s: Setup, store: String): Unit = {
    val runs = tracer.named("pipeline.run") match {
      case Seq() => tracer.named("pipeline.run_setup")
      case xs => xs
    }
    def med(f: Counts => Double) = Stats.median(runs.map(r => f(r.counts)))
    layer("pipeline.jobs") = med(_.jobs.toDouble)
    layer("pipeline.stages") = med(_.stages.toDouble)
    layer("pipeline.tasks") = med(_.tasks.toDouble)
    layer("pipeline.executor_cpu_s") = med(_.cpuNs / 1e9)
    layer("pipeline.shuffle_write_bytes") = med(_.shuffleWriteBytes.toDouble)
    layer("pipeline.spill_bytes") = med(_.spillBytes.toDouble)
    layer("pipeline.task_p50_ms") = med(_.taskP50Ms)
    layer("pipeline.task_max_ms") = med(_.taskMaxMs)
    layer("pipeline.data_files") = treeStats(s"$store/data", onlyParquet = true)._1
    layer("pipeline.ckpt_files") = treeStats(s"$store/_checkpoints", onlyParquet = true)._1
    if (doneBucketsMs.isEmpty) timeDoneBuckets(store)
    if (verifyMs.isEmpty) checkpointsClean(store)
    layer("pipeline.done_buckets_s") = Stats.median(doneBucketsMs.toSeq) / 1000.0
    layer("pipeline.verify_ckpt_s") = Stats.median(verifyMs.toSeq) / 1000.0
    layer("pipeline.store_bytes_per_input_byte") =
      storeBytes(store).toDouble / s.inputTextBytes
  }

  private def curateLayer(): Unit =
    for (q <- CurateSuite) {
      val cold = tracer.named(s"curate.$q")
      layer(s"curate.${q}_s") = Stats.median(cold.map(c => (c.endNs - c.startNs) / 1e9))
      layer(s"curate.${q}_jobs") = Stats.median(cold.map(_.counts.jobs.toDouble))
      layer(s"curate.${q}_shuffle_bytes") =
        Stats.median(cold.map(_.counts.shuffleWriteBytes.toDouble))
    }

  /** Every layer figure of a traced run. */
  private def layers(s: Setup): Unit = {
    val untraced = Stats.median(callMs.toSeq)
    val traced = Stats.median(tracedCallMs.toSeq)
    layer("trace.untraced_call_ms") = untraced
    layer("trace.traced_call_ms") = traced
    layer("trace.overhead_frac") = traced / untraced - 1.0
    layer("trace.aux_overhead_frac") =
      Stats.median(tracedAuxMs.toSeq) / Stats.median(auxMs.toSeq) - 1.0

    kernelProbe()
    layer("synth.s") = Stats.median(synthMs.toSeq) / 1000.0
    extractProbe(s, s.spans)
    val store = stores.lastOption.orElse(s.store).get
    pipelineLayer(s, store)
    serveProbe(s, store)
    curateProbe(s.dir)
    curateLayer()
  }

  private val phases = mutable.LinkedHashMap.empty[String, Double]
  private def phase[T](name: String)(f: => T): T = {
    val (r, t) = timedMs(f)
    phases(name) = t / 1000.0
    r
  }

  def result(): mutable.LinkedHashMap[String, Any] = {
    tracer.enabled = o.trace
    val s = phase("setup")(setup())
    phase("warmup")(warmUp(s))
    phase("timed")(runLoop(s, o.seconds, "timed", o.minIters))
    out("call_ms") = callMs.toSeq
    out("aux_ms") = auxMs.toSeq
    out("call_cpu_s") = callCpuS.toSeq
    if (o.trace) {
      phase("layers")(layers(s))
      out("layer") = layer
      out("spans") = tracer.spans.map(tracer.json)
      out("self_s") = tracer.spans.groupBy(_.name).map { case (n, xs) =>
        n -> xs.map(tracer.selfNs).sum / 1e9
      }
    }
    // outputs for the oracle checks in run.py
    out("corpus_dir") = s.dir
    out("stores") = stores.toSeq
    out("n_docs") = params.nDocs
    out("input_text_bytes") = s.inputTextBytes
    out("store_bytes") = stores.lastOption.orElse(s.store).map(storeBytes).getOrElse(0L)
    out("phase_s") = phases
    out("extract_sql") = graft.verify.ExtractOracle.sql(None)
    out("attempted") = attempted
    out("failed") = failed
    out("failures") = failures.toSeq
    out("params") = params.productElementNames.zip(params.productIterator).toMap
    out("record") = Map(
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "master" -> spark.sparkContext.master,
      "cores" -> o.cores,
      "conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.default")
      })
    out("peak_rss_mb") = peakRssMb()
    out
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
