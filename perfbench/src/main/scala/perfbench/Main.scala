package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.operators._
import graft.sources.Tables
import scala.collection.mutable

/** Runs one workload against graft's public operator functions and writes
  * its raw measurements as JSON; `run.py` generates the inputs, launches
  * this, checks the outputs against the DuckDB oracle and prints the result.
  *
  * Usage: Main <workload> <inputDir> <workDir> <seconds> <trace 0|1> <result.json>
  *
  * A run: build the session, do the workload's one-time work once, one cold
  * pass, then warm passes for `seconds` (at least [[MinWarm]]). Warm passes
  * materialize every call's DataFrame to the `noop` sink, as `graft.Bench`
  * does; the cold pass writes each checked call's output as parquet for the
  * oracle instead.
  *
  * With tracing on, a `SparkListener` counts jobs, stages, tasks, task CPU and
  * shuffle bytes, and every call becomes a span. Warm passes then alternate
  * between traced and untraced, so the tracing overhead is measured inside the
  * same run.
  */
object Main {

  /** Fewest warm passes a run reports. */
  val MinWarm = 1

  /** One call into a graft layer; `oracle` names the registered query whose
    * oracle SQL its output is compared with.
    */
  final case class Call(layer: String, fn: String, oracle: Option[String],
      run: () => Option[DataFrame])

  /** A pass's own span, its calls' spans, the process CPU it used, and
    * whether the listener was on.
    */
  final case class Pass(span: Span, calls: Seq[Span], cpuS: Double, tracedPass: Boolean)

  abstract class Workload(val name: String) {
    def setup: Seq[Call] = Nil
    /** Untimed preparation before pass `i` (store restores). */
    def prepare(i: Int): Unit = ()
    def pass(i: Int): Seq[Call]
    /** Bytes the workload keeps on disk after pass `i`. */
    def storeBytes(i: Int): Long = 0L
  }

  private def q(spark: SparkSession, dir: String, layer: String, fn: String,
      f: (SparkSession, String) => DataFrame): Call =
    Call(layer, fn, Some(fn), () => Some(f(spark, dir)))

  /** The reference's form pipeline over a corpus: one call per layer. */
  final class FormEtl(spark: SparkSession, dir: String) extends Workload("form_etl") {
    private val calls = Seq(
      q(spark, dir, "Ingestion", "ingest_blocks", Ingestion.ingestBlocks),
      q(spark, dir, "Layout", "clause_graph", Layout.clauseGraph),
      q(spark, dir, "SchemaExtract", "extract_fields_nda", SchemaExtract.extractFieldsNda),
      q(spark, dir, "Validation", "form_field_validate", Validation.formFieldValidate),
      q(spark, dir, "Orchestrator", "pipeline_output", Orchestrator.pipelineOutput),
      q(spark, dir, "Evaluation", "evaluate_extraction", Evaluation.evaluateExtraction))
    def pass(i: Int): Seq[Call] = calls
  }

  /** Training-set curation from scratch, then one crawl applied to stored
    * artifacts of fixed size. Curation: a quality filter, a MinHash dedup
    * lane, containment dedup and a classifier trained and applied in the
    * same plan. The crawl is the registered incremental queries' own carve,
    * `doc_id % Dedup.DeltaIdMod == 0`. Setup writes the unified dedup, SBO
    * and NB stores from the rest and a hybrid (IVF-PQ plus BM25 postings)
    * store from the whole corpus. A pass appends the crawl to the NB counts,
    * scores from them, and queries the hybrid store.
    */
  final class CurateStore(spark: SparkSession, dir: String, work: Path)
      extends Workload("curate_store") {
    private val all = Tables.documents(spark, dir)
    private val embs = Tables.embeddings(spark, dir)
    private val isCrawl = col("doc_id") % Dedup.DeltaIdMod === 0
    private val crawl = all.filter(isCrawl)
    private val base = work.resolve("base")
    // the store a pass advances, restored before each pass; the others are
    // only read after setup
    private val advanced = "nb"
    private val hybrid = base.resolve("hybrid").toString
    private def live(i: Int) = work.resolve(s"pass-$i")

    override def setup: Seq[Call] = {
      val root = base.toString
      val baseDocs = all.filter(!isCrawl)
      def w(layer: String, fn: String)(f: => Unit) = Call(layer, fn, None, () => { f; None })
      Seq(
        w("UnifiedDedupStore", "write")(UnifiedDedupStore.write(baseDocs,
          embs.filter(col("vec_id") % Dedup.DeltaIdMod =!= 0), s"$root/unified")),
        w("LmIndex", "writeSboDocs")(LmIndex.writeSboDocs(baseDocs, s"$root/sbo")),
        w("NbIndex", "writeNbDocs")(NbIndex.writeNbDocs(baseDocs, s"$root/nb", "words")),
        w("AnnIndex", "writeIvfPq")(AnnIndex.writeIvfPq(spark, dir, s"$hybrid/ivfpq")),
        w("PostingsIndex", "writePostings")(
          PostingsIndex.writePostings(spark, dir, s"$hybrid/lex")))
    }

    // A fresh path per pass: Spark caches file listings, so a store restored
    // into a path an earlier pass read fails with FAILED_READ_FILE.FILE_NOT_EXIST.
    override def prepare(i: Int): Unit = {
      Fs.copyTree(base.resolve(advanced), live(i).resolve(advanced))
      if (i > 1) Fs.deleteTree(live(i - 2))
    }

    private val curation = Seq(
      q(spark, dir, "Curation", "quality_filter", Curation.qualityFilter),
      q(spark, dir, "Dedup", "dedup_minhash_lsh", Dedup.dedupMinhashLsh),
      q(spark, dir, "TextAnalysis", "dedup_winnow_contain", TextAnalysis.dedupWinnowContain),
      q(spark, dir, "Classify", "nb_classify", Classify.nbClassify))

    def pass(i: Int): Seq[Call] = {
      val p = live(i).toString
      curation ++ Seq(
        Call("NbIndex", "appendToNb", None,
          () => { NbIndex.appendToNb(spark, s"$p/nb", crawl); None }),
        // scored on nb_classify's eval slice and joined with its labels, as
        // the registered query does
        Call("NbIndex", "nbScoreFrom", Some("nb_classify_incr"), () => {
          val evalDocs = all.filter(col("doc_id") % Classify.NbEvalMod === 0)
          Some(NbIndex.nbScoreFrom(spark, s"$p/nb", evalDocs)
            .join(evalDocs.select("doc_id", "lang"), "doc_id")
            .select(col("doc_id"), col("lang"), col("pred_lang"),
              when(col("lang") === col("pred_lang"), 1).otherwise(0).as("correct")))
        }),
        Call("Similarity", "hybridSearchRrfStoredFrom", Some("hybrid_search_rrf_stored"),
          () => Some(Similarity.hybridSearchRrfStoredFrom(spark, hybrid, all, embs))))
    }

    override def storeBytes(i: Int): Long = Fs.treeBytes(base) + Fs.treeBytes(live(i))
  }

  def main(args: Array[String]): Unit = {
    val Array(workloadName, inputDir, workDir, secondsArg, traceArg, resultPath) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val work = Paths.get(workDir).toAbsolutePath
    Files.createDirectories(work)
    val nproc = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$nproc]", nproc).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val listener = new CountingListener
    var listening = false
    def listen(on: Boolean): Unit = if (on != listening) {
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      if (on) spark.sparkContext.addSparkListener(listener)
      else spark.sparkContext.removeSparkListener(listener)
      listening = on
    }
    listen(traced)

    val workload: Workload = workloadName match {
      case "form_etl" => new FormEtl(spark, inputDir)
      case "curate_store" => new CurateStore(spark, inputDir, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val spans = mutable.ArrayBuffer.empty[Span]
    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[String]
    var nextId = 0
    def newId(): Int = { nextId += 1; nextId }

    /** Calls `c`; `sink` materializes its DataFrame. Returns the span. */
    def invoke(c: Call, parent: Int, phase: String, sink: (Call, DataFrame) => Unit): Span = {
      attempted += 1
      val startMs = System.currentTimeMillis()
      val n0 = System.nanoTime()
      var returnedMs = startMs
      var n1 = n0
      val ok = try {
        val out = c.run()
        n1 = System.nanoTime(); returnedMs = System.currentTimeMillis()
        out.foreach(df => sink(c, df))
        true
      } catch { case e: Throwable =>
        failures += s"${c.layer}.${c.fn} ($phase): $e"
        System.err.println(s"[perfbench] ${c.layer}.${c.fn} failed: $e")
        if (n1 == n0) { n1 = System.nanoTime(); returnedMs = System.currentTimeMillis() }
        false
      }
      val n2 = System.nanoTime()
      val s = Span(newId(), parent, workload.name, phase, c.layer, c.fn, startMs,
        returnedMs, System.currentTimeMillis(), (n2 - n0) / 1e9, (n1 - n0) / 1e9, !ok)
      spans += s
      s
    }
    val noop: (Call, DataFrame) => Unit =
      (_, df) => df.write.format("noop").mode("overwrite").save()

    def settle(): Unit = {
      Dedup.releaseIntermediates()
      spark.catalog.clearCache()
      System.gc()
    }

    val cpuBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    val outDir = work.resolve("out")
    // the cold pass materializes each checked call's output as parquet for
    // the oracle instead of to `noop`: the one materialization per run
    val toParquet: (Call, DataFrame) => Unit = (c, df) =>
      if (c.oracle.isEmpty) noop(c, df)
      else df.write.mode("overwrite").parquet(outDir.resolve(c.fn).toString)

    def runPass(phase: String, i: Int, calls: => Seq[Call]): Pass = {
      workload.prepare(i)
      settle()
      val id = newId()
      val startMs = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val c0 = cpuBean.getProcessCpuTime
      val cs = calls.map(c => invoke(c, id, phase, if (phase == "cold") toParquet else noop))
      val cpuS = (cpuBean.getProcessCpuTime - c0) / 1e9
      val endMs = System.currentTimeMillis()
      val wall = (System.nanoTime() - n0) / 1e9
      val s = Span(id, 0, workload.name, phase, "pass", s"$phase-$i", startMs, endMs,
        endMs, wall, 0.0, cs.exists(_.failed))
      spans += s
      System.err.println(f"[perfbench] ${s.fn} $wall%.3f s: " +
        cs.map(c => f"${c.fn}=${c.wallS}%.2f").mkString(" "))
      Pass(s, cs, cpuS, listening)
    }

    // one-time program work
    settle()
    val setupId = newId()
    val setupStartMs = System.currentTimeMillis()
    val setupN0 = System.nanoTime()
    val setupCalls = workload.setup.map(c => invoke(c, setupId, "setup", noop))
    val setupWorkS = (System.nanoTime() - setupN0) / 1e9
    System.err.println(f"[perfbench] setup $setupWorkS%.3f s: " +
      setupCalls.map(c => f"${c.fn}=${c.wallS}%.2f").mkString(" "))
    spans += Span(setupId, 0, workload.name, "setup", "setup", "setup", setupStartMs,
      System.currentTimeMillis(), System.currentTimeMillis(), setupWorkS, 0.0,
      setupCalls.exists(_.failed))
    val setupS = sessionS + setupWorkS

    var passNo = 0
    def next(phase: String): Pass = {
      val p = runPass(phase, passNo, workload.pass(passNo))
      passNo += 1
      p
    }

    val cold = next("cold")
    val warm = mutable.ArrayBuffer.empty[Pass]
    val windowStart = System.nanoTime()
    if (traced) {
      // one traced and one untraced warm pass; the untraced one runs second,
      // with the JIT a pass warmer, so the overhead estimate errs high
      Seq(true, false).foreach { on => listen(on); warm += next("warm") }
    } else {
      while (warm.size < MinWarm || (System.nanoTime() - windowStart) / 1e9 < seconds)
        warm += next("warm")
    }
    val storeMb = workload.storeBytes(passNo - 1) / 1048576.0

    val checks = cold.calls.zip(workload.pass(0)).flatMap { case (span, c) =>
      c.oracle.map(o => Map(
        "call" -> s"${c.layer}.${c.fn}", "oracle" -> o, "failed" -> span.failed,
        "path" -> outDir.resolve(c.fn).toString, "sql" -> graft.SparkEntry.oracleSql(o)))
    }

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload.name, "nproc" -> nproc,
      "session_s" -> sessionS, "setup_work_s" -> setupWorkS, "setup_s" -> setupS,
      "cold_pass_s" -> cold.span.wallS,
      "warm_pass_s" -> warm.filterNot(_.tracedPass).map(_.span.wallS),
      "attempted" -> attempted, "failed" -> failures.size, "failures" -> failures,
      "checks" -> checks)

    if (traced) {
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      // calls only: a pass or setup span encloses its calls
      val counts = listener.countsFor(spans.filter(_.parent != 0).toSeq)
      result("per_layer") = perLayer(workload, spans.toSeq, counts, warm.toSeq,
        nproc, storeMb, attempted, failures.size)
      result("pass_jobs") = warm.filter(_.tracedPass).map(p => passCounts(p, counts).jobs)
      result("pass_tasks") = warm.filter(_.tracedPass).map(p => passCounts(p, counts).tasks)
      Files.writeString(work.resolve("spans.json"), Json.encode(spans.map { s =>
        val c = counts.getOrElse(s.id, Counts())
        Map("id" -> s.id, "parent" -> s.parent, "workload" -> s.workload,
          "phase" -> s.phase, "layer" -> s.layer, "function" -> s.fn,
          "start_ms" -> s.startMs, "returned_ms" -> s.returnedMs, "end_ms" -> s.endMs,
          "wall_s" -> s.wallS, "call_s" -> s.callS, "failed" -> s.failed,
          "jobs" -> c.jobs, "jobs_in_call" -> c.jobsInCall, "stages" -> c.stages,
          "tasks" -> c.tasks, "task_cpu_s" -> c.taskCpuS,
          "shuffle_write_mb" -> c.shuffleWriteMb)
      }.toSeq))
    }
    spark.stop()
    Files.writeString(Paths.get(resultPath), Json.encode(result))
  }

  private def passCounts(p: Pass, counts: Map[Int, Counts]): Counts =
    p.calls.map(s => counts.getOrElse(s.id, Counts())).foldLeft(Counts())(_ + _)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Layers of each workload, in the order they are reported. */
  val Layers: Map[String, Seq[String]] = Map(
    "form_etl" -> Seq("Ingestion", "Layout", "SchemaExtract", "Validation",
      "Orchestrator", "Evaluation"),
    "curate_store" -> Seq("Curation", "Dedup", "TextAnalysis", "Classify",
      "UnifiedDedupStore", "LmIndex", "NbIndex", "Similarity", "AnnIndex", "PostingsIndex"))

  private def perLayer(w: Workload, spans: Seq[Span], counts: Map[Int, Counts],
      warm: Seq[Pass], nproc: Int, storeMb: Double,
      attempted: Int, failed: Int): Map[String, (Double, String)] = {
    val tracedWarm = warm.filter(_.tracedPass)
    val untracedWarm = warm.filterNot(_.tracedPass)
    val setupPasses = spans.filter(s => s.phase == "setup" && s.layer == "setup")
    def layerStats(groups: Seq[Seq[Span]], layer: String): Map[String, (Double, String)] = {
      // one sample per group (a pass or a setup); the median over groups
      val samples = groups.map { g =>
        val ss = g.filter(_.layer == layer)
        val c = ss.map(s => counts.getOrElse(s.id, Counts())).foldLeft(Counts())(_ + _)
        (ss.map(_.wallS).sum, ss.map(_.callS).sum, c)
      }
      def med(f: ((Double, Double, Counts)) => Double) = median(samples.map(f))
      Map(
        s"$layer.wall_s" -> (med(_._1), "s"),
        s"$layer.call_s" -> (med(_._2), "s"),
        s"$layer.jobs" -> (med(_._3.jobs.toDouble), "count"),
        s"$layer.jobs_in_call" -> (med(_._3.jobsInCall.toDouble), "count"),
        s"$layer.tasks" -> (med(_._3.tasks.toDouble), "count"),
        s"$layer.shuffle_write_mb" -> (med(_._3.shuffleWriteMb), "MB"),
        s"$layer.task_cpu_s" -> (med(_._3.taskCpuS), "s"))
    }
    val passGroups = tracedWarm.map(_.calls)
    val setupGroups = setupPasses.map(p => spans.filter(_.parent == p.id))
    val own = Layers(w.name).flatMap { layer =>
      val groups =
        if (passGroups.exists(_.exists(_.layer == layer))) passGroups else setupGroups
      layerStats(groups, layer)
    }.toMap
    // layers of the other workloads: not called here, so no time and no work
    val others = Layers.values.flatten.filterNot(Layers(w.name).contains).flatMap { layer =>
      layerStats(Seq(Nil), layer)
    }.toMap
    val pc = tracedWarm.map(p => passCounts(p, counts))
    val walls = tracedWarm.map(_.span.wallS)
    val peakRssMb = Fs.peakRssMb()
    own ++ others ++ Map(
      "spark.jobs" -> (median(pc.map(_.jobs.toDouble)), "count"),
      "spark.stages" -> (median(pc.map(_.stages.toDouble)), "count"),
      "spark.tasks" -> (median(pc.map(_.tasks.toDouble)), "count"),
      "spark.call_s" -> (median(tracedWarm.map(_.calls.map(_.callS).sum)), "s"),
      "spark.proc_cpu_s" -> (median(tracedWarm.map(_.cpuS)), "s"),
      "spark.busy_frac" -> (median(tracedWarm.zip(pc).map { case (p, c) =>
        c.taskCpuS / (p.span.wallS * nproc) }), "ratio"),
      "spark.peak_rss_mb" -> (peakRssMb, "MB"),
      "spark.trace_overhead_s" -> (median(walls) - median(untracedWarm.map(_.span.wallS)), "s"),
      "store_mb" -> (storeMb, "MB"),
      "failed_frac" -> (failed.toDouble / math.max(attempted, 1), "ratio"))
  }
}

/** Small file-system helpers for store restores and sizes. */
object Fs {
  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    } finally walk.close()
  }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val walk = Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally walk.close()
  }

  def treeBytes(root: Path): Long = if (!Files.exists(root)) 0L else {
    val walk = Files.walk(root)
    try walk.filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).sum()
    finally walk.close()
  }

  /** The process's peak resident set (Linux `VmHWM`), or -1 where unknown. */
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1.0
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)
    }
  }
}

/** Minimal JSON writer for the result and span files. */
object Json {
  def encode(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case (a: Double, u: String) => encode(Map("value" -> a, "unit" -> u))
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + encode(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(encode).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
