package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanLike, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

import graft.{Engine, Factory, Pipeline}
import graft.config.{Configs, PipelineConfig}
import graft.functions.HashingEmbedder

/** The product benchmark: times YamlPipe's verbs (`Pipeline.run` cold,
  * after a small delta and with nothing changed, `Engine.Searcher.search`
  * and `Engine.Evaluator.evaluate`) through their public entry points on
  * one `local[nproc]` session, with one closed-loop client, and checks
  * every result against [[Oracle]].
  *
  * Usage (normally through `perfbench/run.py`, which builds the classpath):
  * {{{
  * perfbench.Bench --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  * The last line of standard output is the JSON result.
  */
object Bench {

  val CorpusDocs = 100
  val SearchK = 5
  val EvalK = 5
  val EvalQuestions = 200
  val Dim = 384

  sealed trait Op
  case object Cold extends Op
  case object Noop extends Op
  case object DeltaRun extends Op
  case object SearchOp extends Op
  case object EvalOp extends Op

  /** A workload is a script of verbs: `head` once, then `loop` once per
    * `loopSeconds` of the run's seconds (at least once), then `tail` once.
    * The work of a run depends only on its seconds, so parent and change
    * runs do the same work. Every script runs every verb, because every
    * run reports every end-to-end metric; the loop is what the workload
    * stresses.
    */
  final case class Workload(name: String, head: Seq[Op], loop: Seq[Op], loopSeconds: Double,
                            tail: Seq[Op]) {
    def iterations(seconds: Double): Int = math.max(1, (seconds / loopSeconds).toInt)
  }

  val workloads: Seq[Workload] = Seq(
    // Write path: one cold ingest into an empty sink, then small deltas, each
    // followed by the search that must find the edit, three no-op re-runs
    // and two searches. A no-op right after a write costs more than one
    // after a no-op; most no-ops follow a no-op, so that the median falls
    // inside one of the two groups rather than between them.
    Workload("ingest_delta", head = Seq(Cold, Noop, Noop),
      loop = Seq(DeltaRun, Noop, Noop, Noop, SearchOp, SearchOp),
      loopSeconds = 10, tail = Seq(SearchOp, SearchOp) ++ Seq.fill(5)(EvalOp)),
    // Read path: the same kinds of writes, then a session of searches and
    // evals over a sink that no longer changes.
    Workload("query_session", head = Seq(Cold, Noop, DeltaRun, Noop, DeltaRun, Noop, Noop),
      loop = Seq.fill(5)(SearchOp) :+ EvalOp, loopSeconds = 10, tail = Seq.fill(3)(EvalOp)))

  /** Every verb once: the traced run's pass. */
  val everyVerb: Seq[Op] = Seq(Cold, Noop, DeltaRun, Noop, SearchOp, EvalOp)

  /** The warm-up: the first cold run in a JVM costs 1.5–3.5× a warm one,
    * which would swamp `cold_run_s`. The checker's self-test after it
    * runs the first eval. The first delta run costs less extra and is left
    * in the window: warming it too would cost more set-up than the runs'
    * time budget allows.
    */
  val warmUpVerbs: Seq[Op] = Seq(Cold, SearchOp)

  /** Documents of the warm-up corpus: the first call of a verb in a JVM
    * costs mostly class loading, code generation and JIT, which a small
    * corpus pays as fully as a large one.
    */
  val WarmUpDocs = 20

  final case class Metric(name: String, value: Double, unit: String)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
      finally s.close()
    }

  /** Relative path -> size of the regular files under `p`, optionally only
    * those whose name ends with `suffix`.
    */
  def walk(p: Path, suffix: String = ""): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix))
        .map(f => p.relativize(f).toString -> Files.size(f)).toMap
      finally s.close()
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = workloads.find(_.name == need("workload")).getOrElse {
      System.err.println(s"unknown workload; known: ${workloads.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath.normalize
    val launchMs = sys.props.get("perfbench.launchMillis").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)

    Files.createDirectories(work)
    // The product CLI's session (`graft.Cli`) with one shuffle partition
    // per core, as the repository's gate bench sizes it, and Spark's
    // scratch kept inside the work directory.
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val lines =
      try new Harness(spark, work, seed, launchMs).run(workload, seconds, trace)
      finally spark.stop()
    lines.foreach(println)
    System.out.flush()
    sys.exit(0)
  }
}

/** One benchmark run: set-up, then the timed window, then the result. */
final class Harness(spark: SparkSession, work: Path, seed: Long, launchMs: Long,
                    docs: Int = Bench.CorpusDocs) {
  import Bench._

  private val sc = spark.sparkContext
  private val corpus = new Corpus(work.resolve("corpus"), seed, docs)
  private val queryRnd = new SplittableRandom(seed * 1000003L + 11)
  private val evalPath = work.resolve("eval.jsonl")
  private lazy val questions: Seq[(String, String)] =
    corpus.windows(EvalQuestions, 8, new SplittableRandom(seed * 7919L + 3))
  private lazy val questionVecs = questions.map { case (q, src) => (embed(q), src) }

  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  /** Deletes everything this harness wrote. */
  def close(): Unit = deleteTree(work)

  // The sink the next verb works on, and the oracle's copy of it.
  private var sinkSeq = 0
  private var cfg: PipelineConfig = _
  private var table: Oracle.Table = _

  // Tracing: off for the end-to-end numbers.
  private var recorder: Option[Recorder] = None
  private val spans = new Spans
  private var opSeq = 0
  private val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private def embed(q: String): Array[Float] = HashingEmbedder.embed(q, Dim, HashingEmbedder.DefaultSeed)
  private def sample(m: String, v: Double): Unit = samples.getOrElseUpdate(m, mutable.ArrayBuffer.empty) += v
  private def layerSample(m: String, v: Double): Unit = layer.getOrElseUpdate(m, mutable.ArrayBuffer.empty) += v
  private def sinkPath(c: PipelineConfig): String = c.sink.require("uri")
  private def statePath(c: PipelineConfig): String = c.stateManager.require("path")

  private def config(sink: Path, state: Path): PipelineConfig = Configs.parse(
    s"""source: {type: local_files, config: {directory: "${corpus.dir}", glob: "*.txt"}}
       |chunker: {type: recursive_character, config: {chunk_size: 150, chunk_overlap: 30}}
       |embedder: {type: sentence_transformer, config: {dim: $Dim}}
       |sink: {type: lancedb, config: {uri: "$sink"}}
       |state_manager: {type: json, config: {path: "$state"}}
       |""".stripMargin)

  /** Job-group label for the Spark jobs `f` runs; only when tracing. */
  private def labelled[A](label: String)(f: => A): A = recorder match {
    case None => f
    case Some(_) =>
      sc.setJobGroup(label, label, interruptOnCancel = false)
      try f finally sc.clearJobGroup()
  }

  private def span[A](name: String)(f: => A): A = if (recorder.isEmpty) f else spans(name)(f)._1

  private def secondsOf[A](f: => A): (A, Double) = {
    val t = System.nanoTime
    val a = f
    (a, (System.nanoTime - t) / 1e9)
  }

  private def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
  }

  private def check(what: String, r: Option[String]): Boolean = {
    r.foreach(m => fail(s"$what: $m"))
    r.isEmpty
  }

  private def freshSink(): Unit = {
    if (cfg != null) {
      deleteTree(Paths.get(sinkPath(cfg)))
      Files.deleteIfExists(Paths.get(statePath(cfg)))
    }
    sinkSeq += 1
    cfg = config(work.resolve(s"sinks/s$sinkSeq"), work.resolve(s"state/s$sinkSeq.json"))
    table = null
  }

  /** Source -> text of the corpus files on disk now. */
  private def onDisk: Map[String, String] =
    corpus.files.iterator.map { case (n, text) => corpus.sourceOf(n) -> text }.toMap

  private def readTable(): Unit = table = labelled("bench.check")(Oracle.read(spark, sinkPath(cfg)))

  // ---------------------------------------------------------------------
  // The verbs
  // ---------------------------------------------------------------------

  private def exec(op: Op): Unit = {
    attempted += 1
    opSeq += 1
    try op match {
      case Cold =>
        corpus.reset()
        freshSink()
        pipelineRun("cold", corpus.files.keySet.toSet)
      case Noop => pipelineRun("noop", Set.empty)
      case DeltaRun =>
        val d = corpus.applyDelta()
        pipelineRun("delta", d.changed.toSet)
        attempted += 1
        search(d.markerQuery, "fresh_search_ms", Some(corpus.sourceOf(d.markedFile)))
      case SearchOp =>
        val (q, _) = corpus.windows(1, 6, queryRnd).head
        search(q, "search_ms", None)
      case EvalOp => evaluate()
    } catch {
      case e: Exception => fail(s"$op threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  private def pipelineRun(kind: String, changedFiles: Set[String]): Unit = {
    val replayInput = recorder.map(_ => snapshotInput())
    val label = s"pipeline.run.$kind#$opSeq"
    val (report, s) = secondsOf(span(label)(labelled(label)(Pipeline.run(spark, cfg))))
    sample(s"${kind}_run_s", s)
    readTable()
    check(s"$kind run sink", Oracle.checkSink(table, onDisk))
    val want = Oracle.expectedCounts(table, corpus.files.size, changedFiles.map(corpus.sourceOf))
    val ok = check(s"$kind run", Oracle.checkCounts(want, Oracle.counts(report)))
    recorder.foreach { r =>
      ListenerBusDrain(sc)
      pipelineLayer(r, kind, label, s)
      replayInput.foreach { side =>
        val replayed = replay(kind, side)
        if (ok) check(s"$kind replay", Oracle.checkCounts(Oracle.counts(report), replayed))
        deleteTree(side)
      }
    }
  }

  private def search(q: String, metric: String, mustReturn: Option[String]): Unit = {
    val label = s"engine.search#$opSeq"
    val searcher = Engine.Searcher(cfg)
    val t0 = System.nanoTime
    val df = labelled(label + ".plan")(searcher.search(spark, q, SearchK))
    val t1 = System.nanoTime
    val rows = labelled(label + ".exec")(df.collect()).toSeq
    val t2 = System.nanoTime
    sample(metric, (t2 - t0) / 1e6)
    check(s"search '$q'", Oracle.checkSearch(table, embed(q), SearchK, rows))
    mustReturn.foreach { src =>
      if (!rows.exists(_.getString(0) == src)) fail(s"fresh search '$q' did not return $src")
    }
    recorder.foreach { r =>
      ListenerBusDrain(sc)
      val c = r.sum(l => l == label + ".plan" || l == label + ".exec")
      layerSample("search.plan_ms", (t1 - t0) / 1e6)
      layerSample("search.exec_ms", (t2 - t1) / 1e6)
      layerSample("search.jobs", c.jobs.toDouble)
      layerSample("search.tasks", c.tasks.toDouble)
      layerSample("search.files_scanned", filesScanned(df).toDouble)
      val embedder = Factory.embedder(cfg.embedder)
      layerSample("embed.query_ms", secondsOf(embedder.embedQuery(q))._2 * 1e3)
    }
  }

  private def evaluate(): Unit = {
    val label = s"engine.eval#$opSeq"
    val evaluator = Engine.Evaluator(cfg)
    val t0 = System.nanoTime
    val df = labelled(label + ".plan")(evaluator.evaluate(spark, evalPath.toString, EvalK))
    val t1 = System.nanoTime
    val row = labelled(label + ".exec")(df.collect()).head
    val t2 = System.nanoTime
    sample("eval_s", (t2 - t0) / 1e9)
    val hits = row.getAs[Long]("hits")
    check("eval", Oracle.checkEval(row.getAs[Long]("total_questions"), hits, EvalQuestions,
      Oracle.hits(table, questionVecs, EvalK)))
    recorder.foreach { r =>
      ListenerBusDrain(sc)
      val c = r.sum(l => l == label + ".plan" || l == label + ".exec")
      layerSample("eval.plan_s", (t1 - t0) / 1e9)
      layerSample("eval.exec_s", (t2 - t1) / 1e9)
      layerSample("eval.jobs", c.jobs.toDouble)
      layerSample("eval.tasks", c.tasks.toDouble)
      layerSample("eval.route", route(df.queryExecution.executedPlan))
      layerSample("eval.hits", hits.toDouble)
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** The evaluator's route as its executed plan shows it: 1 (blocked) when
    * the hyperplane-band join's `__band` column is in it, 0 (exact) when a
    * cross join is, 2 when neither is.
    */
  private def route(plan: SparkPlan): Int =
    if (Plans.find(plan)(p => (p.output ++ p.references).exists(_.name == "__band")).isDefined) 1
    else if (Plans.find(plan) {
      case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => true
      case _ => false
    }.isDefined) 0
    else 2

  private def filesScanned(df: DataFrame): Long =
    Plans.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanLike => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum

  // ---------------------------------------------------------------------
  // Layer replay (traced runs only)
  // ---------------------------------------------------------------------

  /** Copy of the sink and state a verb is about to read, for the replay. */
  private def snapshotInput(): Path = {
    val side = work.resolve(s"replay/$opSeq")
    Files.createDirectories(side)
    val sink = Paths.get(sinkPath(cfg))
    if (Files.exists(sink)) {
      val s = Files.walk(sink)
      try s.iterator().asScala.foreach { f =>
        val to = side.resolve("sink").resolve(sink.relativize(f).toString)
        if (Files.isDirectory(f)) Files.createDirectories(to)
        else Files.copy(f, to, StandardCopyOption.COPY_ATTRIBUTES)
      } finally s.close()
    }
    val state = Paths.get(statePath(cfg))
    if (Files.exists(state)) Files.copy(state, side.resolve("state.json"))
    side
  }

  /** `Pipeline.run`'s layer sequence, called layer by layer through the
    * same public functions on a copy of the verb's input, each layer under
    * its own label, with every intermediate frame persisted and counted so
    * that each layer's time is its own. Returns the replay's counts.
    */
  private def replay(kind: String, side: Path): Oracle.Counts = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    import graft.operators.{Sink, StateStore}
    val c = config(side.resolve("sink"), side.resolve("state.json"))
    val persisted = mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { persisted += df; df.persist(MEMORY_AND_DISK) }
    def step[A](name: String)(f: => A): (A, Double) = {
      val label = s"replay.$kind#$opSeq.$name"
      val (a, span) = spans(label)(labelled(label)(f))
      (a, span.seconds)
    }
    def counters(name: String) = recorder.get.of(s"replay.$kind#$opSeq.$name")
    def m(layerName: String, metric: String, v: Double): Unit = layerSample(s"$layerName.$kind.$metric", v)

    val chunker = Factory.chunker(c.chunker)
    val embedder = Factory.embedder(c.embedder)
    val sink = Factory.sink(c.sink)
    val stateManager = Factory.stateManager(c.stateManager)
    try {
      val ((state, wm), loadS) = step("stateManager.load") {
        val st = pin(stateManager.load(spark))
        st.count()
        (st, StateStore.lastRunTimestamp(st))
      }
      val ((docs, nDocs), sourceS) = step("source.load") {
        val d = pin(Factory.source(c.source).withRunWatermark(wm).load(spark))
        (d, d.count())
      }
      val ((changed, nChanged), detectS) = step("StateStore.changed") {
        val tracked = StateStore.changed(docs.filter(col("fingerprint").isNotNull), state, idCol = "source")
        val ch = pin(tracked.unionByName(docs.filter(col("fingerprint").isNull)))
        (ch, ch.count())
      }
      ListenerBusDrain(sc)
      m("sources", "s", sourceS)
      m("sources", "docs", nDocs.toDouble)
      m("sources", "bytes_read", counters("source.load").bytesRead.toDouble)
      m("state", "load_s", loadS)
      m("state", "detect_s", detectS)
      if (nDocs == 0 || nChanged == 0) Oracle.Counts(nDocs, 0, 0, 0)
      else {
        m("state", "changed_docs", nChanged.toDouble)
        val ((chunked, nChunks0), chunkS) = step("chunk") {
          val d = pin(chunker.chunk(changed, "content")); (d, d.count())
        }
        val ((embedded, nVectors), embedS) = step("embed") {
          val d = pin(embedder.embed(chunked, "chunk")); (d, d.count())
        }
        val ((projected, recordsIn), projectS) = step("Sink.project") {
          val d = pin(Sink.project(embedded, textCol = "chunk", vecCol = "embedding").drop("content"))
          (d, d.count())
        }
        val sinkDir = side.resolve("sink")
        val before = walk(sinkDir, ".parquet")
        val (_, writeS) = step("sink.write")(sink.write(projected))
        val after = walk(sinkDir, ".parquet")
        val ((nChunks, processedSources, nProcessed), readS) = step("sink.read") {
          val writtenChanged = sink.read(spark)
            .join(changed.select("source").distinct(), Seq("source"), "left_semi")
          val n = writtenChanged.count()
          val ps = pin(writtenChanged.select("source").distinct())
          (n, ps, ps.count())
        }
        val ((_, items), upsertS) = step("StateStore.upsert") {
          val fps = changed.join(processedSources, Seq("source"), "left_semi")
            .select(col("source").as("item_id"), col("fingerprint"))
            .filter(col("fingerprint").isNotNull)
          val ns = pin(StateStore.touchWatermark(StateStore.upsert(state, fps)))
          (ns, ns.filter(col("item_id") =!= StateStore.WatermarkKey).count())
        }
        val newState = persisted.last
        val (_, saveS) = step("stateManager.save")(stateManager.save(newState))
        ListenerBusDrain(sc)
        val w = counters("sink.write")
        val added = after.keySet -- before.keySet
        m("state", "save_s", upsertS + saveS)
        m("state", "items", items.toDouble)
        m("chunkers", "s", chunkS)
        m("chunkers", "chunks", nChunks0.toDouble)
        m("embed", "s", embedS)
        m("embed", "vectors", nVectors.toDouble)
        m("sinks", "project_s", projectS)
        m("sinks", "write_s", writeS)
        m("sinks", "write_tasks", w.tasks.toDouble)
        m("sinks", "files_written", added.size.toDouble)
        m("sinks", "bytes_written", added.toSeq.map(after).sum.toDouble)
        m("sinks", "records_in", recordsIn.toDouble)
        m("sinks", "records_written", w.recordsWritten.toDouble)
        m("sinks", "write_amplification", w.recordsWritten.toDouble / math.max(1L, recordsIn))
        m("sinks", "readback_s", readS)
        Oracle.Counts(nDocs, nChanged, nChunks, nProcessed)
      }
    } finally persisted.foreach(_.unpersist())
  }

  private def pipelineLayer(r: Recorder, kind: String, label: String, wallS: Double): Unit = {
    val c = r.of(label)
    val cores = sc.defaultParallelism
    layerSample(s"pipeline.$kind.jobs", c.jobs.toDouble)
    layerSample(s"pipeline.$kind.stages", c.stages.toDouble)
    layerSample(s"pipeline.$kind.tasks", c.tasks.toDouble)
    layerSample(s"pipeline.$kind.task_s", c.taskMs / 1e3)
    layerSample(s"pipeline.$kind.gc_s", c.gcMs / 1e3)
    layerSample(s"pipeline.$kind.shuffle_bytes", c.shuffleWriteBytes.toDouble)
    layerSample(s"pipeline.$kind.spill_bytes", c.spillBytes.toDouble)
    layerSample(s"pipeline.$kind.core_busy_frac", c.taskMs / 1e3 / (wallS * cores))
  }

  // ---------------------------------------------------------------------
  // The run
  // ---------------------------------------------------------------------

  private def writeCorpus(): Unit = {
    corpus.reset()
    val jsonl = questions.map { case (q, src) => s"""{"question": "$q", "expected_source": "$src"}""" }
    Files.write(evalPath, jsonl.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** The warm-up verbs on this harness's corpus, then the checker's
    * self-test. Returns each verb's seconds and the self-test's cases.
    */
  def warmUp(): (Seq[(Op, Double)], Seq[(String, Boolean)]) = {
    writeCorpus()
    val times = warmUpVerbs.map(op => op -> secondsOf(exec(op))._2)
    (times, selfTest())
  }

  /** Runs the checks on the program's results, which must pass, and on
    * deliberately corrupted copies of them, which must each fail. Its eval
    * is the first of the JVM, so it also warms the eval. Returns each case
    * and whether it went the wrong way.
    */
  private def selfTest(): Seq[(String, Boolean)] = {
    val q = corpus.windows(1, 6, new SplittableRandom(seed)).head._1
    val rows = Engine.Searcher(cfg).search(spark, q, SearchK).collect().toSeq
    val evalRow = Engine.Evaluator(cfg).evaluate(spark, evalPath.toString, EvalK).collect().head
    val (total, hits) = (evalRow.getAs[Long]("total_questions"), evalRow.getAs[Long]("hits"))
    val wantHits = Oracle.hits(table, questionVecs, EvalK)
    val report = Oracle.expectedCounts(table, corpus.files.size, Set.empty)
    val files = onDisk
    def perturbed(rs: Seq[Row]) =
      Row.fromSeq(rs.head.toSeq.init :+ (rs.head.getDouble(2) + 1e-3)) +: rs.tail
    val truncated = table.filter(i => table.sources(i) != table.sources.head)
    val stale = table.copy(texts = table.texts.updated(0, "zqstale " + table.texts(0)))
    Seq(
      "clean search flagged" -> Oracle.checkSearch(table, embed(q), SearchK, rows).isDefined,
      "clean sink flagged" -> Oracle.checkSink(table, files).isDefined,
      "clean eval flagged" -> Oracle.checkEval(total, hits, EvalQuestions, wantHits).isDefined,
      "dropped row" -> Oracle.checkSearch(table, embed(q), SearchK, rows.init).isEmpty,
      "perturbed score" -> Oracle.checkSearch(table, embed(q), SearchK, perturbed(rows)).isEmpty,
      "report off by one" -> Oracle.checkCounts(report, report.copy(loaded = report.loaded + 1)).isEmpty,
      "truncated sink" -> Oracle.checkSink(truncated, files).isEmpty,
      "stale sink row" -> Oracle.checkSink(stale, files).isEmpty,
      "eval hits off by one" -> Oracle.checkEval(total, hits, EvalQuestions, wantHits + 1).isEmpty,
      "eval question count wrong" -> Oracle.checkEval(total, hits, EvalQuestions + 1, wantHits).isEmpty)
  }

  /** Set-up (session start is before this), the timed window or the
    * traced passes, and the printed result.
    */
  def run(workload: Workload, seconds: Double, trace: Boolean): Seq[String] = {
    val sessionReadyS = (System.currentTimeMillis - launchMs) / 1e3
    val warm = new Harness(spark, work.resolve("warm-up"), seed, launchMs, WarmUpDocs)
    val (warmTimes, selfTest) = warm.warmUp()
    val missed = selfTest.collect { case (what, true) => what }
    attempted += warm.attempted
    failed += warm.failed
    failures ++= warm.failures
    warm.close()
    writeCorpus()
    val setupS = (System.currentTimeMillis - launchMs) / 1e3
    val windowStart = System.nanoTime
    def elapsed = (System.nanoTime - windowStart) / 1e9
    val metrics =
      if (!trace) {
        workload.head.foreach(exec)
        for (_ <- 0 until workload.iterations(seconds) if failed < 5) workload.loop.foreach(exec)
        workload.tail.foreach(exec)
        endToEnd(setupS)
      } else traced()
    val correct = failed == 0 && missed.isEmpty
    val out = mutable.ArrayBuffer.empty[String]
    out += s"# workload ${workload.name}, seed $seed, ${sc.defaultParallelism} cores, " +
      s"corpus $docs docs, window ${"%.1f".format(elapsed)} s"
    out += f"# set-up: session ready after $sessionReadyS%.1f s; warm-up on $WarmUpDocs docs: " +
      warmTimes.map { case (op, s) => f"$op $s%.2f s" }.mkString(", ")
    samples.foreach { case (k, v) => out += s"# samples $k: ${v.map(x => "%.3f".format(x)).mkString(" ")}" }
    metrics.foreach(x => out += f"${x.name}%-34s ${x.value}%14.6f ${x.unit}")
    out += f"${"failed_ops_frac"}%-34s ${failed.toDouble / attempted}%14.6f ratio"
    out += s"# checker self-test: ${selfTest.size - missed.size}/${selfTest.size} cases right" +
      (if (missed.isEmpty) "" else s"; wrong: ${missed.mkString(", ")}")
    failures.foreach(f => out += s"# FAILED $f")
    val json = metrics.map(x => s""""${x.name}": {"value": ${x.value}, "unit": "${x.unit}"}""")
      .mkString("{", ", ", "}")
    out += s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $json}"""
    out.toSeq
  }

  private def sinkLayout(): Seq[Metric] = {
    val files = walk(Paths.get(sinkPath(cfg)))
    Seq(
      Metric("sink_files", files.keys.count(_.endsWith(".parquet")).toDouble, "count"),
      Metric("sink_bytes_ratio", files.values.sum.toDouble / corpus.bytes, "ratio"))
  }

  private def endToEnd(setupS: Double): Seq[Metric] = {
    def med(k: String) = median(samples(k).toSeq)
    Seq(
      Metric("setup_s", setupS, "s"),
      Metric("cold_run_s", med("cold_run_s"), "s"),
      Metric("delta_run_s", med("delta_run_s"), "s"),
      Metric("noop_run_s", med("noop_run_s"), "s"),
      Metric("fresh_search_ms", med("fresh_search_ms"), "ms"),
      Metric("search_p50_ms", med("search_ms"), "ms"),
      Metric("search_p90_ms", percentile(samples("search_ms").toSeq, 0.9), "ms"),
      Metric("eval_s", med("eval_s"), "s")) ++ sinkLayout()
  }

  /** The traced run: every verb once with the listener attached and every
    * Spark job under a label, replaying each `Pipeline.run` layer by layer;
    * then every verb once more untraced. Both passes start from an empty
    * sink. The untraced pass runs on a warmer JVM, so the overhead it yields
    * errs high.
    */
  private def traced(): Seq[Metric] = {
    val r = new Recorder
    sc.addSparkListener(r)
    recorder = Some(r)
    val (_, tracedSpan) = spans("traced.pass")(everyVerb.foreach(exec))
    ListenerBusDrain(sc)
    sc.removeSparkListener(r)
    recorder = None
    val (_, untracedS) = secondsOf(everyVerb.foreach(exec))
    val replayS = spans.all.filter(_.name.startsWith("replay.")).map(_.seconds).sum
    val verbs = r.sum(l => l.startsWith("pipeline.") || l.startsWith("engine."))
    val verbS = tracedSpan.seconds - replayS
    if (r.unlabelledJobs > 0)
      fail(s"${r.unlabelledJobs} unlabelled Spark jobs: ${r.unlabelledSites.take(5).mkString("; ")}")
    val traceDir = work.getParent.resolve("traces")
    Files.createDirectories(traceDir)
    Files.write(traceDir.resolve(s"${work.getFileName}.json"), spans.json.getBytes(UTF_8))
    val totals = Seq(
      Metric("spark.jobs", verbs.jobs.toDouble, "count"),
      Metric("spark.stages", verbs.stages.toDouble, "count"),
      Metric("spark.tasks", verbs.tasks.toDouble, "count"),
      Metric("spark.task_s", verbs.taskMs / 1e3, "s"),
      Metric("spark.gc_s", verbs.gcMs / 1e3, "s"),
      Metric("spark.shuffle_write_bytes", verbs.shuffleWriteBytes.toDouble, "bytes"),
      Metric("spark.spill_bytes", verbs.spillBytes.toDouble, "bytes"),
      Metric("spark.core_busy_frac", verbs.taskMs / 1e3 / (verbS * sc.defaultParallelism), "ratio"),
      Metric("spark.unlabelled_jobs", r.unlabelledJobs.toDouble, "count"),
      Metric("trace.untraced_s", untracedS, "s"),
      Metric("trace.traced_s", verbS, "s"),
      Metric("trace.overhead_s", verbS - untracedS, "s"),
      Metric("trace.overhead_frac", (verbS - untracedS) / untracedS, "ratio"))
    layer.toSeq.map { case (k, v) => Metric(k, median(v.toSeq), Harness.unitOf(k)) } ++ totals
  }
}

object Harness {
  def unitOf(metric: String): String = metric.split('.').last match {
    case m if m.endsWith("_ms") => "ms"
    case m if m == "s" || m.endsWith("_s") => "s"
    case m if m.startsWith("bytes") || m.endsWith("_bytes") => "bytes"
    case m if m.endsWith("_frac") || m == "write_amplification" => "ratio"
    case "route" => "route"
    case _ => "count"
  }
}
