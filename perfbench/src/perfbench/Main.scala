package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import jsonld.core._
import jsonld.spark._
import graft.SparkEntry
import graft.ops.GraphOps
import GraphOps.{Const, TriplePattern, Var}

/** The benchmark's JVM side. Generates one workload's inputs from the
  * seed, times it, checks its outputs and writes one JSON record.
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <record file>
  *
  * A trace run reads the declared per-layer metric names, one a line, from
  * `<work dir>/per_layer.txt`.
  *
  * With trace 0 the record carries the end-to-end metrics, measured with
  * no listener installed; with trace 1 a separate run re-executes the
  * timed region with the job-group listener and spans on and reports the
  * per-layer metrics.
  */
object Main {

  /** Workload sizes. The construct corpus holds `CorpusReplicas` × the 500
    * shipped documents as distinct docs, each committed about 4 times, plus
    * as many other files; the analytics queries read the shipped tables.
    */
  val CorpusReplicas = 5
  val GraphNodes = 4000L
  val SetupReps = 3

  /** The layers each workload calls, by metric prefix. In a trace run a
    * declared per-layer metric of a layer the workload does not call reads
    * 0.0; one of a called layer that could not be measured stays missing
    * and prints as null.
    */
  val Calls: Map[String, Seq[String]] = Map(
    "construct" -> Seq("jvm.", "spine.", "core.", "trace."),
    "analytics" -> Seq("jvm.", "graphops.", "query.", "analytics.", "trace."))

  /** The analytics workload's queries: one each through DedupOps, TextOps
    * and SimilarityOps, the modules no other workload reaches. The full
    * 116-query pass takes minutes on a 4-core host, past what one run may
    * take.
    */
  val Queries: Seq[String] = Seq("dedup_minhash_lsh", "text_bm25", "ann_lsh_topk")
  val GraphOpNames = Seq("pagerank", "triangles", "bgp_chain", "sameas")

  val cores: Int = Runtime.getRuntime.availableProcessors

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, record) = args
    val b = new Bench(workload, seedS.toLong, secondsS.toDouble, traceS == "1", work)
    val body = try b.run() finally b.stop()
    Files.writeString(Paths.get(record), body)
  }

  def newSession(work: String, shufflePartitions: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.files.maxPartitionBytes", (2 * 1024 * 1024).toString)
    .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    .getOrCreate()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap still in use after a full collection, in MB: what the program
    * keeps alive, whatever the collector's sizing and timing.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The driver JVM's resident-set high-water mark, in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def dirMb(path: String): Double = {
    val f = new File(path)
    def size(x: File): Long = if (x.isDirectory) x.listFiles().map(size).sum else x.length
    if (f.exists) size(f) / 1048576.0 else 0.0
  }

  def deleteTree(path: String): Unit = {
    val f = new File(path)
    def rm(x: File): Unit = { if (x.isDirectory) x.listFiles().foreach(rm); x.delete() }
    if (f.exists) rm(f)
  }
}

/** A check the benchmark made: passed or not, with what it compared. */
final case class Check(name: String, ok: Boolean, detail: String)

final class Bench(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String) {
  import Main._

  private var spark: SparkSession = _
  private var listener: GroupListener = _
  private val spans = new Spans(s"$workload-$seed")
  private val checks = mutable.ArrayBuffer.empty[Check]
  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  private val info = mutable.LinkedHashMap.empty[String, String]
  private var attempted = 0L
  private var failedOps = 0L
  private val in = s"$work/in"
  /** Self-test hook: corrupts one observed output before it is checked. */
  private val perturb = sys.env.getOrElse("PERFBENCH_PERTURB", "")

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** True inside the traced region of a trace run only: the untraced
    * passes that give the tracing overhead run without the listener.
    */
  private var tracing = false

  private def freshSession(): Unit = {
    stop()
    // the construct spine shuffles every emitted quad, so it gets a wider
    // fan-out; the analytics ops are many small jobs, run as Verify runs
    // them, one shuffle partition per core
    spark = newSession(work, if (workload == "construct") 2 * cores else cores)
    spark.sparkContext.setLogLevel("ERROR")
    if (tracing) startTracing()
  }

  private def startTracing(): Unit = {
    tracing = true
    listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
  }

  private def stopTracing(): Unit = {
    org.apache.spark.sql.GraftInternal.waitListenerBus(spark)
    spark.sparkContext.removeSparkListener(listener)
    tracing = false
  }

  /** Untraced and traced passes at the same warmth, in the order
    * U T T U, `rounds` times over; returns (untraced, traced) walls.
    */
  private def alternate(rounds: Int)(pass: Boolean => Double): (Seq[Double], Seq[Double]) = {
    val walls = Seq.fill(rounds)(Seq(false, true, true, false)).flatten.map(t => t -> pass(t))
    (walls.filterNot(_._1).map(_._2), walls.filter(_._1).map(_._2))
  }

  private def check(name: String, ok: Boolean, detail: String): Unit = {
    checks += Check(name, ok, detail)
    if (!ok) System.err.println(s"[perfbench] check failed: $name: $detail")
  }

  /** Times `body` as one call into the program, in its own job group and
    * span when tracing. A call that throws counts as a failed operation.
    */
  private def call[A](group: String)(body: => A): (Option[A], Double) = {
    attempted += 1
    if (tracing) spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val r = if (tracing) spans(group)(body) else body
      (Some(r), (System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Exception =>
        failedOps += 1
        System.err.println(s"[perfbench] $group failed: $e")
        (None, (System.nanoTime() - t0) / 1e9)
    } finally if (tracing) spark.sparkContext.clearJobGroup()
  }

  private def stats(group: String): GroupStats = {
    org.apache.spark.sql.GraftInternal.waitListenerBus(spark)
    listener.stats(group)
  }

  /** Sets up `SetupReps` times — session start plus input generation —
    * and reports the median; the timed region then uses the last set-up.
    */
  private def setup(generate: () => Unit): Unit = {
    val walls = (1 to (if (trace) 1 else SetupReps)).map { _ =>
      deleteTree(in)
      val t0 = System.nanoTime()
      freshSession()
      generate()
      (System.nanoTime() - t0) / 1e9
    }
    phase("setup")
    info("setup_reps_s") = walls.map(w => f"$w%.3f").mkString("[", ",", "]")
    metrics("setup_s") = median(walls)
  }

  /** Repeats `pass` until `seconds` have been measured. */
  private def measure(pass: () => Double): Seq[Double] = {
    import scala.jdk.CollectionConverters._
    import java.lang.management.ManagementFactory
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val (gc0, jit0) = (gcMs, jitMs)
    val walls = mutable.ArrayBuffer.empty[Double]
    while (walls.isEmpty || walls.sum < seconds) walls += pass()
    info("measure_gc_ms") = (gcMs - gc0).toString
    info("measure_jit_ms") = (jitMs - jit0).toString
    phase("measure")
    info("pass_walls_s") = walls.map(w => f"$w%.3f").mkString("[", ",", "]")
    metrics("pass_s") = median(walls.toSeq)
    walls.toSeq
  }

  private val born = System.nanoTime()
  private def phase(name: String): Unit = info(s"t_$name") = f"${(System.nanoTime() - born) / 1e9}%.2f"

  def run(): String = {
    workload match {
      case "construct" => construct()
      case "analytics" => analytics()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (trace) {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(Paths.get(s"$work/per_layer.txt")).asScala
        .filterNot(name => Calls(workload).exists(name.startsWith))
        .foreach(metrics(_) = 0.0)
    }
    metrics("jvm.peak_rss_mb") = peakRssMb()
    phase("end")
    JsonOut.obj(Seq(
      "workload" -> JsonOut.str(workload),
      "seed" -> seed.toString,
      "trace" -> trace.toString,
      "cores" -> cores.toString,
      "ops" -> attempted.toString,
      "failed_ops" -> failedOps.toString,
      "metrics" -> JsonOut.obj(metrics.toSeq.map { case (k, v) => k -> JsonOut.num(v) }),
      "info" -> JsonOut.obj(info.toSeq.map { case (k, v) => k -> JsonOut.str(v) }),
      "checks" -> checks.map(c => JsonOut.obj(Seq("name" -> JsonOut.str(c.name), "ok" -> c.ok.toString,
        "detail" -> JsonOut.str(c.detail)))).mkString("[", ",", "]"),
      "spans" -> (if (trace) spans.json else "null")))
  }

  // ------------------------------------------------------------- construct

  private def corpus = {
    val s = spark
    import s.implicits._
    spark.read.parquet(s"$in/corpus").as[RepoFile]
  }

  /** The timed spine: stored corpus → detect → transform → fused dedup +
    * predicate-bucketed write.
    */
  private def spine(out: String): Unit = {
    val counters = Pipeline.newCounters(spark)
    val ctx = spark.sparkContext.broadcast(Map.empty[String, String])
    val quads = Pipeline.quads(Pipeline.transformStage(Pipeline.detectStage(corpus, counters), ctx, counters))
    Pipeline.dedupAndWritePartitioned(quads, out, buckets = 32)
  }

  private def construct(): Unit = {
    setup(() => Gen.sharedCorpus(spark, seed, CorpusReplicas, in))
    // JIT warm-up: passes keep getting faster through the third
    for (_ <- 1 to 3) { spine(s"$work/warm"); deleteTree(s"$work/warm") }
    val out = s"$work/graph"
    if (!trace) {
      measure { () =>
        deleteTree(out)
        val (_, w) = call("spine")(spine(out))
        w
      }
    } else traceConstruct(out)
    checkConstruct(out)
  }

  /** Tracing overhead from full spine passes with and without the
    * listener, job groups and spans; then subtractive layer times: each
    * call runs the spine one step further from the stored corpus, so each
    * layer's time is the difference to the previous call.
    */
  private def traceConstruct(out: String): Unit = {
    val (untraced, traced) = alternate(2) { t =>
      deleteTree(out)
      if (t) startTracing()
      val w = call("spine")(spine(out))._2
      if (t) stopTracing()
      w
    }
    val s = spark
    import s.implicits._
    deleteTree(out)
    startTracing()
    val counters = Pipeline.newCounters(spark)
    val ctx = spark.sparkContext.broadcast(Map.empty[String, String])
    def detected = Pipeline.detectStage(corpus, counters)
    def quads = Pipeline.quads(Pipeline.transformStage(detected, ctx, counters))
    // three rounds, medians: single calls of about a second are too noisy
    // to subtract
    val rounds = (1 to 3).map { _ =>
      deleteTree(out)
      spans("spine") {
        Seq(
          "spine.scan" -> call("spine.scan")(corpus.toDF().agg(sum(length(col("content")))).collect())._2,
          "spine.detect" -> call("spine.detect")(detected.count())._2,
          "spine.transform" -> call("spine.transform")(quads.count())._2,
          "spine.dedup" -> call("spine.dedup")(Pipeline.dedupForWrite(quads, 32).count())._2,
          "spine.write" -> call("spine.write")(Pipeline.dedupAndWritePartitioned(quads, out, 32))._2)
      }
    }
    val walls = rounds.head.indices.map(i => rounds.head(i)._1 -> median(rounds.map(_(i)._2)))
    walls.zip(0.0 +: walls.map(_._2)).foreach { case ((name, w), prev) => metrics(s"${name}_s") = w - prev }
    val writeCall = walls.last._2
    metrics("spine.pass_s") = median(traced)
    metrics("trace.overhead_pct") = (median(traced) / median(untraced) - 1) * 100
    info("untraced_pass_walls_s") = untraced.map(w => f"$w%.3f").mkString("[", ",", "]")
    info("traced_pass_walls_s") = traced.map(w => f"$w%.3f").mkString("[", ",", "]")

    val w = stats("spine.write")
    def perRound(v: Double) = v / rounds.size
    metrics("spine.map_stage_s") = perRound(w.mapStageMs / 1e3)
    metrics("spine.reduce_stage_s") = perRound(w.reduceStageMs / 1e3)
    metrics("spine.stage_cover") = perRound((w.mapStageMs + w.reduceStageMs) / 1e3) / writeCall
    metrics("spine.shuffle_write_mb") = perRound(w.shuffleWriteBytes / 1048576.0)
    metrics("spine.shuffle_write_s") = perRound(w.shuffleWriteNs / 1e9)
    metrics("spine.fetch_wait_s") = perRound(w.fetchWaitMs / 1e3)
    metrics("spine.spill_mb") = perRound(w.spillBytes / 1048576.0)
    metrics("spine.peak_exec_mem_mb") = w.peakExecMem / 1048576.0
    metrics("spine.task_skew") = w.taskSkew
    metrics("spine.tasks") = perRound(w.tasks.toDouble)
    metrics("spine.jobs") = perRound(w.jobs.toDouble)
    metrics("spine.cpu_s") = perRound(w.cpuNs / 1e9)
    metrics("spine.gc_s") = perRound(w.gcMs / 1e3)

    val files = corpus.count()
    val docs = detected.count()
    val emitted = quads.count()
    val failed = Pipeline.quarantine(Pipeline.transformStage(detected, ctx, counters))
      .groupBy("errorCode").count().as[(String, Long)].collect()
    failed.foreach { case (code, n) => metrics(s"spine.quarantine.${code.replaceAll("[^A-Za-z0-9]+", "_")}") = n.toDouble }
    metrics("spine.docs_failed") = failed.map(_._2).sum.toDouble
    val written = spark.read.parquet(out).count()
    metrics("spine.files_scanned") = files.toDouble
    metrics("spine.docs_detected") = docs.toDouble
    metrics("spine.detect_yield") = docs.toDouble / files
    metrics("spine.quads_emitted") = emitted.toDouble
    metrics("spine.quads_per_s") = emitted / median(untraced)
    metrics("spine.quads_written") = written.toDouble
    metrics("spine.dedup_keep") = written.toDouble / emitted
    metrics("spine.output_mb") = dirMb(out)
    metrics("spine.bytes_per_quad") = dirMb(out) * 1048576.0 / written
    metrics("jvm.retained_heap_mb") = retainedHeapMb()
    traceCore()
  }

  /** Per-phase `jsonld.core` cost, single-threaded, over a seeded sample of
    * the workload's own detected documents.
    */
  private def traceCore(): Unit = {
    val s = spark
    import s.implicits._
    val sample = Pipeline.detectStage(corpus, Pipeline.newCounters(spark))
      .orderBy(xxhash64(lit(seed), col("docId"))).limit(300)
      .select(col("baseIri"), col("json")).as[(String, String)].collect().toSeq
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val ns = Array.fill(4)(0L)
    var docs = 0L
    var quads = 0L
    val a0 = mx.getThreadAllocatedBytes(tid)
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 1500000000L) sample.foreach { case (base, json) =>
      val opts = JsonLdOptions(base = base, documentLoader = new MapDocumentLoader(Map.empty))
      def phase[A](i: Int)(f: => A): A = { val p = System.nanoTime(); val r = f; ns(i) += System.nanoTime() - p; r }
      try {
        val parsed = phase(0)(Json.parse(json))
        val expanded = phase(1)(Processor.expand(parsed, opts))
        val ds = phase(2)(ToRdf.toRdf(expanded, opts))
        quads += phase(3)(new Canonicalizer("URDNA2015", 100000L).canonicalQuads(ds)).size
      } catch { case _: Exception => () }
      docs += 1
    }
    val alloc = mx.getThreadAllocatedBytes(tid) - a0
    Seq("parse", "expand", "tordf", "c14n").zipWithIndex.foreach { case (p, i) =>
      metrics(s"core.${p}_us") = ns(i) / 1e3 / docs
    }
    metrics("core.doc_us") = ns.sum / 1e3 / docs
    metrics("core.quads_per_doc") = quads.toDouble / docs
    metrics("core.alloc_kb_per_doc") = alloc / 1024.0 / docs
  }

  private def checkConstruct(out: String): Unit = {
    val s = spark
    import s.implicits._
    val expect = spark.read.parquet(s"$in/expect")
      .select(col("repo"), col("path"), explode(col("docs")).as("doc"))
      .groupBy(col("repo"), col("path"), col("doc")).count()
      .as[(String, String, String, Long)].collect().toSeq
    val ref = Reference.construct(expect.map { case (repo, path, doc, n) => (s"graft://$repo/$path", doc, n) })

    val counters = Pipeline.newCounters(spark)
    val ctx = spark.sparkContext.broadcast(Map.empty[String, String])
    val detected = Pipeline.detectStage(corpus, counters)
    // outside the timed region: transform once for the counts below
    val pipe = Pipeline.transformStage(detected, ctx, counters).persist()
    val docs = detected.count()
    val quarantine = Pipeline.quarantine(pipe).groupBy("errorCode").count()
      .as[(String, Long)].collect().toMap
    val emitted = Pipeline.quads(pipe).count()
    pipe.unpersist()
    val written = spark.read.parquet(out)
      .select("subj", "pred", "obj", "objKind", "objDatatype", "objLang", "graph")
      .collect().map(_.toSeq)
      .drop(if (perturb == "quad") 1 else 0)
    val digest = Digest.of(written)

    check("construct.detected_docs", docs == ref.detected, s"spark=$docs reference=${ref.detected}")
    check("construct.quads_emitted", emitted == ref.quadsEmitted, s"spark=$emitted reference=${ref.quadsEmitted}")
    check("construct.quarantine_by_code", quarantine == ref.quarantine,
      s"spark=$quarantine reference=${ref.quarantine}")
    check("construct.quads_written", written.length == ref.written.count,
      s"spark=${written.length} reference=${ref.written.count}")
    check("construct.written_digest", digest == ref.written, s"spark=$digest reference=${ref.written}")
    info("quads_emitted") = emitted.toString
    info("quads_written") = written.length.toString
    info("files") = corpus.count().toString
    info("docs_detected") = docs.toString
    info("quarantine") = quarantine.toString
  }

  // ------------------------------------------------------------- analytics

  private var graphSpec: GraphSpec = _

  private def edges: DataFrame = spark.read.parquet(s"$in/graph/edges")
  private def graphQuads: DataFrame = spark.read.parquet(s"$in/graph/quads")

  private val P = GraphSpec.Vocab

  /** The graph operations, each collected so its result is checked.
    * `shortestPaths` is left out: on this graph it is about 70 one-level
    * jobs, scheduler overhead that would take a fifth of the run.
    */
  private def graphOps: Seq[(String, () => Array[Row])] =
    Seq(
      "pagerank" -> (() => GraphOps.pageRank(edges, iterations = 3).collect()),
      "triangles" -> (() => GraphOps.triangleCount(edges).collect()),
      "bgp_chain" -> (() => GraphOps.bgp(graphQuads, Seq(
        TriplePattern(Var("a"), Const(P + "next"), Var("b")),
        TriplePattern(Var("b"), Const(P + "skip"), Var("c")),
        TriplePattern(Var("c"), Const(P + "chord"), Var("d")))).select("a", "b", "c", "d").collect()),
      "sameas" -> (() => GraphOps.resolveSameAs(graphQuads).select("subj", "pred", "obj", "dt").collect()))

  /** Query order is seeded; the set is fixed. */
  private lazy val queryOrder: Seq[String] = new scala.util.Random(seed).shuffle(Queries)

  /** One pass in a fresh session: the graph ops, then the queries. */
  private def analyticsPass(keep: mutable.Map[String, (Array[Row], org.apache.spark.sql.types.StructType)])
      : Seq[(String, Double)] = {
    freshSession()
    val tables = s"$in/tables"
    val g = graphOps.map { case (op, f) =>
      val (r, w) = call(s"graphops.$op")(f())
      r.foreach(rows => keep(s"graph:$op") = (rows, null))
      s"graphops.$op" -> w
    }
    val q = queryOrder.map { name =>
      val (r, w) = call(s"query.$name") {
        val df = SparkEntry.queries(name)(spark, tables)
        (df.collect(), df.schema)
      }
      r.foreach(keep(s"query:$name") = _)
      s"query.$name" -> w
    }
    g ++ q
  }

  private def analytics(): Unit = {
    setup { () =>
      Gen.tables(spark, seed, s"$in/tables")
      graphSpec = Gen.graph(spark, seed, GraphNodes, s"$in/graph")
    }
    info("graph") = graphSpec.toString
    val keep = mutable.Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
    // JIT warm-up: after one pass the compiler still works through most of
    // the next; a trace run warms one pass more, so that the untraced and
    // traced passes it compares see the same warmth
    for (_ <- 1 to (if (trace) 3 else 2)) analyticsPass(keep)
    keep.clear()
    phase("warmup")
    val opWalls = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    if (!trace) measure { () =>
      val ws = analyticsPass(keep)
      opWalls += ws
      ws.map(_._2).sum
    } else {
      // a traced pass runs in a session with the listener on, and its
      // listener figures are read before the next pass stops that session
      val (untraced, traced) = alternate(1) { t =>
        tracing = t
        val ws = analyticsPass(keep)
        if (t) { opWalls += ws; traceAnalytics() }
        // after every pass, so that untraced and traced passes alike start
        // from a collected heap
        val heap = retainedHeapMb()
        if (t) metrics("jvm.retained_heap_mb") = heap
        tracing = false
        ws.map(_._2).sum
      }
      opWalls.flatten.groupBy(_._1).foreach { case (op, ws) => metrics(s"${op}_s") = median(ws.map(_._2).toSeq) }
      metrics("analytics.pass_s") = median(traced)
      metrics("trace.overhead_pct") = (median(traced) / median(untraced) - 1) * 100
      info("untraced_pass_walls_s") = untraced.map(w => f"$w%.3f").mkString("[", ",", "]")
      info("traced_pass_walls_s") = traced.map(w => f"$w%.3f").mkString("[", ",", "]")
    }
    opWalls.flatten.groupBy(_._1).foreach { case (op, ws) => info(s"${op}_s") = f"${median(ws.map(_._2).toSeq)}%.3f" }
    checkGraph(keep)
    phase("check_graph")
    writeQueryResults(keep)
  }

  /** The listener figures of the traced pass just run. */
  private def traceAnalytics(): Unit = {
    GraphOpNames.foreach { op =>
      val st = stats(s"graphops.$op")
      metrics(s"graphops.${op}_jobs") = st.jobs.toDouble
      metrics(s"graphops.${op}_shuffle_mb") = st.shuffleWriteBytes / 1048576.0
    }
    val gs = GraphOpNames.map(op => stats(s"graphops.$op"))
    metrics("graphops.spill_mb") = gs.map(_.spillBytes).sum / 1048576.0
    metrics("graphops.gc_s") = gs.map(_.gcMs).sum / 1e3
    Queries.foreach { q =>
      val st = stats(s"query.$q")
      metrics(s"query.${q}_jobs") = st.jobs.toDouble
      metrics(s"query.${q}_shuffle_mb") = st.shuffleWriteBytes / 1048576.0
    }
    metrics("query.jobs_total") = Queries.map(q => stats(s"query.$q").jobs).sum.toDouble
    metrics("query.cached_mb") = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
  }

  private def checkGraph(keep: mutable.Map[String, (Array[Row], org.apache.spark.sql.types.StructType)]): Unit = {
    val s = spark
    import s.implicits._
    val e = edges.as[(Long, Long)].collect().toSeq
    val qs = graphQuads.as[(String, String, String, String)].collect().toSeq
    def rows(op: String) = keep.get(s"graph:$op").map(_._1).map { rs =>
      if (perturb == "graph" && op == "triangles")
        rs.take(1).map(r => Row(r.getLong(0), r.getLong(1) + 1)) ++ rs.drop(1)
      else rs
    }

    val pr = Reference.pageRank(e, 3)
    check("graph.pagerank", rows("pagerank").exists { rs =>
      rs.length == pr.size && rs.forall(r => pr.get(r.getLong(0)).exists(v => math.abs(v - r.getDouble(1)) <= 1e-13))
    }, s"nodes=${pr.size}")
    val tri = Reference.triangles(e)
    check("graph.triangles", rows("triangles").exists { rs =>
      rs.length == tri.size && rs.forall(r => tri.get(r.getLong(0)).contains(r.getLong(1)))
    }, s"nodes=${tri.size} total=${tri.values.sum / 3}")
    val chain = Reference.chain(qs, P + "next", P + "skip", P + "chord")
    check("graph.bgp_chain", rows("bgp_chain").exists(rs => Digest.of(rs.map(_.toSeq)) == chain), s"reference=$chain")
    val same = Reference.sameAs(qs, GraphSpec.SameAs)
    check("graph.sameas", rows("sameas").exists(rs => Digest.of(rs.map(_.toSeq)) == same), s"reference=$same")
  }

  /** Query results go to parquet for the DuckDB oracle, which the Python
    * side runs on the same input tables.
    */
  private def writeQueryResults(keep: mutable.Map[String, (Array[Row], org.apache.spark.sql.types.StructType)]): Unit = {
    val oracle = SparkEntry.oracleSql
    Queries.foreach { q =>
      keep.get(s"query:$q").foreach { case (rows0, schema) =>
        val rows = if (perturb == "query" && q == Queries.head) rows0.drop(1) else rows0
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$work/results/$q")
      }
    }
    Files.writeString(Paths.get(s"$work/results/oracle_sql.json"),
      JsonOut.obj(Queries.filter(oracle.contains).map(q => q -> JsonOut.str(oracle(q)))))
  }
}
