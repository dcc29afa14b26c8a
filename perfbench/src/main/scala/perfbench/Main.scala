package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.sink.{AtomicParquetSink, MorLog}

/** One benchmark run: one workload, one seed, one JVM.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *                  --trace <0|1> --work <dir> --out <dir>
  *                  [--overhead 0|1] [--inject-extra-job 0|1]
  *
  * Order: session start, the fixture built three times (set-up time is
  * the session start plus the median build), an untimed warm-up pass of
  * half the operations on the third build, the untraced pass on the first,
  * then with `--trace 1` the traced pass with listeners and spans on the
  * second. Each pass gets its own fixture directory, so no table state
  * or engine cache carries over. The last
  * stdout line starting `PERFBENCH_RESULT ` holds the result as JSON. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String, out: String,
                        overhead: Boolean, inject: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("out"),
      m.getOrElse("overhead", "1") == "1", m.getOrElse("inject-extra-job", "0") == "1")
  }

  val Fixtures = 3

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads.byName(a.workload)
      .getOrElse(sys.error(s"unknown workload ${a.workload}"))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = GraftSession.builder()
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    def phase(what: String): Unit = System.err.println(
      f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s: $what")
    try {
      phase("session up")
      // the first build also pays class loading and code generation;
      // the median of the three builds is a warm one
      val dirs = (0 until Fixtures).map(i => s"${a.work}/fixture$i")
      var inputs = Map.empty[String, Long]
      val buildS = dirs.map { d =>
        val t0 = System.nanoTime()
        inputs = w.fixture(spark, a.seed, a.seconds, d)
        (System.nanoTime() - t0) / 1e9
      }
      val setupS = sessionS + Report.median(buildS)
      phase("fixtures built")

      // JIT warm-up: the first half of the operations, untimed, on the
      // third build, so the timed passes run compiled code at full size
      w.run(new Ctx(spark, a.seed, a.seconds, new Tracer(false), false,
        opLimit = math.max(2, w.ops(a.seconds) / 2)), dirs(2))
      phase("warm-up pass done")

      val runId = s"${a.workload}-s${a.seed}-${System.currentTimeMillis()}"
      val checks = mutable.ArrayBuffer.empty[String]
      var attempted = 0L

      def pass(dir: String, tracer: Tracer, inject: Boolean): PassResult = {
        val r = w.run(new Ctx(spark, a.seed, a.seconds, tracer, inject), dir)
        attempted += r.ops.count(_.kind == w.primary)
        phase(s"pass timed (${r.wallMs / 1000.0} s)")
        checks ++= w.check(spark, a.seed, dir, r)
        phase("pass checked")
        r
      }

      val untraced =
        if (!a.trace || a.overhead) Some(pass(dirs(0), new Tracer(false), a.inject))
        else None
      val e2eUntraced = untraced.map(r => endToEnd(spark, w, r, setupS))

      val out = mutable.LinkedHashMap.empty[String, Any]
      out("workload") = a.workload
      out("run_id") = runId
      out("env") = envStamp(spark, a, inputs)
      out("setup") = Map("session_s" -> sessionS, "fixture_builds_s" -> buildS)

      if (a.trace) {
        val tracer = new Tracer(true)
        val probe = new Probe(spark)
        probe.attach()
        val r = try pass(dirs(1), tracer, a.inject) finally probe.detach()
        val e2e = endToEnd(spark, w, r, setupS)
        val spans = Report.allSpans(tracer, probe)
        val layers = layerMetrics(w, r, probe, spans, dirs(1))
        e2eUntraced.foreach { u =>
          layers("trace.overhead_pct") =
            100.0 * (num(e2e("op_ms_p50")) / num(u("op_ms_p50")) - 1.0)
          out("tracing_overhead") = u.keys.filter(k => e2e.contains(k) &&
            isNum(u(k))).map(k => k -> (num(e2e(k)) - num(u(k)))).toMap
        }
        out("e2e_traced") = e2e
        out("layers") = layers
        out("counters") = counters(w, spark, r, probe, dirs(1))
        writeTrace(new File(a.out, s"trace-$runId.json"), runId, spans)
      }
      e2eUntraced.foreach(out("e2e") = _)
      out("checks") = checks.toList
      out("attempted") = attempted
      out("failed") = checks.size.toLong
      out("correct") = checks.isEmpty
      println("PERFBENCH_RESULT " + json.writeValueAsString(out))
    } finally spark.stop()
  }

  def isNum(x: Any): Boolean = x.isInstanceOf[Number]
  def num(x: Any): Double = x.asInstanceOf[Number].doubleValue

  def liveRows(spark: SparkSession, table: String): Long =
    if (new File(s"$table/_log").isDirectory) MorLog.read(spark, table).count()
    else AtomicParquetSink.read(spark, table).map(_.count()).getOrElse(0L)

  /** End-to-end metrics of one pass: the generic ones every workload
    * reports, and the workload's own named ones. */
  def endToEnd(spark: SparkSession, w: Workload, r: PassResult,
               setupS: Double): mutable.LinkedHashMap[String, Any] = {
    val m = mutable.LinkedHashMap.empty[String, Any]
    val primary = r.ops.filter(_.kind == w.primary).map(_.ms)
    m("setup_s") = setupS
    m("op_ms_p50") = Report.median(primary)
    m("ops_per_s") = primary.size / (r.wallMs / 1000.0)
    m("op_samples") = primary.size
    m("op_ms") = primary
    m("timed_wall_s") = r.wallMs / 1000.0
    val live = liveRows(spark, r.tableDir)
    m("live_rows") = live
    m("stored_bytes_per_live_row") =
      Workloads.dirBytes(r.tableDir).toDouble / math.max(1L, live)
    m("retained_heap_mb") = retainedHeapMb()
    def lat(kind: String, prefix: String): Unit = {
      val xs = r.ops.filter(_.kind == kind).map(_.ms)
      if (xs.nonEmpty) Report.latency(prefix, xs, m)
    }
    w.primary match {
      case "commit" =>
        lat("commit", "commit_ms")
        m("cdc_rows_per_s") = r.appliedRows / (r.wallMs / 1000.0)
      case "round" =>
        lat("gold", "gold_ms"); lat("lookup", "lookup_ms"); lat("cdf", "cdf_ms")
      case "cycle" =>
        m("pipeline_cycle_s") = Report.median(primary) / 1000.0
      case _ =>
    }
    m
  }

  /** Driver heap still in use after a full collection, in MiB: what the
    * engine and Spark keep (caches, state, listener records) once a pass
    * and its check are over. */
  def retainedHeapMb(): Double = {
    // objects that Spark's cleaner releases when a collection clears their
    // weak references only go in a later collection
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Per-layer metrics of the traced pass. */
  def layerMetrics(w: Workload, r: PassResult, p: Probe, spans: Seq[Span],
                   dir: String): mutable.LinkedHashMap[String, Any] = {
    val m = mutable.LinkedHashMap.empty[String, Any]
    def ops(kind: String) = r.ops.filter(_.kind == kind)
    val prim = ops(w.primary)
    val aggs = prim.map(Report.aggregate(_, p))
    Report.sparkLayer(aggs, m)
    // MorLog commit path, grouped by job-description label: per primary
    // operation (on the read workload every job is unlabelled), and the
    // job count and driver gap of commits where there are commits
    Report.MorlogGroups.foreach { g =>
      m(s"morlog.$g.jobs") =
        Report.mean(aggs.map(_.labels.get(g).map(_._1).getOrElse(0).toDouble))
      m(s"morlog.$g.ms") =
        Report.mean(aggs.map(_.labels.get(g).map(_._2).getOrElse(0.0)))
    }
    val commits = ops("commit").map(Report.aggregate(_, p))
    m("morlog.commit_jobs") = Report.mean(commits.map(_.jobs.toDouble))
    m("morlog.driver_gap_ms") = Report.mean(commits.map(_.gapMs))
    m("morlog.tomb_bytes") = Workloads.tombBytes(r.tableDir)
    // streaming micro-batch phases, per epoch
    val epochs = p.epochs.filter(_.rows > 0)
    Report.StreamPhases.foreach { ph =>
      m(s"stream.${ph}_ms") =
        Report.mean(epochs.map(_.durations.getOrElse(ph, 0L).toDouble).toSeq)
    }
    m("stream.non_sink_ms") = Report.mean(epochs.map(e =>
      (e.durations.getOrElse("triggerExecution", 0L) -
        e.durations.getOrElse("addBatch", 0L)).toDouble).toSeq)
    m("stream.epochs") = epochs.size
    // read path
    val lookups = ops("lookup")
    val la = lookups.map(Report.aggregate(_, p))
    m("scan.planning_ms") = Report.mean(la.map(_.planningMs))
    m("scan.driver_gap_ms") = Report.mean(la.map(_.gapMs))
    m("scan.rows_read_per_row_returned") =
      la.map(_.inputRecords).sum.toDouble / math.max(1L, lookups.map(_.rows).sum)
    val golds = ops("gold").map(Report.aggregate(_, p))
    m("scan.input_bytes") = Report.mean(golds.map(_.inputBytes.toDouble))
    m("gold.shuffle_write_bytes") = Report.mean(golds.map(_.shuffleWrite.toDouble))
    m("gold.task_cpu_ms") = Report.mean(golds.map(_.cpuMs))
    // pipeline stages
    Seq("dim_load", "fact_load", "gold_refresh").foreach { k =>
      m(s"pipeline.${k}_ms") = Report.median(ops(k).map(_.ms))
    }
    m("pipeline.write_amplification") =
      if (r.inputBytes > 0 && w.primary == "cycle")
        aggs.map(_.outputBytes).sum.toDouble / r.inputBytes
      else Double.NaN
    // self time per layer, per primary operation
    Report.selfTimes(spans).foreach { case (layer, ms) =>
      m(s"self_ms.$layer") = ms / math.max(1, prim.size)
    }
    m.filter { case (_, v) => !(v.isInstanceOf[Double] &&
      v.asInstanceOf[Double].isNaN) }
  }

  /** Exact counts of one traced pass; they do not move with host load. */
  def counters(w: Workload, spark: SparkSession, r: PassResult, p: Probe,
               dir: String): Map[String, Long] = {
    val prim = r.ops.filter(_.kind == w.primary)
    val aggs = prim.map(Report.aggregate(_, p))
    val labels = aggs.flatMap(_.labels.toSeq).groupBy(_._1).map {
      case (g, xs) => s"jobs.label.$g" -> xs.map(_._2._1.toLong).sum }
    val lookups = r.ops.filter(_.kind == "lookup").map(Report.aggregate(_, p))
    Map("ops" -> prim.size.toLong,
      "jobs.total" -> aggs.map(_.jobs.toLong).sum,
      "jobs.max_per_op" -> aggs.map(_.jobs.toLong).maxOption.getOrElse(0L),
      "stages.total" -> aggs.map(_.stages.toLong).sum,
      "lookup.rows_read" -> lookups.map(_.inputRecords).sum) ++
      labels ++ w.tableCounters(spark, dir).map { case (k, v) => s"table.$k" -> v }
  }

  def envStamp(spark: SparkSession, a: Args,
               inputs: Map[String, Long]): Map[String, Any] = Map(
    "cores" -> Runtime.getRuntime.availableProcessors,
    "spark_master" -> spark.sparkContext.master,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"),
    "seed" -> a.seed, "seconds" -> a.seconds, "inputs" -> inputs)

  def writeTrace(f: File, runId: String, spans: Seq[Span]): Unit = {
    f.getParentFile.mkdirs()
    val t0 = spans.map(_.start).minOption.getOrElse(0.0)
    json.writeValue(f, Map("run_id" -> runId, "epoch_ms" -> t0,
      "spans" -> spans.sortBy(_.start).map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> (s.start - t0),
        "end_ms" -> (s.end - t0), "run_id" -> runId, "attrs" -> s.attrs))))
  }
}
