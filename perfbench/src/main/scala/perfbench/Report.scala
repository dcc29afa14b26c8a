package perfbench

import scala.collection.mutable

/** Turns timed operations, listener records and spans into the
  * end-to-end and per-layer metrics. */
object Report {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** The highest percentile with at least ten samples beyond it, when
    * that lies above the median: (percentile, value). */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted; val n = s.size
    val i = n - 11
    if (i <= (n - 1) / 2) None
    else Some((math.floor(100.0 * (i + 1) / n).toInt, s(i)))
  }

  /** Latency summary of one kind of operation: p50, tail, count. */
  def latency(prefix: String, xs: Seq[Double],
              m: mutable.LinkedHashMap[String, Any]): Unit = {
    m(s"${prefix}_p50") = median(xs)
    tail(xs).foreach { case (p, v) =>
      m(s"${prefix}_tail") = v
      m(s"${prefix}_tail_percentile") = p
    }
    m(s"${prefix}_samples") = xs.size
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var tot = 0.0; var curA = Double.NaN; var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) tot += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) tot += curB - curA
    tot
  }

  final case class Agg(jobs: Int, stages: Int, tasks: Int, runMs: Double,
                       cpuMs: Double, gcMs: Double, inputBytes: Long,
                       inputRecords: Long, shuffleRead: Long,
                       shuffleWrite: Long, outputBytes: Long,
                       jobWallMs: Double, gapMs: Double, planningMs: Double,
                       labels: Map[String, (Int, Double)])

  /** The morlog label group of a job description. */
  def labelGroup(desc: String): String =
    if (desc.startsWith("morlog:")) desc.stripPrefix("morlog:") else "other"

  /** Everything Spark did inside one operation's interval. */
  def aggregate(op: OpRec, p: Probe): Agg = {
    val js = p.jobs.values.filter(j => j.start >= op.start && j.start <= op.end)
      .toSeq
    val st = js.flatMap(_.stageIds).distinct.flatMap(p.stages.get)
    val iv = js.map(j => (j.start, if (j.end.isNaN) op.end else j.end))
    val jobWall = covered(iv, op.start, op.end)
    val labels = js.groupBy(j => labelGroup(j.label)).map { case (k, g) =>
      k -> (g.size, covered(g.map(j => (j.start,
        if (j.end.isNaN) op.end else j.end)), op.start, op.end))
    }
    Agg(js.size, st.size, st.map(_.tasks).sum, st.map(_.runMs).sum,
      st.map(_.cpuMs).sum, st.map(_.gcMs).sum, st.map(_.inputBytes).sum,
      st.map(_.inputRecords).sum, st.map(_.shuffleReadBytes).sum,
      st.map(_.shuffleWriteBytes).sum, st.map(_.outputBytes).sum,
      jobWall, op.ms - jobWall,
      p.plans.filter(q => q.start >= op.start && q.start <= op.end)
        .map(_.planningMs).sum,
      labels)
  }

  /** Per-operation means of the Spark-layer metrics. */
  def sparkLayer(aggs: Seq[Agg], m: mutable.LinkedHashMap[String, Any]): Unit = {
    def per(f: Agg => Double): Double = mean(aggs.map(f))
    m("spark.jobs") = per(_.jobs)
    m("spark.stages") = per(_.stages)
    m("spark.tasks") = per(_.tasks)
    m("spark.task_run_ms") = per(_.runMs)
    m("spark.task_cpu_ms") = per(_.cpuMs)
    m("spark.blocked_ms") = per(a => a.runMs - a.cpuMs)
    m("spark.gc_ms") = per(_.gcMs)
    m("spark.input_bytes") = per(_.inputBytes.toDouble)
    m("spark.shuffle_read_bytes") = per(_.shuffleRead.toDouble)
    m("spark.shuffle_write_bytes") = per(_.shuffleWrite.toDouble)
    m("spark.output_bytes") = per(_.outputBytes.toDouble)
    m("spark.job_wall_ms") = per(_.jobWallMs)
    m("spark.driver_gap_ms") = per(_.gapMs)
    m("spark.planning_ms") = per(_.planningMs)
  }

  val MorlogGroups: Seq[String] = Seq("net", "tombs", "locate", "stage", "uniq", "other")
  val StreamPhases: Seq[String] =
    Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")

  /** Spans of the benchmark, plus one span per Spark job and per
    * streaming epoch, each parented to the innermost benchmark span
    * that contains its start. */
  def allSpans(tr: Tracer, p: Probe): Seq[Span] = {
    def parentOf(ss: Seq[Span], t: Double): Int = {
      val c = ss.filter(s => s.start <= t && t <= s.end)
      if (c.isEmpty) -1 else c.minBy(_.ms).id
    }
    val own = tr.spans
    var id = own.map(_.id).maxOption.getOrElse(0)
    val epochSpans = p.epochs.filter(_.rows > 0).map { e =>
      id += 1
      val d = e.durations.getOrElse("triggerExecution", 0L).toDouble
      Span(id, parentOf(own, e.start), s"epoch ${e.batchId}", "stream",
        e.start, e.start + d, Map("rows" -> e.rows) ++ e.durations)
    }.toSeq
    val withEpochs = own ++ epochSpans
    val jobSpans = p.jobs.values.toSeq.map { j =>
      id += 1
      Span(id, parentOf(withEpochs, j.start), s"job ${j.id}", "spark",
        j.start, if (j.end.isNaN) j.start else j.end,
        Map("label" -> j.label, "stages" -> j.stageIds.size))
    }
    withEpochs ++ jobSpans
  }

  /** Self time per layer: each span's duration minus the part of it
    * that its children cover, summed by layer. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
        s.ms - covered(c, s.start, s.end)
      }.sum
    }
  }
}
