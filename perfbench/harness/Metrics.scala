package perfbench

import org.apache.spark.sql.SparkSession
import perfbench.Harness._

/** Turns a run's passes and spans into the artifact JSON: end-to-end
  * metrics from untraced passes, per-layer metrics from traced ones.
  */
object Metrics {

  private val powerQueries = (1 to 30).map(i => f"q$i%02d")
  private val families = Seq("curation", "dedup", "graph", "extras")
  private val classes = Seq("sql", "session", "nlp", "ml")

  /** Every per-layer metric, in a fixed order; a layer the workload does
    * not exercise reads 0.
    */
  val layerNames: Seq[String] = Seq(
    "engine.session_s", "bdb.register_s", "bdb.load_s", "bdb.datagen_s",
    "plan.build_s", "plan.fit_s", "plan.fit_jobs",
    "scan.input_bytes", "scan.input_rows", "compute.cpu_s", "compute.run_s",
    "exchange.write_bytes", "exchange.read_bytes", "exchange.write_s",
    "exchange.fetch_wait_s", "spill.bytes",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_failures",
    "exec.driver_gap_s",
    "stream.queries", "stream.batches", "stream.bootstrap_s",
    "stream.add_batch_s", "stream.wal_commit_s", "stream.planning_s",
    "sink.write_s", "sink.bytes", "sink.rows",
    "load.facts_s", "load.dims_s", "load.csv_bytes", "load.parquet_bytes",
    "load.files", "load.rows", "stored_bytes_ratio",
    "jvm.heap_peak_mb", "jvm.gc_s") ++
    classes.map(c => s"${c}_s") ++ families.map(f => s"${f}_s") ++
    families.map(f => s"$f.jobs") ++
    powerQueries.map(q => s"$q.s") ++ powerQueries.map(q => s"$q.jobs") ++
    Seq("trace.overhead_s")

  /** Layer values of one pass. Counter-based values need a traced pass. */
  def passLayers(p: PassRecord, tracer: Option[Tracer]): Map[String, Double] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phaseSum(name: String) = p.ops.flatMap(_.phases).filter(_._1 == name).map(_._2).sum
    m("plan.build_s") = phaseSum("build")
    m("plan.fit_s") = phaseSum("fit")
    m("sink.write_s") = phaseSum("write")
    m("jvm.heap_peak_mb") = p.heapPeakMb
    m("jvm.gc_s") = p.gcS
    val byGroup = p.ops.groupBy(_.group)
    (classes ++ families).foreach { g =>
      m(s"${g}_s") = byGroup.getOrElse(g, Nil).map(_.total).sum
    }
    p.ops.filter(o => o.name.length == 3 && o.name.startsWith("q"))
      .foreach(o => m(s"${o.name}.s") = o.total)

    tracer.filter(_ => p.traced).foreach { t =>
      val spans = t.allSpans
      val byId = spans.map(s => s.id -> s).toMap
      val phaseIds = p.ops.flatMap(_.phaseSpans).distinct
      val total = new Counters
      phaseIds.foreach(id => total += t.countersOf(id))
      m("scan.input_bytes") = total.inputBytes.toDouble
      m("scan.input_rows") = total.inputRows.toDouble
      m("compute.cpu_s") = total.cpuNs / 1e9
      m("compute.run_s") = total.runMs / 1e3
      m("exchange.write_bytes") = total.shuffleWriteBytes.toDouble
      m("exchange.read_bytes") = total.shuffleReadBytes.toDouble
      m("exchange.write_s") = total.shuffleWriteNs / 1e9
      m("exchange.fetch_wait_s") = total.fetchWaitMs / 1e3
      m("spill.bytes") = total.spillBytes.toDouble
      m("exec.jobs") = total.jobs.toDouble
      m("exec.stages") = total.stages.toDouble
      m("exec.tasks") = total.tasks.toDouble
      m("exec.task_failures") = total.taskFailures.toDouble
      m("sink.bytes") = total.outputBytes.toDouble
      m("sink.rows") = total.outputRows.toDouble
      m("plan.fit_jobs") = phaseIds.filter(id => byId(id).phase == "fit")
        .map(t.countersOf(_).jobs).sum.toDouble

      // main-phase wall time during which no stage of the phase was running
      val kids = spans.groupBy(_.parent)
      m("exec.driver_gap_s") = phaseIds.map(byId).filter(_.phase == "main").map { ph =>
        val stages = kids.getOrElse(ph.id, Nil).flatMap(j => kids.getOrElse(j.id, Nil))
          .filterNot(_.end.isNaN).map(s => (s.start, s.end))
        ph.dur - Trace.covered(stages, ph.start, ph.end)
      }.sum / 1e3

      def opJobs(o: OpRecord) = o.phaseSpans.map(t.countersOf(_).jobs).sum.toDouble
      p.ops.filter(o => o.name.length == 3 && o.name.startsWith("q"))
        .foreach(o => m(s"${o.name}.jobs") = opJobs(o))
      families.foreach { f =>
        m(s"$f.jobs") = byGroup.getOrElse(f, Nil).map(opJobs).sum
      }

      // streaming queries whose start falls inside this pass
      val ps = byId(p.spanId)
      val starts = t.streamStartMs.filter { case (_, ms) => ms >= ps.start - 1 && ms <= ps.end + 1 }
      val batches = t.batches.filter(b => starts.contains(b.runId))
        .groupBy(b => (b.runId, b.batchId)).values.map(_.head).toSeq
      def dsum(k: String) = batches.map(_.durations.getOrElse(k, 0L)).sum / 1e3
      m("stream.queries") = starts.size.toDouble
      m("stream.batches") = batches.size.toDouble
      m("stream.bootstrap_s") = starts.toSeq.map { case (run, st) =>
        val first = batches.filter(_.runId == run).map(_.startMs)
        if (first.isEmpty) 0.0 else math.max(0.0, first.min - st)
      }.sum / 1e3
      m("stream.add_batch_s") = dsum("addBatch")
      m("stream.wal_commit_s") = dsum("walCommit")
      m("stream.planning_s") = dsum("queryPlanning")
    }
    m.toMap
  }

  /** Per-operation counts of a traced pass, for the exact-repeat check. */
  def opCounts(p: PassRecord, t: Tracer): Map[String, Seq[(String, Long)]] =
    p.ops.map { o =>
      val c = new Counters
      o.phaseSpans.distinct.foreach(id => c += t.countersOf(id))
      o.name -> c.counts
    }.toMap

  def artifact(conf: Conf, spark: SparkSession, sessionS: Double,
      setupS: Double, warmUpS: Double, reps: Seq[Seq[(String, Double)]],
      facts: Seq[(String, Double)], loaded: Seq[(String, Long)],
      passes: Seq[PassRecord], overhead: Seq[PassRecord],
      tracer: Option[Tracer]): String = {
    def okTotals(p: PassRecord) = p.ops.filter(_.error.isEmpty).map(_.total)
    val e2e = Seq(
      "setup_s" -> setupS,
      "pass_s" -> median(passes.map(_.wall)),
      "query_geomean_s" -> median(passes.map(p => geomean(okTotals(p)))),
      "query_p50_s" -> median(passes.map(p => median(okTotals(p)))))

    val perPass = passes.map(passLayers(_, tracer))
    def repMedian(k: String) = median(reps.flatMap(_.find(_._1 == k).map(_._2)))
    val layers = layerNames.map { n =>
      val v = n match {
        case "engine.session_s" => sessionS
        case "bdb.register_s" | "bdb.load_s" => repMedian(n)
        case "trace.overhead_s" if overhead.nonEmpty =>
          // the first overhead pass only warms the operations
          val (traced, plain) = overhead.drop(1).partition(_.traced)
          traced.map(_.wall).sum / traced.size - plain.map(_.wall).sum / plain.size
        case _ if facts.exists(_._1 == n) => facts.find(_._1 == n).get._2
        case _ => median(perPass.map(_.getOrElse(n, 0.0)))
      }
      n -> v
    }
    val traced = (passes ++ overhead).filter(_.traced)

    // counts that did not repeat exactly between traced passes
    val unstable = tracer.toSeq.flatMap { t =>
      val byPass = traced.map(opCounts(_, t))
      byPass.headOption.toSeq.flatMap(_.keys).sorted.flatMap { op =>
        val series = byPass.flatMap(_.get(op))
        series.head.map(_._1).filter(k => series.map(_.find(_._1 == k).map(_._2)).distinct.size > 1)
          .map(k => J.obj("op" -> op, "count" -> k,
            "values" -> series.map(_.find(_._1 == k).map(_._2).getOrElse(-1L))))
      }
    }

    val spans = tracer.toSeq.flatMap(_.allSpans)
    val self = Trace.selfTimes(spans)
    val selfByKind = spans.groupBy(_.kind).map { case (k, ss) =>
      k -> ss.map(s => self(s.id)).sum / 1e3
    }

    def opJson(o: OpRecord) = J.obj("name" -> o.name, "group" -> o.group,
      "phases" -> J.obj(o.phases.map { case (k, v) => k -> (v: Any) }: _*),
      "total_s" -> o.total, "check_s" -> o.checkS, "rows" -> o.rows,
      "digest" -> o.digest, "error" -> o.error)
    def passJson(p: PassRecord) = J.obj("index" -> p.index, "traced" -> p.traced,
      "wall_s" -> p.wall, "heap_peak_mb" -> p.heapPeakMb,
      "gc_s" -> p.gcS, "ops" -> p.ops.map(opJson),
      "counts" -> tracer.filter(_ => p.traced).map(t => J.obj(opCounts(p, t).toSeq.sortBy(_._1)
        .map { case (op, cs) => op -> J.obj(cs.map { case (k, v) => k -> (v: Any) }: _*) }: _*))
        .getOrElse(J.obj()))
    val rt = Runtime.getRuntime
    J.obj(
      "workload" -> conf.workload, "seed" -> conf.seed, "seconds" -> conf.seconds,
      "trace" -> conf.trace, "nproc" -> rt.availableProcessors(),
      "cores" -> cores, "heap_max_mb" -> rt.maxMemory() / (1024 * 1024),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "setup_reps" -> reps.map(r => J.obj(r.map { case (k, v) => k -> (v: Any) }: _*)),
      "warm_up_s" -> warmUpS,
      "load_tables" -> J.obj(loaded.map { case (t, n) => t -> (n: Any) }: _*),
      "end_to_end" -> J.obj(e2e.map { case (k, v) => k -> (v: Any) }: _*),
      "per_layer" -> J.obj(layers.map { case (k, v) => k -> (v: Any) }: _*),
      "unstable_counts" -> unstable,
      "self_time_s" -> J.obj(selfByKind.toSeq.sortBy(_._1).map { case (k, v) => k -> (v: Any) }: _*),
      "passes" -> passes.map(passJson),
      "overhead_passes" -> overhead.map(passJson),
      "spans" -> spans.map(s => J.obj("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "pass" -> s.pass, "op" -> s.op,
        "phase" -> s.phase, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> self(s.id)))).s
  }
}

/** Minimal JSON rendering for the artifact. */
object J {
  final case class Raw(s: String)

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${render(v)}" }.mkString("{", ",", "}"))

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
