package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.jdk.CollectionConverters._

/** Benchmark harness: runs one workload through graft's public API and
  * writes a JSON artifact with every pass, every operation's result
  * fingerprint and the metrics `run.py` prints.
  *
  * A run is: session; the workload's set-up, repeated `setupReps` times
  * (the median repetition is reported); an untimed warm-up query; then
  * timed passes, each over every operation in the workload's fixed order,
  * until `seconds` have elapsed. Every result is fingerprinted outside the phase timers. With
  * `trace` on, the timed passes are traced; then a warming pass and four
  * passes over the first `overheadOps` operations, untraced, traced,
  * traced, untraced, measure the tracing overhead, and the power workload times its data
  * generator.
  *
  * Usage: Harness <power|pipeline> <seed> <seconds> <trace 0|1> <workDir>
  *   <artifact.json> <csvDir> <tablesDir> <pipelineQueries.txt>
  * where csvDir holds DataGen's pipe-CSV (read by power) and tablesDir the
  * test tables (read by pipeline and by the warm-up query).
  */
object Harness {

  val cores = 4
  val overheadOps = 8

  final case class Conf(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, artifact: String, csv: String,
      tables: String, pipelineList: String)

  /** One operation's outcome in one pass. `checkS` is the untimed time
    * spent fingerprinting the result; `error` is empty on success.
    */
  final case class OpRecord(name: String, group: String,
      phases: Seq[(String, Double)], rows: Long, digest: String,
      error: String, phaseSpans: Seq[Int], checkS: Double) {
    def total: Double = phases.map(_._2).sum
  }

  /** `wall` excludes the operations' fingerprinting time. */
  final case class PassRecord(index: Int, traced: Boolean, wall: Double,
      ops: Seq[OpRecord], heapPeakMb: Double, gcS: Double, spanId: Int)

  /** Per-pass context handed to operations. */
  final class Ctx(val spark: SparkSession, val tracer: Option[Tracer],
      val pass: Int, val out: String)

  /** One operation: runs its phases through `Phases` and returns the row
    * count and the fingerprint of its result.
    */
  final case class Op(name: String, group: String,
      run: (Ctx, Phases) => (Long, String))

  /** Times the named phases of one operation, labelling the jobs each
    * phase submits so the tracer can attribute them. `check` runs a
    * block outside every phase and keeps its time apart.
    */
  final class Phases(ctx: Ctx, op: String, opSpan: Option[Span]) {
    val times = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val spans = scala.collection.mutable.ArrayBuffer.empty[Int]
    var checkS = 0.0

    def apply[T](phase: String)(body: => T): T = {
      val sc = ctx.spark.sparkContext
      val sp = for (t <- ctx.tracer; o <- opSpan)
        yield t.open("phase", phase, o.id, ctx.pass, op, phase)
      sp.foreach(s => spans += s.id)
      sc.setLocalProperty("perfbench.span", sp.map(_.id.toString).orNull)
      val t0 = System.nanoTime()
      try body
      finally {
        times += phase -> (System.nanoTime() - t0) / 1e9
        for (t <- ctx.tracer; s <- sp) t.close(s)
        sc.setLocalProperty("perfbench.span", null)
      }
    }

    def check[T](body: => T): T = {
      val (v, s) = timedV(body)
      checkS += s
      v
    }
  }

  // --------------------------------------------------------------- workloads

  /** A pass runs `ops` in their listed order. A timed pass is each
    * operation's first run in the JVM, so the first operation to use an
    * operator pays its JIT and code-generation start-up. A seed-permuted
    * order moved that cost between operations, and with it the
    * per-operation medians, from run to run.
    */
  abstract class Workload {
    val setupReps: Int
    /** One repetition of the set-up into `dir`; returns named timings. */
    def setUp(spark: SparkSession, dir: String): Seq[(String, Double)]
    def ops: Seq[Op]
    /** load.* facts of the set-up, if it ran a load test. */
    def setupFacts: Seq[(String, Double)] = Nil
    /** Rows per table the set-up's load test wrote, if it ran one. */
    def loadedRows: Seq[(String, Long)] = Nil
    /** Seconds to generate the workload's input into `dir`, 0 if it has none. */
    def dataGen(spark: SparkSession, dir: String): Double = 0.0
  }

  val powerSf = 0.01

  val powerClass: Map[String, String] = {
    val sql = Seq(1, 6, 7, 9, 11, 13, 14, 15, 16, 17, 21, 22, 23, 24, 29)
    val session = Seq(2, 3, 4, 8, 12, 30)
    val nlp = Seq(10, 18, 19, 27)
    val ml = Seq(5, 20, 25, 26, 28)
    def q(i: Int) = f"q$i%02d"
    (sql.map(q(_) -> "sql") ++ session.map(q(_) -> "session") ++
      nlp.map(q(_) -> "nlp") ++ ml.map(q(_) -> "ml")).toMap
  }

  /** TPCx-BB's load then power test. The set-up converts DataGen's
    * pipe-CSV with the load test and registers the parquet the load test
    * wrote; a pass runs the 30 queries. The set-up runs once, as one costs
    * a third of a pass, and is the only warm-up: the timed pass is each
    * query's first run in the JVM.
    */
  final class Power(csv: String) extends Workload {
    val setupReps = 1
    private var facts: Seq[(String, Double)] = Nil
    override def setupFacts: Seq[(String, Double)] = facts
    private var loaded: Seq[(String, Long)] = Nil
    override def loadedRows: Seq[(String, Long)] = loaded

    def setUp(spark: SparkSession, dir: String): Seq[(String, Double)] = {
      val (report, load) = timedV(
        graft.bdb.BdbCatalog.loadTest(spark, csv, s"$dir/parquet"))
      val reg = timed(graft.bdb.BdbCatalog.registerParquet(spark, s"$dir/parquet"))
      facts = loadFacts(report, csv, s"$dir/parquet")
      loaded = report.map(r => r._1 -> r._2)
      Seq("bdb.load_s" -> load, "bdb.register_s" -> reg)
    }

    override def dataGen(spark: SparkSession, dir: String): Double =
      timed(graft.bdb.BdbDataGen.writeCsv(spark, dir,
        graft.bdb.BdbDataGen.Counts(powerSf)))

    /** The 30 queries with BdbScaleRun's parameters: reference defaults,
      * item probes moved to the catalog midpoint below 10001 items. Each
      * is timed as build (fit for the ML class), main (materialize) and
      * write (parquet), as BdbBenchmarkRunner splits them.
      */
    val ops: Seq[Op] = {
      import graft.bdb.{BdbQueries, BdbQueries1, BdbQueries2}
      val c = graft.bdb.BdbDataGen.Counts(powerSf)
      val probe = if (c.items >= 10001L) 10001L else c.items / 2 + 1
      val qs = BdbQueries.all ++ Map[String, SparkSession => DataFrame](
        "q02" -> (s => BdbQueries1.q02(s, itemSk = probe)),
        "q03" -> (s => BdbQueries1.q03(s, purchasedItem = probe)),
        "q24" -> (s => BdbQueries2.q24(s, itemSk = probe)),
        "q27" -> (s => BdbQueries2.q27(s, itemSk = probe)))
      qs.toSeq.sortBy(_._1).map { case (name, fn) =>
        val cls = powerClass(name)
        Op(name, cls, (ctx, ph) => {
          val df = ph(if (cls == "ml") "fit" else "build")(fn(ctx.spark))
          val (mat, rows) = ph("main") {
            val m = df.localCheckpoint()
            (m, m.count())
          }
          ph("write")(mat.write.mode("overwrite").parquet(s"${ctx.out}/$name"))
          (rows, ph.check(Digest.of(mat)))
        })
      }
    }
  }

  /** Operator-suite queries over the committed test tables. The
    * main phase collects the result, which materializes every column as
    * graft.Bench's noop sink does and hands the rows to the fingerprint.
    * A pinned name the suite no longer has becomes a failing operation.
    * The timed pass is each query's first run in the JVM.
    */
  final class Pipeline(dataDir: String, names: Seq[String]) extends Workload {
    val setupReps = 3

    def setUp(spark: SparkSession, dir: String): Seq[(String, Double)] =
      Seq("bdb.register_s" -> timed(graft.Tables.registerAll(spark, dataDir)))

    val ops: Seq[Op] = {
      val all = graft.SparkEntry.queries
      names.map { name =>
        Op(name, family(name), (ctx, ph) => {
          val fn = all.getOrElse(name, throw new NoSuchElementException(
            s"pinned query $name is not in SparkEntry.queries"))
          val df = ph("build")(fn(ctx.spark, dataDir))
          val rows = ph("main")(df.collect())
          (rows.length.toLong, ph.check(Digest.ofRows(df.schema, rows)))
        })
      }
    }
  }

  def family(name: String): String = name.head match {
    case 'a' => "curation"
    case 'd' => "dedup"
    case 'g' => "graph"
    case 'x' => "extras"
    case _ => "other"
  }

  // ------------------------------------------------------------------ helpers

  def timed(body: => Unit): Double = timedV(body)._2

  def timedV[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.size)

  def tree(root: File): Seq[File] =
    if (!root.exists()) Nil
    else if (root.isDirectory) Option(root.listFiles()).toSeq.flatten.flatMap(tree)
    else Seq(root)

  def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  def dataFiles(dir: String): Seq[File] = tree(new File(dir)).filter { f =>
    val n = f.getName
    !n.startsWith(".") && !n.startsWith("_")
  }

  /** load.* facts of one load test: per-class seconds, bytes and files. */
  def loadFacts(report: Seq[(String, Long, Double)], csv: String,
      parquet: String): Seq[(String, Double)] = {
    val dims = graft.bdb.BdbSchemas.broadcastDims
    val csvBytes = dataFiles(csv).map(_.length).sum.toDouble
    val pq = dataFiles(parquet)
    val pqBytes = pq.map(_.length).sum.toDouble
    Seq(
      "load.facts_s" -> report.filterNot(r => dims(r._1)).map(_._3).sum,
      "load.dims_s" -> report.filter(r => dims(r._1)).map(_._3).sum,
      "load.csv_bytes" -> csvBytes,
      "load.parquet_bytes" -> pqBytes,
      "load.files" -> pq.size.toDouble,
      "load.rows" -> report.map(_._2).sum.toDouble,
      "stored_bytes_ratio" -> (if (csvBytes > 0) pqBytes / csvBytes else 0.0))
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  // --------------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    require(args.length == 9, "usage: Harness <workload> <seed> <seconds> " +
      "<trace> <workDir> <artifact> <csvDir> <tablesDir> <pipelineQueries>")
    val conf = Conf(args(0), args(1).toLong, args(2).toDouble, args(3) == "1",
      args(4), args(5), args(6), args(7), args(8))
    val (spark, sessionS) = timedV(graft.Engine.session(cores, appName = "perfbench"))
    spark.sparkContext.setLogLevel("ERROR")
    try run(conf, spark, sessionS)
    finally spark.stop()
  }

  def run(conf: Conf, spark: SparkSession, sessionS: Double): Unit = {
    val sc = spark.sparkContext
    val wl: Workload = conf.workload match {
      case "power" => new Power(conf.csv)
      case "pipeline" =>
        val src = scala.io.Source.fromFile(conf.pipelineList, "UTF-8")
        val names = try src.getLines().map(_.takeWhile(_ != '#').trim)
          .filter(_.nonEmpty).toList finally src.close()
        new Pipeline(conf.tables, names)
      case other => sys.error(s"unknown workload $other")
    }
    val work = new File(conf.work)
    rmTree(work)
    work.mkdirs()

    // set-up; the last repetition's data is what the passes read
    val reps = (1 to wl.setupReps).map { r =>
      if (r > 1) rmTree(new File(s"${conf.work}/setup${r - 1}"))
      val (layers, wall) = timedV(wl.setUp(spark, s"${conf.work}/setup$r"))
      ("setup.rep_s" -> wall) +: layers
    }
    // graft.Bench's warm-up query, so that JVM and code-generation
    // start-up is not billed to the first operation alone
    val warmUpS = timed(graft.SparkEntry.queries("o15_multi_agg")(spark, conf.tables)
      .write.format("noop").mode("overwrite").save())
    val setupS = sessionS + median(reps.map(_.head._2)) + warmUpS

    val tracer = if (conf.trace) Some(new Tracer(sc)) else None
    val rootSpan = tracer.map(_.open("workload", conf.workload, -1))

    def runOp(ctx: Ctx, op: Op, passSpan: Option[Span]): OpRecord = {
      val opSpan = for (t <- ctx.tracer; p <- passSpan)
        yield t.open("op", op.name, p.id, ctx.pass, op.name)
      val ph = new Phases(ctx, op.name, opSpan)
      sc.setJobDescription(s"bench: ${op.name}")
      try {
        val (rows, digest) = op.run(ctx, ph)
        OpRecord(op.name, op.group, ph.times.toList, rows, digest, "",
          ph.spans.toList, ph.checkS)
      } catch { case scala.util.control.NonFatal(e) =>
        OpRecord(op.name, op.group, ph.times.toList, 0, "",
          String.valueOf(e).linesIterator.take(3).mkString(" "), ph.spans.toList, ph.checkS)
      } finally {
        sc.setJobDescription(null)
        for (t <- ctx.tracer; o <- opSpan) t.close(o)
        graft.tools.SessionHygiene.unpersistAll(spark, blocking = true)
      }
    }

    def runPass(index: Int, traced: Boolean, limit: Int = Int.MaxValue): PassRecord = {
      val tr = if (traced) tracer else None
      tr.foreach { t =>
        sc.addSparkListener(t.sparkListener)
        spark.streams.addListener(t.streamListener)
      }
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcMs
      val passSpan = tr.map(_.open("pass", s"pass $index", rootSpan.get.id, index))
      val ctx = new Ctx(spark, tr, index, s"${conf.work}/out$index")
      val (records, wall) = timedV(wl.ops.take(limit).map(op => runOp(ctx, op, passSpan)))
      tr.foreach { t =>
        t.close(passSpan.get)
        org.apache.spark.perfbench.SparkBridge.drainListeners(sc)
        sc.removeSparkListener(t.sparkListener)
        spark.streams.removeListener(t.streamListener)
      }
      val heap = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
      val gcS = (gcMs - gc0) / 1e3
      rmTree(new File(ctx.out))
      PassRecord(index, traced, wall - records.map(_.checkS).sum, records,
        heap, gcS, passSpan.map(_.id).getOrElse(-1))
    }

    // closed loop: whole passes until `seconds` are spent
    val timedStart = System.nanoTime()
    val passes = scala.collection.mutable.ArrayBuffer.empty[PassRecord]
    while (passes.isEmpty || (System.nanoTime() - timedStart) / 1e9 < conf.seconds)
      passes += runPass(passes.size + 1, traced = conf.trace)
    // tracing overhead: after one more warming pass, the same operations
    // untraced, traced, traced, untraced, so that the JVM's remaining
    // warm-up falls on both sides alike
    val overheadPasses = if (!conf.trace) Nil
      else Seq(false, false, true, true, false).zipWithIndex.map { case (t, i) =>
        runPass(passes.size + 1 + i, traced = t, overheadOps)
      }
    rootSpan.foreach(s => tracer.get.close(s))
    // the power input's generator, timed once in the traced run, after
    // the passes so that it does not warm the JVM for them
    val datagen = if (!conf.trace) Nil
      else Seq("bdb.datagen_s" -> wl.dataGen(spark, s"${conf.work}/datagen"))

    val artifact = Metrics.artifact(conf, spark, sessionS, setupS, warmUpS, reps,
      wl.setupFacts ++ datagen, wl.loadedRows, passes.toSeq, overheadPasses, tracer)
    Files.createDirectories(Paths.get(conf.artifact).getParent)
    Files.write(Paths.get(conf.artifact), artifact.getBytes("UTF-8"))
    rmTree(work)
  }
}

/** Writes the power workload's input: BdbDataGen's pipe-CSV at the power
  * scale factor. It is a pure function of the engine source, so run.py
  * produces it once per build, like the classes, and the timed runs'
  * set-up starts from the load test.
  *
  * Usage: DataGen <csvDir>
  */
object DataGen {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: DataGen <csvDir>")
    val spark = graft.Engine.session(Harness.cores, appName = "perfbench-datagen")
    spark.sparkContext.setLogLevel("ERROR")
    try graft.bdb.BdbDataGen.writeCsv(spark, args(0),
      graft.bdb.BdbDataGen.Counts(Harness.powerSf))
    finally spark.stop()
  }
}

/** Order-insensitive result fingerprint: the reference's pseudo-equality
  * as graft's golden files render it — columns sorted by name, floats and
  * decimals at 6 significant digits, row lines sorted — hashed.
  */
object Digest {
  def of(df: DataFrame): String = ofRows(df.schema, df.collect())

  def ofRows(schema: org.apache.spark.sql.types.StructType, rows: Array[Row]): String = {
    val fields = schema.fields.zipWithIndex.sortBy(_._1.name)
    val header = fields.map { case (f, _) => s"${f.name}:${f.dataType.simpleString}" }
      .mkString("|")
    val lines = rows.map(r => fields.map { case (_, i) => cell(r.get(i)) }.mkString("|"))
      .sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(header.getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  def cell(v: Any): String = v match {
    case null => "NULL"
    case d: Double => sig6(d)
    case f: Float => sig6(f.toDouble)
    case b: java.math.BigDecimal => sig6(b.doubleValue())
    case b: scala.math.BigDecimal => sig6(b.toDouble)
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${cell(k)}:${cell(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case other => other.toString
  }

  private def sig6(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6))
      .stripTrailingZeros.toPlainString
}
