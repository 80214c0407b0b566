package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Command line of the JVM half of the benchmark (run.py passes it). */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, inputs: String, work: String, out: String,
    classLog: String, deny: Seq[String])

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("inputs"), m("work"), m("out"), m("class-log"),
      m.getOrElse("deny", "").split(",").toSeq.filter(_.nonEmpty))
  }
}

/** One attempted operation of the measured phase. */
final case class OpRec(kind: String, name: String, pass: Int, startNs: Long,
    endNs: Long, error: String, traced: Boolean, span: Long)

/** Run context shared by the workloads: the session, op timing with
  * failure accounting, set-up repetitions, the measured loop, tracing
  * switches, and the raw record the Python side turns into metrics. */
final class Bench(val args: Args, val spark: SparkSession) {
  val tracer = new Tracer
  private val probe = new SparkProbe(tracer)
  private val ops = new ConcurrentLinkedQueue[OpRec]()
  private val passes = mutable.Buffer[Map[String, Any]]()
  private val jvmStartNs =
    ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
  private var setupEndNs = 0L
  private var measureStartNs = 0L
  private val warmWalls = mutable.Buffer[Double]()
  private val checks = mutable.Buffer[Map[String, Any]]()
  val outputs = mutable.LinkedHashMap[String, Any]()
  val layers = mutable.LinkedHashMap[String, Any]()
  private var untimedNs = 0L
  private var retainedMb = 0.0
  private val tablesMs = mutable.Buffer[Double]()

  /** Time one op; an exception is recorded with its class and counted as a
    * failed op, never rethrown. */
  def op[T](kind: String, name: String, pass: Int, key: String = "")(
      body: => T): Option[T] = {
    val traced = tracer.on
    val t0 = Clock.nowNs
    var span = 0L
    var err = ""
    val res =
      try Some(tracer.span("op", key) {
        span = tracer.currentId
        if (traced) spark.sparkContext.setJobGroup(SparkProbe.group(span), name)
        try body
        finally if (traced) spark.sparkContext.clearJobGroup()
      })
      catch {
        case NonFatal(e) =>
          err = s"${e.getClass.getName}: ${String.valueOf(e.getMessage)
            .linesIterator.nextOption().getOrElse("")}"
          None
      }
    ops.add(OpRec(kind, name, pass, t0, Clock.nowNs, err, traced, span))
    res
  }

  /** Harness work inside a pass (result checks, clean-up, the pipeline
    * sweep) whose time is taken out of the pass's wall. */
  def untimed[T](body: => T): T = {
    val t0 = Clock.nowNs
    try body finally untimedNs += Clock.nowNs - t0
  }

  /** Register the workload's tables (graft.Tables) during set-up, timed
    * for the `tables` layer. */
  def tables[T](body: => T): T = {
    val t0 = Clock.nowNs
    try body finally tablesMs += (Clock.nowNs - t0) / 1e6
  }

  /** Time a call into one layer (a child span of the current op). */
  def layer[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** A correctness check made inside the JVM (e.g. results that must
    * agree across passes). */
  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks.synchronized { checks += Map("name" -> name, "ok" -> ok,
      "detail" -> detail) }

  /** Set up once: session, table registration, the first op. */
  def setup(body: => Unit): Unit = {
    body
    setupEndNs = Clock.nowNs
  }

  /** Warm up with a fixed number of whole passes, so every run measures
    * from the same point of the JVM's warm-up. Each pass's wall goes to the
    * record. */
  def warmup(passes: Int)(pass: Int => Unit): Unit =
    (0 until passes).foreach { _ =>
      untimedNs = 0L
      val t0 = Clock.nowNs
      pass(-1)
      warmWalls += (Clock.nowNs - t0 - untimedNs) / 1e9
    }

  /** Run passes within `args.seconds`: after the first, a pass starts only
    * if the previous pass's wall says it ends inside the window. A traced
    * run makes at least two passes, alternating traced and untraced, so its
    * record holds the tracing overhead as the difference of their walls. */
  def measure(pass: Int => Unit): Unit = {
    val need = if (args.trace) 2 else 1
    resetJvmPeaks()
    val gc0 = gcMs
    var last = 0L
    var i = 0
    measureStartNs = Clock.nowNs
    val end = measureStartNs + (args.seconds * 1e9).toLong
    while (i < need || Clock.nowNs + last <= end) {
      val traced = args.trace && i % 2 == 0
      setTracing(traced)
      untimedNs = 0L
      val t0 = Clock.nowNs
      pass(i)
      val t1 = Clock.nowNs
      last = t1 - t0
      setTracing(false)
      passes += Map("pass" -> i, "start_ns" -> t0, "end_ns" -> t1,
        "untimed_ns" -> untimedNs, "traced" -> traced)
      i += 1
    }
    layers("jvm.gc_ms") = gcMs - gc0
    layers("jvm.heap_peak_mb") = heapPeakMb
    val mem = ManagementFactory.getMemoryMXBean
    mem.gc()
    retainedMb = (mem.getHeapMemoryUsage.getUsed +
      mem.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  def setTracing(on: Boolean): Unit = if (on != tracer.on) {
    if (on) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
    } else {
      org.apache.spark.BenchShim.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(probe)
      spark.listenerManager.unregister(probe)
    }
    tracer.on = on
  }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def resetJvmPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  private def heapPeakMb: Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Classes the benchmark must never load (they read files outside the
    * checkout). Checked against the JVM's own class-load log. */
  def assertNoDeniedClasses(): Unit = {
    val log = Paths.get(args.classLog)
    val loaded = if (Files.exists(log))
      Files.readAllLines(log, UTF_8).asScala.flatMap(Bench.loadedClass).toSet
    else Set.empty[String]
    val bad = loaded.filter(c => args.deny.exists(d =>
      c == d || c.startsWith(d + "$")))
    if (bad.nonEmpty) {
      System.err.println(s"perfbench: denied classes loaded: ${bad.mkString(",")}")
      sys.exit(3)
    }
  }

  def write(): Unit = {
    val jobs = probe.jobs.map(j => Map("id" -> j.id, "group" -> j.group,
      "start_ns" -> j.startNs, "end_ns" -> j.endNs, "stages" -> j.stages,
      "tasks" -> j.tasks, "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs,
      "gc_ms" -> j.gcMs, "scan_bytes" -> j.scanBytes,
      "shuffle_read" -> j.shuffleRead, "shuffle_write" -> j.shuffleWrite,
      "spill" -> j.spill, "peak_mem" -> j.peakMem))
    val spans = tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "key" -> s.key))
    if (tablesMs.nonEmpty)
      layers("tables.load_ms") = tablesMs.sorted.apply(tablesMs.size / 2)
    val record = Map(
      "workload" -> args.workload, "seed" -> args.seed,
      "trace" -> args.trace,
      "setup_s" -> (measureStartNs - jvmStartNs) / 1e9,
      "start_s" -> (setupEndNs - jvmStartNs) / 1e9,
      "warmup_s" -> (measureStartNs - setupEndNs) / 1e9,
      "warmup_walls" -> warmWalls.toSeq,
      "passes" -> passes.toSeq,
      "ops" -> ops.asScala.toSeq.map(o => Map("kind" -> o.kind,
        "name" -> o.name, "pass" -> o.pass, "start_ns" -> o.startNs,
        "end_ns" -> o.endNs, "error" -> o.error, "traced" -> o.traced,
        "span" -> o.span)),
      "checks" -> checks.toSeq, "outputs" -> outputs.toMap,
      "layers" -> layers.toMap, "spans" -> spans, "jobs" -> jobs,
      "versions" -> Map("spark" -> spark.version,
        "java" -> System.getProperty("java.runtime.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576),
      "retained_mb" -> retainedMb, "peak_rss_kb" -> Bench.vmHwmKb)
    Files.writeString(Paths.get(args.out), Json.write(record))
  }
}

object Bench {
  def session(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def loadedClass(line: String): Option[String] = {
    val i = line.indexOf("[class,load] ")
    if (i < 0) None
    else Some(line.substring(i + 13).takeWhile(_ != ' '))
  }

  /** Peak resident set (VmHWM) of this process in KiB. */
  def vmHwmKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status"), UTF_8).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Result rows as JSON-ready values, with the Spark type of each column
    * so the checker can normalise them the way the oracle compare does. */
  def rows(df: DataFrame, collected: Array[Row]): Map[String, Any] = Map(
    "columns" -> df.schema.fields.map(_.name).toSeq,
    "types" -> df.schema.fields.map(_.dataType.simpleString).toSeq,
    "rows" -> collected.toSeq.map(r => (0 until r.length).map(i =>
      cell(r.get(i))).toSeq))

  private val tsFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def timestamp(t: java.time.LocalDateTime): String = {
    val micros = t.getNano / 1000
    tsFmt.format(t) + (if (micros == 0) "" else f".$micros%06d")
  }

  def cell(v: Any): Any = v match {
    case null => null
    case b: Boolean => b
    case d: Double => d
    case f: Float => f.toDouble
    case n: java.lang.Number if !n.isInstanceOf[java.math.BigDecimal] =>
      n.longValue
    case b: java.math.BigDecimal => b.toPlainString
    case t: java.sql.Timestamp => timestamp(t.toLocalDateTime)
    case t: java.time.LocalDateTime => timestamp(t)
    case t: java.time.Instant =>
      timestamp(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case s: scala.collection.Seq[_] => s.map(cell).toSeq
    case r: Row => (0 until r.length).map(i => cell(r.get(i))).toSeq
    case other => other.toString
  }

  /** Order-insensitive digest of a result, with doubles at six significant
    * digits (the oracle compare's tolerance), so runs that differ only in
    * float summation order agree. */
  def digest(collected: Array[Row]): String = {
    def norm(v: Any): String = v match {
      case d: Double => if (d == 0) "0" else f"$d%.6g"
      case s: Seq[_] => s.map(norm).mkString("[", ",", "]")
      case other => String.valueOf(other)
    }
    val lines = collected.map(r =>
      (0 until r.length).map(i => norm(cell(r.get(i)))).mkString("\u0001"))
      .sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Minimal JSON writer for the record (maps, sequences, strings, numbers,
  * booleans, null). */
object Json {
  def write(v: Any): String = { val sb = new StringBuilder; put(sb, v); sb.toString }

  private def put(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => put(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) str(sb, d.toString) else sb ++= d.toString
    case f: Float => put(sb, f.toDouble)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        str(sb, k.toString); sb += ':'; put(sb, x)
      }
      sb += '}'
    case s: Iterable[_] =>
      sb += '['
      var first = true
      s.foreach { x => if (!first) sb += ','; first = false; put(sb, x) }
      sb += ']'
    case a: Array[_] => put(sb, a.toSeq)
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }

  /** Parse the plan files run.py writes (objects, arrays, strings,
    * numbers, booleans, null). */
  def read(path: String): Any =
    org.json4s.jackson.JsonMethods.parse(Files.readString(Paths.get(path)))
      .values
}
