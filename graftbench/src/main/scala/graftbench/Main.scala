package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import com.sun.management.GarbageCollectionNotificationInfo

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.openmbean.CompositeData
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark driver process. Runs one workload over the inputs `gen.py`
  * wrote into the work directory and writes a raw record (operation
  * times, set-up times, heap checkpoints and, when traced, spans and jobs)
  * for `run.py` to reduce into metrics and check.
  *
  *   graftbench.Main --workload <name> --work <dir> --seconds <s> --trace <0|1> --cores <n>
  */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(opts("work"))
    val h = new Harness(work, opts("seconds").toDouble, opts("trace") == "1", opts("cores").toInt)
    val plan = mapper.readTree(work.resolve("plan.json").toFile)
    val extra = opts("workload") match {
      case "search_dashboard" => SearchDashboard.run(h, plan)
      case "cdc_ingest"       => CdcIngest.run(h, plan)
      case "corpus_prep"      => CorpusPrep.run(h, plan)
      case other              => sys.error(s"unknown workload $other")
    }
    mapper.writeValue(work.resolve("raw.json").toFile, h.record(extra))
    h.stop()
  }
}

/** One operation of a closed loop: a request, a CDC cycle or a corpus pass. */
final case class Op(start: Double, end: Double, ok: Boolean, error: String, fields: Map[String, Any])

/** Session lifecycle, the measured window and the JVM-level counters shared
  * by every workload.
  */
final class Harness(val work: Path, val seconds: Double, traced: Boolean, cores: Int) {
  val tracer = new Tracer(traced)
  val listener = new JobListener
  private var session: SparkSession = _
  val setupSeconds: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val heapMb: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty
  private var forcedGcMs = 0L
  private var window = (0.0, 0.0)
  private var gcAtStart = 0L
  private var codegenAtStart = (0L, 0L)
  private var gcInWindow = 0L
  private var codegenInWindow = (0L, 0L)
  private var cpuAtStart: Cpu.Sample = _
  private var cpuInWindow = Map.empty[String, Long]
  private val gcLog = new GcLog

  def spark: SparkSession = session

  /** A fresh session. Stopping the previous one first makes each set-up
    * repetition pay session start again.
    */
  def newSession(conf: Map[String, String] = Map.empty): SparkSession = {
    if (session != null) session.stop()
    val local = work.resolve("spark-local")
    session = SparkSession
      .builder()
      .config(conf)
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // Bound the status store so live heap does not grow with the number
      // of requests a run completes.
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.streaming.ui.retainedQueries", "10")
      .getOrCreate()
    session.sparkContext.setLogLevel("WARN")
    if (traced) {
      session.sparkContext.addSparkListener(listener)
      tracer.attach(session.sparkContext)
    }
    session
  }

  /** Time one set-up repetition (session start plus the workload's fixed
    * set-up work).
    */
  def setupRep[T](conf: Map[String, String] = Map.empty)(body: SparkSession => T): T = {
    val t0 = System.nanoTime()
    val out = body(newSession(conf))
    setupSeconds += (System.nanoTime() - t0) / 1e9
    out
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def codegen(): (Long, Long) = {
    val cg = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    (cg.compileTime, org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  /** Heap occupancy right after a full collection, in MB: a floor under
    * the peak the window's own collections report. The collection is forced
    * at fixed points outside every timed interval, and its pause is kept
    * out of the GC time reported for the window.
    */
  def heapCheckpoint(): Unit = {
    val g0 = gcMs()
    def used(): Double = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    // Spark frees broadcast and shuffle blocks from a cleaner thread once a
    // collection clears their references, so collect again after a pause
    // until occupancy stops falling.
    var prev = used()
    var cur = prev
    var rounds = 0
    do {
      Thread.sleep(100)
      prev = cur
      cur = used()
      rounds += 1
    } while (cur < prev - 1.0 && rounds < 5)
    forcedGcMs += gcMs() - g0
    heapMb += cur
  }

  /** Run `op` back to back (a closed loop) for about `seconds`, in whole
    * groups of `every` operations (a workload whose operations rotate
    * through fixed shapes passes the rotation, so every window holds the
    * same mix). Another group starts only while more than half the previous
    * group's duration remains, so the window overshoots or falls short by
    * at most half a group and long groups do not flip between one and two
    * per run. The first group always runs. Heap checkpoints are taken
    * before and after the window; the heap after each collection inside it
    * is logged. Each operation records its CPU time (`cpu_ns`): the
    * process's from the end of the previous operation, less the collector
    * and JIT-compiler threads'.
    */
  def closedLoop(every: Int = 1)(op: Int => Op): Unit = {
    heapCheckpoint()
    gcAtStart = gcMs() - forcedGcMs
    codegenAtStart = codegen()
    cpuAtStart = Cpu.sample()
    val start = tracer.now()
    val deadline = start + seconds * 1000
    gcLog.open()
    var i = 0
    var groupStart = start
    var last = 0.0
    var before = cpuAtStart
    while (i < every || i % every != 0 || tracer.now() + last / 2 < deadline) {
      if (i % every == 0) groupStart = tracer.now()
      val o = op(i)
      val after = Cpu.sample()
      val cpu = Cpu.between(before, after)
      ops += o.copy(fields = o.fields + ("cpu_ns" -> (cpu("process") - cpu("gc") - cpu("jit"))))
      before = after
      i += 1
      if (i % every == 0) last = tracer.now() - groupStart
    }
    window = (start, tracer.now())
    cpuInWindow = Cpu.between(cpuAtStart, Cpu.sample())
    gcLog.close()
    gcInWindow = gcMs() - forcedGcMs - gcAtStart
    val cg = codegen()
    codegenInWindow = (cg._1 - codegenAtStart._1, cg._2 - codegenAtStart._2)
    heapCheckpoint()
  }

  /** Time one operation, recording a failure instead of propagating it. */
  def timed(fields: => Map[String, Any])(body: => Unit): Op = {
    val start = tracer.now()
    try {
      body
      Op(start, tracer.now(), ok = true, null, fields)
    } catch {
      case e: Throwable =>
        Op(start, tracer.now(), ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500), fields)
    }
  }

  def record(extra: Map[String, Any]): Map[String, Any] = {
    if (traced) listener.drain()
    Map(
      "setup_s" -> setupSeconds.toSeq,
      "heap_after_gc_mb" -> heapMb.toSeq,
      "window_heap_after_gc_mb" -> gcLog.readings,
      "window" -> Seq(window._1, window._2),
      "gc_ms" -> gcInWindow,
      "codegen_ns" -> codegenInWindow._1,
      "codegen_classes" -> codegenInWindow._2,
      "window_cpu_ns" -> cpuInWindow,
      "ops" -> ops.toSeq.map(Harness.json),
      "spans" -> tracer.spans.toSeq.map(s =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "req" -> s.req, "start" -> s.start, "end" -> s.end)
      ),
      "jobs" -> (if (traced) listener.snapshot() else Seq.empty),
      "extra" -> extra
    )
  }

  def stop(): Unit = if (session != null) session.stop()
}

/** Heap occupancy (MB, every heap pool) after each collection that starts
  * inside the window, from the JVM's garbage-collection notifications.
  * They arrive on a JMX thread some time after the collection, so each one
  * is kept or dropped by its collection's start time rather than by when
  * it arrives.
  */
final class GcLog extends NotificationListener {
  private val runtime = ManagementFactory.getRuntimeMXBean
  private val heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val seen = mutable.ArrayBuffer.empty[(Long, Double)]
  @volatile private var from = Long.MaxValue
  @volatile private var until = Long.MaxValue

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _                      =>
  }

  def open(): Unit = from = runtime.getUptime
  def close(): Unit = until = runtime.getUptime

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
      val used = gc.getMemoryUsageAfterGc.asScala.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized(seen += ((gc.getStartTime, used / 1048576.0)))
    }

  /** The window's readings; call after the closing heap checkpoint, whose
    * pauses give pending notifications time to arrive.
    */
  def readings: Seq[Double] = synchronized(seen.collect { case (t, mb) if t >= from && t <= until => mb }.toSeq)
}

/** CPU time this process has used, in nanoseconds: in total, and in the
  * JVM's own garbage-collector and JIT-compiler threads (`run.py` keeps
  * their number fixed, so none of them ends between two samples). Threads
  * of the program that end between the samples still count in the total.
  * Per-thread figures come from Linux's /proc/self/task; elsewhere the two
  * groups read 0.
  */
object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process total, and thread id -> (group, CPU time) for the JVM's threads. */
  final case class Sample(process: Long, jvm: Map[String, (String, Long)])

  private def group(name: String): Option[String] =
    if (name.startsWith("GC Thread") || name.startsWith("G1 ")) Some("gc")
    else if (name.contains("CompilerThre")) Some("jit")
    else None

  def sample(): Sample = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles).getOrElse(Array.empty[java.io.File])
    val jvm = tasks.toSeq.flatMap { t =>
      scala.util.Try {
        group(Files.readString(t.toPath.resolve("comm")).trim)
          .map(g => t.getName -> (g, Files.readString(t.toPath.resolve("schedstat")).trim.split(" ")(0).toLong))
      }.toOption.flatten
    }.toMap
    Sample(os.getProcessCpuTime, jvm)
  }

  /** CPU time between two samples: "process", "gc" and "jit". */
  def between(a: Sample, b: Sample): Map[String, Long] = {
    def grp(g: String) = b.jvm.collect { case (tid, (`g`, ns)) => ns - a.jvm.get(tid).fold(0L)(_._2) }.sum
    Map("process" -> (b.process - a.process), "gc" -> grp("gc"), "jit" -> grp("jit"))
  }
}

object Harness {
  def json(o: Op): Map[String, Any] = Map("start" -> o.start, "end" -> o.end, "ok" -> o.ok, "error" -> o.error) ++ o.fields
}

object Json {
  def nodes(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
  def path(work: Path, n: JsonNode): String = work.resolve(n.asText).toString
  def readLines(p: Path): Seq[JsonNode] =
    Files.readAllLines(p).asScala.filter(_.nonEmpty).map(l => Main.mapper.readTree(l)).toSeq
}
