package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext

/** One span: a named interval with the span that caused it. Spans of one
  * invocation, increment or query share `group` (the id of that unit's
  * span). Times are epoch milliseconds, the clock Spark's own events use.
  */
final case class Span(
    id: String,
    parent: String,
    group: String,
    name: String,
    kind: String,
    startMs: Double,
    endMs: Double,
    attrs: Map[String, Any])

/** Everything one run measures, kept in memory and written once at the
  * end as a single JSON object that `run.py` turns into metrics.
  */
final class Recorder(val trace: Boolean) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val ids = new AtomicLong()

  /** Epoch milliseconds with nanosecond resolution. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = new ConcurrentLinkedQueue[Span]()
  private var setupEndMs = Double.NaN
  val raw = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]

  def newId(prefix: String): String = s"$prefix-${ids.incrementAndGet()}"

  /** Marks the end of set-up: everything from the JVM's start until
    * here (Spark start, inputs, warm-up, JIT settling) is `setup_s`.
    */
  def endSetup(): Unit = setupEndMs = now()

  /** Seconds from the JVM's start to [[endSetup]]. */
  def setupS: Double =
    (setupEndMs - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** Records a check's verdict: `failed` of `attempted` operations. */
  def check(name: String, attempted: Long, failed: Long, detail: String = ""): Unit = {
    checks += Map("name" -> name, "attempted" -> attempted, "failed" -> failed,
      "detail" -> detail)
    val verdict = if (failed == 0) "pass" else "FAIL"
    System.err.println(s"[perfbench] check $name: $verdict ($failed of $attempted failed) $detail")
  }

  /** Runs `body` as a span. Spark jobs submitted from this thread (and
    * from stream threads started inside it) carry the span id as a local
    * property, which is how the listeners attach them to it.
    */
  def span[T](sc: SparkContext, name: String, kind: String, parent: String)(body: String => T): T = {
    val id = newId(kind)
    val prev = sc.getLocalProperty(Recorder.SpanProp)
    sc.setLocalProperty(Recorder.SpanProp, id)
    // the workload span also records the process CPU time it covers
    val cpu0 = if (kind == "workload") Recorder.processCpuS() else 0.0
    val t0 = now()
    try body(id)
    finally {
      val t1 = now()
      sc.setLocalProperty(Recorder.SpanProp, prev)
      val attrs: Map[String, Any] =
        if (kind == "workload") Map("cpu_s" -> (Recorder.processCpuS() - cpu0)) else Map.empty
      spans.add(Span(id, parent, id, name, kind, t0, t1, attrs))
    }
  }

  def add(s: Span): Unit = spans.add(s)

  /** Waits, at most `maxMs`, until the JIT compiler has gone quiet: less
    * than a tenth of a core compiling over the last 500 ms. Warm-up
    * queues compilations that otherwise finish inside the timed section
    * and take cores from it.
    */
  def settleJit(maxMs: Long = 8000L): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    if (jit != null && jit.isCompilationTimeMonitoringSupported) {
      val t0 = now()
      var last = jit.getTotalCompilationTime
      var quiet = false
      while (!quiet && now() - t0 < maxMs) {
        Thread.sleep(500)
        val cur = jit.getTotalCompilationTime
        quiet = cur - last < 50
        last = cur
      }
      spans.add(Span(newId("settle"), null, null, "settle", "settle", t0, now(), Map.empty))
    }
  }

  def toJson: String = Recorder.mapper.writeValueAsString(Map(
    "trace" -> trace,
    "setup_s" -> setupS,
    "raw" -> raw.toMap,
    "checks" -> checks.toSeq,
    "jvm" -> Recorder.jvmStats(),
    "spans" -> spans.asScala.toSeq.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "group" -> s.group, "name" -> s.name,
      "kind" -> s.kind, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "attrs" -> s.attrs))))
}

object Recorder {
  val SpanProp = "perfbench.span"

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Peak resident set, GC and JIT time of this JVM. */
  def jvmStats(): Map[String, Any] = {
    import java.lang.management.ManagementFactory
    val hwmKb = try {
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
        .asScala.find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    } catch { case _: Exception => -1L }
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime max 0L).sum
    val jitMs = Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime).getOrElse(-1L)
    Map("vm_hwm_kb" -> hwmKb, "gc_ms" -> gcMs, "jit_ms" -> jitMs)
  }

  /** CPU time this process has used, in seconds. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => -1.0
    }
}
