package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Minimal JSON rendering for the harness's result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case n: scala.math.BigDecimal => n.bigDecimal.toPlainString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case r: Row => render(r.toSeq)
    case a: Array[_] => render(a.toSeq)
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** The generated inputs, one tab-separated record per line; the first
  * field names the record kind. */
final class Spec(lines: Seq[Array[String]]) {
  def records(kind: String): Seq[Array[String]] = lines.filter(_(0) == kind)
}

object Spec {
  def read(path: String): Spec = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try new Spec(src.getLines().filter(_.nonEmpty).map(_.split("\t", -1)).toVector)
    finally src.close()
  }
}

/** Everything a workload writes for the runner to analyse. */
final class Record {
  val fields = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  def fail(msg: String): Unit = synchronized { failures += msg }

  /** Wall seconds of each harness phase, for sizing runs. */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  private var lapNs = System.nanoTime()
  def lap(phase: String): Unit = {
    val now = System.nanoTime()
    phases(phase) = (now - lapNs) / 1e9
    lapNs = now
  }
}

object Stats {
  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6
  def median(xs: Iterable[Double]): Double = pct(xs, 50)

  /** Linear-interpolated percentile; 0 for an empty sample. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) 0.0
    else {
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
}

/** JVM and block-manager readings taken at the end of a measured phase. */
object Jvm {
  private def mx = java.lang.management.ManagementFactory.getMemoryMXBean

  def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  def cpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Full collections with pauses between them, so Spark's context
    * cleaner can drop the broadcast and shuffle state of finished queries
    * before memory is read. */
  def settle(): Unit = (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }

  /** Heap in use after [[settle]]: the live set, not garbage. */
  def heapLiveMb(): Double = mx.getHeapMemoryUsage.getUsed / 1e6

  /** Block-manager storage in use: memory held by stored blocks plus the
    * disk tier of stored RDDs. */
  def storageMb(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    val mem = sc.getExecutorMemoryStatus.values.map { case (max, rem) => max - rem }.sum
    val disk = sc.getRDDStorageInfo.map(_.diskSize).sum
    (mem + disk) / 1e6
  }
}

/** Order-independent content fingerprint of a result: the wrapping sum
  * of a 64-bit hash of each row's canonical text, plus the row count.
  * Doubles are canonicalized to 9 significant digits, the precision the
  * repository's oracle compare uses. */
object Fingerprint {
  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN) "NaN" else String.format("%.9g", Double.box(d))
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(canon).mkString("[", ",", "]")
    case a: Array[_] => canon(a.toSeq)
    case x => x.toString
  }

  private def hash64(s: String): Long = {
    import scala.util.hashing.MurmurHash3.stringHash
    (stringHash(s, 0x5eed).toLong << 32) ^ (stringHash(s, 0x1234).toLong & 0xffffffffL)
  }

  def of(df: DataFrame): String = {
    val (sum, n) = df.rdd.map(r => (hash64(canon(r)), 1L))
      .fold((0L, 0L)) { case ((a, x), (b, y)) => (a + b, x + y) }
    f"$n%d:$sum%016x"
  }
}

/** Counters fed by listeners the harness attaches in traced runs: a
  * SparkListener for task-level engine work, a QueryExecutionListener for
  * per-action planning phases, a log4j appender on Spark's code generator
  * for compile failures, and a StreamingQueryListener for micro-batches. */
final class Probe(spark: SparkSession) {
  import org.apache.spark.scheduler._
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.streaming.StreamingQueryListener
  import org.apache.spark.sql.util.QueryExecutionListener

  private val names = Seq("jobs", "stages", "tasks", "task_ms", "task_cpu_ns", "task_wait_ms",
    "shuffle_read_b", "shuffle_write_b", "spill_b", "input_b", "task_failures",
    "evict_to_disk", "compile_errors")
  private val c: Map[String, AtomicLong] = names.map(_ -> new AtomicLong).toMap
  private def add(n: String, v: Long): Unit = c(n).addAndGet(v)

  /** One SQL action as reported by the QueryExecutionListener. */
  final case class Action(func: String, startMs: Long, analyzeMs: Long, optimizeMs: Long,
                          planMs: Long, execMs: Double, scansFact: Boolean)
  val actions = new java.util.concurrent.ConcurrentLinkedQueue[Action]()

  /** One non-empty micro-batch of the streaming job runner. */
  final case class Batch(rows: Long, triggerMs: Long, addBatchMs: Long, latestOffsetMs: Long)
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      if (e.reason != org.apache.spark.Success) add("task_failures", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_ms", m.executorRunTime)
        add("task_cpu_ns", m.executorCpuTime)
        add("task_wait_ms", math.max(0L, e.taskInfo.duration - m.executorRunTime))
        add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
        add("spill_b", m.diskBytesSpilled)
        add("input_b", m.inputMetrics.bytesRead)
      }
    }
    override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = {
      val info = b.blockUpdatedInfo
      if (info.blockId.isRDD && info.storageLevel.isValid &&
          info.storageLevel.useDisk && !info.storageLevel.useMemory) add("evict_to_disk", 1)
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def d(n: String) = ph.get(n).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      // The adaptive plan's text includes its final stages and each
      // file scan's location.
      val scans = qe.executedPlan.toString.contains("lineitem.parquet")
      actions.add(Action(func, start, d("analysis"), d("optimization"), d("planning"),
        durationNs / 1e6, scans))
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        def d(n: String): Long = Option(p.durationMs.get(n)).map(_.longValue).getOrElse(0L)
        batches.add(Batch(p.numInputRows, d("triggerExecution"), d("addBatch"), d("latestOffset")))
      }
    }
  })

  locally {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val appender = new AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR)) add("compile_errors", 1)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getLogger("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
      .addAppender(appender)
  }

  private var base: Map[String, Long] = Map.empty
  private var gc0 = 0L
  private var cpu0 = 0L

  /** Start a measured phase: later readings are deltas from here. */
  def mark(): Unit = {
    org.apache.spark.perfbench.ListenerBusSync.drain(spark.sparkContext)
    base = c.map { case (k, v) => k -> v.get }
    actions.clear(); batches.clear()
    gc0 = Jvm.gcMs; cpu0 = Jvm.cpuNs
  }

  /** Engine, JVM and code-generator counters since [[mark]]. */
  def engineLayers(): Map[String, Double] = {
    org.apache.spark.perfbench.ListenerBusSync.drain(spark.sparkContext)
    def d(n: String): Double = (c(n).get - base.getOrElse(n, 0L)).toDouble
    Map(
      "exec.jobs" -> d("jobs"), "exec.stages" -> d("stages"), "exec.tasks" -> d("tasks"),
      "exec.task_ms" -> d("task_ms"), "exec.task_cpu_ms" -> d("task_cpu_ns") / 1e6,
      "exec.task_wait_ms" -> d("task_wait_ms"),
      "exec.shuffle_read_mb" -> d("shuffle_read_b") / 1e6,
      "exec.shuffle_write_mb" -> d("shuffle_write_b") / 1e6,
      "exec.spill_mb" -> d("spill_b") / 1e6, "exec.input_mb" -> d("input_b") / 1e6,
      "exec.task_failures" -> d("task_failures"), "storage.evict_to_disk" -> d("evict_to_disk"),
      "jvm.gc_ms" -> (Jvm.gcMs - gc0).toDouble, "jvm.cpu_s" -> (Jvm.cpuNs - cpu0) / 1e9,
      "codegen.compile_errors" -> d("compile_errors"))
  }
}

/** Shared state of one harness run. */
final case class Ctx(spark: SparkSession, sf: String, out: String, seconds: Double,
                     spec: Spec, probe: Option[Probe], rec: Record) {
  def traced: Boolean = probe.isDefined

  /** Drop every session artifact so the next use builds it again. */
  def dropCaches(): Unit = {
    graft.ops.SessionCache.clear(spark)
    spark.catalog.clearCache()
  }

  /** The artifact-build ledger since the last drain, key -> seconds. The
    * ledger sums the seconds of every build of a key, so a caller that
    * clears the session cache drains once per clear: a key then builds at
    * most once per drained log, and each entry is a single build. */
  def drainBuildLog(): Map[String, Double] = graft.ops.SessionCache.drainBuildLog(spark)

  /** Record drained ledgers as a phase's build count, inclusive seconds,
    * and the largest single build with its key. */
  def recordArtifacts(prefix: String, logs: Seq[Map[String, Double]]): Unit = {
    val builds = logs.flatten
    rec.layers(s"artifact.builds.$prefix") = builds.size.toDouble
    rec.layers(s"artifact.build_s_inclusive.$prefix") = builds.map(_._2).sum
    val (k, v) = if (builds.isEmpty) ("", 0.0) else builds.maxBy(_._2)
    rec.layers(s"artifact.max_build_s.$prefix") = v
    rec.fields(s"artifact_max_build_key_$prefix") = k
  }

  /** Release this thread's operator-internal persists, as a service does
    * after each request; returns the milliseconds it took. */
  def release(): Double = {
    val t0 = System.nanoTime()
    graft.ops.TransientCache.releaseAll()
    Stats.ms(t0, System.nanoTime())
  }
}
