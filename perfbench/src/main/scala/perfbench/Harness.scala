package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see `run.py`, which builds it). */
final case class Args(workload: String, seconds: Double, trace: Boolean,
                      inputs: Path, work: Path, out: Path, cores: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("inputs")), Paths.get(need("work")),
      Paths.get(need("out")), need("cores").toInt)
  }
}

/** Everything a workload reports: metrics by name, operations attempted
  * and the reasons of any that failed. Outputs are checked by `check.py`. */
final class Report {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val info = mutable.LinkedHashMap[String, String]()
  var attempted = 0L
  val failures = mutable.ArrayBuffer[String]()

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def ok(n: Long = 1): Unit = attempted += n
  def fail(what: String): Unit = { attempted += 1; failures += what }

  def toJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""${Json.esc(k)}": {"value": ${Json.num(v)}, "unit": "${Json.esc(u)}"}""" }
    val is = info.map { case (k, v) => s""""${Json.esc(k)}": "${Json.esc(v)}"""" }
    val fs = failures.take(50).map(f => "\"" + Json.esc(f) + "\"")
    s"""{"attempted": $attempted, "failed": ${failures.size}, "metrics": {${ms.mkString(", ")}}, """ +
      s""""info": {${is.mkString(", ")}}, "failures": [${fs.mkString(", ")}]}"""
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Percentiles by linear interpolation between closest ranks. */
object Stats {
  def quantile(sorted: Array[Double], q: Double): Double = {
    require(sorted.nonEmpty, "no samples")
    val pos = q * (sorted.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, sorted.length - 1)
    sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs.toArray.sorted, 0.5)
}

/** One traced interval. `parent` is 0 for a root; spans of one message
  * batch or operator call share `group`. */
final case class Span(id: Long, parent: Long, group: String, layer: String, name: String,
                      startNs: Long, endNs: Long)

/**
 * In-memory span recorder. Spans are taken around the benchmark's calls into
 * graft's modules (the layers) and, through [[JobListener]], around the
 * Spark jobs those calls launch. Nothing is written until [[Tracer.dump]].
 */
object Tracer {
  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  val PropKey = "perfbench.span"
  @volatile var spark: SparkSession = _

  def nextId(): Long = ids.incrementAndGet()
  def record(s: Span): Unit = if (enabled) spans.add(s)
  def current: Long = stack.get().headOption.getOrElse(0L)

  /** Runs `body` inside a span of `layer`. Spark jobs it submits on this
    * thread are parented to it through a local property. */
  def span[T](layer: String, name: String, group: String = "")(body: => T): T = {
    if (!enabled) return body
    val id = nextId()
    val parent = current
    stack.set(id :: stack.get())
    val sc = if (spark != null) spark.sparkContext else null
    val prevProp = if (sc != null) sc.getLocalProperty(PropKey) else null
    if (sc != null) sc.setLocalProperty(PropKey, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get().tail)
      if (sc != null) sc.setLocalProperty(PropKey, prevProp)
      spans.add(Span(id, parent, group, layer, name, t0, t1))
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer: each span's duration minus the union of its
    * children's intervals, summed by layer, in ms. */
  def selfTimeMs(ss: Seq[Span]): Map[String, Double] = {
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, group) =>
      layer -> group.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
        kids.foreach { case (a, b) =>
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def dump(dir: Path): Map[String, Double] = {
    Files.createDirectories(dir)
    val ss = all.sortBy(_.startNs)
    val t0 = ss.headOption.map(_.startNs).getOrElse(0L)
    val w = new PrintWriter(dir.resolve("spans.jsonl").toFile, "UTF-8")
    try ss.foreach { s =>
      w.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "group": "${Json.esc(s.group)}", """ +
        s""""layer": "${s.layer}", "name": "${Json.esc(s.name)}", "start_us": ${(s.startNs - t0) / 1000}, """ +
        s""""end_us": ${(s.endNs - t0) / 1000}}""")
    } finally w.close()
    val self = selfTimeMs(ss)
    val total = self.values.sum
    val tw = new PrintWriter(dir.resolve("selftime.txt").toFile, "UTF-8")
    try {
      tw.println(f"${"layer"}%-18s ${"spans"}%8s ${"self_ms"}%12s ${"share"}%8s")
      self.toSeq.sortBy(-_._2).foreach { case (l, ms) =>
        tw.println(f"$l%-18s ${ss.count(_.layer == l)}%8d $ms%12.1f ${if (total > 0) 100 * ms / total else 0.0}%7.1f%%")
      }
    } finally tw.close()
    self
  }
}

/** Per-job counters, attributed to the operator span that submitted the job
  * (the `perfbench.span` local property). Spans are recorded for jobs only
  * when tracing is on; the counters are kept either way. */
final class JobListener extends SparkListener {
  final class Acc { var jobs = 0; var stages = 0; var taskNs = 0L; var shuffleBytes = 0L }
  private val bySpan = new java.util.concurrent.ConcurrentHashMap[Long, Acc]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  @volatile var jobsTotal = 0L

  private def acc(span: Long): Acc = bySpan.computeIfAbsent(span, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.PropKey)))
      .map(_.toLong).getOrElse(0L)
    jobSpan.put(e.jobId, (span, System.nanoTime()))
    e.stageIds.foreach(s => stageSpan.put(s, span))
    acc(span).synchronized { acc(span).jobs += 1 }
    jobsTotal += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (span, t0) = Option(jobSpan.remove(e.jobId)).getOrElse((0L, System.nanoTime()))
    Tracer.record(Span(Tracer.nextId(), span, "", "spark.job", s"job ${e.jobId}", t0, System.nanoTime()))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val span = Option(stageSpan.remove(e.stageInfo.stageId)).map(_.longValue).getOrElse(0L)
    val tm = e.stageInfo.taskMetrics
    val a = acc(span)
    a.synchronized {
      a.stages += 1
      if (tm != null) {
        a.taskNs += tm.executorRunTime * 1000000L
        a.shuffleBytes += tm.shuffleWriteMetrics.bytesWritten
      }
    }
  }
  def of(span: Long): Acc = Option(bySpan.get(span)).getOrElse(new Acc)
}

/** Heap retained by the run: in use right after a full collection at the
  * end of the measured part. Peak usage between collections depends on when
  * the collector runs more than on the workload, so it is not reported. */
object Heap {
  def liveMb(): Double = {
    // the second collection frees what the first let Spark's cleaner drop
    System.gc()
    Thread.sleep(300)
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    heap / 1048576.0
  }
}

object Session {
  /** A local session with `cores` task slots; the benchmark's own threads
    * come on top, within the machine's core count. */
  def start(cores: Int): SparkSession = {
    val spark = graft.GraftSession.builder("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stopTimeout", "30s")
      .config("spark.sql.warehouse.dir", Paths.get(System.getProperty("java.io.tmpdir"), "warehouse").toString)
      .getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    spark.sparkContext.setLogLevel("ERROR")
    Tracer.spark = spark
    spark
  }
}

object Files2 {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) graft.util.Fs.deleteRecursively(p)
  def readLines(p: Path): Iterator[String] = Files.lines(p, StandardCharsets.UTF_8).iterator().asScala
  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8)); ()
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val bootS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val args = Args.parse(argv)
    Tracer.enabled = args.trace
    val report = new Report
    report.info("jvm_boot_s") = f"$bootS%.3f"
    val run: (Args, Report) => Unit = args.workload match {
      case "replay_backlog" => Replay.run
      case "curate_corpus" => Curate.run
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try run(args, report)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        report.fail(s"workload aborted: $e")
    }
    if (args.trace) {
      val self = Tracer.dump(args.work.resolve("trace"))
      self.foreach { case (l, ms) => report.info(s"self_ms.$l") = f"$ms%.1f" }
    }
    Files2.write(args.out, report.toJson)
    SparkSession.getActiveSession.foreach(_.stop())
    // Spark leaves non-daemon threads behind; the result is on disk.
    System.exit(0)
  }

  /** Starts the session once, then runs the workload's data set-up three
    * times on fresh state and keeps the last. The set-up time is the session
    * start plus the median data set-up, so work moved into set-up shows. */
  def setUp[T](cores: Int)(data: (SparkSession, Int) => T)(undo: T => Unit): (SparkSession, T, Double) = {
    val t0 = System.nanoTime()
    val spark = Session.start(cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val secs = mutable.ArrayBuffer[Double]()
    var last: Option[T] = None
    (0 until 3).foreach { i =>
      last.foreach(undo)
      val t1 = System.nanoTime()
      last = Some(data(spark, i))
      secs += (System.nanoTime() - t1) / 1e9
    }
    System.err.println(f"perfbench: session start $sessionS%.2f s, data set-ups ${secs.map(s => f"$s%.2f").mkString(", ")} s")
    (spark, last.get, sessionS + Stats.median(secs.toSeq))
  }
}
