package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.streaming.state.StateStore

/** Measurement-only sibling of [[Bench]]: times each query with the same
  * noop-sink methodology and additionally reports, per query, the number of
  * Spark jobs and stages it launched and the summed executor task time —
  * separating cluster work from driver/scheduling overhead (guide §1: decide
  * whether time goes to compute, shuffle, or the driver before optimizing).
  * It also counts the classes Spark's code generator compiled for the query
  * and their compile time: with the codegen cache holding the working set
  * ([[GraftSession.CodegenCacheEntries]]), a second pass compiles ~nothing.
  * Never writes the board sidecars; output is one JSON line per query.
  */
object ProfileBench {
  private class Acc extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskNanos = 0L
    @volatile var shuffleReadB = 0L
    @volatile var shuffleWriteB = 0L
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1
      val si = s.stageInfo
      tasks += si.numTasks
      taskNanos += si.taskMetrics.executorRunTime * 1000000L
      shuffleReadB += si.taskMetrics.shuffleReadMetrics.totalBytesRead
      shuffleWriteB += si.taskMetrics.shuffleWriteMetrics.bytesWritten
      if (sys.env.get("SPARK_GRAFT_PROFILE_STAGES").contains("1"))
        println(f"[stage] id=${si.stageId} tasks=${si.numTasks} " +
          f"runMs=${si.taskMetrics.executorRunTime} " +
          f"cpuMs=${si.taskMetrics.executorCpuTime / 1000000} " +
          f"gcMs=${si.taskMetrics.jvmGCTime} " +
          f"deserMs=${si.taskMetrics.executorDeserializeTime} " +
          f"name=${si.name.take(90)}")
    }
    def reset(): Unit = { jobs = 0; stages = 0; tasks = 0; taskNanos = 0L
      shuffleReadB = 0L; shuffleWriteB = 0L }
  }

  private val streamingEntries =
    Set("events_windowed_stream", "events_hopping_stream",
      "events_dedup_stream", "sessionize_stream",
      "corpus_quality_stream", "decontaminate_stream", "events_enrich_stream",
      "purchase_attribution_stream", "token_count_stream",
      "kmv_distinct_stream", "blocklist_stream", "entropy_stream")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    sys.props("graft.bench") = "1"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", GraftSession.CodegenCacheEntries)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    spark.range(1000).selectExpr("sum(id)").collect()
    Seq("lineitem", "documents").iterator
      .map(t => java.nio.file.Paths.get(sfDir, s"$t.parquet"))
      .find(java.nio.file.Files.exists(_))
      .foreach(p => spark.read.parquet(p.toString).limit(1).count())
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val (streaming, batch) =
      SparkEntry.queries.toSeq.sortBy(_._1).partition(q => streamingEntries(q._1))
    val sel = (batch ++ streaming).filter { case (n, _) => only.forall(_.contains(n)) }
    def once(name: String, fn: (SparkSession, String) => DataFrame): Unit = {
      // settle listener-bus drain from the previous query
      Thread.sleep(50)
      acc.reset()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[profile] $name FAILED: $e"); return }
      val wall = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
      if (streamingEntries(name)) StateStore.stop()
      Thread.sleep(50) // let stage-completed events drain
      println(f"""{"q":"$name","wall":$wall%.3f,"jobs":${acc.jobs},""" +
        f""""stages":${acc.stages},"tasks":${acc.tasks},""" +
        f""""taskSec":${acc.taskNanos / 1e9}%.3f,""" +
        f""""shufR":${acc.shuffleReadB},"shufW":${acc.shuffleWriteB},""" +
        f""""compiles":$compiles,"compileMs":$compileMs%.1f}""")
    }
    val passes = sys.env.getOrElse("SPARK_GRAFT_PROFILE_PASSES", "2").toInt
    for (_ <- 0 until passes) sel.foreach { case (n, f) => once(n, f) }
    spark.stop()
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }
}
