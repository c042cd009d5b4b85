package perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.functions.GraftFunctions
import graft.operators.{CorpusPipeline, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Batch curation over the seeded corpus (the sf0.1 documents and embeddings
 * under a seeded id remap and row order). Three `SparkEntry.queries` keys run
 * pass after pass through a noop sink; each key's wall time is the median
 * over the passes. A first, untimed pass warms every key and writes its
 * output as parquet, which `run.py` checks against the DuckDB oracle.
 */
object Curate {
  /** One kernel-bound key, then two driver-round-bound ones. The other
    * curate keys (bpe_encode, corpus_clean, dedup_minhash, semantic_dedup,
    * decontaminate, embed_neardup, text_bigram_logprob) would more than
    * double the run, which the benchmark's time budget does not allow; the
    * traced run still times their kernels (MinHash, BPE, adjacent pairs),
    * and `data/oracle_digest.json` covers them all. */
  val Keys: Seq[String] = Seq("heavy_hitters", "corpus_assemble", "ann_pq")
  /** Timed passes at least: one pass is too noisy a sample per key. */
  val MinPasses = 2

  def run(a: Args, r: Report): Unit = {
    val dir = a.inputs.toString
    // as in graft.Bench: time the operators, not their in-query recall checks
    sys.props("graft.bench") = "1"
    val (spark, _, setupS) = Main.setUp(a.cores) { (spark, _) =>
      Tables.documents(spark, dir).write.format("noop").mode("overwrite").save()
      Tables.embeddings(spark, dir).write.format("noop").mode("overwrite").save()
    } { _ => () }
    val jobs = new JobListener
    spark.sparkContext.addSparkListener(jobs)
    val nDocs = Tables.documents(spark, dir).count()

    // warm-up pass, part of set-up: compiles every key's plans and leaves
    // the outputs for the oracle check
    val w0 = System.nanoTime()
    val out = a.work.resolve("outputs")
    Keys.foreach { k =>
      try {
        SparkEntry.queries(k)(spark, dir).write.mode("overwrite").parquet(out.resolve(k).toString)
        r.ok()
      } catch { case e: Exception => r.fail(s"$k output: $e") }
    }
    val oracle = Keys.map(k => s""""$k": "${Json.esc(SparkEntry.oracleSql(k))}"""").mkString("{", ",\n", "}")
    Files2.write(out.resolve("oracle_sql.json"), oracle)
    val warmS = (System.nanoTime() - w0) / 1e9
    r.info("warm_pass_s") = f"$warmS%.3f"
    r.metric("jvm_setup_s", setupS + warmS, "s")

    val wall = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    Keys.foreach(k => wall(k) = mutable.ArrayBuffer())
    val counters = mutable.LinkedHashMap[String, Seq[JobListener#Acc]]().withDefaultValue(Nil)
    val passS = mutable.ArrayBuffer[(Boolean, Double)]()
    val tracing = Tracer.enabled
    val t0 = System.nanoTime()
    var pass = 0
    // the traced run alternates untraced and traced passes: their medians
    // give the tracing overhead, the traced ones the per-operator counters
    while (pass < MinPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      Tracer.enabled = tracing && pass % 2 == 1
      // a pass's time is the sum of its keys' times, so the pauses between
      // keys and the counter reads of a traced pass stay out of it
      var keysNs = 0L
      Keys.foreach { k =>
        // let the previous key's listener events land outside its window
        Thread.sleep(20)
        val k0 = System.nanoTime()
        var span = 0L
        try Tracer.span("operators", k, k) {
          span = Tracer.current
          SparkEntry.queries(k)(spark, dir).write.format("noop").mode("overwrite").save()
          r.ok()
        } catch { case e: Exception => r.fail(s"$k pass $pass: $e") }
        val kNs = System.nanoTime() - k0
        keysNs += kNs
        wall(k) += kNs / 1e9
        if (Tracer.enabled) { Thread.sleep(50); counters(k) = counters(k) :+ jobs.of(span) }
      }
      passS += ((Tracer.enabled, keysNs / 1e9))
      pass += 1
    }
    Tracer.enabled = tracing
    val measureS = (System.nanoTime() - t0) / 1e9
    r.metric("heap_live_mb", Heap.liveMb(), "MB")
    val perKey = wall.map { case (k, ws) => k -> Stats.median(ws.toSeq) }
    val curateS = perKey.values.sum
    // the unit of work is the whole curation: its time from input to the
    // last key's result, and the slowest key within it
    r.metric("latency_p50_ms", curateS * 1000, "ms")
    r.metric("latency_tail_ms", perKey.values.max * 1000, "ms")
    r.metric("throughput_per_s", nDocs * Keys.size / curateS, "1/s")
    r.info("curate_s") = f"$curateS%.4f"
    r.info("passes") = pass.toString
    r.info("measure_s") = f"$measureS%.3f"

    // ---- per-layer metrics ----
    perKey.foreach { case (k, s) => r.metric(s"op.$k.wall_s", s, "s") }
    if (tracing) {
      val traced = passS.filter(_._1).map(_._2).toSeq
      val plain = passS.filterNot(_._1).map(_._2).toSeq
      r.metric("bench.trace_overhead_pct", 100.0 * (Stats.median(traced) / Stats.median(plain) - 1), "%")
      var jobsAll = 0.0
      Keys.foreach { k =>
        val cs = counters(k)
        val last = cs.last
        r.metric(s"op.$k.jobs", last.jobs, "count")
        r.metric(s"op.$k.stages", last.stages, "count")
        r.metric(s"op.$k.task_s", Stats.median(cs.map(_.taskNs / 1e9)), "s")
        r.metric(s"op.$k.shuffle_mb", Stats.median(cs.map(_.shuffleBytes / 1048576.0)), "MB")
        if (cs.map(_.jobs).distinct.size > 1) r.info(s"op.$k.jobs_varied") = cs.map(_.jobs).mkString(",")
        jobsAll += last.jobs
      }
      r.metric("op.ms_per_job", curateS * 1000 / jobsAll, "ms")
      kernels(spark, r, dir, jobs)
    }
  }

  /** Task time per row of one kernel projected over the corpus. */
  private def kernels(spark: SparkSession, r: Report, dir: String, jobs: JobListener): Unit = {
    val docs = Tables.documents(spark, dir).repartition(KernelParts).cache()
    val n = docs.count()
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), transform(sequence(lit(0), lit(PqM - 1)),
        i => pmod(hash(col("vec_id"), i), lit(PqK))).as("codes"))
      .repartition(KernelParts).cache()
    val nEmb = emb.count()
    val rnd = new scala.util.Random(7)
    val dlut = Array(Array.fill(PqM * PqK)(rnd.nextDouble()))
    val nlut = Array.fill(PqM * PqK)(1.0 + rnd.nextDouble())
    val patterns = Seq("the", "and", "data", "model", "of", "to", "in", "is", "for", "on",
      "with", "that", "this", "by", "from", "are", "be", "as", "at", "an")
    val merges = Seq(("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n"))
    def perRow(name: String, rows: Long)(df: => DataFrame): Unit = {
      val ns = (0 until 3).map { _ =>
        Thread.sleep(20)
        var span = 0L
        Tracer.span("functions", name, name) {
          span = Tracer.current
          df.write.format("noop").mode("overwrite").save()
        }
        Thread.sleep(50)
        jobs.of(span).taskNs.toDouble / rows
      }
      r.metric(s"kernel.${name}_ns_per_row", Stats.median(ns), "ns")
    }
    perRow("minhash", n)(docs.select(GraftFunctions.minHashSig(col("text"), 5, 128, 42L)))
    perRow("multi_contains", n)(docs.select(GraftFunctions.multiContainsCount(col("text"), patterns)))
    perRow("adjacent_pairs", n)(docs.select(GraftFunctions.adjacentPairs(split(col("text"), " "))))
    perRow("bpe", n)(CorpusPipeline.bpeEncode(docs, merges))
    perRow("pq_adc", nEmb)(emb.select(
      GraftFunctions.pqAdcScore(col("codes"), lit(0), dlut, nlut, Array(1.0), PqK)))
  }

  private val KernelParts = 4
  private val PqM = 8
  private val PqK = 16
}
