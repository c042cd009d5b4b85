package perfbench

import scala.collection.mutable

import graft.operators.Deser
import graft.source.TopicLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Closed-loop bulk replay. Each cycle publishes the seeded backlog with the
 * DSv2 batch writer into a fresh topic, then reads it back from `earliest`:
 * one parse per dirty-data strategy, one tag-pushdown scan per tag and one
 * `born_ts`-range scan per seeded window. Every read's result is checked
 * against the generator's counts and sums.
 */
/** One operation's result: counts and sums, as check.py compares them. */
final case class Result(cycle: Int, op: String, got: Seq[Long]) {
  def json: String = s"""{"cycle": $cycle, "op": "$op", "got": [${got.mkString(", ")}]}"""
}

object Replay {
  val Group = "perfbench"
  val Strategies = Seq("NONE", "SKIP", "SKIP_SILENT", "PAD")

  private def reader(spark: SparkSession, root: String, topic: String): DataFrame =
    spark.read.format("graft-mq").option("topic", topic).option("consumerGroup", Group)
      .option("rootDir", root).option("offsetResetTo", "earliest").load()

  /** The backlog as message rows, cached: one partition per queue, each in
    * `born_ts` order, so every queue log is time-ordered like a broker's. */
  private def backlog(spark: SparkSession, file: String, queues: Int): DataFrame = {
    val raw = spark.read.option("sep", "\t").option("quote", "\u0000").option("escape", "\u0000")
      .schema("seq LONG, queue INT, born LONG, kind STRING, tag STRING, props STRING, body STRING")
      .csv(file)
    raw.repartitionByRange(queues, col("queue")).sortWithinPartitions("born")
      .select(concat(lit("k"), col("seq")).as("msg_key"), col("tag"),
        str_to_map(col("props"), lit(";"), lit("=")).as("properties"), col("body"),
        timestamp_millis(col("born")).as("born_ts"))
      .cache()
  }

  private def publish(df: DataFrame, root: String, topic: String): Unit =
    df.write.format("graft-mq").option("topic", topic).option("consumerGroup", Group)
      .option("rootDir", root).option("numQueues", "0").mode("append").save()

  private def longs(df: DataFrame): Seq[Long] = {
    val row = df.collect().head
    (0 until row.length).map(i => if (row.isNullAt(i)) 0L else row.getLong(i))
  }

  /** Timings of one cycle: publish, the four strategy parses, all reads. */
  private final case class Cycle(publishS: Double, parseS: Seq[Double], readMs: Seq[Double],
                                 wallS: Double, traced: Boolean)

  def run(a: Args, r: Report): Unit = {
    val m = Inputs.manifest(a.inputs)
    val n = m.get("messages").asLong
    val queues = m.get("queues").asInt
    val root = a.work.resolve("mq").toString
    val file = a.inputs.resolve("backlog.tsv").toString
    val results = mutable.ArrayBuffer[Result]()

    def timed[T](layer: String, name: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val out = Tracer.span(layer, name, name)(f)
      (out, (System.nanoTime() - t0) / 1e9)
    }

    def cycle(spark: SparkSession, df: DataFrame, c: Int): Cycle = {
      val c0 = System.nanoTime()
      val topic = s"BACKLOG_$c"
      val (_, ps) = timed("sink", "publish")(publish(df, root, topic))
      results += Result(c, "publish", Seq((0 until queues).map(q => TopicLog.maxOffset(root, topic, q)).sum))
      val parse = Strategies.map { lc =>
        val (got, s) = timed("serde", s"parse $lc") {
          longs(Deser.parseBodies(reader(spark, root, topic), "body", Inputs.BodySchema, lengthCheck = lc)
            .agg(count(lit(1)), sum("seq"), sum(col("qty").cast("long")), sum(length(col("note"))).cast("long")))
        }
        results += Result(c, s"parse $lc", got)
        s
      }
      val seqCol = substring_index(col("body"), "\u0001", 1).cast("long")
      val tags = Seq("A", "B", "C", "D").map { t =>
        val (got, s) = timed("source", s"tag $t") {
          longs(reader(spark, root, topic).where(col("tag") === t).agg(count(lit(1)), sum(seqCol)))
        }
        results += Result(c, s"tag $t", got)
        s
      }
      val ranges = (0 until m.get("ranges").size).map { i =>
        val e = m.get("ranges").get(i)
        val (got, s) = timed("source", s"range $i") {
          longs(reader(spark, root, topic)
            .where(col("born_ts") >= timestamp_millis(lit(e.get(0).asLong)) &&
              col("born_ts") < timestamp_millis(lit(e.get(1).asLong)))
            .agg(count(lit(1)), sum(seqCol)))
        }
        results += Result(c, s"range $i", got)
        s
      }
      TopicLog.deleteTopic(root, topic)
      Cycle(ps, parse, (parse ++ tags ++ ranges).map(_ * 1000), (System.nanoTime() - c0) / 1e9,
        Tracer.enabled)
    }

    val (spark, df, setupS) = Main.setUp(a.cores) { (spark, _) =>
      Files2.deleteTree(a.work.resolve("mq"))
      val df = backlog(spark, file, queues)
      df.count()
      df
    } { df => df.unpersist(blocking = true) }
    // one untimed cycle compiles and JITs every path; the first timed cycle
    // is still slower than the rest, which the median over three leaves out
    val tracing = Tracer.enabled
    Tracer.enabled = false
    val w0 = System.nanoTime()
    cycle(spark, df, -1)
    results.clear()
    val warmS = (System.nanoTime() - w0) / 1e9
    r.info("warm_cycle_s") = f"$warmS%.3f"
    r.metric("jvm_setup_s", setupS + warmS, "s")

    spark.sparkContext.addSparkListener(new JobListener)
    val cycles = mutable.ArrayBuffer[Cycle]()
    val t0 = System.nanoTime()
    // the traced run alternates traced and untraced cycles: their medians
    // give the tracing overhead
    while (cycles.size < 3 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      Tracer.enabled = tracing && cycles.size % 2 == 1
      cycles += cycle(spark, df, cycles.size)
    }
    Tracer.enabled = tracing
    val measureS = (System.nanoTime() - t0) / 1e9
    r.metric("heap_live_mb", Heap.liveMb(), "MB")
    r.ok(results.size.toLong)
    Files2.write(a.work.resolve("outputs").resolve("replay.json"), results.map(_.json).mkString("[", ",\n", "]"))

    // a cycle's read-backs are of twelve kinds with their own costs, so a
    // quantile over all of them jumps between kinds. Each kind's time is its
    // median over the cycles; the metrics are the median and the slowest of
    // the twelve.
    val perKind = cycles.head.readMs.indices.map(k => Stats.median(cycles.map(_.readMs(k)).toSeq)).toArray.sorted
    r.metric("latency_p50_ms", Stats.quantile(perKind, 0.5), "ms")
    r.metric("latency_tail_ms", perKind.last, "ms")
    r.info("read_ms") = cycles.map(c => c.readMs.map(x => f"$x%.0f").mkString("/")).mkString(",")
    r.metric("throughput_per_s", n * Strategies.size / Stats.median(cycles.map(_.parseS.sum).toSeq), "1/s")
    r.info("cycles") = cycles.size.toString
    r.info("measure_s") = f"$measureS%.3f"
    r.info("parse_s") = cycles.map(c => f"${c.parseS.sum}%.3f").mkString(",")
    r.info("publish_s") = cycles.map(c => f"${c.publishS}%.3f").mkString(",")

    // ---- per-layer metrics ----
    r.metric("sink.write_msgs_per_s", n / Stats.median(cycles.map(_.publishS).toSeq), "1/s")
    if (tracing) {
      val traced = cycles.filter(_.traced).map(_.wallS).toSeq
      val plain = cycles.filterNot(_.traced).map(_.wallS).toSeq
      r.metric("bench.trace_overhead_pct", 100.0 * (Stats.median(traced) / Stats.median(plain) - 1), "%")
      layerProbes(spark, r, a, root, df, n, queues)
    }
  }

  /** Direct `graft.source` and `graft.serde` probes over the backlog. */
  private def layerProbes(spark: SparkSession, r: Report, a: Args, root: String, df: DataFrame,
                          n: Long, queues: Int): Unit = {
    val msgs = Inputs.messages(a.inputs.resolve("backlog.tsv"))
    val topic = "PROBE_Q8"
    publish(df, root, topic)
    Probes.source(r, root, topic)
    // from offset 0: the replay's own read position
    val bytes = new java.io.File(TopicLog.queueFile(root, topic, 0).getPath).length()
    val readS = Tracer.span("source", "read_from_0") {
      val t0 = System.nanoTime()
      val it = TopicLog.readRange(root, topic, 0, 0, Long.MaxValue)
      try it.foreach(_ => ()) finally it.close()
      (System.nanoTime() - t0) / 1e9
    }
    r.metric("source.read_mb_per_s", bytes / 1048576.0 / readS, "MB/s")
    val mid = msgs(msgs.length / 2).bornMs
    val searchMs = Tracer.span("source", "search_offset") {
      Stats.median((0 until 5).map { _ =>
        val t0 = System.nanoTime()
        (0 until queues).foreach(q => TopicLog.searchOffset(root, topic, q, mid))
        (System.nanoTime() - t0) / 1e6 / queues
      })
    }
    r.metric("source.search_offset_ms", searchMs, "ms")
    // raw appends into one queue, then DSv2 scans over 1 and 8 queues
    val appendS = Tracer.span("source", "append") {
      val t0 = System.nanoTime()
      TopicLog.append(root, "PROBE_Q1", 0, msgs.iterator.map(x => x.toMessage(x.bornMs)))
      (System.nanoTime() - t0) / 1e9
    }
    r.metric("source.append_us_per_msg", appendS * 1e6 / n, "us")
    Seq(1 -> "PROBE_Q1", 8 -> topic).foreach { case (q, t) =>
      val s = Tracer.span("source", s"scan q$q") {
        Stats.median((0 until 3).map { _ =>
          val t0 = System.nanoTime()
          reader(spark, root, t).select("body").write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        })
      }
      r.metric(s"source.scan_msgs_per_s.q$q", n / s, "1/s")
    }
    Probes.serde(r, msgs)
  }
}
