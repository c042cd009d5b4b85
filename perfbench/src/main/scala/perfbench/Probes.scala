package perfbench

import java.nio.charset.StandardCharsets

import graft.serde.{DirtyDataStrategy, RowDeserializer}
import graft.source.{EpochLedger, TopicLog}

/** Direct calls into single layers, each inside a span, for the traced run. */
object Probes {
  private def timeMs(reps: Int)(f: => Unit): Double =
    Stats.median((0 until reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    })

  private def drain(it: TopicLog.RangeIterator): Long = {
    var n = 0L
    try it.foreach(_ => n += 1) finally it.close()
    n
  }

  /** `graft.source` probes on a topic's queue 0. */
  def source(r: Report, root: String, topic: String): Unit =
    Tracer.span("source", "probes") {
      val max = TopicLog.maxOffset(root, topic, 0)
      val n = math.min(1000L, max)
      r.metric("source.tail_read_ms", timeMs(5)(drain(TopicLog.readRange(root, topic, 0, max - n, max))), "ms")
      r.metric("source.head_read_ms", timeMs(5)(drain(TopicLog.readRange(root, topic, 0, 0, n))), "ms")
      r.info("source.depth_msgs") = max.toString
      // the newest 1000 at shallower depths: the cost grows with the offset
      Seq(4, 2).foreach { d =>
        val at = max / d
        r.info(s"source.tail_read_ms@$at") =
          f"${timeMs(5)(drain(TopicLog.readRange(root, topic, 0, math.max(0, at - n), at)))}%.3f"
      }
      r.metric("source.max_offset_us", 1000 * timeMs(200)(TopicLog.maxOffset(root, topic, 0)), "us")
      ledger(r, root)
    }

  /** `EpochLedger.publish` then `read` of an 8-queue state, per call. */
  def ledger(r: Report, root: String): Unit = Tracer.span("sink", "ledger_probe") {
    var epoch = 0L
    r.metric("sink.ledger_publish_us", 1000 * timeMs(100) {
      epoch += 1
      EpochLedger.publish(root, "LEDGER_PROBE",
        EpochLedger.State("probe", epoch, (0 until 8).map(q => q -> (epoch, epoch * 100)).toMap))
      EpochLedger.read(root, "LEDGER_PROBE")
    }, "us")
  }

  /** `RowDeserializer.deserialize` rows/s and kept share per strategy over
    * the given bodies; EXCEPTION runs on the clean bodies only. */
  def serde(r: Report, msgs: Array[InMsg]): Unit = {
    val all = msgs.map(_.body.getBytes(StandardCharsets.UTF_8))
    val clean = msgs.filter(_.clean).map(_.body.getBytes(StandardCharsets.UTF_8))
    Seq("SKIP" -> DirtyDataStrategy.Skip, "SKIP_SILENT" -> DirtyDataStrategy.SkipSilent,
      "CUT" -> DirtyDataStrategy.Cut, "NULL" -> DirtyDataStrategy.Null,
      "PAD" -> DirtyDataStrategy.Pad, "EXCEPTION" -> DirtyDataStrategy.Exception).foreach {
      case (name, s) =>
        val input = if (s == DirtyDataStrategy.Exception) clean else all
        val d = new RowDeserializer(Inputs.BodySchema, s, s, s)
        var kept = 0L
        // the first pass compiles; the second is timed
        input.foreach(b => d.deserialize(b))
        val ms = Tracer.span("serde", s"deserialize $name") {
          timeMs(1)(input.foreach(b => kept += d.deserialize(b).size))
        }
        r.metric(s"serde.rows_per_s.$name", input.length / (ms / 1000), "1/s")
        r.metric(s"serde.kept_ratio.$name", kept.toDouble / input.length, "ratio")
    }
  }
}
