package graft.source

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.{ContinuousPartitionReader, ContinuousPartitionReaderFactory, ContinuousStream, Offset, PartitionOffset}
import org.apache.spark.sql.types.StructType

import graft.config.GraftOptions

/** Continuous-mode position of one queue reader: the NEXT offset to read. */
final case class QueuePartitionOffset(queueId: Int, offset: Long) extends PartitionOffset

/** One queue's continuous split: where the long-running reader task starts. */
final case class ContinuousQueueSplit(topic: String, queueId: Int, startOffset: Long)
    extends InputPartition

/**
 * DSv2 ContinuousStream over the queue logs — the low-latency analog of the
 * reference's always-on poll loop (reference:
 * source/reader/RocketMQPartitionSplitReader.java:90-180, whose fetch loop
 * never returns to a scheduler between polls). Micro-batch mode pays a
 * planning round-trip per batch, so end-to-end latency floors at the
 * trigger interval; here each queue gets ONE long-running task whose
 * reader tails the log and emits rows the moment they land, and the epoch
 * coordinator snips the stream into commit epochs without ever stopping
 * the readers.
 *
 * Offsets are the same `QueueOffsets` JSON as micro-batch mode, so a
 * checkpoint written by one mode restores in the other (restore-wins,
 * like the micro-batch stream). Enabled per-query by
 * `Trigger.Continuous(...)` — the source advertises CONTINUOUS_READ and
 * Spark picks this stream over the micro-batch one automatically.
 *
 * Scope (documented in README §continuous): tag/property pushdown and
 * offset bookkeeping are shared with micro-batch mode, but Spark's
 * continuous engine itself supports only stateless map/filter/project
 * pipelines — windowed aggregates and joins still require micro-batch
 * mode. End-to-end parity is oracle-checked by the
 * `mq_roundtrip_continuous` entry (same SQL as the batch roundtrip), on
 * top of ContinuousSpec's tailing/selector/offset suites.
 */
class MessageQueueContinuousStream(opts: GraftOptions,
    requiredSchema: StructType = MessageQueueTable.Schema)
    extends ContinuousStream {

  private def listQueues(): Seq[Int] = TopicLog.listQueues(opts.rootDir, opts.topic)

  /** The queue set this stream last planned; a new queue appearing in the
    * log triggers a reconfiguration (the continuous analog of micro-batch
    * per-batch queue re-listing). */
  @volatile private var plannedQueues: Seq[Int] = Nil

  override def initialOffset(): Offset =
    QueueOffsets(listQueues().map { q =>
      q -> OffsetStore.resolveStartOffset(opts.rootDir, opts.topic, q, opts.startMode)
    }.toMap)

  override def deserializeOffset(json: String): Offset = QueueOffsets.fromJson(json)

  override def mergeOffsets(offsets: Array[PartitionOffset]): Offset =
    QueueOffsets(offsets.map {
      case QueuePartitionOffset(q, o) => q -> o
      case other => throw new IllegalArgumentException(s"unexpected offset: $other")
    }.toMap)

  override def planInputPartitions(start: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[QueueOffsets].offsets
    // a queue present in the log but absent from the checkpoint starts at
    // its mode-resolved offset (same rule as the micro-batch stream)
    val queues = listQueues()
    plannedQueues = queues
    queues.map { q =>
      val from = s.getOrElse(q,
        OffsetStore.resolveStartOffset(opts.rootDir, opts.topic, q, opts.startMode))
      ContinuousQueueSplit(opts.topic, q, from): InputPartition
    }.toArray
  }

  override def createContinuousReaderFactory(): ContinuousPartitionReaderFactory =
    new ContinuousQueueReaderFactory(opts.rootDir, opts.tag, opts.propertyFilter,
      requiredSchema, opts.continuousPollMs)

  override def needsReconfiguration(): Boolean = listQueues() != plannedQueues

  /** Same monitoring-only group-offset surface as the micro-batch stream's
    * commit: restarts are governed by the checkpoint (restore-wins), so a
    * failed write logs and continues. */
  override def commit(end: Offset): Unit =
    try OffsetStore.commitOffsets(opts.rootDir, opts.topic, opts.consumerGroup,
      end.asInstanceOf[QueueOffsets].offsets)
    catch {
      case e: Exception =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"could not persist consumer-group offsets for ${opts.consumerGroup}: $e")
    }

  override def stop(): Unit = ()
}

class ContinuousQueueReaderFactory(rootDir: String, tag: String,
    propertyFilter: Map[String, String], requiredSchema: StructType, pollMs: Long)
    extends ContinuousPartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : ContinuousPartitionReader[InternalRow] = {
    val split = partition.asInstanceOf[ContinuousQueueSplit]
    new ContinuousQueueReader(rootDir, tag, propertyFilter, requiredSchema, split, pollMs)
  }
}

/**
 * Long-running tail reader for one queue: `next()` BLOCKS until a record is
 * available, re-polling the log's max offset every `pollMs` while drained —
 * the reference's poll loop re-expressed as a DSv2 continuous reader. The
 * engine runs this on a dedicated thread and interrupts it at query stop;
 * the InterruptedException from the poll sleep is the intended shutdown
 * path. Filtered-out messages (tag/property selector) still advance the
 * position, exactly like the micro-batch reader's offset accounting.
 */
class ContinuousQueueReader(rootDir: String, tagFilter: String,
    propertyFilter: Map[String, String], requiredSchema: StructType,
    split: ContinuousQueueSplit, pollMs: Long)
    extends ContinuousPartitionReader[InternalRow] {

  private val decoder = new QueueRowDecoder(split.topic, split.queueId, requiredSchema,
    tagFilter, propertyFilter)
  private val file = TopicLog.queueFile(rootDir, split.topic, split.queueId)

  private var nextOffset: Long = split.startOffset
  private var chunk: TopicLog.LineReader = null
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      if (chunk != null && chunk.next()) {
        nextOffset = chunk.offset + 1
        val row = decoder.decode(chunk.buf, chunk.lineStart, chunk.lineEnd, chunk.offset)
        if (row != null) {
          current = row
          return true
        }
      } else {
        if (chunk != null) { chunk.close(); chunk = null }
        val max = TopicLog.maxOffset(rootDir, split.topic, split.queueId)
        if (max > nextOffset) chunk = new TopicLog.LineReader(file, nextOffset, max)
        else Thread.sleep(pollMs) // throws InterruptedException at query stop
      }
    }
    false // unreachable
  }

  override def get(): InternalRow = current

  override def getOffset: PartitionOffset =
    QueuePartitionOffset(split.queueId, nextOffset)

  override def close(): Unit = {
    if (chunk != null) { chunk.close(); chunk = null }
  }
}
