package graft.source

import java.nio.file.Files

import scala.util.Random

import graft.SparkSpec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Appends generated messages (escape-heavy fields, astral code points, one
 * line longer than the read buffer) and reads them back through graft-mq:
 * every pruned-column subset under tag options, property selectors and
 * mid-file offset ranges, plus DataFrame scans and a continuous reader.
 * The expected rows are the appended messages themselves.
 */
class QueueReaderParitySpec extends SparkSpec {

  private val topic = "parity"
  private val perQueue = 120
  private val LongLine = 60 // queue 0's message at this offset has a ~1 MB line

  private val messages: Seq[IndexedSeq[Message]] = {
    val rng = new Random(42)
    val pieces = Seq("a", "B", "7", " ", "\t", "\n", "\r", "\\", ";", "=", "é", "中", "😀", "\u0000")
    def str(max: Int) = (0 until rng.nextInt(max)).map(_ => pieces(rng.nextInt(pieces.size))).mkString
    val tags = Seq("A", "B", "C", "", "A\tB")
    (0 until 2).map { q =>
      (0 until perQueue).map { i =>
        val props = Seq("u", "v", "k;=").filter(_ => rng.nextBoolean())
          .map(k => k -> Seq("1", "2", str(4))(rng.nextInt(3))).toMap
        val body = if (q == 0 && i == LongLine) "é\\😀" * 120000 else str(30)
        Message(1000L + 10 * i, str(6), tags(rng.nextInt(tags.size)), props, body)
      }
    }
  }

  private lazy val root: String = {
    val r = Files.createTempDirectory("graft-parity").toString
    messages.zipWithIndex.foreach { case (ms, q) => TopicLog.append(r, topic, q, ms.iterator) }
    r
  }

  private def expected(m: Message, q: Int, offset: Long, columns: Seq[String]): Seq[Any] =
    columns.map {
      case "topic" => topic
      case "queue_id" => q
      case "offset" => offset
      case "born_ts" => m.bornTs * 1000L
      case "msg_key" => m.key
      case "tag" => m.tag
      case "properties" => m.properties
      case "body" => m.body
    }

  private def values(row: InternalRow, schema: StructType): Seq[Any] =
    schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      f.dataType match {
        case StringType => row.getUTF8String(i).toString
        case IntegerType => row.getInt(i)
        case LongType | TimestampType => row.getLong(i)
        case _: MapType =>
          val m = row.getMap(i)
          (0 until m.numElements()).map { j =>
            m.keyArray().getUTF8String(j).toString -> m.valueArray().getUTF8String(j).toString
          }.toMap
      }
    }

  private def passes(m: Message, tags: Set[String], props: Map[String, String]): Boolean =
    (tags.isEmpty || tags.contains(m.tag)) && props.forall { case (k, v) => m.properties.get(k).contains(v) }

  test("every pruned-column subset, tag option, property selector and offset range") {
    // (tag option, its accepted tags, property selector, start, stop)
    val configs = Seq(
      (null, Set.empty[String], Map.empty[String, String], 0, perQueue),
      ("A||B", Set("A", "B"), Map.empty[String, String], 37, 101),
      ("*", Set.empty[String], Map("u" -> "1"), 0, perQueue),
      ("A || C", Set("A", "C"), Map("u" -> "1", "v" -> "2"), LongLine - 1, LongLine + 2))
    val schema = MessageQueueTable.Schema
    for (mask <- 1 until (1 << schema.length); (tag, tags, props, start, stop) <- configs; q <- 0 until 2) {
      val required = StructType(schema.fields.zipWithIndex.collect {
        case (f, i) if (mask >> i & 1) == 1 => f
      })
      val reader = new QueueReaderFactory(root, tag, props, required)
        .createReader(QueueSplit(topic, MessageQueueSource.Broker, q, start, stop))
      val got = Iterator.continually(reader.next()).takeWhile(identity)
        .map(_ => values(reader.get(), required)).toList
      val metrics = reader.asInstanceOf[QueuePartitionReader].currentMetricsValues()
        .map(m => m.name() -> m.value()).toMap
      reader.close()
      val range = (start until stop).map(o => o.toLong -> messages(q)(o))
      val want = range.collect {
        case (o, m) if passes(m, tags, props) => expected(m, q, o, required.fieldNames.toSeq)
      }
      assert(got === want, s"columns ${required.fieldNames.mkString(",")} tag $tag props $props q $q")
      assert(metrics(Metrics.MessagesRead) === want.size)
      assert(metrics(Metrics.MessagesFiltered) === range.size - want.size)
      // body bytes of every message read, filtered or not
      assert(metrics(Metrics.BytesRead) === range.map(r => Metrics.utf8Length(r._2.body)).sum)
    }
  }

  test("DataFrame scans: all columns, a tag option with a pushed property predicate, a born_ts window") {
    def scan(options: (String, String)*) =
      options.foldLeft(spark.read.format("graft-mq").option("topic", topic)
        .option("consumerGroup", "parity").option("rootDir", root)
        .option("offsetResetTo", "earliest")) { case (r, (k, v)) => r.option(k, v) }.load()
    val all = for { q <- 0 until 2; o <- 0 until perQueue } yield (q, o.toLong, messages(q)(o))

    val full = scan().collect().map { r =>
      (r.getString(0), r.getInt(1), r.getLong(2), r.getTimestamp(3).getTime, r.getString(4),
        r.getString(5), r.getMap[String, String](6).toMap, r.getString(7))
    }.toSet
    assert(full === all.map { case (q, o, m) =>
      (topic, q, o, m.bornTs, m.key, m.tag, m.properties, m.body) }.toSet)

    val selected = scan("tag" -> "A||B").where(col("properties")("u") === "1")
      .select("queue_id", "offset", "body").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
    assert(selected === all.collect {
      case (q, o, m) if passes(m, Set("A", "B"), Map("u" -> "1")) => (q, o, m.body) }.toSet)

    val window = scan().where(col("born_ts") >= timestamp_millis(lit(1300L)) &&
        col("born_ts") < timestamp_millis(lit(1700L)))
      .select("queue_id", "offset").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(window === all.collect {
      case (q, o, m) if m.bornTs >= 1300L && m.bornTs < 1700L => (q, o) }.toSet)
  }

  test("the continuous reader decodes the same rows from a mid-file start") {
    val required = StructType(MessageQueueTable.Schema.filter(f =>
      Set("offset", "tag", "properties", "body").contains(f.name)))
    val reader = new ContinuousQueueReader(root, "A||C", Map.empty, required,
      ContinuousQueueSplit(topic, 0, 37L), 5L)
    val want = (37 until perQueue).collect {
      case o if passes(messages(0)(o), Set("A", "C"), Map.empty) =>
        expected(messages(0)(o), 0, o.toLong, required.fieldNames.toSeq)
    }
    // next() blocks once the log is drained, so ask for exactly the rows there are
    val got = want.map { _ => assert(reader.next()); values(reader.get(), required) }
    assert(got === want)
    assert(reader.getOffset === QueuePartitionOffset(0, want.last.head.asInstanceOf[Long] + 1))
    reader.close()
  }
}
