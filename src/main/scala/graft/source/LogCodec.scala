package graft.source

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Arrays

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/**
 * Byte-level decoder of one queue log line (format: [[TopicLog]]),
 * `buf(from until to)` without its terminator.
 *
 * The structure bytes (tab, backslash, `;`, `=`) are ASCII and never occur
 * inside a multi-byte UTF-8 sequence, so fields are found in the raw bytes
 * and each is decoded on its own. A field is copied as it is unless it
 * holds a backslash (then it is unescaped byte by byte) or is not valid
 * UTF-8 (then it goes through the JDK decoder and the String unescape, so
 * each malformed sequence reads as U+FFFD, whatever backslashes surround it).
 */
private[source] object LogCodec {

  final val Tab: Byte = '\t'
  final val Backslash: Byte = '\\'

  def indexOf(buf: Array[Byte], b: Byte, from: Int, to: Int): Int = {
    var i = from
    while (i < to) { if (buf(i) == b) return i; i += 1 }
    -1
  }

  /** First `sep` in [from, to) not escaped by a backslash, or -1. */
  def indexOfUnescaped(buf: Array[Byte], sep: Byte, from: Int, to: Int): Int = {
    var i = from
    while (i < to) {
      val b = buf(i)
      if (b == Backslash) i += 2
      else if (b == sep) return i
      else i += 1
    }
    -1
  }

  /** Field bounds of a line: `ends(k)` is the end of field k and field
    * k + 1 starts at `ends(k) + 1`. Returns the field count (at most 5: the
    * body keeps any further tabs); a line with fewer than 3 fields has no
    * tag and fails. */
  def split(buf: Array[Byte], from: Int, to: Int, ends: Array[Int], offset: Long): Int = {
    var n = 0
    var start = from
    while (n < 4) {
      val t = indexOf(buf, Tab, start, to)
      if (t < 0) {
        ends(n) = to
        if (n < 2) throw malformed(buf, from, to, offset, "fewer than 3 fields")
        return n + 1
      }
      ends(n) = t
      start = t + 1
      n += 1
    }
    ends(4) = to
    5
  }

  def malformed(buf: Array[Byte], from: Int, to: Int, offset: Long, why: String)
      : IllegalArgumentException =
    new IllegalArgumentException(
      s"malformed queue log line at offset $offset ($why): ${new String(buf, from, to - from, UTF_8)}")

  /** A decimal Long as `java.lang.Long.parseLong` reads it: plain ASCII
    * digits are summed here, anything else takes the String path. */
  def parseLong(buf: Array[Byte], from: Int, to: Int): Long = {
    val neg = from < to && buf(from) == '-'
    val start = if (neg) from + 1 else from
    if (start == to || to - start > 18) return new String(buf, from, to - from, UTF_8).toLong
    var v = 0L
    var i = start
    while (i < to) {
      val d = buf(i) - '0'
      if (d < 0 || d > 9) return new String(buf, from, to - from, UTF_8).toLong
      v = v * 10 + d
      i += 1
    }
    if (neg) -v else v
  }

  /** bornTs of a line: its first field, which must end in a tab. */
  def bornTs(buf: Array[Byte], from: Int, to: Int, offset: Long): Long = {
    val t = indexOf(buf, Tab, from, to)
    if (t < 0) throw malformed(buf, from, to, offset, "no tab")
    parseLong(buf, from, t)
  }

  // a field's shape, from one pass over its bytes
  private final val Plain = 0 // valid UTF-8, no backslash
  private final val Escaped = 1 // valid UTF-8 with a backslash
  private final val Invalid = 2 // not valid UTF-8

  private def shape(buf: Array[Byte], from: Int, to: Int): Int = {
    var escaped = false
    var ascii = true
    var i = from
    while (i < to) {
      val b = buf(i)
      if (b == Backslash) escaped = true
      else if (b < 0) ascii = false
      i += 1
    }
    if (!ascii && !UTF8String.fromBytes(buf, from, to - from).isValid) Invalid
    else if (escaped) Escaped
    else Plain
  }

  private def unescapedLength(buf: Array[Byte], from: Int, to: Int): Int = {
    var n = 0
    var i = from
    while (i < to) {
      i += (if (buf(i) == Backslash && i + 1 < to) 2 else 1)
      n += 1
    }
    n
  }

  /** Byte form of [[TopicLog.unescape]]: `\t`, `\n`, `\r` map to their
    * control bytes, any other escaped byte to itself, and a lone trailing
    * backslash stays. */
  private def unescapeBytes(buf: Array[Byte], from: Int, to: Int): Array[Byte] = {
    val out = new Array[Byte](unescapedLength(buf, from, to))
    var o = 0
    var i = from
    while (i < to) {
      val b = buf(i)
      if (b == Backslash && i + 1 < to) {
        out(o) = buf(i + 1) match {
          case 't' => '\t'
          case 'n' => '\n'
          case 'r' => '\r'
          case other => other
        }
        i += 2
      } else { out(o) = b; i += 1 }
      o += 1
    }
    out
  }

  private def viaString(buf: Array[Byte], from: Int, to: Int): String =
    TopicLog.unescape(new String(buf, from, to - from, UTF_8))

  /** A field as a Catalyst string that owns its bytes. */
  def utf8(buf: Array[Byte], from: Int, to: Int): UTF8String = shape(buf, from, to) match {
    case Plain => UTF8String.fromBytes(Arrays.copyOfRange(buf, from, to))
    case Escaped => UTF8String.fromBytes(unescapeBytes(buf, from, to))
    case _ => UTF8String.fromString(viaString(buf, from, to))
  }

  /** UTF-8 byte length of a decoded field, without decoding it. */
  def decodedLength(buf: Array[Byte], from: Int, to: Int): Int = shape(buf, from, to) match {
    case Plain => to - from
    case Escaped => unescapedLength(buf, from, to)
    case _ => Metrics.utf8Length(viaString(buf, from, to)).toInt
  }

  def string(buf: Array[Byte], from: Int, to: Int): String =
    if (indexOf(buf, Backslash, from, to) < 0) new String(buf, from, to - from, UTF_8)
    else shape(buf, from, to) match {
      case Escaped => new String(unescapeBytes(buf, from, to), UTF_8)
      case _ => viaString(buf, from, to)
    }

  /** Calls `f(keyFrom, keyTo, valueFrom, valueTo)` for each `k=v` entry of
    * a properties field, in log order; empty entries are skipped and an
    * entry with no unescaped `=` fails. */
  def foreachProperty(buf: Array[Byte], from: Int, to: Int, offset: Long)
                     (f: (Int, Int, Int, Int) => Unit): Unit = {
    var start = from
    while (start < to) {
      val semi = indexOfUnescaped(buf, ';', start, to)
      val end = if (semi < 0) to else semi
      if (end > start) {
        val eq = indexOfUnescaped(buf, '=', start, end)
        if (eq < 0) throw malformed(buf, from, to, offset, "property entry with no '='")
        f(start, eq, eq + 1, end)
      }
      start = end + 1
    }
  }

  /** One line as a [[Message]] (every field decoded). */
  def message(buf: Array[Byte], from: Int, to: Int, offset: Long): Message = {
    val ends = new Array[Int](5)
    val n = split(buf, from, to, ends, offset)
    val props = Map.newBuilder[String, String] // a later duplicate key wins
    if (n >= 4) foreachProperty(buf, ends(2) + 1, ends(3), offset) { (ks, ke, vs, ve) =>
      props += string(buf, ks, ke) -> string(buf, vs, ve)
    }
    Message(
      bornTs = parseLong(buf, from, ends(0)),
      key = string(buf, ends(0) + 1, ends(1)),
      tag = string(buf, ends(1) + 1, ends(2)),
      properties = props.result(),
      body = if (n < 5) "" else string(buf, ends(3) + 1, ends(4)))
  }
}

/**
 * Queue log line → Catalyst row for one queue's scan, shared by the batch,
 * micro-batch and continuous readers. Per line it splits the fields and
 * checks the tag and the property selector first; only a line that passes
 * is decoded, and only into the required columns. Every line's bornTs and
 * properties structure is still checked, so a malformed line fails the
 * task whatever the projection.
 *
 * `tagFilter` is the reader's tag option (`*`, empty or null: any tag;
 * `A||B`: either); `propertyFilter` is an equality-conjunction property
 * selector (reference: example/PropertyFilterExamples.java:33). The
 * `properties` map holds its entries in log order, one per key, the last
 * value of a duplicated key winning.
 */
private[source] final class QueueRowDecoder(topic: String, queueId: Int,
    requiredSchema: StructType, tagFilter: String, propertyFilter: Map[String, String]) {

  // column kinds as MessageQueueTable.Schema indexes: 0 topic, 1 queue_id,
  // 2 offset, 3 born_ts, 4 msg_key, 5 tag, 6 properties, 7 body
  private val kinds: Array[Int] = requiredSchema.fieldNames.map { c =>
    require(MessageQueueTable.Schema.fieldNames.contains(c), s"unknown column: $c")
    MessageQueueTable.Schema.fieldIndex(c)
  }
  private val bodyColumn = kinds.indexOf(7)
  private val topicUtf8 = UTF8String.fromString(topic)

  private val acceptedTags: java.util.HashSet[UTF8String] =
    if (tagFilter == null || tagFilter == "*" || tagFilter.isEmpty) null
    else {
      val s = new java.util.HashSet[UTF8String]()
      tagFilter.split("\\|\\|").foreach(t => s.add(UTF8String.fromString(t.trim)))
      s
    }
  private val wantedProps: Array[(UTF8String, UTF8String)] =
    propertyFilter.toArray.map { case (k, v) => UTF8String.fromString(k) -> UTF8String.fromString(v) }
  private val needProps = wantedProps.nonEmpty || kinds.contains(6)

  private val ends = new Array[Int](5)

  /** UTF-8 bytes of the last decoded line's body (the `graft_bytes_read`
    * metric), counted whether or not the line passed the filters. */
  var bodyBytes: Long = 0L

  /** The row for the line at `offset`, or null when the tag or property
    * selector drops it. */
  def decode(buf: Array[Byte], from: Int, to: Int, offset: Long): InternalRow = {
    val n = LogCodec.split(buf, from, to, ends, offset)
    val bornTs = LogCodec.parseLong(buf, from, ends(0))
    val props =
      if (n < 4) null
      else if (needProps) properties(buf, offset)
      else { LogCodec.foreachProperty(buf, ends(2) + 1, ends(3), offset)((_, _, _, _) => ()); null }
    val bodyFrom = if (n < 5) to else ends(3) + 1
    val tagOk = acceptedTags == null ||
      acceptedTags.contains(LogCodec.utf8(buf, ends(1) + 1, ends(2)))
    if (!tagOk || !propsMatch(props)) {
      bodyBytes = LogCodec.decodedLength(buf, bodyFrom, to)
      return null
    }
    val values = new Array[Any](kinds.length)
    var i = 0
    while (i < kinds.length) {
      values(i) = kinds(i) match {
        case 0 => topicUtf8
        case 1 => queueId
        case 2 => offset
        case 3 => bornTs * 1000L // millis → micros
        case 4 => LogCodec.utf8(buf, ends(0) + 1, ends(1))
        case 5 => LogCodec.utf8(buf, ends(1) + 1, ends(2))
        case 6 => mapData(props)
        case _ => LogCodec.utf8(buf, bodyFrom, to)
      }
      i += 1
    }
    bodyBytes =
      if (bodyColumn >= 0) values(bodyColumn).asInstanceOf[UTF8String].numBytes()
      else LogCodec.decodedLength(buf, bodyFrom, to)
    new GenericInternalRow(values)
  }

  private def properties(buf: Array[Byte], offset: Long)
      : java.util.LinkedHashMap[UTF8String, UTF8String] = {
    // put() on a present key keeps its place and takes the later value
    val m = new java.util.LinkedHashMap[UTF8String, UTF8String]()
    LogCodec.foreachProperty(buf, ends(2) + 1, ends(3), offset) { (ks, ke, vs, ve) =>
      m.put(LogCodec.utf8(buf, ks, ke), LogCodec.utf8(buf, vs, ve))
    }
    m
  }

  private def propsMatch(props: java.util.Map[UTF8String, UTF8String]): Boolean = {
    var i = 0
    while (i < wantedProps.length) {
      val (k, v) = wantedProps(i)
      if (props == null || v != props.get(k)) return false
      i += 1
    }
    true
  }

  private def mapData(props: java.util.Map[UTF8String, UTF8String]): ArrayBasedMapData =
    if (props == null) ArrayBasedMapData(Array.empty[Any], Array.empty[Any])
    else {
      val keys = new Array[Any](props.size)
      val vals = new Array[Any](props.size)
      var i = 0
      props.forEach { (k, v) => keys(i) = k; vals(i) = v; i += 1 }
      ArrayBasedMapData(keys, vals)
    }
}
