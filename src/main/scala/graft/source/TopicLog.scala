package graft.source

import java.io.{BufferedWriter, File, FileInputStream, FileWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** One message in the file-backed queue log: the graft stand-in for a broker
  * message (bornTs/key/tag/properties/body — the same fields the reference's
  * BytesMessage + metadata carry). */
final case class Message(
    bornTs: Long,
    key: String,
    tag: String,
    properties: Map[String, String],
    body: String)

/**
 * File-backed topic storage: `<root>/<topic>/queue-<N>.log`, one message per
 * line, offset = line number. Stands in for the broker so all offset/split
 * semantics stay real (see SURVEY.md §3).
 *
 * Line format (UTF-8, tab-separated):
 * `bornTs \t key \t tag \t k=v;k=v \t body`, with backslash, tab,
 * newline, CR, `;` and `=` escaped inside every field, so arbitrary bodies
 * round-trip. Properties are written sorted by key. Append-only; one writer
 * per queue (MQ semantics).
 *
 * Reads never decode a line as a String: [[LineReader]] finds lines in the
 * raw bytes, and [[LogCodec]] / [[QueueRowDecoder]] decode the fields a
 * caller needs straight from those bytes.
 */
object TopicLog {

  val QueuePrefix = "queue-"
  val QueueSuffix = ".log"

  def queueFile(root: String, topic: String, queueId: Int): File =
    new File(new File(root, topic), s"$QueuePrefix$queueId$QueueSuffix")

  /** Queue ids present for a topic, ascending (a topic with no dir has none). */
  def listQueues(root: String, topic: String): Seq[Int] = {
    val dir = new File(root, topic)
    if (!dir.isDirectory) Seq.empty
    else dir.listFiles()
      .filter(f => f.getName.startsWith(QueuePrefix) && f.getName.endsWith(QueueSuffix))
      .map(f => f.getName.stripPrefix(QueuePrefix).stripSuffix(QueueSuffix).toInt)
      .sorted.toSeq
  }

  def listTopics(root: String): Seq[String] = {
    val dir = new File(root)
    if (!dir.isDirectory) Seq.empty
    else dir.listFiles().filter(_.isDirectory).map(_.getName).sorted.toSeq
  }

  // ---- field escaping ----

  private[source] def escape(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '\t' => sb.append("\\t")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      // ';' and '=' structure the properties field; escaping them everywhere
      // keeps one uniform codec (unescape's catch-all restores them)
      case ';' => sb.append("\\;")
      case '=' => sb.append("\\=")
      case c => sb.append(c)
    }
    sb.toString
  }

  private[source] def unescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '\\' => sb.append('\\')
          case 't' => sb.append('\t')
          case 'n' => sb.append('\n')
          case 'r' => sb.append('\r')
          case other => sb.append(other)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private[source] def formatLine(m: Message): String = {
    val props = m.properties.toSeq.sorted
      .map { case (k, v) => s"${escape(k)}=${escape(v)}" }.mkString(";")
    s"${m.bornTs}\t${escape(m.key)}\t${escape(m.tag)}\t$props\t${escape(m.body)}"
  }

  /** Decodes one line given as a String (no terminator). */
  private[source] def parseLine(line: String): Message = {
    val bytes = line.getBytes(StandardCharsets.UTF_8)
    LogCodec.message(bytes, 0, bytes.length, 0L)
  }

  // ---- IO ----

  /** One message as its on-disk line (no terminator). */
  def renderLine(m: Message): String = formatLine(m)

  /** Append pre-rendered lines from a spill file to a queue log in one
    * channel transfer (the DSv2 writer's commit path). */
  def appendRendered(root: String, topic: String, queueId: Int,
                     spill: java.nio.file.Path): Unit = {
    val file = queueFile(root, topic, queueId)
    file.getParentFile.mkdirs()
    val out = new java.io.FileOutputStream(file, true)
    val in = new java.io.FileInputStream(spill.toFile)
    try in.getChannel.transferTo(0, Long.MaxValue, out.getChannel)
    finally { in.close(); out.close() }
  }

  /** Append messages to a queue log (single writer per queue). */
  def append(root: String, topic: String, queueId: Int, messages: Iterator[Message]): Long = {
    val file = queueFile(root, topic, queueId)
    file.getParentFile.mkdirs()
    val out = new BufferedWriter(new FileWriter(file, StandardCharsets.UTF_8, true))
    var n = 0L
    try messages.foreach { m => out.write(formatLine(m)); out.newLine(); n += 1 }
    finally out.close()
    n
  }

  /** Earliest available offset (our logs never truncate). */
  def minOffset(root: String, topic: String, queueId: Int): Long = 0L

  /** (bytes counted up to the last seen newline, complete lines seen).
    * Keyed by absolute path; append-only logs only ever grow, so a cached
    * prefix stays valid and each maxOffset() call scans just the appended
    * suffix. Without this, every streaming latestOffset() tick re-read the
    * whole log — linear per tick, quadratic over a stream's lifetime. */
  private val lineCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private[graft] def invalidateCache(file: File): Unit = {
    lineCountCache.remove(file.getAbsolutePath); ()
  }

  /** One past the last offset. For a ledger-managed topic this is the
    * COMMITTED line count straight from [[EpochLedger]] — O(1), no scan,
    * and an uncommitted tail past the high-water mark is invisible (the
    * exactly-once reader boundary). Otherwise it is the count of COMPLETE
    * (newline-terminated) lines — a partial tail from a concurrent append
    * is not yet readable. */
  def maxOffset(root: String, topic: String, queueId: Int): Long = {
    EpochLedger.read(root, topic) match {
      case Some(state) => return state.committed(queueId)._1
      case None =>
    }
    val file = queueFile(root, topic, queueId)
    if (!file.exists()) return 0L
    val key = file.getAbsolutePath
    val fileLen = file.length()
    val (countedBytes, cachedLines) = lineCountCache.getOrDefault(key, (0L, 0L))
    // a shorter file means the log was deleted and recreated — rescan
    val (from, base) = if (fileLen < countedBytes) (0L, 0L) else (countedBytes, cachedLines)
    if (fileLen == from) return base
    val (lines, lastNl) = countLines(file, from)
    lineCountCache.put(key, (lastNl, base + lines))
    base + lines
  }

  /** (complete lines, bytes up to the last newline) of a queue log by full
    * scan — what the first ledger-managed write uses to ADOPT pre-existing
    * raw content as committed instead of shadowing it. */
  private[graft] def sizeInfo(root: String, topic: String, queueId: Int): (Long, Long) = {
    val file = queueFile(root, topic, queueId)
    if (!file.exists()) (0L, 0L) else countLines(file, 0L)
  }

  /** (newlines in `file` from byte `from` on, the byte position just past
    * the last of them, or `from` when there is none). */
  private def countLines(file: File, from: Long): (Long, Long) = {
    val in = new FileInputStream(file)
    try {
      var skipped = 0L
      while (skipped < from) skipped += in.skip(from - skipped)
      val buf = new Array[Byte](64 * 1024)
      var lines = 0L
      var pos = from
      var lastNl = from
      var n = in.read(buf)
      while (n > 0) {
        var i = 0
        while (i < n) {
          if (buf(i) == '\n') { lines += 1; lastNl = pos + i + 1 }
          i += 1
        }
        pos += n
        n = in.read(buf)
      }
      (lines, lastNl)
    } finally in.close()
  }

  /** First offset whose bornTs >= ts; maxOffset if none (logs are
    * time-ordered per queue, like broker commit logs). Only the first
    * maxOffset lines are scanned: lines past a ledgered topic's committed
    * high-water mark, and a torn tail line, are not readable, and an
    * endTimeMs-bounded read uses this as its stop offset. */
  def searchOffset(root: String, topic: String, queueId: Int, ts: Long): Long = {
    val lines = new LineReader(queueFile(root, topic, queueId), 0L,
      maxOffset(root, topic, queueId))
    try {
      while (lines.next()) {
        if (LogCodec.bornTs(lines.buf, lines.lineStart, lines.lineEnd, lines.offset) >= ts)
          return lines.offset
      }
      lines.offset + 1
    } finally lines.close()
  }

  /** The lines [startOffset, stopOffset) of a queue log, read as bytes: after
    * each `next()` the line is `buf(lineStart until lineEnd)` (no
    * terminator) at `offset`. Skipping to startOffset only counts newlines.
    * A last line with no newline is still returned (callers bound reads by
    * maxOffset, which does not count it), and a CR before a newline is
    * dropped. The buffer grows to hold a line longer than it. */
  final class LineReader(file: File, startOffset: Long, stopOffset: Long)
      extends AutoCloseable {
    private var in: FileInputStream =
      if (!file.exists() || startOffset >= stopOffset) null else new FileInputStream(file)
    var buf: Array[Byte] = new Array[Byte](if (in == null) 0 else 64 * 1024)
    var lineStart = 0
    var lineEnd = 0
    /** Offset of the current line (startOffset - 1 before the first). */
    var offset: Long = startOffset - 1
    private var pos = 0
    private var limit = 0
    private var skipped = false

    /** Keeps buf(pos until limit) and reads more after it (growing buf if
      * that is all of it); false at end of file. */
    private def fill(): Boolean = {
      if (pos > 0) {
        System.arraycopy(buf, pos, buf, 0, limit - pos)
        limit -= pos
        pos = 0
      } else if (limit == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      val n = in.read(buf, limit, buf.length - limit)
      if (n > 0) { limit += n; true } else false
    }

    private def skipToStart(): Boolean = {
      var left = startOffset
      while (left > 0) {
        val nl = LogCodec.indexOf(buf, '\n', pos, limit)
        if (nl >= 0) { pos = nl + 1; left -= 1 }
        else { pos = limit; if (!fill()) return false }
      }
      true
    }

    private def setLine(from: Int, to: Int): Boolean = {
      lineStart = from
      lineEnd = if (to > from && buf(to - 1) == '\r') to - 1 else to
      offset += 1
      true
    }

    def next(): Boolean = {
      if (in == null) return false
      if (!skipped) {
        skipped = true
        if (!skipToStart()) { close(); return false }
      }
      if (offset + 1 >= stopOffset) { close(); return false }
      var scanned = 0
      while (true) {
        val nl = LogCodec.indexOf(buf, '\n', pos + scanned, limit)
        if (nl >= 0) {
          val from = pos
          pos = nl + 1
          return setLine(from, nl)
        }
        scanned = limit - pos
        if (!fill()) {
          close()
          if (scanned == 0) return false
          pos = limit
          return setLine(0, limit)
        }
      }
      false // unreachable
    }

    override def close(): Unit = if (in != null) { in.close(); in = null }
  }

  /** Iterator over a queue range that can be closed before exhaustion
    * (a LIMITed scan stops early; the reader must not leak the handle). */
  final class RangeIterator(file: File, startOffset: Long, stopOffset: Long)
      extends Iterator[(Long, Message)] with AutoCloseable {
    private val lines = new LineReader(file, startOffset, stopOffset)
    private var ahead = lines.next()

    override def hasNext: Boolean = ahead
    override def next(): (Long, Message) = {
      if (!ahead) throw new NoSuchElementException("end of queue range")
      val out = (lines.offset,
        LogCodec.message(lines.buf, lines.lineStart, lines.lineEnd, lines.offset))
      ahead = lines.next()
      out
    }
    override def close(): Unit = { lines.close(); ahead = false }
  }

  /** Read messages with offsets in [startOffset, stopOffset). */
  def readRange(root: String, topic: String, queueId: Int,
                startOffset: Long, stopOffset: Long): RangeIterator =
    new RangeIterator(queueFile(root, topic, queueId), startOffset, stopOffset)

  /** Recursively delete a topic dir (test/bench helper). */
  def deleteTopic(root: String, topic: String): Unit = {
    val dir = Paths.get(root, topic)
    graft.util.Fs.deleteRecursively(dir)
    // drop cached line counts for the deleted logs — a recreated log of
    // exactly the cached byte length would otherwise reuse a stale count
    val prefix = dir.toAbsolutePath.toString + File.separator
    lineCountCache.keySet().removeIf(k => k.startsWith(prefix))
  }
}
