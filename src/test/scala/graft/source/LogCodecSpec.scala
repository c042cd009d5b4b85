package graft.source

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/**
 * The byte-level line decoder against a String-level reference decoder
 * (decode the whole line with the JDK, split on tabs, unescape each field)
 * on random raw lines: valid and invalid UTF-8, stray backslashes, missing
 * fields, duplicate and malformed property entries, bad timestamps.
 */
class LogCodecSpec extends AnyFunSuite {

  /** The String-level decoder: what a line read as a String decodes to. */
  private object Reference {
    private def indexOfUnescaped(s: String, sep: Char, from: Int): Int = {
      var i = from
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\') i += 2
        else if (c == sep) return i
        else i += 1
      }
      -1
    }

    private def splitUnescaped(s: String, sep: Char): Vector[String] = {
      val out = Vector.newBuilder[String]
      var start = 0
      var idx = indexOfUnescaped(s, sep, 0)
      while (idx >= 0) {
        out += s.substring(start, idx)
        start = idx + 1
        idx = indexOfUnescaped(s, sep, start)
      }
      out += s.substring(start)
      out.result()
    }

    def parse(line: String): Message = {
      val parts = line.split("\t", 5)
      val props =
        if (parts.length < 4 || parts(3).isEmpty) Map.empty[String, String]
        else splitUnescaped(parts(3), ';').iterator.filter(_.nonEmpty).map { kv =>
          val eq = indexOfUnescaped(kv, '=', 0)
          require(eq >= 0, s"malformed property entry: $kv")
          TopicLog.unescape(kv.substring(0, eq)) -> TopicLog.unescape(kv.substring(eq + 1))
        }.toMap
      Message(parts(0).toLong, TopicLog.unescape(parts(1)), TopicLog.unescape(parts(2)),
        props, if (parts.length < 5) "" else TopicLog.unescape(parts(4)))
    }
  }

  private val pieces: Array[Array[Byte]] = (
    Seq("a", "b", "A", "B", "7", "\t", "\t", "\\", "\\\\", "\\t", "\\n", "\\x", ";", "=", "\\;",
      "\\=", "u=1", "é", "中", "😀", " ", "-").map(_.getBytes(UTF_8)) ++
      // not valid UTF-8: stray continuation, bytes never used, a truncated
      // sequence, an encoded surrogate, an overlong encoding
      Seq(Array(0x80), Array(0xFF), Array(0xE2, 0x82), Array(0xED, 0xA0, 0x80),
        Array(0xC0, 0xAF), Array(0xF0, 0x9F, 0x98)).map(_.map(_.toByte))).toArray

  private def rawLine(rng: Random): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    rng.nextInt(10) match {
      case 0 => out.write(s"-${rng.nextInt(1000)}".getBytes(UTF_8))
      case 1 => out.write(pieces(rng.nextInt(pieces.length))) // usually a bad timestamp
      case 2 => out.write("99999999999999999999".getBytes(UTF_8)) // overflows a Long
      case _ => out.write(rng.nextLong().abs.toString.take(1 + rng.nextInt(19)).getBytes(UTF_8))
    }
    out.write('\t')
    (0 until rng.nextInt(24)).foreach(_ => out.write(pieces(rng.nextInt(pieces.length))))
    out.toByteArray
  }

  /** A line with five fields, its tag and properties drawn to hit the
    * filters below about half the time. */
  private def fieldedLine(rng: Random): Array[Byte] = {
    def junk() = (0 until rng.nextInt(6)).map(_ => new String(pieces(rng.nextInt(pieces.length)), UTF_8))
      .mkString.replace("\t", "")
    val tags = Seq("A", "b", "中", "\\A", "B", "A ", junk())
    val props = Seq("u=1", "u=2;u=1", "u=1;u=2", "v=1;u\\=1", "u=\\1;x=", "", junk())
    val line = s"${rng.nextInt(1000)}\t${junk()}\t${tags(rng.nextInt(tags.size))}\t" +
      s"${props(rng.nextInt(props.size))}\t${junk()}"
    line.getBytes(UTF_8)
  }

  private def outcome[T](f: => T): Either[String, T] = Try(f) match {
    case Success(v) => Right(v)
    case Failure(_) => Left("fails")
  }

  private def mapOf(m: MapData): Map[String, String] =
    (0 until m.numElements()).map { i =>
      m.keyArray().getUTF8String(i).toString -> m.valueArray().getUTF8String(i).toString
    }.toMap

  test("decodes every raw line as the String decoder does, or fails with it") {
    val rng = new Random(7)
    var parsed = 0
    for (i <- 0 until 20000) {
      val bytes = rawLine(rng)
      val expected = outcome(Reference.parse(new String(bytes, UTF_8)))
      val got = outcome(LogCodec.message(bytes, 0, bytes.length, i.toLong))
      assert(got === expected, s"line ${new String(bytes, UTF_8)}")
      if (expected.isRight) parsed += 1
    }
    assert(parsed > 5000 && parsed < 19000) // both outcomes well covered
  }

  test("row decoder: every column, the body byte count and both filters match") {
    val decoder = new QueueRowDecoder("t", 3, MessageQueueTable.Schema, null, Map.empty)
    val filtered = new QueueRowDecoder("t", 3, MessageQueueTable.Schema, "A || b||中",
      Map("u" -> "1"))
    val rng = new Random(8)
    var kept = 0
    for (i <- 0 until 20000) {
      // a line padded inside a larger buffer, as a reader sees it
      val line = if (i % 2 == 0) rawLine(rng) else fieldedLine(rng)
      val buf = Array.fill[Byte](3)('x') ++ line ++ Array.fill[Byte](2)('\n')
      Try(Reference.parse(new String(line, UTF_8))) match {
        case Failure(_) =>
          assert(Try(decoder.decode(buf, 3, 3 + line.length, i)).isFailure)
          assert(Try(filtered.decode(buf, 3, 3 + line.length, i)).isFailure)
        case Success(m) =>
          val row: InternalRow = decoder.decode(buf, 3, 3 + line.length, i)
          assert(row.getUTF8String(0) === UTF8String.fromString("t"))
          assert(row.getInt(1) === 3)
          assert(row.getLong(2) === i.toLong)
          assert(row.getLong(3) === m.bornTs * 1000L)
          assert(row.getUTF8String(4) === UTF8String.fromString(m.key))
          assert(row.getUTF8String(5) === UTF8String.fromString(m.tag))
          assert(mapOf(row.getMap(6)) === m.properties)
          assert(row.getMap(6).numElements() === m.properties.size)
          assert(row.getUTF8String(7) === UTF8String.fromString(m.body))
          assert(decoder.bodyBytes === Metrics.utf8Length(m.body))
          val pass = Set("A", "b", "中").contains(m.tag) && m.properties.get("u").contains("1")
          val f = filtered.decode(buf, 3, 3 + line.length, i)
          assert((f != null) === pass, s"line ${new String(line, UTF_8)}")
          assert(filtered.bodyBytes === Metrics.utf8Length(m.body))
          if (pass) kept += 1
      }
    }
    assert(kept > 1000)
  }

  test("hand cases: catch-all unescape, lone trailing backslash, short lines, duplicates") {
    def msg(line: String) = TopicLog.parseLine(line)
    assert(msg("1\tk\\x\\\\\tt\\").key === "kx\\")
    assert(msg("1\tk\\x\\\\\tt\\").tag === "t\\")
    assert(msg("1\tk\tt") === Message(1L, "k", "t", Map.empty, ""))
    assert(msg("1\tk\tt\ta=1;;b=\\;") === Message(1L, "k", "t", Map("a" -> "1", "b" -> ";"), ""))
    assert(msg("1\tk\tt\ta=1;b=2;a=3\tx\ty").properties === Map("a" -> "3", "b" -> "2"))
    assert(msg("1\tk\tt\ta=1;b=2;a=3\tx\ty").body === "x\ty")
    assert(msg("-5\t\t\t\t").bornTs === -5L)
    intercept[IllegalArgumentException](msg("1\tk"))
    intercept[IllegalArgumentException](msg("1\tk\tt\ta=1;junk"))
    intercept[NumberFormatException](msg("1x\tk\tt"))
  }
}
