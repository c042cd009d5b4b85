package graft.source

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class TopicLogSpec extends AnyFunSuite {

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-topiclog").toString

  private def msg(ts: Long, body: String, tag: String = "t",
                  props: Map[String, String] = Map.empty) =
    Message(ts, s"k$ts", tag, props, body)

  test("escape round-trips tabs, newlines, backslashes") {
    val nasty = "a\tb\nc\rd\\e\\t"
    assert(TopicLog.unescape(TopicLog.escape(nasty)) === nasty)
  }

  test("append then read back preserves every field") {
    val root = tmpRoot()
    val m = Message(123L, "key1", "tagA", Map("x" -> "1", "y" -> "2"), "hello\tworld")
    TopicLog.append(root, "t1", 0, Iterator(m))
    val got = TopicLog.readRange(root, "t1", 0, 0, 1).toSeq
    assert(got === Seq((0L, m)))
  }

  test("offsets are line numbers; maxOffset counts lines") {
    val root = tmpRoot()
    TopicLog.append(root, "t", 0, (0 until 5).map(i => msg(i, s"b$i")).iterator)
    assert(TopicLog.minOffset(root, "t", 0) === 0)
    assert(TopicLog.maxOffset(root, "t", 0) === 5)
    TopicLog.append(root, "t", 0, Iterator(msg(9, "late")))
    assert(TopicLog.maxOffset(root, "t", 0) === 6)
  }

  test("readRange is a half-open interval") {
    val root = tmpRoot()
    TopicLog.append(root, "t", 0, (0 until 10).map(i => msg(i, s"b$i")).iterator)
    val got = TopicLog.readRange(root, "t", 0, 3, 7).map(_._1).toSeq
    assert(got === Seq(3L, 4L, 5L, 6L))
    assert(TopicLog.readRange(root, "t", 0, 7, 7).isEmpty)
    assert(TopicLog.readRange(root, "t", 0, 0, 100).size === 10)
  }

  test("searchOffset finds first message with bornTs >= ts") {
    val root = tmpRoot()
    TopicLog.append(root, "t", 0, Seq(10L, 20L, 30L, 40L).map(ts => msg(ts, "b")).iterator)
    assert(TopicLog.searchOffset(root, "t", 0, 0) === 0)
    assert(TopicLog.searchOffset(root, "t", 0, 20) === 1)
    assert(TopicLog.searchOffset(root, "t", 0, 25) === 2)
    assert(TopicLog.searchOffset(root, "t", 0, 99) === 4) // none → maxOffset
  }

  test("listQueues and listTopics see what append created") {
    val root = tmpRoot()
    TopicLog.append(root, "alpha", 2, Iterator(msg(1, "x")))
    TopicLog.append(root, "alpha", 0, Iterator(msg(1, "y")))
    TopicLog.append(root, "beta", 1, Iterator(msg(1, "z")))
    assert(TopicLog.listQueues(root, "alpha") === Seq(0, 2))
    assert(TopicLog.listTopics(root) === Seq("alpha", "beta"))
    assert(TopicLog.listQueues(root, "nope") === Seq.empty)
  }

  test("properties containing ';' and '=' round-trip") {
    val root = tmpRoot()
    val m = Message(5L, "k", "t",
      Map("a;b" -> "x=y", "c" -> "v1;v2=3", "plain" -> "ok"), "body=;stuff")
    TopicLog.append(root, "t", 0, Iterator(m))
    assert(TopicLog.readRange(root, "t", 0, 0, 1).toSeq === Seq((0L, m)))
  }

  test("empty properties and empty body round-trip") {
    val root = tmpRoot()
    val m = Message(5L, "", "", Map.empty, "")
    TopicLog.append(root, "t", 0, Iterator(m))
    assert(TopicLog.readRange(root, "t", 0, 0, 1).toSeq === Seq((0L, m)))
  }

  test("maxOffset tracks appends via the suffix-scan cache") {
    val root = tmpRoot()
    TopicLog.append(root, "t", 0, (1 to 4).map(i => msg(i, s"b$i")).iterator)
    assert(TopicLog.maxOffset(root, "t", 0) === 4) // cold scan, caches
    assert(TopicLog.maxOffset(root, "t", 0) === 4) // cache hit, no rescan
    TopicLog.append(root, "t", 0, (5 to 9).map(i => msg(i, s"b$i")).iterator)
    assert(TopicLog.maxOffset(root, "t", 0) === 9) // suffix-only scan
    // a partial (unterminated) tail is not yet a readable message
    val f = TopicLog.queueFile(root, "t", 0)
    val out = new java.io.FileOutputStream(f, true)
    out.write("123\tk\tt\t\tpartial-no-newline".getBytes)
    out.close()
    assert(TopicLog.maxOffset(root, "t", 0) === 9)
    out.getClass // (silence unused warnings)
    val out2 = new java.io.FileOutputStream(f, true)
    out2.write("\n".getBytes)
    out2.close()
    assert(TopicLog.maxOffset(root, "t", 0) === 10)
  }

  test("deleteTopic invalidates the line-count cache") {
    val root = tmpRoot()
    TopicLog.append(root, "t", 0, (1 to 6).map(i => msg(i, "x")).iterator)
    assert(TopicLog.maxOffset(root, "t", 0) === 6)
    TopicLog.deleteTopic(root, "t")
    assert(TopicLog.maxOffset(root, "t", 0) === 0)
    TopicLog.append(root, "t", 0, (1 to 2).map(i => msg(i, "y")).iterator)
    assert(TopicLog.maxOffset(root, "t", 0) === 2)
  }

  private def writeRaw(root: String, text: String): Unit = {
    val f = TopicLog.queueFile(root, "t", 0)
    f.getParentFile.mkdirs()
    Files.write(f.toPath, text.getBytes(UTF_8))
  }

  test("searchOffset scans only the first maxOffset lines (a torn tail is not read)") {
    val root = tmpRoot()
    // a crashed writer left "30" with no tab and no newline
    writeRaw(root, "100\tk\tA\t\tb1\n200\tk\tA\t\tb2\n30")
    assert(TopicLog.maxOffset(root, "t", 0) === 2)
    assert(TopicLog.searchOffset(root, "t", 0, 1000) === 2)
    assert(TopicLog.searchOffset(root, "t", 0, 150) === 1)
    assert(TopicLog.searchOffset(root, "t", 0, 100) === 0)
  }

  test("a line longer than the read buffer reads back whole, between its neighbours") {
    val root = tmpRoot()
    val long = Message(2L, "k", "t", Map("p" -> "v"), "é中\\\t😀;=" * 20000) // 340 KB escaped
    val ms = Seq(msg(1, "a"), long, msg(3, "c"), msg(4, "d"))
    TopicLog.append(root, "t", 0, ms.iterator)
    assert(TopicLog.readRange(root, "t", 0, 0, 4).toSeq === ms.indices.map(i => (i.toLong, ms(i))))
    assert(TopicLog.readRange(root, "t", 0, 2, 4).toSeq === Seq((2L, ms(2)), (3L, ms(3))))
    assert(TopicLog.searchOffset(root, "t", 0, 3) === 2)
  }

  test("readRange returns an unterminated last line; CRLF ends a line like LF") {
    val root = tmpRoot()
    writeRaw(root, "1\tk\tA\t\tb1\r\n2\tk\tB\t\tb2")
    assert(TopicLog.readRange(root, "t", 0, 0, Long.MaxValue).toSeq === Seq(
      (0L, Message(1L, "k", "A", Map.empty, "b1")), (1L, Message(2L, "k", "B", Map.empty, "b2"))))
    assert(TopicLog.readRange(root, "t", 0, 1, 2).map(_._2.body).toSeq === Seq("b2"))
    assert(TopicLog.readRange(root, "t", 0, 2, 9).isEmpty)
  }

  test("a malformed line fails the read") {
    val root = tmpRoot()
    writeRaw(root, "1\tk\tA\t\tok\nnot-a-line\n")
    val it = TopicLog.readRange(root, "t", 0, 0, 2)
    assert(it.next()._2.body === "ok")
    intercept[IllegalArgumentException](it.next())
    it.close()
  }
}
