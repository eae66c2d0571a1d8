package graft.source

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

  test("searchOffset stops at the last complete line of a torn tail") {
    val root = tmpRoot()
    TopicLog.append(root, "t", 0, Seq(10L, 20L, 30L).map(ts => msg(ts, "b")).iterator)
    // a writer died mid-line: a bare bornTs, no tab and no newline
    val out = new java.io.FileOutputStream(TopicLog.queueFile(root, "t", 0), true)
    try out.write("1700000000000".getBytes) finally out.close()
    assert(TopicLog.searchOffset(root, "t", 0, Long.MaxValue) === 3)
    assert(TopicLog.searchOffset(root, "t", 0, 25) === 2)
    assert(TopicLog.readRange(root, "t", 0, 0, 100).map(_._1).toSeq === Seq(0L, 1L, 2L))
  }

  test("lines longer than the read buffer round-trip and are skipped by bytes") {
    val root = tmpRoot()
    val big = "x" * (200 * 1024) // several times the cursor's 64 KB buffer
    val msgs = (0 until 6).map(i => msg(i.toLong, if (i % 2 == 0) big + i else s"small$i"))
    TopicLog.append(root, "t", 0, msgs.iterator)
    assert(TopicLog.maxOffset(root, "t", 0) === 6)
    assert(TopicLog.readRange(root, "t", 0, 0, 6).toSeq ===
      msgs.zipWithIndex.map { case (m, i) => (i.toLong, m) })
    assert(TopicLog.readRange(root, "t", 0, 3, 5).toSeq === Seq((3L, msgs(3)), (4L, msgs(4))))
    assert(TopicLog.searchOffset(root, "t", 0, 5) === 5)
  }

  test("a cursor following a growing log re-reads what lies past its old stop") {
    val root = tmpRoot()
    TopicLog.append(root, "t", 0, Seq(msg(1, "a"), msg(2, "b"), msg(3, "stale")).iterator)
    val f = TopicLog.queueFile(root, "t", 0)
    val c = new TopicLog.LineCursor(f, 0L, 2L)
    try {
      assert(c.advance() && c.advance() && !c.advance()) // "stale" sits in the read-ahead
      // a ledger repair cuts the line past the mark and a replay appends another
      val ch = java.nio.channels.FileChannel.open(f.toPath, java.nio.file.StandardOpenOption.WRITE)
      try ch.truncate(c.nextByte) finally ch.close()
      TopicLog.append(root, "t", 0, Iterator(msg(3, "fresh")))
      assert(c.extendTo(3) && c.advance())
      assert((c.offset, c.message().body) === ((2L, "fresh")))
      assert(!c.extendTo(3))
    } finally c.close()
  }
}
