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
    val m = Message(0L, nasty, nasty, Map(nasty -> nasty), nasty)
    assert(TopicLog.decode(StringLineCodec.encode(m)) === m)
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
    val c = TopicLog.cursor(f, 0L, 2L)
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

  // ---- position index ----

  private val S = TopicLog.Stride

  /** The whole log read cold, line by line, with the line parser: the
    * linear reference every indexed read is compared against. */
  private def coldLog(root: String, topic: String): Vector[Message] = {
    val text = new String(Files.readAllBytes(TopicLog.queueFile(root, topic, 0).toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    text.substring(0, text.lastIndexOf('\n') + 1).split("\n", -1).dropRight(1)
      .map(StringLineCodec.parseLine).toVector
  }

  private def linearSearch(log: Vector[Message], ts: Long): Long = {
    val i = log.indexWhere(_.bornTs >= ts)
    if (i < 0) log.size.toLong else i.toLong
  }

  private def entries(root: String, topic: String): Seq[TopicLog.Mark] =
    TopicLog.indexOf(TopicLog.queueFile(root, topic, 0)).entries

  test("a 1,000-message read at the tail of a 100k-line log skips fewer than a stride") {
    val root = tmpRoot()
    TopicLog.append(root, "t", 0, (0 until 100000).iterator.map(i => msg(i.toLong, s"b$i")))
    val max = TopicLog.maxOffset(root, "t", 0) // a raw log's first count walks it once
    assert(max === 100000L)
    val it = TopicLog.readRange(root, "t", 0, max - 1000, max)
    assert(it.map(_._1).toSeq === (max - 1000 until max))
    assert(it.linesSkipped < S)
    // the DSv2 reader reports the same count as graft_lines_skipped
    val opts = graft.config.GraftOptions("t", "g", root)
    val r = new QueuePartitionReader(opts, MessageQueueTable.Schema, "t", 0, max - 1000, max)
    try {
      var n = 0
      while (r.next()) n += 1
      assert(n === 1000)
      val skipped = r.currentMetricsValues().find(_.name() == Metrics.LinesSkipped).get.value()
      assert(skipped < S && skipped === it.linesSkipped)
    } finally r.close()
  }

  test("indexed readRange and searchOffset equal a cold linear scan (seeded logs)") {
    for (seed <- Seq(1L, 7L, 42L, 2024L)) {
      val rnd = new scala.util.Random(seed)
      val root = tmpRoot()
      val n = 4 * S + rnd.nextInt(S)
      // bornTs mostly rises but jumps back and ahead, and repeats; a few
      // bodies are longer than the cursor's 64 KB buffer
      var ts = 1000L
      val log = (0 until n).map { i =>
        ts += rnd.nextInt(5) - 1
        val born = if (rnd.nextInt(50) == 0) ts + rnd.nextInt(4000) - 2000 else ts
        val body = if (rnd.nextInt(400) == 0) "L" * (65 * 1024 + rnd.nextInt(70000)) else s"b$i"
        msg(born, body)
      }
      TopicLog.append(root, "t", 0, log.iterator)
      assert(coldLog(root, "t") === log.toVector)
      val starts = (1 to n / S).flatMap(k => Seq(k * S - 1, k * S, k * S + 1)) ++
        Seq.fill(20)(rnd.nextInt(n)) :+ 0 :+ (n - 1)
      val probes = Seq(Long.MinValue, Long.MaxValue, 0L) ++ Seq.fill(40)(log(rnd.nextInt(n)).bornTs) ++
        Seq.fill(20)(800L + rnd.nextInt(4000))
      def checkAll(): Unit = {
        starts.foreach { a =>
          val b = math.min(n, a + 1 + rnd.nextInt(3 * S))
          val got = TopicLog.readRange(root, "t", 0, a, b).toSeq
          assert(got === (a until b).map(i => (i.toLong, log(i))), s"seed $seed range [$a, $b)")
        }
        probes.foreach { p =>
          assert(TopicLog.searchOffset(root, "t", 0, p) === linearSearch(log.toVector, p),
            s"seed $seed ts $p")
        }
      }
      // once from a cold index, which the range reads build as they go,
      // then from the index that the first count builds
      TopicLog.invalidateCache(TopicLog.queueFile(root, "t", 0))
      checkAll()
      TopicLog.invalidateCache(TopicLog.queueFile(root, "t", 0))
      assert(TopicLog.maxOffset(root, "t", 0) === n.toLong)
      assert(entries(root, "t").size === n / S + 1)
      checkAll()
      assert(entries(root, "t").size === n / S + 1)
    }
  }

  test("a log recreated shorter after deleteTopic is read from its own lines") {
    val root = tmpRoot()
    TopicLog.append(root, "t", 0, (0 until 3 * S).iterator.map(i => msg(i.toLong, s"old$i")))
    assert(TopicLog.maxOffset(root, "t", 0) === 3L * S)
    assert(TopicLog.readRange(root, "t", 0, 2 * S + 5, 2 * S + 6).toSeq.head._2.body === s"old${2 * S + 5}")
    TopicLog.deleteTopic(root, "t")
    val fresh = (0 until S + S / 2).map(i => msg(i.toLong, s"new-$i-" + "x" * (i % 7)))
    TopicLog.append(root, "t", 0, fresh.iterator)
    assert(TopicLog.readRange(root, "t", 0, S + 3, S + 9).toSeq ===
      (S + 3 until S + 9).map(i => (i.toLong, fresh(i))))
    assert(TopicLog.maxOffset(root, "t", 0) === fresh.size.toLong)
    assert(TopicLog.searchOffset(root, "t", 0, S + 10L) === S + 10L)
  }

  test("a raw rewrite that moves line boundaries is caught by the newline check") {
    val root = tmpRoot()
    val f = TopicLog.queueFile(root, "t", 0)
    TopicLog.append(root, "t", 0, (0 until 3 * S).iterator.map(i => msg(i.toLong, "a")))
    assert(TopicLog.maxOffset(root, "t", 0) === 3L * S)
    val stale = entries(root, "t")
    assert(stale.size === 4)
    // rewritten in place, outside truncateQueue: longer, with longer lines
    val next = (0 until 5 * S).map(i => msg(10L * i, s"rewritten-$i"))
    Files.write(f.toPath, next.flatMap(m => StringLineCodec.encode(m) :+ '\n'.toByte).toArray)
    val bytes = Files.readAllBytes(f.toPath)
    // the stale marks and end now point into the middle of lines
    (stale.tail :+ TopicLog.indexOf(f).end).foreach(m => assert(bytes((m.byte - 1).toInt) != '\n'))
    assert(TopicLog.readRange(root, "t", 0, 2 * S + 7, 2 * S + 9).toSeq ===
      Seq((2L * S + 7, next(2 * S + 7)), (2L * S + 8, next(2 * S + 8))))
    assert(TopicLog.maxOffset(root, "t", 0) === 5L * S)
    assert(TopicLog.searchOffset(root, "t", 0, 10L * (4 * S + 3)) === 4L * S + 3)
    // the index was rebuilt from the new lines
    val starts = (bytes.indices :+ bytes.length).filter(i => i == 0 || bytes(i - 1) == '\n')
    assert(entries(root, "t").map(m => (m.line, m.byte)) ===
      (0 to 5).map(k => (k.toLong * S, starts(k * S).toLong)))
  }
}
