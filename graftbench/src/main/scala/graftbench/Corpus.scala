package graftbench

import graft.serde.Delimiters

/** Seeded message content for the connector lanes. Message `i`'s fields are
  * a pure function of (seed, i), so the generator never stores bodies and
  * the audit recomputes what each message must look like at the sink.
  *
  * The body has 8 SOH-delimited fields:
  * `id, stamp, user, kind, score, amount, region, text`. About 1% of bodies
  * are dirty, in three kinds whose `lengthCheck=PAD` outcome is known:
  *  - [[Missing]]: the last field is absent, so `text` parses as null;
  *  - [[Extra]]: a ninth field is appended, which PAD cuts off;
  *  - [[Format]]: `score` is not a number, so PAD drops the row.
  */
final class Corpus(seed: Long, textBytes: Int) {
  import Corpus._

  private def h(i: Long, salt: Long): Long =
    mix64(seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + salt)
  private def pick(i: Long, salt: Long, n: Int): Int =
    java.lang.Math.floorMod(h(i, salt), n.toLong).toInt

  /** A pool of word-salad texts of about `textBytes` each; message i takes
    * one by hash, so bodies differ without generating text per message. */
  private val texts: Array[String] = Array.tabulate(64) { k =>
    val sb = new StringBuilder
    var w = 0L
    while (sb.length < textBytes) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(Words(java.lang.Math.floorMod(mix64(seed + k * 1000003L + w), Words.length.toLong).toInt))
      w += 1
    }
    sb.toString
  }

  def tag(i: Long): String = Tags(pick(i, 1, Tags.length))
  def dirty(i: Long): Int = {
    val r = pick(i, 2, 300)
    if (r < 3) r + 1 else Clean
  }
  private def user(i: Long): Long = pick(i, 3, 100000).toLong
  private def kind(i: Long): String = Kinds(pick(i, 4, Kinds.length))
  private def score(i: Long): Double = pick(i, 5, 100000) / 100.0
  private def amount(i: Long): Long = pick(i, 6, 1000).toLong
  private def region(i: Long): String = Regions(pick(i, 7, Regions.length))
  private def text(i: Long): String = texts(pick(i, 8, texts.length))

  def body(i: Long, stamp: Long): String = {
    val sc = if (dirty(i) == Format) s"x${pick(i, 9, 100)}" else score(i).toString
    val fields = Seq(i.toString, stamp.toString, user(i).toString, kind(i), sc,
      amount(i).toString, region(i))
    dirty(i) match {
      case Missing => fields.mkString(Delimiters.Soh)
      case Extra => (fields :+ text(i) :+ "junk").mkString(Delimiters.Soh)
      case _ => (fields :+ text(i)).mkString(Delimiters.Soh)
    }
  }

  /** Passes the reader's tag selector (drops tag D, about a quarter). */
  def selected(i: Long): Boolean = tag(i) != "D"

  /** Reaches the sink: selected, parsed (format errors are dropped) and
    * through the `amount >= 100` filter. */
  def kept(i: Long): Boolean = selected(i) && dirty(i) != Format && amount(i) >= 100

  /** The sink body the pipeline must produce for a kept message: the
    * projection's `concat_ws` skips the null `text` of a Missing body. */
  def expectedOut(i: Long): String = {
    val fields = Seq(i.toString, kind(i), score(i).toString, amount(i).toString, region(i))
    (if (dirty(i) == Missing) fields else fields :+ text(i)).mkString(Delimiters.Soh)
  }
}

object Corpus {
  val Clean = 0
  val Missing = 1
  val Extra = 2
  val Format = 3

  val Tags: Array[String] = Array("A", "B", "C", "D")
  val TagSelector = "A||B||C"
  private val Kinds = Array("click", "view", "cart", "purchase", "refund")
  private val Regions = Array("north", "south", "east", "west", "central")
  private val Words = ("join hash row batch scan column customer filter small slow merge " +
    "order vector line table data agg value key stream window spark part group").split(' ')

  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
