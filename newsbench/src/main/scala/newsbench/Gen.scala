package newsbench

import scala.util.Random

/** One generated article. `kind` records how the generator made it, so
  * the checks know what verdict each document may get. `source` is the
  * doc id a re-post copies (-1 otherwise). */
final case class Doc(id: Long, text: String, topic: Int, kind: String, source: Long = -1L)

/** A user interaction with an article (the refresh workload maps links to
  * their current story, as the reference trainer does). */
final case class Interaction(user: String, link: String, eventType: String, minute: Int)

/**
 * The seeded input generator. Everything the benchmark feeds the program
 * comes from here, and the same seed gives identical inputs: the word
 * lists are fixed, and every draw goes through one `Random(seed)` per
 * generator instance, consumed in program order.
 *
 * Articles are English-looking prose (so curation admits them): stopwords
 * the language and Gopher rules look for, a topic vocabulary (so stories
 * and clusters form), general words and a few capitalized names (so the
 * entity kernel has work).
 */
final class Gen(seed: Long) {
  import Gen._
  private val rnd = new Random(seed)
  private var nextId = 0L

  def newId(): Long = { nextId += 1; nextId }

  private def pick[A](xs: IndexedSeq[A]): A = xs(rnd.nextInt(xs.size))

  /** A fresh article body on `topic`: 60 to 90 words in sentences of 6 to
    * 12 words, about a quarter stopwords and half topic words. */
  def body(topic: Int): String = {
    val n = 60 + rnd.nextInt(31)
    val words = (0 until n).map { _ =>
      val r = rnd.nextDouble()
      if (r < 0.25) pick(Stopwords)
      else if (r < 0.75) pick(TopicWords(topic))
      else if (r < 0.95) pick(CommonWords)
      else pick(Names)
    }
    sentences(words)
  }

  private def sentences(words: IndexedSeq[String]): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < words.size) {
      val len = math.min(6 + rnd.nextInt(7), words.size - i)
      val s = words.slice(i, i + len)
      if (sb.nonEmpty) sb.append(' ')
      sb.append(s.head.capitalize).append(' ').append(s.tail.mkString(" ")).append('.')
      i += len
    }
    sb.toString
  }

  def fresh(): Doc = { val t = rnd.nextInt(NumTopics); Doc(newId(), body(t), t, Fresh) }

  /** The same text under a new id. */
  def exactRepost(of: Doc): Doc = Doc(newId(), of.text, of.topic, Exact, of.id)

  /** The text with `EditWords` words swapped for other words of the same
    * topic: a new fingerprint, nearly the same embedding. */
  def editedRepost(of: Doc): Doc = {
    val ws = of.text.split(" ")
    (0 until EditWords).foreach { _ =>
      val i = rnd.nextInt(ws.length)
      val dot = if (ws(i).endsWith(".")) "." else ""
      ws(i) = pick(TopicWords(of.topic)) + dot
    }
    Doc(newId(), ws.mkString(" "), of.topic, Edited, of.id)
  }

  /** A fresh article that ends in the shared boilerplate paragraph: the
    * span scrub removes the paragraph, the article is still admitted. */
  def boilerplate(): Doc = {
    val d = fresh()
    d.copy(text = d.text + " " + Boilerplate, kind = Boiler)
  }

  /** Text curation rejects: too short, no stopwords, symbol-heavy. */
  def junk(): Doc =
    Doc(newId(), (0 until 4 + rnd.nextInt(6)).map(_ => pick(JunkTokens)).mkString(" "),
      0, Junk)

  /** A store seed corpus: `n` fresh articles, a tenth with boilerplate. */
  def corpus(n: Int): IndexedSeq[Doc] =
    (0 until n).map(i => if (i % 10 == 9) boilerplate() else fresh())

  /**
   * One ingest micro-batch of `n` docs in the fixed [[Mix]] shares. Exact
   * and edited re-posts copy earlier fresh docs from `pool` (the seed
   * corpus and earlier batches), never docs of this batch, so whether a
   * text was seen before is known when the batch is made.
   */
  def batch(n: Int, pool: IndexedSeq[Doc]): IndexedSeq[Doc] = {
    val counts = Mix.map { case (k, share) => k -> math.round(n * share).toInt }
    val docs = counts.toIndexedSeq.flatMap { case (k, c) =>
      (0 until c).map(_ => k match {
        case Fresh => fresh()
        case Exact => exactRepost(pick(pool))
        case Edited => editedRepost(pick(pool))
        case Boiler => boilerplate()
        case Junk => junk()
      })
    }
    rnd.shuffle(docs)
  }

  /** `n` users named u0..u(n-1) and their interactions with `links`:
    * each user's count and the article they touch are Zipf-skewed. */
  def interactions(users: Int, links: IndexedSeq[String], perUser: Int): IndexedSeq[Interaction] = {
    val z = new Zipf(links.size, ZipfS, rnd)
    (0 until users).flatMap { u =>
      (0 until 1 + rnd.nextInt(2 * perUser)).map { _ =>
        Interaction(s"u$u", links(z.next()), pick(EventTypes), rnd.nextInt(24 * 60))
      }
    }
  }

  def nextInt(n: Int): Int = rnd.nextInt(n)
  def nextDouble(): Double = rnd.nextDouble()
  def shuffle[A](xs: IndexedSeq[A]): IndexedSeq[A] = rnd.shuffle(xs)
}

/** Zipf(s) ranks 0..n-1 by inverse-CDF lookup; rank 0 is the most popular. */
final class Zipf(n: Int, s: Double, rnd: Random) {
  private val cdf: Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def next(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

object Gen {
  val Fresh = "fresh"; val Exact = "exact"; val Edited = "edited"
  val Boiler = "boilerplate"; val Junk = "junk"

  /** Ingest batch shares. Every verdict class needs a source: junk →
    * rejected, exact → duplicate, edited → semantic_duplicate, fresh and
    * boilerplate → admitted (boilerplate with spans scrubbed). */
  val Mix: Seq[(String, Double)] = Seq(
    Fresh -> 0.50, Exact -> 0.12, Edited -> 0.12, Boiler -> 0.16, Junk -> 0.10)
  val EditWords = 3
  val NumTopics = 12
  val ZipfS = 1.1
  val EventTypes: IndexedSeq[String] = IndexedSeq("like", "like", "share", "click", "click", "read")

  val Stopwords: IndexedSeq[String] = IndexedSeq("the", "and", "of", "is", "a", "to", "in",
    "that", "it", "for", "with", "on", "as", "was", "be", "have", "at", "by", "from", "this")

  private def syllables(seed: Int, n: Int, minSyl: Int): IndexedSeq[String] = {
    val r = new Random(seed)
    val cs = "bcdfghklmnprstvz"; val vs = "aeiou"
    Iterator.continually {
      (0 until minSyl + r.nextInt(2)).map(_ => s"${cs(r.nextInt(cs.length))}${vs(r.nextInt(vs.length))}")
        .mkString + cs(r.nextInt(cs.length))
    }.distinct.take(n).toIndexedSeq
  }

  private val pool = syllables(7, NumTopics * 40 + 200 + 40 + 12, 2)
  val TopicWords: IndexedSeq[IndexedSeq[String]] =
    (0 until NumTopics).map(t => pool.slice(t * 40, t * 40 + 40))
  val CommonWords: IndexedSeq[String] = pool.slice(NumTopics * 40, NumTopics * 40 + 200)
  val Names: IndexedSeq[String] =
    pool.slice(NumTopics * 40 + 200, NumTopics * 40 + 240).map(_.capitalize)
  val JunkTokens: IndexedSeq[String] = IndexedSeq("$$$", "###", "zz", "qq", "@@", "x1", "!!", "%%")
  val Boilerplate: String = "Subscribe to our daily newsletter for the latest updates and " +
    "exclusive offers delivered straight to your inbox every single morning of the week."
}
