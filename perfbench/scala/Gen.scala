package perfbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded input generator for every workload. Pure Scala: the same seed
  * gives byte-identical inputs, and each generator also returns the
  * planted structure its workload's checker compares against.
  *
  * The shapes follow the sf0.1 fixture (FIXTURES.md): crawled pages are
  * built from sentences over a small vocabulary, and the recommender
  * log is `orders ⋈ lineitem` with user = `o_custkey`,
  * item = `l_partkey`, time = `o_orderdate`. The rows themselves are
  * synthesized from the seed, because a run may read nothing outside its
  * checkout.
  */
object Gen {

  /** 512 pronounceable words; fixed, so only the seed varies the inputs. */
  val Vocab: Array[String] = {
    val on = Array("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t",
      "v", "z", "br", "st")
    val nu = Array("a", "e", "i", "o", "u", "ai", "ou", "ea")
    val co = Array("n", "r", "l", "s")
    (for (a <- on; b <- nu; c <- co) yield a + b + c).take(512)
  }

  /** Independent generator per (seed, stream). The pair is hashed with
    * the SplitMix64 finalizer: SplittableRandom steps its state by the
    * golden gamma, so seeds that differ by a multiple of it would give
    * shifted copies of one sequence. */
  def rng(seed: Long, stream: Long): SplittableRandom = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xD1B54A32D192ED03L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new SplittableRandom(z ^ (z >>> 31))
  }

  def words(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(Vocab(r.nextInt(Vocab.length)))

  /** Sentences of 6–12 words, capitalized, ending in a period. */
  def sentences(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n) {
      val w = words(r, 6 + r.nextInt(7))
      w(0) = w(0).capitalize
      w.mkString(" ") + "."
    }

  /** Replace the LAST word: a near copy whose word-3-shingle Jaccard with
    * the source is (s-1)/(s+1) for s shingles — at least 0.95 for the
    * 42+ word texts this is applied to, far above the 0.8 threshold of
    * the near-dup pass on both the exact measure and its 128-hash MinHash
    * estimate (standard error ~0.02). */
  def nearCopy(text: String, r: SplittableRandom): String = {
    val i = text.lastIndexOf(' ')
    val last = text.substring(i + 1)
    val punct = if (last.endsWith(".")) "." else ""
    var w = Vocab(r.nextInt(Vocab.length))
    while (w == last.stripSuffix(".").toLowerCase) w = Vocab(r.nextInt(Vocab.length))
    text.substring(0, i + 1) + w + punct
  }

  // ---- curate_batch ---------------------------------------------------

  /** One crawled page. `group` identifies the source document a page was
    * copied from; `fate` is what the pipeline must do with it. */
  final case class Page(id: Long, url: String, html: String, group: Int,
      fate: Fate)
  sealed trait Fate
  case object Keep extends Fate        // one survivor per group
  case object Blocked extends Fate     // URL blocklist drops it
  case object Lorem extends Fate       // C4 page rule drops it
  case object Thin extends Fate        // Gopher word gate drops it

  final case class Crawl(pages: IndexedSeq[Page], groups: Int,
      exactCopies: Int, nearCopies: Int, dropped: Int,
      /** group -> number of distinct texts it keeps after exact dedup */
      clusterSize: Map[Int, Int])

  val BlockedDomain = "evil.com"
  val Domains = Array("good.com", "fine.org", "nice.net", "ok.io", "web.dev")
  val CurateMinWords = 40

  private def page(id: Long, domain: String, paragraphs: Seq[String],
      extra: String = ""): (String, String) = {
    val url = s"https://$domain/p/$id"
    val body = paragraphs.map(p => s"<p>$p</p>").mkString
    url -> ("<html><head><title>page</title><script>var x = 1;</script>" +
      s"</head><body><h1>Archive entry</h1>$body$extra</body></html>")
  }

  private def paragraphs(text: String): Seq[String] = {
    val s = text.split("(?<=\\.) ")
    s.grouped(3).map(_.mkString(" ")).toSeq
  }

  /** `sources` source documents, ~10% copied exactly (a third of those
    * copies carry mojibake that repair must undo), ~10% copied with one
    * word changed, and ~6% planted drops. Group ids are dense. */
  def crawl(seed: Long, sources: Int): Crawl = {
    val r = rng(seed, 1)
    val pages = ArrayBuffer.empty[Page]
    var exact = 0; var near = 0; var dropped = 0
    val cluster = Map.newBuilder[Int, Int]
    var next = 0L
    def nid(): Long = { val i = next; next += 1 + r.nextInt(3); i }
    def dom(): String = Domains(r.nextInt(Domains.length))
    for (g <- 0 until sources) {
      val u = r.nextDouble()
      if (u < 0.06) {
        dropped += 1
        val (fate, ps, extra) =
          if (u < 0.02) (Blocked, paragraphs(sentences(r, 8).mkString(" ")), "")
          else if (u < 0.04) (Lorem, paragraphs(sentences(r, 8).mkString(" ")),
            "<p>lorem ipsum dolor sit amet consectetur.</p>")
          else (Thin, Seq.fill(5)(words(r, 4).mkString(" ").capitalize + "."), "")
        val id = nid()
        val (url, html) = page(id,
          if (fate == Blocked) BlockedDomain else dom(), ps, extra)
        pages += Page(id, url, html, g, fate)
      } else {
        val copies = if (r.nextDouble() < 0.10) 1 + r.nextInt(3) else 0
        // a third of the copied groups carry a non-ASCII word that their
        // copies show as mojibake: repair must restore the exact text
        val moji = copies > 0 && r.nextInt(3) == 0
        val text = sentences(r, 7 + r.nextInt(6)).mkString(" ") +
          (if (moji) " Le café reste ouvert." else "")
        val id = nid()
        val (url, html) = page(id, dom(), paragraphs(text))
        pages += Page(id, url, html, g, Keep)
        for (_ <- 0 until copies) {
          exact += 1
          val cid = nid()
          val shown = if (moji)
            text.replace("café", graft.text.MojibakeRepair.moji("café"))
          else text
          val (u2, h2) = page(cid, dom(), paragraphs(shown))
          pages += Page(cid, u2, h2, g, Keep)
        }
        var size = 1
        if (r.nextDouble() < 0.10) {
          near += 1
          val cid = nid()
          val (u2, h2) = page(cid, dom(), paragraphs(nearCopy(text, r)))
          pages += Page(cid, u2, h2, g, Keep)
          size += 1
        }
        cluster += g -> size
      }
    }
    Crawl(pages.toIndexedSeq, sources, exact, near, dropped, cluster.result())
  }

  // ---- reco_sar ---------------------------------------------------------

  /** One order line: user = o_custkey, item = l_partkey, day = o_orderdate
    * in days since 1992-01-01. */
  final case class Event(user: Long, item: Long, day: Int)
  final case class Log(train: IndexedSeq[Event], test: IndexedSeq[Event],
      users: Int, items: Int, zipfS: Double)

  /** Inverse-CDF sampler of ranks 0..n-1 with P(k) ∝ 1/(k+1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  val Categories = 40
  val ZipfS = 1.1

  /** Customers buy mostly from two preferred part categories, and part
    * popularity inside a category is Zipf(`ZipfS`) — the skew the
    * co-occurrence join and the per-user windows see. A seeded 20% of
    * orders is held out as ground truth. */
  def orderLog(seed: Long, users: Int, items: Int, orders: Int): Log = {
    val r = rng(seed, 3)
    val perCat = items / Categories
    val zipf = new Zipf(perCat, ZipfS)
    val prefs = Array.fill(users)(Array.fill(2)(r.nextInt(Categories)))
    val train = ArrayBuffer.empty[Event]
    val test = ArrayBuffer.empty[Event]
    for (_ <- 0 until orders) {
      val u = r.nextInt(users)
      val day = r.nextInt(2405) // 1992-01-01 .. 1998-08-02
      val sink = if (r.nextDouble() < 0.2) test else train
      for (_ <- 0 until 1 + r.nextInt(7)) {
        val cat = if (r.nextDouble() < 0.7) prefs(u)(r.nextInt(2))
          else r.nextInt(Categories)
        sink += Event(u.toLong, (cat * perCat + zipf.sample(r)).toLong, day)
      }
    }
    Log(train.toIndexedSeq, test.toIndexedSeq, users, perCat * Categories,
      ZipfS)
  }
}
