package perfbench

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Every input a workload hands the engine is
  * derived from the run seed, so one seed always gives the same inputs.
  * Each generator also keeps the labels its workload's checks need,
  * computed from its own bookkeeping and never by the engine. */
object Vocab {

  /** Words of the english language-ID profile (also VADER-neutral). */
  val english: Array[String] =
    Array("the", "and", "of", "to", "in", "is", "that", "it", "for", "with")

  /** VADER lexicon entries, by sign. */
  val positive: Array[String] = Array("good", "great", "excellent", "wonderful",
    "love", "happy", "win", "success", "strong", "gain", "profit", "growth",
    "hope", "praise")
  val negative: Array[String] = Array("bad", "terrible", "awful", "hate", "sad",
    "angry", "fear", "crisis", "disaster", "fail", "loss", "threat",
    "collapse", "fraud", "weak")
  val negations: Array[String] = Array("not", "never", "without", "isn't",
    "doesn't", "rarely")
  val boosters: Array[String] = Array("extremely", "absolutely", "completely",
    "especially", "deeply", "enormously")

  /** Words no pseudo-word may equal: every language-ID profile word, the
    * analyzer's stop words and the sentiment vocabulary above. */
  private val reserved: Set[String] = Set(
    "el", "la", "de", "que", "y", "en", "los", "del", "las", "por", "der",
    "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein", "le",
    "les", "des", "et", "est", "une", "dans", "pour", "il", "di", "che", "per",
    "con", "una", "sono", "non", "a", "an", "are", "as", "at", "be", "but",
    "by", "if", "into", "no", "on", "or", "such", "their", "then", "there",
    "these", "they", "this", "was", "will") ++ english ++ positive ++
    negative ++ negations ++ boosters

  private val consonants = "bdfgklmnprstvz"
  private val vowels = "aeiou"

  /** A fixed pseudo-word vocabulary of `n` distinct lowercase tokens:
    * rank 0 is the most frequent word under a Zipf draw. */
  def pseudoWords(n: Int): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val seen = mutable.HashSet.empty[String]
    var i = 0
    while (out.length < n) {
      var x = i
      val sb = new StringBuilder
      do {
        sb.append(consonants.charAt(x % consonants.length))
        x /= consonants.length
        sb.append(vowels.charAt(x % vowels.length))
        x /= vowels.length
      } while (x > 0 || sb.length < 4)
      val w = sb.toString
      if (!reserved(w) && seen.add(w)) out += w
      i += 1
    }
    out.toArray
  }
}

/** Zipf(s) sampler over ranks `0 until n` by inverse CDF. */
final class Zipf(n: Int, val s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(rnd: Random): Int = {
    val u = rnd.nextDouble()
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }
}

// ---- hourly_ingest: NewsAPI/GNews-shaped article payloads -------------

/** One fetched article as a feed returns it. `kind` is the generator's
  * label: what the landing path and the batch DAG must do with it. */
final case class Art(source: String, url: String, title: String,
                     description: String, content: String,
                     publishedAt: String, kind: String) {

  private def q(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c => c.toString
    } + "\""

  /** The feed's JSON shape: NewsAPI carries source.id and urlToImage,
    * GNews carries source.url and image. */
  def json: String = {
    val site = if (url == null) "none" else url.split('/').lift(2).getOrElse("none")
    val src =
      if (source == "newsapi") s"""{"id":${q(site)},"name":${q(site)}}"""
      else s"""{"name":${q(site)},"url":${q("https://" + site)}}"""
    val img = if (source == "newsapi") "urlToImage" else "image"
    s"""{"source":$src,"author":${q("desk " + site)},"title":${q(title)},""" +
      s""""description":${q(description)},"url":${q(url)},""" +
      s""""$img":${q(if (url == null) null else url + ".jpg")},""" +
      s""""publishedAt":${q(publishedAt)},"content":${q(content)}}"""
  }
}

/** The hourly fetch stream. Per hour and per feed: `perFeed` new
  * articles plus re-fetches of earlier URLs (same feed), cross-feed
  * repeats (GNews re-serving a NewsAPI URL from an earlier hour),
  * same-hour re-sends, invalid rows (no title, no publishedAt or a
  * malformed URL) and blank rows (whitespace-only title, no body).
  * A fresh planted term marks a few new articles of each hour. */
final class ArticleGen(seed: Long, perFeed: Int) {
  val refetchShare = 0.15
  val crossShare = 0.05
  val resendShare = 0.02
  val invalidShare = 0.03
  val blankShare = 0.02
  val plantedPerHour = 4

  private val filler = Vocab.pseudoWords(3000)
  private val zipf = new Zipf(filler.length, 1.0)

  /** Valid (feed, url) keys handed out so far: what landing must hold. */
  val landedKeys = mutable.HashSet.empty[(String, String)]
  /** URLs with non-blank text: what the batch DAG must have processed. */
  val scoredUrls = mutable.HashSet.empty[String]
  private val scoredByFeed = Map(
    "newsapi" -> mutable.ArrayBuffer.empty[Art],
    "gnews" -> mutable.ArrayBuffer.empty[Art])
  private var nextId = 0L

  var offered = 0L
  var offeredInvalid = 0L
  var offeredRefetch = 0L

  def plantedTerm(hour: Int): String = s"zqplant${math.abs(seed)}h$hour"

  private def sentence(rnd: Random, words: Int): String = {
    val out = mutable.ArrayBuffer.empty[String]
    while (out.length < words) {
      val u = rnd.nextDouble()
      if (u < 0.18) out += Vocab.english(rnd.nextInt(Vocab.english.length))
      else if (u < 0.30) {
        // a lexicon hit, sometimes boosted, negated or in caps
        if (rnd.nextDouble() < 0.15)
          out += Vocab.boosters(rnd.nextInt(Vocab.boosters.length))
        if (rnd.nextDouble() < 0.12)
          out += Vocab.negations(rnd.nextInt(Vocab.negations.length))
        val pool = if (rnd.nextBoolean()) Vocab.positive else Vocab.negative
        val w = pool(rnd.nextInt(pool.length))
        out += (if (rnd.nextDouble() < 0.1) w.toUpperCase else w)
      } else out += filler(zipf.sample(rnd))
    }
    val s = out.mkString(" ")
    s.capitalize + (if (rnd.nextDouble() < 0.08) "!" else ".")
  }

  private def body(rnd: Random, minChars: Int, maxChars: Int): String = {
    val target = minChars + rnd.nextInt(maxChars - minChars)
    val sb = new StringBuilder
    while (sb.length < target) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(sentence(rnd, 8 + rnd.nextInt(10)))
    }
    sb.toString
  }

  private def fresh(rnd: Random, feed: String, hour: Int): Art = {
    val id = nextId
    nextId += 1
    val site = s"site${rnd.nextInt(40)}"
    Art(feed, s"https://$site.example/$feed/h$hour/a$id",
      sentence(rnd, 6 + rnd.nextInt(7)).dropRight(1),
      sentence(rnd, 14 + rnd.nextInt(16)),
      // 200..1400 chars: crosses the 500-char scoring clamp and the
      // 1000-char searchable-content clamp
      body(rnd, 200, 1400),
      f"2026-03-${1 + hour / 24 % 28}%02dT${hour % 24}%02d:${rnd.nextInt(60)}%02d:00Z",
      "new")
  }

  /** One hour of both feeds, in feed order; updates the labels. */
  def hour(h: Int): Map[String, Seq[Art]] = {
    val rnd = new Random(seed * 1000003L + h)
    val planted = plantedTerm(h)
    val out = Seq("newsapi", "gnews").map { feed =>
      val rows = mutable.ArrayBuffer.empty[Art]
      val fresh0 = (0 until perFeed).map(_ => fresh(rnd, feed, h))
      // plant the hour's term in the titles of the first few new
      // articles of the NewsAPI feed
      rows ++= fresh0.zipWithIndex.map { case (a, i) =>
        if (feed == "newsapi" && i < plantedPerHour)
          a.copy(title = a.title + " " + planted, kind = "planted")
        else a
      }
      val earlier = scoredByFeed(feed)
      if (earlier.nonEmpty) {
        val n = (perFeed * refetchShare).toInt
        rows ++= (0 until n).map(_ =>
          earlier(rnd.nextInt(earlier.length)).copy(kind = "refetch"))
      }
      val other = scoredByFeed("newsapi")
      if (feed == "gnews" && other.nonEmpty) {
        val n = (perFeed * crossShare).toInt
        rows ++= (0 until n).map(_ =>
          other(rnd.nextInt(other.length)).copy(source = "gnews", kind = "cross"))
      }
      rows ++= (0 until (perFeed * resendShare).toInt).map(i =>
        rows(i).copy(kind = "resend"))
      rows ++= (0 until (perFeed * invalidShare).toInt).map { i =>
        val a = fresh(rnd, feed, h)
        i % 3 match {
          case 0 => a.copy(title = null, kind = "invalid")
          case 1 => a.copy(publishedAt = null, kind = "invalid")
          case _ => a.copy(url = "news.example/" + a.url.split('/').last,
            kind = "invalid")
        }
      }
      rows ++= (0 until (perFeed * blankShare).toInt).map(_ =>
        fresh(rnd, feed, h).copy(title = "   ", description = null,
          content = null, kind = "blank"))
      feed -> rnd.shuffle(rows.toSeq)
    }.toMap
    // labels, after the whole hour is drawn
    for (feed <- Seq("newsapi", "gnews"); a <- out(feed)) {
      offered += 1
      if (a.kind == "invalid") offeredInvalid += 1
      if (a.kind == "refetch" || a.kind == "cross") offeredRefetch += 1
      if (a.kind != "invalid") landedKeys += ((a.source, a.url))
      if (a.kind == "new" || a.kind == "planted")
        if (scoredUrls.add(a.url)) scoredByFeed(feed) += a
    }
    out
  }

  /** URLs carrying hour `h`'s planted term. */
  def plantedUrls(batch: Map[String, Seq[Art]]): Set[String] =
    batch.values.flatten.filter(_.kind == "planted").map(_.url).toSet
}

// ---- search_serve: a standing searchable corpus -----------------------

final case class SearchDoc(id: Long, title: Array[String],
                           content: Array[String], sentiment: String,
                           source: String, publishedAtSec: Long) {
  lazy val tokens: Array[String] = title ++ content
}

sealed trait Query { def kind: String }
final case class TopK(terms: Seq[String]) extends Query { def kind = "topk" }
final case class Bool(must: Seq[String], mustNot: Seq[String]) extends Query {
  def kind = "bool"
}
final case class Filtered(terms: Seq[String], sentiment: String) extends Query {
  def kind = "filtered"
}
case object TermsAgg extends Query { def kind = "terms_agg" }
final case class BySentiment(sentiment: String) extends Query {
  def kind = "by_sentiment"
}

/** Docs whose tokens follow Zipf(`zipfS`) over a fixed vocabulary, and
  * seeded dashboard queries whose terms come from the same Zipf: head
  * terms have long posting lists, tail terms hit a handful of docs. */
final class SearchGen(seed: Long, val nDocs: Int) {
  val zipfS = 1.1
  val vocab: Array[String] = Vocab.pseudoWords(20000)
  private val zipf = new Zipf(vocab.length, zipfS)
  /** Ranks below this count as head terms. */
  val headRanks = 100
  val sentiments = Seq("positive", "negative", "neutral")

  val docs: Array[SearchDoc] = {
    val rnd = new Random(seed)
    Array.tabulate(nDocs) { i =>
      def words(n: Int) = Array.fill(n)(vocab(zipf.sample(rnd)))
      val u = rnd.nextDouble()
      SearchDoc(
        id = 1000L + i * 7L,
        title = words(4 + rnd.nextInt(7)),
        content = words(25 + rnd.nextInt(50)),
        sentiment = if (u < 0.4) "positive" else if (u < 0.65) "negative" else "neutral",
        source = if (rnd.nextBoolean()) "newsapi" else "gnews",
        publishedAtSec = 1772323200L + rnd.nextInt(30 * 86400))
    }
  }

  private val qrnd = new Random(seed * 31 + 7)
  var termsDrawn = 0L
  var headTermsDrawn = 0L

  private def term(): String = {
    val r = zipf.sample(qrnd)
    termsDrawn += 1
    if (r < headRanks) headTermsDrawn += 1
    vocab(r)
  }
  private def terms(n: Int): Seq[String] = Seq.fill(n)(term()).distinct

  /** The panels of one dashboard load, in a seeded order: topK over 1, 2
    * and 3 terms, booleanQuery with 2 must terms and 1 must_not term,
    * filteredScored over 2 terms and one sentiment, termsAgg, and
    * bySentiment. Every load has the same query shapes; only the terms
    * and sentiments differ. */
  def dashboard(): Seq[Query] = {
    val panels: Seq[() => Query] = Seq(
      () => TopK(terms(1)), () => TopK(terms(2)), () => TopK(terms(3)),
      () => { val must = terms(2); Bool(must, terms(1).filterNot(must.contains)) },
      () => Filtered(terms(2), sentiments(qrnd.nextInt(3))),
      () => TermsAgg, () => BySentiment(sentiments(qrnd.nextInt(3))))
    qrnd.shuffle(panels).map(_())
  }
}

// ---- corpus_prep: an LLM-prep corpus with planted structure -----------

final case class CorpusDoc(id: Long, text: String, isBench: Boolean)

/** A corpus with planted structure:
  *  - `clusters` templated near-duplicate clusters of `clusterSize`
  *    docs, one 12-word sentence that differs only in its last word
  *    (word 3-gram Jaccard 9/11 between any two, long enough that no
  *    doc's own last shingle can hide it from every LSH band); their
  *    pairs are what
  *    push the near-duplicate graph past the engine's driver-local
  *    connected-components threshold;
  *  - exact-duplicate groups of 2..4 copies;
  *  - near-duplicate chains: doc i is a window of `chainWindow`
  *    sentences starting at sentence i of one long text, so neighbours
  *    up to five apart are near-duplicates but the chain's ends are not.
  *    The window is wide enough that the MinHash misses of neighbouring
  *    pairs, which are correlated along a sliding window, cannot cut a
  *    chain in two;
  *  - unique docs, a share of which carry boilerplate lines that the
  *    line-cleaning stage must strip;
  *  - benchmark docs, and training docs contaminated with 15-token spans
  *    of them;
  *  - junk: foreign-language and symbol-heavy docs. */
final class CorpusGen(seed: Long, val clusters: Int, val clusterSize: Int,
                      val chains: Int, val chainLen: Int, val unique: Int) {
  val chainWindow = 16
  private val words = Vocab.pseudoWords(40000)
  private val rnd = new Random(seed)
  private var nextId = 1L
  private def id(): Long = { val i = nextId; nextId += 1; i }
  /** Content words are uniform over a large vocabulary, so unrelated
    * docs almost never share a word 3-gram. */
  private def word(): String = words(rnd.nextInt(words.length))
  private def sentence(n: Int): String = {
    val ws = Array.fill(n)(word())
    ws(1) = Vocab.english(rnd.nextInt(Vocab.english.length))
    ws.mkString(" ").capitalize + "."
  }

  val boilerplate = Seq("Share this story on social media",
    "Please enable javascript to see the comments.", "Subscribe")

  val docs = mutable.ArrayBuffer.empty[CorpusDoc]
  val clusterIds = mutable.ArrayBuffer.empty[Seq[Long]]
  val dupGroups = mutable.ArrayBuffer.empty[Seq[Long]]
  val chainIds = mutable.ArrayBuffer.empty[Seq[Long]]
  val contaminatedIds = mutable.ArrayBuffer.empty[Long]
  val boilerplateIds = mutable.ArrayBuffer.empty[Long]
  val junkIds = mutable.ArrayBuffer.empty[Long]

  locally {
    (0 until clusters).foreach { _ =>
      val template = sentence(12).split(' ').init.mkString(" ")
      val ids = Seq.fill(clusterSize)(id())
      ids.foreach(i => docs += CorpusDoc(i, s"$template ${word()}.", isBench = false))
      clusterIds += ids
    }
    (0 until clusters * 8).foreach { _ =>
      val text = Seq.fill(3)(sentence(9)).mkString("\n")
      val ids = Seq.fill(2 + rnd.nextInt(3))(id())
      ids.foreach(i => docs += CorpusDoc(i, text, isBench = false))
      dupGroups += ids
    }
    (0 until chains).foreach { _ =>
      val ss = Array.fill(chainLen + chainWindow - 1)(sentence(8))
      val ids = (0 until chainLen).map { i =>
        val d = CorpusDoc(id(), ss.slice(i, i + chainWindow).mkString(" "), isBench = false)
        docs += d
        d.id
      }
      chainIds += ids
    }
    (0 until unique).foreach { i =>
      val lines = Seq.fill(3 + rnd.nextInt(4))(sentence(7 + rnd.nextInt(8)))
      val d = id()
      if (i % 5 == 0) {
        boilerplateIds += d
        docs += CorpusDoc(d, (lines :+ boilerplate(rnd.nextInt(boilerplate.length)))
          .mkString("\n"), isBench = false)
      } else docs += CorpusDoc(d, lines.mkString("\n"), isBench = false)
    }
    val bench = Seq.fill(20)(Seq.fill(3)(sentence(12)).mkString(" "))
    bench.foreach(t => docs += CorpusDoc(id(), t, isBench = true))
    (0 until 40).foreach { i =>
      val toks = bench(i % bench.length).split(' ')
      val start = rnd.nextInt(toks.length - 15)
      val d = id()
      contaminatedIds += d
      docs += CorpusDoc(d, Seq(sentence(10),
        toks.slice(start, start + 15).mkString(" ") + ".", sentence(10))
        .mkString("\n"), isBench = false)
    }
    (0 until unique / 20).foreach { i =>
      val d = id()
      junkIds += d
      val text =
        if (i % 2 == 0)
          Seq.fill(3)("El " + Seq.fill(8)(word()).mkString(" ") + " de la que los.")
            .mkString("\n")
        else Seq.fill(3)(Seq.fill(8)(s"#${word()}!!").mkString(" ") + ".").mkString("\n")
      docs += CorpusDoc(d, text, isBench = false)
    }
  }

  /** Canonical near-duplicate edges the planted structure implies:
    * every pair inside a cluster or an exact-duplicate group, plus chain
    * neighbours (an estimate: chain pairs five apart sit near the
    * threshold). */
  val plantedEdges: Long =
    (clusterIds ++ dupGroups).map(g => g.length.toLong * (g.length - 1) / 2).sum +
      chains.toLong * (5L * chainLen - 15)

  def trainingDocs: Int = docs.count(!_.isBench)
}
