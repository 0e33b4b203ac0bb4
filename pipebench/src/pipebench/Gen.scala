package pipebench

import java.util.SplittableRandom

import graft.sources.{ArticleFetcher, FetchedArticle}

/** Seeded input generator. Every value is a pure function of the seed
  * and a position (feed, page, slot / article index / doc id), so
  * executor-side generation (the fetcher runs inside read tasks) and
  * the driver-side expectations of the correctness checks agree
  * without sharing state.
  *
  * Text comes from a Zipf vocabulary of a few thousand words (English
  * function words at the head, synthetic content words in the tail)
  * mixed with sentiment-lexicon words, negations and boosters, so the
  * scorers, the analyzer and the BM25 statistics see realistic skew.
  */
object Gen {

  // ---- vocabulary -------------------------------------------------------

  private val functionWords = Array(
    "the", "of", "and", "to", "in", "a", "is", "that", "for", "on", "with",
    "as", "was", "at", "by", "it", "from", "said", "has", "be", "are",
    "this", "have", "an", "will", "were", "which", "after", "new", "more",
    "their", "its", "but", "over", "year", "people", "government", "market")

  private val syllables = Array(
    "ka", "lo", "mi", "ne", "ra", "to", "su", "vi", "den", "mar", "tal",
    "son", "ber", "lin", "gor", "pe", "qua", "rin", "sto", "wel", "ash",
    "bro", "cle", "dra", "fen", "gra", "hol", "jun", "kes", "lum")

  val VocabSize = 3000

  /** Rank-ordered vocabulary: rank 0 is the most frequent word. */
  val vocab: Array[String] = {
    val n = syllables.length
    val content = Iterator.from(0).map { i =>
      syllables(i % n) + syllables((i / n) % n) +
        (if (i >= n * n) syllables((i / (n * n)) % n) else "")
    }
    (functionWords.iterator ++ content).take(VocabSize).toArray
  }

  private val ZipfS = 1.07
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / math.pow(r + 1, ZipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def zipfWord(r: SplittableRandom): String = {
    val u = r.nextDouble()
    var lo = 0; var hi = VocabSize - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (zipfCdf(mid) < u) lo = mid + 1 else hi = mid
    }
    vocab(lo)
  }

  val positive = Array("good", "great", "excellent", "happy", "love", "win",
    "strong", "best", "success", "gain", "hope", "benefit", "positive",
    "improve", "safe", "growth", "celebrate", "praise", "support", "better")
  val negative = Array("bad", "terrible", "crisis", "loss", "fear", "fail",
    "weak", "worst", "attack", "death", "war", "angry", "decline", "risk",
    "poor", "scandal", "threat", "collapse", "hurt", "worse")
  val negations = Array("not", "never", "no", "hardly")
  val boosters = Array("very", "extremely", "really", "incredibly", "highly")

  /** `n` words with sentiment words (optionally negated or boosted)
    * mixed into the Zipf stream. */
  def words(r: SplittableRandom, n: Int): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < n) {
      if (r.nextDouble() < 0.08) {
        val u = r.nextDouble()
        if (u < 0.12) out += negations(r.nextInt(negations.length))
        else if (u < 0.30) out += boosters(r.nextInt(boosters.length))
        val lex = if (r.nextBoolean()) positive else negative
        out += lex(r.nextInt(lex.length))
      } else out += zipfWord(r)
      i += 1
    }
    out.result()
  }

  /** Sentences of 8–20 words with capitals and terminal punctuation,
    * at least `minChars` long. */
  def prose(r: SplittableRandom, minChars: Int): String = {
    val sb = new StringBuilder
    while (sb.length < minChars) {
      val ws = words(r, 8 + r.nextInt(13))
      ws(0) = ws(0).capitalize
      if (sb.nonEmpty) sb.append(' ')
      sb.append(ws.mkString(" ")).append(if (r.nextInt(12) == 0) "!" else ".")
    }
    sb.toString
  }

  /** Mixes the seed with up to three positions (splitmix64 finalizer). */
  def mix(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L +
      b * 0x94D049BB133111EBL + c * 0x2545F4914F6CDD1DL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): SplittableRandom =
    new SplittableRandom(mix(seed, a, b, c))

  // ---- articles ---------------------------------------------------------

  val Feeds: Seq[String] = Seq("newsapi", "gnews")
  private def feedNo(feed: String): Long = Feeds.indexOf(feed).toLong + 1

  private val outlets = Array("herald", "courier", "tribune", "gazette",
    "chronicle", "observer", "dispatch", "ledger", "sentinel", "monitor",
    "post", "times", "journal", "record", "bulletin", "express")
  private val sections = Array("world", "business", "politics", "tech",
    "science", "health", "sports", "culture")

  /** Share of articles (by index) that fail validation. */
  val InvalidShare = 0.03
  /** Share of stream page slots that redeliver an earlier article. */
  val RedeliveryShare = 0.30

  def isInvalid(seed: Long, feed: String, idx: Long): Boolean =
    (mix(seed, feedNo(feed), idx, 7L) >>> 11) % 10000L < (InvalidShare * 10000).toLong

  /** Article `idx` of `feed`: NewsAPI rows carry source.id/urlToImage,
    * GNews rows source.url/image. Content lengths straddle the
    * 500-char scoring clamp and the 1000-char searchable clamp. Invalid
    * articles miss a required field or carry a malformed url. */
  def article(seed: Long, feed: String, idx: Long): FetchedArticle = {
    val r = rng(seed, feedNo(feed), idx)
    val gnews = feed == "gnews"
    val outlet = outlets(r.nextInt(outlets.length))
    val section = sections(r.nextInt(sections.length))
    val titleWords = words(r, 6 + r.nextInt(7))
    val title = titleWords.map(_.capitalize).mkString(" ")
    val description = prose(r, 80 + r.nextInt(160))
    val contentLen = 200 + r.nextInt(1400)
    val body = prose(r, contentLen).take(contentLen)
    val content =
      if (r.nextInt(3) == 0) s"$body… [+${r.nextInt(4000) + 100} chars]" else body
    val sec = 1785542400L + idx * 37L // 2026-08-01T00:00:00Z + idx*37 s
    val ts = java.time.Instant.ofEpochSecond(sec).toString
    val slug = titleWords.take(4).mkString("-").toLowerCase
    val url = s"https://www.$outlet.example/$section/$slug-${feed.head}$idx"
    val img = s"https://img.$outlet.example/${feed.head}$idx.jpg"
    val a = FetchedArticle(
      sourceId = if (gnews) null else outlet,
      sourceName = outlet.capitalize + " News",
      sourceUrl = if (gnews) s"https://www.$outlet.example" else null,
      author = if (r.nextInt(10) == 0) null else s"${zipfWord(r).capitalize} ${zipfWord(r).capitalize}",
      title = title, description = description, url = url,
      urlToImage = if (gnews) null else img, image = if (gnews) img else null,
      publishedAt = ts, content = content)
    if (!isInvalid(seed, feed, idx)) a
    else (mix(seed, feedNo(feed), idx, 8L) >>> 3) % 4 match {
      case 0 => a.copy(title = null)
      case 1 => a.copy(url = "")
      case 2 => a.copy(url = s"www.$outlet.example/$section/$slug")
      case _ => a.copy(publishedAt = null)
    }
  }

  /** Article indices delivered on stream page `page` of `feed`: a fixed
    * share of new articles (indices `page*nNew ...`) and redeliveries
    * of uniformly chosen earlier ones, in a seeded slot order. */
  def pageIndices(seed: Long, feed: String, page: Long, pageSize: Int,
                  redeliver: Boolean): Array[Long] = {
    val nRe = if (redeliver) math.round(pageSize * RedeliveryShare).toInt else 0
    val nNew = pageSize - nRe
    val base = page * nNew
    val r = rng(seed, feedNo(feed), page, 3L)
    val prior = math.max(base, nNew.toLong) // page 0 redelivers within itself
    val idx = Array.tabulate(pageSize) { i =>
      if (i < nNew) base + i else math.floorMod(r.nextLong(), prior)
    }
    var i = idx.length - 1
    while (i > 0) { // Fisher–Yates with the same stream
      val j = r.nextInt(i + 1); val t = idx(i); idx(i) = idx(j); idx(j) = t; i -= 1
    }
    idx
  }

  /** Distinct valid message keys (`feed_url`) offered by pages
    * `[0, pages)` of every feed — what the landing ledger, the index
    * seen-ids and the card must each count exactly. */
  def expectedValidKeys(seed: Long, pages: Long, pageSize: Int,
                        redeliver: Boolean): Long =
    Feeds.map { f =>
      (0L until pages).iterator
        .flatMap(p => pageIndices(seed, f, p, pageSize, redeliver))
        .filterNot(i => isInvalid(seed, f, i))
        .toSet.size.toLong
    }.sum

  /** Fetcher identity for the `graft-articles` reader: the reader passes
    * its `source_api` option to [[BenchFetcher]] verbatim, so the seed,
    * the first page and the delivery mode ride in it. */
  def sourceOption(feed: String, seed: Long, firstPage: Long,
                   redeliver: Boolean): String =
    s"$feed:$seed:$firstPage:${if (redeliver) "stream" else "landed"}"

  // ---- corpus documents ---------------------------------------------------

  private val langs = Array("en", "en", "en", "en", "es", "fr", "de", "zh")
  private val foreign = Map(
    "es" -> Array("el", "la", "de", "que", "y", "en", "los", "del", "se", "las"),
    "fr" -> Array("le", "la", "de", "et", "les", "des", "en", "du", "une", "est"),
    "de" -> Array("der", "die", "und", "das", "ist", "den", "mit", "von", "nicht", "ein"),
    "zh" -> Array("de", "shi", "zai", "you", "he", "ren", "zhe", "zhong", "da", "wei"))

  /** Base document `id` in the shape of the harness `documents` table
    * (doc_id, text, lang, source, n_chars); non-English docs draw
    * their function words from that language. */
  def document(seed: Long, id: Long): (Long, String, String, String) = {
    val r = rng(seed, 11L, id)
    val lang = langs(r.nextInt(langs.length))
    val n = 12 + r.nextInt(70)
    val ws = words(r, n)
    if (lang != "en") {
      val fw = foreign(lang)
      var i = 0
      while (i < ws.length) {
        if (r.nextInt(3) == 0) ws(i) = fw(r.nextInt(fw.length)); i += 1
      }
    }
    (id, ws.mkString(" "), lang, s"src${id % 20}")
  }
}

/** `graft-articles` transport serving [[Gen]] pages. The reader's
  * `source_api` option is `feed:seed:firstPage:mode` (see
  * [[Gen.sourceOption]]); reader page `p` serves generator page
  * `firstPage + p`. Deterministic per page, as the fetcher contract
  * requires for task retries. */
final class BenchFetcher extends ArticleFetcher {
  override def fetch(sourceApi: String, page: Int, pageSize: Int): Iterator[FetchedArticle] = {
    val Array(feed, seed, first, mode) = sourceApi.split(":")
    Gen.pageIndices(seed.toLong, feed, first.toLong + page, pageSize,
        redeliver = mode == "stream")
      .iterator.map(i => Gen.article(seed.toLong, feed, i))
  }
}
