package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

/** Small JSON writing helpers (the benchmark has no JSON dependency). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

/** A symbol's true hourly history as the exchange knows it. Hours the
  * exchange never sent are marked missing; the program must carry the
  * previous bar forward over them.
  */
final class SymbolHistory(val symbol: String, val firstHour: Long) {
  val open = mutable.ArrayBuffer.empty[Double]
  val high = mutable.ArrayBuffer.empty[Double]
  val low = mutable.ArrayBuffer.empty[Double]
  val close = mutable.ArrayBuffer.empty[Double]
  val volume = mutable.ArrayBuffer.empty[Double]
  val missing = mutable.ArrayBuffer.empty[Boolean]

  def length: Int = close.length

  def add(o: Double, h: Double, l: Double, c: Double, v: Double, miss: Boolean): Unit = {
    open += o; high += h; low += l; close += c; volume += v; missing += miss
  }

  /** The dense close series after keep-last dedup, gap fill and forward fill. */
  def filledClose: Array[Double] = {
    val out = new Array[Double](length)
    var i = 0
    while (i < length) {
      out(i) = if (missing(i)) out(i - 1) else close(i)
      i += 1
    }
    out
  }
}

/** Seeded OHLCV corpus in the shape of the reference's Bitstamp files:
  * hourly bars per symbol, written as several exchange pages per symbol.
  * Each page re-sends the last one to three candles of the page before it
  * with their final values (the earlier page holds a stale copy), some
  * hours are never sent, and some stretches are flat (an exchange outage
  * repeating the last price), a few long enough to yield constant windows.
  */
object OhlcvGen {
  val Symbols: Seq[String] =
    Seq("BTC-USD", "ETH-USD", "LTC-USD", "XRP-USD", "BCH-USD", "EOS-USD", "XLM-USD")
  /** 2018-01-01T00:00Z in hours since the epoch. */
  val BaseHour: Long = 420768L
  /** Bars at the end of each series kept free of flat runs and gaps. */
  val CleanTail = 600

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  def stamp(hour: Long): String = fmt.format(Instant.ofEpochSecond(hour * 3600L))

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian.
    val u = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Append `n` bars of a regime-switching log random walk. */
  private def walk(h: SymbolHistory, r: SplittableRandom, n: Int,
      flat: Int => Boolean, miss: Int => Boolean): Unit = {
    var sigma = 0.004 + 0.01 * r.nextDouble()
    var i = 0
    while (i < n) {
      val pos = h.length
      val prev = if (pos == 0) 20 + 2000 * r.nextDouble() else h.close(pos - 1)
      if (r.nextInt(500) == 0) sigma = 0.004 + 0.01 * r.nextDouble()
      if (flat(pos)) h.add(prev, prev, prev, prev, 0.0, miss(pos))
      else {
        val c = prev * math.exp(sigma * gauss(r))
        val hi = math.max(prev, c) * (1 + math.abs(gauss(r)) * sigma * 0.5)
        val lo = math.min(prev, c) * (1 - math.abs(gauss(r)) * sigma * 0.5)
        h.add(prev, hi, lo, c, math.exp(3 + gauss(r)), miss(pos))
      }
      i += 1
    }
  }

  def history(seed: Long, symIdx: Int, bars: Int): SymbolHistory = {
    val r = new SplittableRandom(seed * 1000003L + symIdx)
    val h = new SymbolHistory(Symbols(symIdx), BaseHour + r.nextInt(48))
    val body = math.max(1, bars - CleanTail)
    // Flat runs: a few short ones, and on every third symbol one run longer
    // than a window (its windows have zero spread and must be filtered).
    val flats = mutable.ArrayBuffer.empty[(Int, Int)]
    for (_ <- 0 until 3) {
      val s = 1 + r.nextInt(body); flats += ((s, s + 6 + r.nextInt(24)))
    }
    if (symIdx % 3 == 0 && body > 700) {
      val s = 300 + r.nextInt(body - 700); flats += ((s, s + 300 + r.nextInt(40)))
    }
    val gaps = mutable.ArrayBuffer.empty[(Int, Int)]
    for (_ <- 0 until 3) {
      val s = 1 + r.nextInt(body); gaps += ((s, s + 2 + r.nextInt(9)))
    }
    val singles = mutable.HashSet.empty[Int]
    for (i <- 1 until body) if (r.nextInt(300) == 0) singles += i
    def in(rs: Iterable[(Int, Int)], i: Int) = rs.exists { case (a, b) => i >= a && i < b }
    walk(h, r, bars,
      i => i < body && in(flats, i),
      i => i > 0 && i < body && (singles(i) || in(gaps, i)))
    h
  }

  private def line(h: SymbolHistory, i: Int, stale: Boolean): String = {
    val bump = if (stale) 1.003 else 1.0
    val c = h.close(i) * bump
    s"${stamp(h.firstHour + i)},${h.open(i)},${math.max(h.high(i), c)},${h.low(i)},$c,${h.volume(i)}"
  }

  private def writeCsv(f: File, rows: Iterable[String]): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new FileWriter(f))
    try {
      w.write("datetime,open,high,low,close,volume\n")
      rows.foreach { l => w.write(l); w.write('\n') }
    } finally w.close()
  }

  /** Write `h` as `pages` CSV files under `dir/<symbol>/`, in arrival order. */
  def writePages(h: SymbolHistory, dir: File, pages: Int, seed: Long): Seq[String] = {
    val r = new SplittableRandom(seed ^ h.symbol.hashCode.toLong)
    val n = h.length
    val cuts = (0 to pages).map(p => (n.toLong * p / pages).toInt)
    // resend(p): candles page p re-sends from the end of page p - 1.
    val resend = (0 to pages).map(p => if (p == 0 || p == pages) 0 else 1 + r.nextInt(3))
    (0 until pages).map { p =>
      val end = cuts(p + 1)
      val rows = (cuts(p) - resend(p) until end).filterNot(h.missing).map { i =>
        // The candles the next page re-sends are stale here.
        line(h, i, stale = i >= end - resend(p + 1))
      }
      val f = new File(dir, f"${h.symbol}/page-$p%03d.csv")
      writeCsv(f, rows)
      f.getPath
    }
  }

  /** Number of length-`len` windows of `xs` whose population std exceeds
    * `minScale` (the program's constant-window filter), and how many
    * windows there are before that filter.
    */
  def windowCounts(xs: Array[Double], from: Int, until: Int, len: Int,
      minScale: Double = 1e-6): (Long, Long) = {
    var kept = 0L
    var all = 0L
    var s = from
    while (s + len <= until) {
      all += 1
      if (Truth.zscore(xs, s, len)._3 > minScale) kept += 1
      s += 1
    }
    (all, kept)
  }
}

/** Plain-Scala re-computation of the forecast layers, in the same
  * summation order as the program's kernels where the result is compared
  * exactly.
  */
object Truth {
  /** (z-window, center, scale) of xs[s, s+len). */
  def zscore(xs: Array[Double], s: Int, len: Int): (Array[Double], Double, Double) = {
    var sum = 0.0
    var i = 0
    while (i < len) { sum += xs(s + i); i += 1 }
    val c = sum / len
    var sq = 0.0
    i = 0
    while (i < len) { val d = xs(s + i) - c; sq += d * d; i += 1 }
    val sc = math.sqrt(sq / len)
    (Array.tabulate(len)(j => (xs(s + j) - c) / (sc + 1e-8)), c, sc)
  }

  def project(z: Array[Double], m: Array[Array[Double]]): Array[Double] =
    m.map { row =>
      var acc = 0.0
      var j = 0
      while (j < row.length) { acc += z(j) * row(j); j += 1 }
      acc
    }

  def l1(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var j = 0
    while (j < a.length) { acc += math.abs(a(j) - b(j)); j += 1 }
    acc
  }

  /** Sample covariance (mean-centred, divided by n − 1) of the rows. */
  def covariance(rows: Seq[Array[Double]]): Array[Array[Double]] = {
    val d = rows.head.length
    val n = rows.length
    val mean = new Array[Double](d)
    rows.foreach(r => { var j = 0; while (j < d) { mean(j) += r(j) / n; j += 1 } })
    val c = Array.ofDim[Double](d, d)
    val x = new Array[Double](d)
    rows.foreach { r =>
      var j = 0
      while (j < d) { x(j) = r(j) - mean(j); j += 1 }
      var i = 0
      while (i < d) {
        val xi = x(i)
        val ci = c(i)
        j = i
        while (j < d) { ci(j) += xi * x(j); j += 1 }
        i += 1
      }
    }
    for (i <- 0 until d; j <- i until d) { c(i)(j) /= (n - 1); c(j)(i) = c(i)(j) }
    c
  }

  /** Eigenvalues of a symmetric matrix by cyclic Jacobi rotations. */
  def eigenvalues(a0: Array[Array[Double]]): Array[Double] = {
    val n = a0.length
    val a = a0.map(_.clone)
    def offNorm = (for (i <- 0 until n; j <- i + 1 until n) yield a(i)(j) * a(i)(j)).sum
    val total = a.map(r => r.map(v => v * v).sum).sum
    var sweeps = 0
    while (sweeps < 50 && offNorm > 1e-26 * total) {
      for (p <- 0 until n - 1; q <- p + 1 until n if a(p)(q) != 0.0) {
        val theta = (a(q)(q) - a(p)(p)) / (2 * a(p)(q))
        val t = (if (theta >= 0) 1.0 else -1.0) / (math.abs(theta) + math.sqrt(theta * theta + 1))
        val c = 1 / math.sqrt(t * t + 1)
        val s = t * c
        var k = 0
        while (k < n) {
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = c * akp - s * akq; a(k)(q) = s * akp + c * akq
          k += 1
        }
        val rp = a(p); val rq = a(q)
        k = 0
        while (k < n) {
          val apk = rp(k); val aqk = rq(k)
          rp(k) = c * apk - s * aqk; rq(k) = s * apk + c * aqk
          k += 1
        }
      }
      sweeps += 1
    }
    Array.tabulate(n)(i => a(i)(i))
  }

  /** The query's MAE (`Forecast.forecastAndScoreSplit`): the follow-ons of
    * the rank-1 and rank-2 matches rescaled into each match's z-space and
    * averaged, against the query's own follow-on in its z-space. A
    * follow-on exists only if its window does (`hasFollow`); None when the
    * program emits no row for the query, Some(NaN) when it emits a null.
    */
  def forecastMae(xs: Array[Double], q: Int, m1: Option[Int], m2: Option[Int], len: Int,
      pred: Int, hasFollow: Int => Boolean, hasTarget: Boolean): Option[Double] = {
    def follow(s: Int): Array[Double] = {
      val (_, c, sc) = zscore(xs, s, len)
      Array.tabulate(pred)(j => (xs(s + len + j) - c) / (sc + 1e-8))
    }
    val f1 = m1.filter(hasFollow).map(follow)
    val f2 = m2.filter(hasFollow).map(follow)
    if ((f1.isEmpty && f2.isEmpty) || !hasTarget) None
    else if (f1.isEmpty) Some(Double.NaN)
    else {
      val fc = f2 match {
        case Some(b) => Array.tabulate(pred)(j => (f1.get(j) + b(j)) / 2.0)
        case None => f1.get
      }
      val target = follow(q)
      var acc = 0.0
      var j = 0
      while (j < pred) { acc += math.abs(fc(j) - target(j)); j += 1 }
      Some(acc / pred)
    }
  }
}

/** One generated document; `cluster` is its planted near-duplicate
  * cluster, -1 for none.
  */
final case class Doc(id: Long, lang: String, source: String, text: String, cluster: Int)

/** Seeded document corpus: five languages, twenty sources with skewed
  * sizes and lengths, a share of low-quality documents, exact duplicates
  * (whitespace variants of an earlier document) and templated
  * near-duplicate clusters (a template with one word substituted per
  * member). The planted truth stays with the benchmark; the program sees
  * only the JSON-lines files.
  */
object DocGen {
  val Langs: Seq[String] = Seq("en", "es", "fr", "de", "zh")
  val Sources = 20
  /** English function words the program's quality score looks for. */
  private val Stop = Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for", "on")
  private val Syll = Map(
    "en" -> Seq("th", "er", "an", "st", "ing", "ou", "ea", "ch"),
    "es" -> Seq("ci", "on", "es", "ra", "do", "la", "que", "mo"),
    "fr" -> Seq("eu", "oi", "ai", "re", "ou", "ment", "ch", "le"),
    "de" -> Seq("sch", "ei", "ung", "ie", "ch", "er", "au", "en"),
    "zh" -> Seq("zh", "ang", "xi", "ong", "qi", "ao", "shi", "en"))

  private def vocab(r: SplittableRandom, lang: String, n: Int): Array[String] = {
    val s = Syll(lang)
    Array.fill(n) {
      (0 until 1 + r.nextInt(3)).map(_ => s(r.nextInt(s.length))).mkString +
        ('a' + r.nextInt(26)).toChar
    }
  }

  /** Zipf-ish pick in [0, n): small indices are frequent. */
  private def zipf(r: SplittableRandom, n: Int): Int =
    math.min(n - 1, (math.pow(n.toDouble, r.nextDouble()) - 1).toInt)

  private def body(r: SplittableRandom, words: Array[String], len: Int, lowQuality: Boolean): Seq[String] =
    (0 until len).map { _ =>
      if (lowQuality && r.nextInt(3) == 0) Seq("$$", "!!", "##", "%%", "&&")(r.nextInt(5))
      else if (!lowQuality && r.nextInt(5) == 0) Stop(r.nextInt(Stop.length))
      else words(zipf(r, words.length))
    }

  def generate(seed: Long, n: Int, clusters: Int, clusterSize: Int): Array[Doc] = {
    val r = new SplittableRandom(seed * 7919L + 17)
    val words = Langs.map(l => l -> vocab(r, l, 4000)).toMap
    val srcWeights = (0 until Sources).map(s => 1.0 / math.pow(s + 1, 1.1))
    val srcTotal = srcWeights.sum
    def source(): Int = {
      var x = r.nextDouble() * srcTotal
      var s = 0
      while (s < Sources - 1 && x > srcWeights(s)) { x -= srcWeights(s); s += 1 }
      s
    }
    def length(src: Int): Int =
      math.max(6, ((30 + 12 * (src % 7)) * math.exp(0.5 * (r.nextDouble() - 0.5) * 2)).toInt)

    val nNear = clusters * clusterSize
    val nDup = n / 20
    val nPlain = math.max(0, n - nNear - nDup)
    val texts = mutable.ArrayBuffer.empty[(String, String, String, Int)] // lang, source, text, cluster
    for (_ <- 0 until nPlain) {
      val lang = Langs(r.nextInt(Langs.length))
      val src = source()
      texts += ((lang, s"src$src", body(r, words(lang), length(src), r.nextInt(6) == 0).mkString(" "), -1))
    }
    for (c <- 0 until clusters) {
      val lang = Langs(r.nextInt(Langs.length))
      val src = source()
      val template = body(r, words(lang), 60 + r.nextInt(60), lowQuality = false).toArray
      for (_ <- 0 until clusterSize) {
        val t = template.clone()
        t(r.nextInt(t.length)) = words(lang)(r.nextInt(4000))
        texts += ((lang, s"src$src", t.mkString(" "), c))
      }
    }
    // Shuffle so planted documents spread over the id space.
    val order = (0 until texts.length).toArray
    for (i <- order.indices.reverse) {
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    val docs = mutable.ArrayBuffer.empty[Doc] ++ order.map { k =>
      val (lang, src, text, c) = texts(k)
      Doc(0L, lang, src, text, c)
    }
    // Exact duplicates: whitespace variants of an earlier document,
    // inserted at random positions; ids are positions.
    for (_ <- 0 until nDup) {
      val orig = docs(r.nextInt(docs.length))
      val variant = (if (r.nextBoolean()) "  " else "") +
        orig.text.split(" ").mkString(if (r.nextBoolean()) "  " else " \t ")
      docs.insert(r.nextInt(docs.length + 1), orig.copy(text = variant))
    }
    docs.zipWithIndex.map { case (d, i) => d.copy(id = i.toLong) }.toArray
  }

  def writeJsonl(docs: Array[Doc], dir: File, parts: Int): Unit = {
    dir.mkdirs()
    val ws = (0 until parts).map(p => new BufferedWriter(new FileWriter(new File(dir, f"part-$p%03d.json"))))
    try docs.foreach { d =>
      val w = ws((d.id % parts).toInt)
      w.write(s"""{"doc_id":${d.id},"lang":${Json.str(d.lang)},"source":${Json.str(d.source)},"text":${Json.str(d.text)}}""")
      w.write('\n')
    } finally ws.foreach(_.close())
  }
}
