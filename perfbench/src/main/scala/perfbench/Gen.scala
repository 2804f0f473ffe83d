package perfbench

import graft.model.FilterDef

import scala.collection.mutable

/** Seeded input generators. Every workload's inputs come from here and
  * only from here: the same seed gives the same bytes, and graft sees
  * nothing but what these functions return.
  */
object Gen {

  /** splitmix64: a tiny, well-mixed PRNG whose output depends only on
    * the seed, independent of the JDK's `Random` implementation. */
  final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def pick[T](xs: IndexedSeq[T]): T = xs(nextInt(xs.size))
    def chance(p: Double): Boolean = nextDouble() < p
  }

  def rng(seed: Long, stream: String): Rng =
    new Rng(seed * 1000003L ^ stream.hashCode.toLong)

  // ---------------------------------------------------------------- logs

  /** Input properties of the syslog generator; printed by every run. */
  object LogShape {
    val NoStampShare = 0.15      // lines with no ISO8601 stamp
    val LongMillisShare = 0.20   // stamped lines with >3 sub-second digits
    val BlankShare = 0.005       // whitespace-only lines (parse drops them)
    val HugeShare = 0.003        // lines over the 4096-char truncation limit
    val UserLeadShare = 0.02     // messages that start with "user"
  }

  private val Hosts = (0 until 16).map(i => f"host$i%02d")
  /** Apps with their shares: a few busy services, a long tail. */
  private val Apps: Vector[(String, Double)] = Vector("nginx" -> 0.40,
    "app" -> 0.22, "postgres" -> 0.10, "cron" -> 0.08, "sshd" -> 0.06,
    "checkout-svc" -> 0.05, "auth" -> 0.05, "kernel" -> 0.04)
  /** Filler words no filter targets. */
  private val Filler = Vector("request", "served", "session", "took", "ms",
    "queue", "id", "upstream", "sync", "bytes", "client", "handler", "path",
    "ok", "latency", "pool", "conn", "msg", "job", "task", "ctx", "span",
    "node", "rpc", "read", "write", "flush", "batch", "open", "close")
  /** Phrases the filters look for, each with its per-line chance. The
    * first ten are error phrases (10% of lines together). */
  val Signals: Vector[(String, Double)] = Vector(
    "error" -> 0.012, "failed" -> 0.012, "timed out" -> 0.010,
    "exception" -> 0.010, "connection refused" -> 0.008, "fatal" -> 0.006,
    "critical" -> 0.008, "rejected" -> 0.010, "not found" -> 0.012,
    "unauthorized" -> 0.012,
    "checkout" -> 0.010, "ChEckOut" -> 0.005, "CHECKOUT" -> 0.005,
    "404" -> 0.020, "status 503" -> 0.010, "status 500" -> 0.005,
    "disk full" -> 0.003, "memory full" -> 0.003,
    "GET /api/orders" -> 0.020, "POST /api/orders" -> 0.010,
    "cache hit" -> 0.030, "cache miss" -> 0.010, "payment failed" -> 0.004,
    "slow query" -> 0.008, "worker started" -> 0.005,
    "token refresh" -> 0.010, "replica" -> 0.010, "shard alpha" -> 0.010,
    "done" -> 0.020)
  /** Words that, when present, end the message (anchor `$` filters). */
  private val Tails = Vector("retry" -> 0.01, "logout" -> 0.01)
  val ErrorShare: Double = Signals.take(10).map(_._2).sum

  /** One line template: the line for sequence number `seq` is
    * `prefix + seq + suffix`, so a row's sequence number (and with it
    * its due time) can be read back from the results table. */
  final case class LineTemplate(prefix: String, suffix: String, blank: Boolean = false) {
    def line(seq: Long): String = if (blank) "   " else prefix + seq + suffix
  }

  private def weighted(r: Rng, xs: Vector[(String, Double)]): String = {
    var u = r.nextDouble() * xs.map(_._2).sum
    xs.find { case (_, w) => u -= w; u < 0 }.getOrElse(xs.last)._1
  }

  /** Stamps fall on one UTC day whatever their offset, as a live
    * stream's lines do: results land in that day's partitions plus
    * today's (the stamp-less lines take the processing time). */
  private def stamp(r: Rng): String = {
    val day = 20
    val h = 6 + r.nextInt(12); val m = r.nextInt(60); val s = r.nextInt(60)
    val frac =
      if (r.chance(LogShape.LongMillisShare)) f"${r.nextInt(1000000)}%06d"
      else f"${r.nextInt(1000)}%03d"
    val off = r.pick(Vector("+02:00", "-07:00", "+00:00", "+05:30"))
    f"2015-07-$day%02dT$h%02d:$m%02d:$s%02d.$frac$off"
  }

  /** Filler words in a message: mostly 4-20 and a long tail to a few
    * hundred (the lines over the truncation limit are chosen apart). */
  private def messageWords(r: Rng): Int = {
    val u = r.nextDouble()
    math.min(400, (4 / math.pow(1 - u, 0.8)).toInt + r.nextInt(6))
  }

  /** `k` of `n` slots, chosen by the seed: every share is exact, so
    * seeds change which lines carry a property, never how many. */
  private def exactly(r: Rng, n: Int, share: Double): Set[Int] =
    new scala.util.Random(r.nextLong()).shuffle((0 until n).toVector)
      .take(math.round(n * share).toInt).toSet

  def lineTemplates(seed: Long, n: Int): IndexedSeq[LineTemplate] = {
    val r = rng(seed, "lines")
    val blank = exactly(r, n, LogShape.BlankShare)
    val huge = exactly(r, n, LogShape.HugeShare)
    val noStamp = exactly(r, n, LogShape.NoStampShare)
    val userLead = exactly(r, n, LogShape.UserLeadShare)
    val signals = Signals.map { case (sig, p) => sig -> exactly(r, n, p) }
    val tails = Tails.map { case (t, p) => t -> exactly(r, n, p) }
    (0 until n).map { i =>
      if (blank(i)) LineTemplate("", "", blank = true)
      else {
        val nWords = if (huge(i)) 800 + r.nextInt(300) else messageWords(r)
        val words = mutable.ArrayBuffer.fill(nWords)(
          if (r.chance(0.1)) (1 + r.nextInt(999)).toString else r.pick(Filler))
        signals.foreach { case (sig, at) =>
          if (at(i)) words.insert(r.nextInt(words.size + 1), sig) }
        if (userLead(i)) words.prepend("user")
        tails.foreach { case (t, at) => if (at(i)) words += t }
        val msg = words.mkString(" ")
        val host = r.pick(Hosts); val app = weighted(r, Apps)
        if (noStamp(i)) LineTemplate(s"$app[", s"] $msg")
        else LineTemplate(s"${stamp(r)} $host $app[", s"]: $msg")
      }
    }
  }

  /** Which template serves sequence number `seq`: a seeded affine
    * permutation of the pool, evaluated identically in Scala and SQL. */
  final case class Pool(templates: IndexedSeq[LineTemplate], mult: Long, add: Long) {
    def index(seq: Long): Int = java.lang.Math.floorMod(seq * mult + add, templates.size.toLong).toInt
    def line(seq: Long): String = templates(index(seq)).line(seq)
  }

  def pool(seed: Long, n: Int = 2048): Pool = {
    val r = rng(seed, "pool")
    // an odd multiplier is a bijection modulo a power of two
    Pool(lineTemplates(seed, n), (r.nextLong() | 1L) & 0xFFFFFL, r.nextLong() & 0xFFFFFL)
  }

  /** Filter registries: word, `(?i)` word, alternation and anchor
    * shapes, like the reference's filter definitions (FIXTURES A3). */
  private val FilterShapes: Vector[String] = Vector(
    "error", "(?i)checkout", "(100|200)", "^2015-07-20T07", "timed out",
    "(?i)fatal", "(disk|memory) full", "\\]: user", "kernel", "404",
    "(GET|POST) /api/orders", "(?i)^nginx", "refused", "sshd",
    "status 5", "retry$", "exception", "(?i)critical", "payment failed",
    "^app\\[", "cache (hit|miss)", "replica", "(?i)unauthorized",
    "slow query", "-07:00 host0[0-3]", "worker started", "token refresh",
    "not found", "logout$", "shard [a-z]+", "(?i)POST", "done")

  def registry(n: Int): Seq[FilterDef] = {
    require(n <= FilterShapes.size, s"at most ${FilterShapes.size} filters")
    FilterShapes.take(n).zipWithIndex.map { case (re, i) =>
      FilterDef(f"f$i%02d", f"flt$i%02d", re)
    }
  }

  // ------------------------------------------------------------ documents

  /** Input properties of the document generator; printed by every run. */
  object DocShape {
    val ExactDupShare = 0.10
    val NearDupShare = 0.10
    val NearDupEdits = 2     // tokens replaced in a near duplicate
    val Langs = Vector("en", "en", "en", "en", "de", "fr", "es", "zh")
  }

  private val CommonWords = Vector("batch", "part", "spark", "line",
    "column", "order", "small", "sort", "fast", "value", "scan", "slow",
    "group", "agg", "filter", "query", "big", "key", "window", "row",
    "table", "stream", "merge", "data", "hash", "join", "vector",
    "customer")
  private val LangWords: Map[String, Vector[String]] = Map(
    "en" -> Vector("the", "a", "of", "and", "with", "from"),
    "de" -> Vector("der", "die", "und", "mit", "von"),
    "fr" -> Vector("le", "la", "et", "avec", "des"),
    "es" -> Vector("el", "los", "y", "con", "del"),
    "zh" -> Vector("de", "shi", "zai", "he", "you"))

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** A fresh document. Its words follow a fixed bigram chain with the
    * document's own coherence `q` (uniform in [0, 1]) and are random
    * otherwise, so documents range from fluent to word salad and the
    * perplexity gate has a real spread to cut. */
  def freshDoc(r: Rng, id: Long): Doc = {
    val lang = r.pick(DocShape.Langs)
    val own = LangWords(lang)
    val q = r.nextDouble()
    val n = 40 + r.nextInt(100)
    var w = r.nextInt(CommonWords.size)
    val words = (0 until n).map { _ =>
      if (r.chance(0.2)) r.pick(own)
      else {
        w = if (r.chance(q)) (w * 7 + 3 + r.nextInt(2) * 5) % CommonWords.size
          else r.nextInt(CommonWords.size)
        CommonWords(w)
      }
    }
    Doc(id, words.mkString(" "), lang, f"src${r.nextInt(8)}")
  }

  def corpus(seed: Long, n: Int): IndexedSeq[Doc] = {
    val r = rng(seed, "corpus")
    (0 until n).map(i => freshDoc(r, i.toLong + 1))
  }

  /** Kind of each generated batch document: what the generator made it
    * as, known independently of graft. */
  sealed trait Kind
  case object Fresh extends Kind
  case object ExactDup extends Kind
  /** A near duplicate of the document with id `src`. */
  final case class NearDupOf(src: Long) extends Kind

  /** One ingest batch of `n` documents with ids from `firstId`:
    * fresh documents first, then exact and near duplicates resampled
    * from `history` (earlier batches) and this batch's fresh documents.
    * A duplicate always has a larger id than its original, so under
    * keep-first it is the one to drop. */
  def batch(seed: Long, batchNo: Int, firstId: Long, n: Int,
      history: IndexedSeq[Doc]): IndexedSeq[(Doc, Kind)] = {
    val r = rng(seed, s"batch$batchNo")
    val nExact = math.round(n * DocShape.ExactDupShare).toInt
    val nNear = math.round(n * DocShape.NearDupShare).toInt
    val nFresh = n - nExact - nNear
    val fresh = (0 until nFresh).map(i => freshDoc(r, firstId + i))
    val from = history ++ fresh
    val exact = (0 until nExact).map(i => r.pick(from).copy(id = firstId + nFresh + i))
    val near = (0 until nNear).map { i =>
      val d = r.pick(from)
      val toks = d.text.split(' ')
      // distinct positions, each replaced by a different word
      new scala.util.Random(r.nextLong()).shuffle(toks.indices.toVector)
        .take(DocShape.NearDupEdits).foreach { j =>
          var v = r.pick(CommonWords)
          while (v == toks(j)) v = r.pick(CommonWords)
          toks(j) = v
        }
      (d.copy(id = firstId + nFresh + nExact + i, text = toks.mkString(" ")), NearDupOf(d.id): Kind)
    }
    fresh.map((_, Fresh: Kind)) ++ exact.map((_, ExactDup: Kind)) ++ near
  }
}
