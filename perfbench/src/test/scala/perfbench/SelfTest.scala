package perfbench

/** The benchmark's self-tests; no Spark session needed.
  *
  *     python3 perfbench/run.py --self-test
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  threw $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def sha(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Every generated input of one seed, as bytes. */
  def inputBytes(seed: Long): String = {
    val pool = Gen.pool(seed)
    val lines = (0L until 5000L).iterator.map(pool.line)
    val docs = Gen.corpus(seed, 300).iterator.map(d => s"${d.id}\t${d.text}\t${d.lang}\t${d.source}")
    val batches = PretrainIngest.batches(seed).iterator.flatten
      .map { case (d, k) => s"${d.id}\t${d.text}\t$k" }
    val console = (0 until 3).iterator.flatMap(n =>
      ConsoleBench.round(seed, n, ConsoleBench.registry)).map(_.line)
    sha(lines ++ docs ++ batches ++ console)
  }

  def main(args: Array[String]): Unit = {
    check("same seed gives identical input bytes") {
      inputBytes(7) == inputBytes(7)
    }
    check("a different seed gives different input bytes") {
      inputBytes(7) != inputBytes(8)
    }
    check("recorded input shares hold on the generated lines") {
      val pool = Gen.pool(3)
      val t = pool.templates
      val noStamp = t.count(x => !x.blank && !x.prefix.contains(" ")).toDouble / t.size
      math.abs(noStamp - Gen.LogShape.NoStampShare) < 0.03
    }

    check("percentile: highest ladder rung with >= 10 samples beyond it") {
      Stats.tailPercentile(19, 0.999) == 1.0 &&
      Stats.tailPercentile(20, 0.999) == 0.5 &&
      Stats.tailPercentile(99, 0.999) == 0.5 &&
      Stats.tailPercentile(100, 0.999) == 0.9 &&
      Stats.tailPercentile(999, 0.999) == 0.9 &&
      Stats.tailPercentile(1000, 0.999) == 0.99 &&
      Stats.tailPercentile(9999, 0.999) == 0.99 &&
      Stats.tailPercentile(10000, 0.999) == 0.999 &&
      Stats.tailPercentile(10000, 0.99) == 0.99 &&
      Stats.tailPercentile(500, 0.99) == 0.9
    }
    check("percentile: nearest rank") {
      val xs = (1 to 100).map(_.toDouble).toArray
      Stats.quantile(xs, 0.5) == 50.0 && Stats.quantile(xs, 0.9) == 90.0 &&
        Stats.quantile(xs, 0.99) == 99.0 && Stats.quantile(Array(4.0), 0.99) == 4.0
    }

    check("median of an even count is the mean of the middle two") {
      Stats.mid(Seq(3.0, 1.0)) == 2.0 && Stats.mid(Seq(5.0, 1.0, 3.0)) == 3.0 &&
        Stats.mid(Seq(4.0, 1.0, 2.0, 8.0)) == 3.0
    }

    check("due-time latency charges a stall's wait to every row queued behind it") {
      // 100 rows due every 10 ms; a commit every 100 ms covers the rows
      // due by then, except that the commit at 500 ms stalls until
      // 1500 ms and the next one then catches up at 1510 ms
      val due = Array.tabulate(100)(i => i * 10.0)
      val commits = (1 to 10).map { k =>
        val at = k * 100.0
        val ms = if (k == 5) 1500.0 else if (k > 5 && at < 1510) 1510.0 else at
        Stats.Commit(maxSeq = k * 10L - 1, commitMs = ms)
      }
      val lat = Stats.dueLatencies(due, commits)
      val beforeStall = (0 until 40).forall(i => lat(i) <= 100.0)
      // rows 40..49 were in the stalled batch, 50..99 queued behind it
      val stalled = (40 until 50).forall(i => lat(i) == 1500.0 - due(i))
      val queued = (50 until 100).forall(i => lat(i) == 1510.0 - due(i))
      beforeStall && stalled && queued && lat(99) == 1510.0 - 990.0
    }
    check("due-time latency leaves uncommitted rows out (NaN)") {
      val lat = Stats.dueLatencies(Array(0.0, 1.0, 2.0), Seq(Stats.Commit(0, 5.0)))
      lat(0) == 5.0 && lat(1).isNaN && lat(2).isNaN
    }

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
