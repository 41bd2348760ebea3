package perfbench

/** The generator's own test: run with `python3 perfbench/run.py --self-test`.
  * Exits non-zero on the first property that does not hold. */
object GenCheck {
  private var failures = 0

  private def check(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val n = 200000
    val a = new Gen(7L, n)
    val b = new Gen(7L, n)
    val c = new Gen(8L, n)
    check(Gen.digest(a) == Gen.digest(b),
      "the same seed gives a byte-identical log")
    check(Gen.digest(a) != Gen.digest(c), "another seed gives another log")
    check((1 until n).forall(i => a.tsMs(i) > a.tsMs(i - 1)),
      "ts is strictly increasing")
    check((0 until n).forall(i =>
        java.sql.Timestamp.valueOf(a.tsText(i)).getTime == a.tsMs(i)),
      "ts text parses back to the same millisecond (UTC JVM)")

    val counts = a.user.groupBy(identity).map { case (u, xs) => u -> xs.length }
    val top = counts.getOrElse(1, 0).toDouble / n
    check(math.abs(top - Gen.zipfShare(1)) < 0.01,
      f"user 1 (hottest) share $top%.4f ~ Zipf ${Gen.zipfShare(1)}%.4f")
    val top10 = (1 to 10).map(u => counts.getOrElse(u, 0)).sum.toDouble / n
    val want10 = (1 to 10).map(Gen.zipfShare).sum
    check(math.abs(top10 - want10) < 0.01,
      f"top-10 users' share $top10%.4f ~ Zipf $want10%.4f")
    check(a.user.forall(u => u >= 1 && u <= Gen.users),
      s"user ids lie in 1..${Gen.users}")

    Gen.types.indices.foreach { t =>
      val share = a.kind.count(_ == t).toDouble / n
      check(math.abs(share - Gen.typeMix(t)) < 0.005,
        f"type ${Gen.types(t)} share $share%.4f ~ ${Gen.typeMix(t)}%.2f")
    }
    check(a.quarters.forall(q => q >= 0 && q < 800),
      "value is a multiple of 0.25 in [0, 200)")

    if (failures > 0) {
      println(s"$failures generator check(s) failed")
      sys.exit(1)
    }
    println("generator checks passed")
  }
}
