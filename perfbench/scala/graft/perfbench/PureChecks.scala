package graft.perfbench

/** Checks of the JVM side's pure parts, run by `perfbench/test_perfbench.py`
  * (no Spark session). Exits non-zero on the first failed check. */
object PureChecks {
  private def check(ok: Boolean, what: String): Unit =
    if (!ok) { System.err.println(s"FAILED: $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    val ids = (0L until 25L).map(_ * 5 + 4)
    for (seed <- Seq(0L, 7L, 20261017L); k <- Seq(1, 4, 5)) {
      val a = Split.split(ids, seed, k)
      check(a == Split.split(ids.reverse, seed, k), s"split($seed, $k) depends on input order")
      check(a.size == k, s"split($seed, $k) has ${a.size} batches")
      check(a.flatten.sorted == ids.sorted, s"split($seed, $k) does not cover every chunk once")
      check(a.map(_.size).max - a.map(_.size).min <= 1, s"split($seed, $k) is unbalanced")
    }
    check(Split.split(ids, 1L, 4) != Split.split(ids, 2L, 4), "split ignores the seed")
    val chunk = "warcinfo preamble\nWARC/1.0\nWARC-Type: conversion\n\nbody\n\n" +
      "WARC/1.0\nWARC-Type: conversion\n\nsays WARC/1.0 inline\n\n"
    check(Split.records(chunk) == 2, s"records() counted ${Split.records(chunk)}")
    check(Intervals.covered(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 9.0)), 0.0, 6.0) == 4.0,
      "interval union")
    println("PureChecks OK")
  }
}
