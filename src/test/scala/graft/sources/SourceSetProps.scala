package graft.sources

import graft.core.TimeRange
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** `SourceSet.prune` is exact on random window layouts (gaps, adjacent
  * and overlapping windows, listed in any order): the archive goes
  * exactly when every timestamp of the range lies in a kept window, and
  * the kept windows are those that overlap the range. */
object SourceSetProps extends Properties("SourceSet") {
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(1000)

  private val archive = Seq(FsSource("json", "/a"), FsSource("parquet", "/a"))

  /** Windows laid end to end with gaps of -3..5 (negative overlaps, zero
    * is adjacent), then shuffled; all inside [0, 150). */
  private val genWindows: Gen[Seq[NearlineTableDesc]] = for {
    n <- Gen.choose(0, 5)
    steps <- Gen.listOfN(n, Gen.zip(Gen.frequency(2 -> Gen.const(0L), 3 -> Gen.choose(-3L, 5L)),
      Gen.choose(1L, 12L)))
    first <- Gen.choose(0L, 20L)
    order <- Gen.listOfN(n, Gen.choose(0, 1000))
  } yield {
    val starts = steps.scanLeft(first) { case (s, (gap, len)) => s + len + gap }
    val ws = steps.zip(starts).zipWithIndex.map { case (((_, len), s), i) =>
      val start = math.max(0L, s)
      NearlineTableDesc(s"t$i", s"/n$i", start, start + len)
    }
    ws.zip(order).sortBy(_._2).map(_._1)
  }

  /** Ranges (some empty) on [-10, 120], their bounds often on or next to
    * a window edge; also one-sided ranges and Full. */
  private def genRange(ws: Seq[NearlineTableDesc]): Gen[TimeRange] = {
    val edges = ws.flatMap(w => Seq(w.startMillis - 1, w.startMillis, w.endMillis - 1, w.endMillis))
    val point = if (edges.isEmpty) Gen.choose(-10L, 120L)
      else Gen.frequency(1 -> Gen.choose(-10L, 120L), 2 -> Gen.oneOf(edges))
    Gen.frequency(
      8 -> Gen.zip(point, point).map { case (a, b) => TimeRange(a, b) },
      1 -> point.map(v => TimeRange(min = v)),
      1 -> point.map(v => TimeRange(max = v)),
      1 -> Gen.const(TimeRange.Full),
    )
  }

  /** Every timestamp of `r` is in some window; windows lie in [0, 150), so
    * a range reaching outside [-10, 200] is never covered. */
  private def bruteCovered(r: TimeRange, ws: Seq[NearlineTableDesc]): Boolean =
    !r.isEmpty && r.min >= -10 && r.max <= 200 &&
      (r.min to r.max).forall(t => ws.exists(w => w.startMillis <= t && t < w.endMillis))

  property("archive is dropped exactly when the kept windows cover the range") =
    forAll(genWindows.flatMap(ws => genRange(ws).map((ws, _)))) { case (ws, r) =>
      val p = SourceSet(fs = archive, nearline = ws).prune(r)
      val kept = if (r.isFull) ws else ws.filter(_.covers(r))
      p.nearline == kept &&
        p.fs == (if (bruteCovered(r, kept)) Nil else archive)
    }
}
