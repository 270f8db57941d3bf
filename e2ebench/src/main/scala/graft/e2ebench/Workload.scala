package graft.e2ebench

import java.io.File

/** One benchmark workload: seeded inputs, one iteration of the program,
  * the checks on its output and the per-layer view of a traced iteration. */
trait Workload {
  def name: String
  /** Input rows one iteration processes (offers in the drop, or documents). */
  def rows: Long
  /** Untimed iterations before measuring, the first one included. */
  def warmups: Int
  /** Fewest untraced iterations a run measures. */
  def measured: Int
  /** Input sizes and generator parameters, for the result record. */
  def describe: String
  /** Writes the seed's inputs. */
  def generate(): Unit
  /** One iteration; returns the `System.nanoTime` at which the first
    * output a consumer reads was complete. */
  def run(tr: Option[Tracer], ops: Ops): Long
  /** Checks the last iteration's output (untimed). */
  def check(ops: Ops): Unit
  /** Once per seed, after the warm-up iteration. Returns extra result
    * fields for checks made outside the JVM. */
  def seedChecks(ops: Ops): Seq[(String, String)]
  /** A slow cross-check against another entry point of the program. A
    * traced run makes it once, after the first warm-up iteration and in
    * place of all but the last; untraced runs leave it out. */
  def crossCheck: Option[Ops => Unit]
  /** Called after each iteration's check; `keep` marks the warm-up. */
  def afterCheck(keep: Boolean): Unit
  /** Bytes the last iteration left in its output dirs. */
  def outputBytes: Long
  /** Per-layer metrics of one traced iteration's spans. */
  def layers(t: Tracer, spans: Seq[Span], outBytes: Long): Map[String, Double]
  /** Once per traced run, after the timed loop, with the listener
    * attached: per-layer work that would add jobs to the timed spans, in
    * spans of its own, and the checks on its counts. Its spans join the
    * per-layer view of every traced iteration. */
  def probe(t: Tracer, ops: Ops): Unit
}

/** Sums over the spans of one traced iteration, by span name. */
final class Layers(t: Tracer, spans: Seq[Span]) {
  private def named(n: String) = spans.filter(_.name == n)
  def dur(n: String): Double = named(n).map(_.seconds).sum
  def eng(n: String): Engine = { val e = new Engine; named(n).foreach(s => e.add(t.inclusive(s))); e }
  def count(key: String): Double = spans.flatMap(_.counts.get(key)).sum
}

object Util {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }
  def du(f: File): Long =
    if (f == null || !f.exists()) 0L
    else if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
    else f.length()
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
