package graft.e2ebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import scala.collection.mutable

/** Output checks that recompute their answer without the code under test. */
object Checks {

  /** Order-independent digest of a frame: row count and the exact sum of
    * per-row xxhash64 values. Map columns are hashed as key-sorted entry
    * arrays, so the digest does not depend on map insertion order. */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  /** Connected components of `ids` under `edges`, labelled by their
    * smallest member id: a plain union-find in this process. */
  def minIdLabels(ids: Iterable[Long], edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    ids.foreach(i => parent(i) = i)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(i => i -> find(i)).toMap
  }

  /** Runs `body` with Spark's code generation off, so that a check
    * compiles no classes into the codegen cache it shares with the
    * program: under a 100-entry cache they would evict the program's. */
  def interpreted[T](spark: SparkSession)(body: => T): T = {
    val off = Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val before = off.map { case (k, _) => k -> spark.conf.getOption(k) }
    off.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("id_a"), col("id_b")).collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
}

/** Counts attempted and failed operations (stage calls and checks). */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** Runs one operation; a throw counts it as failed. */
  def op(name: String)(body: => Unit): Unit = {
    attempted += 1
    try body catch { case e: Throwable =>
      failed += 1; errors += s"$name: $e"
      System.err.println(s"[e2ebench] FAILED $name: $e")
    }
  }

  /** One output check; false counts it as failed. */
  def check(name: String)(ok: => Boolean): Unit =
    op(name)(if (!ok) throw new IllegalStateException("output check failed"))
}
