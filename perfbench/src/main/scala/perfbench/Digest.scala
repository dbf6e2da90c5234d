package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive output digests.
  *
  * Doubles are compared at float precision (about seven digits), so a
  * last-bit difference from a different summation order does not count as
  * a wrong answer, while any real change of a value, a row or a row count
  * does. */
object Digest {

  private def needsNorm(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsNorm(et)
    case StructType(fs) => fs.exists(f => needsNorm(f.dataType))
    case _ => false
  }

  private def norm(dt: DataType, c: Column): Column = dt match {
    case DoubleType | FloatType => c.cast(FloatType)
    case ArrayType(et, _) if needsNorm(et) => transform(c, e => norm(et, e))
    case StructType(fs) if needsNorm(dt) =>
      struct(fs.toSeq.map(f => norm(f.dataType, c.getField(f.name)).as(f.name)): _*)
    case _: MapType => to_json(c)
    case _ => c
  }

  /** Row count and two row-hash sums; every column is consumed, so no work
    * can be pruned. */
  private def aggregates(df: DataFrame): (DataFrame, Seq[Column]) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => norm(f.dataType, col(f.name)))
    val h1 = pmod(xxhash64(cols: _*), lit(1L << 31))
    val h2 = pmod(xxhash64((lit(0x5eed) +: cols): _*), lit(1L << 31))
    (named, Seq(count(lit(1)).as("n"), sum(h1).as("s1"), sum(h2).as("s2")))
  }

  private def text(n: Long, s1: Any, s2: Any): (Long, String) = {
    def v(x: Any): Long = Option(x).map(_.asInstanceOf[Long]).getOrElse(0L)
    (n, f"$n%d:${v(s1)}%x:${v(s2)}%x")
  }

  /** `df` with an observation that hashes every row as it is written. */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val (named, aggs) = aggregates(df)
    val obs = Observation()
    (named.observe(obs, aggs.head, aggs.tail: _*), obs)
  }

  /** Row count and digest string of a finished observation. */
  def read(obs: Observation): (Long, String) = {
    val m = obs.get
    text(m("n").asInstanceOf[Long], m("s1"), m("s2"))
  }

  /** The same digest by a separate aggregation. Used where an observation
    * cannot be: once a session has run `observe`, it holds a
    * non-serializable `ObservationManager`, and program code whose task
    * closures capture the session then fails with "Task not serializable"
    * (`Pipeline1.run` does). */
  def of(df: DataFrame): (Long, String) = {
    val (named, aggs) = aggregates(df)
    val r = named.agg(aggs.head, aggs.tail: _*).head()
    text(r.getLong(0), r.get(1), r.get(2))
  }

  /** Canonical text of a collected value, doubles at seven significant digits. */
  def fmt(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.7g"
    case f: Float => fmt(f.toDouble)
    case r: Row => r.toSeq.map(fmt).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(fmt).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => fmt(k) + "->" + fmt(x) }.sorted.mkString("{", ",", "}")
    case o => o.toString
  }

  /** SHA-256 (first 16 hex digits) of lines, sorted first. */
  def ofLines(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}
