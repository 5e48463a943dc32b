package layerbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A call's materialized result, reduced to what the cross-pass check
  * compares: an exact part, plus doubles compared with a relative
  * tolerance (aggregation order may change their last bits). */
final case class Out(exact: String, approx: Seq[Double] = Nil) {
  def matches(o: Out): Boolean =
    exact == o.exact && approx.size == o.approx.size &&
      approx.zip(o.approx).forall { case (a, b) =>
        math.abs(a - b) <= 1e-6 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
      }
}

object Out {
  def rows(rs: Iterable[Any]): Out = Out(rs.map(_.toString).mkString(";"))

  /** Order-independent fingerprint of a frame, computed by Spark: row
    * count plus xor and 32-bit sum of per-row xxhash64. Floating columns
    * are rounded to 6 decimals first. */
  def digest(df: DataFrame): Out = {
    val cols = df.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast("double"), 6)
        case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast("double"), 6))
        case _ => c
      }
    }
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)),
        coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)))
      .collect()(0)
    Out(s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}")
  }
}

/** Checked operations: every check is one attempt; a false result or a
  * thrown exception is one failure. */
final class Checks {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]

  def apply(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch {
      case e: Throwable =>
        System.err.println(s"[layerbench] check $name threw: $e")
        false
    }
    if (!passed) { failed += 1; if (failures.size < 50) failures += name }
  }
}

/** What a workload's pass sees: the session, the tracer, where its
  * inputs live, and the per-pass record of call latencies. */
final class Ctx(val spark: SparkSession, val t: Tracer, val dataDir: String,
                val outDir: String, val seed: Long, val scale: Double, val checks: Checks) {
  /** Latency of each checked call (or pushed micro-batch) in this pass, ms. */
  val steps = mutable.ArrayBuffer.empty[Double]
  /** Input rows the pass consumed or pushed. */
  var rows = 0L
  /** Raw results kept from the first warm-up pass for its reference checks. */
  var keep = false
  val raw = mutable.HashMap.empty[String, Any]

  def n(base: Long): Long = math.max(16L, math.round(base * scale))

  def keepRaw(name: String, v: => Any): Unit = if (keep) raw(name) = v

  def table(name: String): DataFrame =
    t.span("sources", "Readers", "table", "build") {
      graft.sources.Readers.table(spark, dataDir, name)
    }

  /** A library call that returns a lazy result (`build`, timed as the
    * call's build span), then its materialization (`run`). */
  def step[A](layer: String, module: String, fn: String)(build: => A)(run: A => Out): Out = {
    val s0 = t.nowMs
    val out =
      try {
        val a = t.span(layer, module, fn, "build")(build)
        t.span(layer, module, fn, "run")(run(a))
      } catch {
        case e: Throwable =>
          System.err.println(s"[layerbench] $module.$fn threw: $e")
          Out(s"threw: $e")
      }
    record(s"$module.$fn", s0)
    out
  }

  private def record(name: String, s0: Double): Unit = {
    steps += t.nowMs - s0
    System.err.println(f"[layerbench] pass ${t.pass} $name ${steps.last}%.1f ms")
  }

  /** An eager call (a terminal) whose return value is the result. */
  def terminal(layer: String, module: String, fn: String)(body: => Out): Out = {
    val s0 = t.nowMs
    val out =
      try t.span(layer, module, fn, "terminal")(body)
      catch {
        case e: Throwable =>
          System.err.println(s"[layerbench] $module.$fn threw: $e")
          Out(s"threw: $e")
      }
    record(s"$module.$fn", s0)
    out
  }
}
