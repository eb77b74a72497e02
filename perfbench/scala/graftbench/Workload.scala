package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What every workload sees: the session, the seed, its scratch directory
  * (which holds the generated inputs, `inputs-<rep>`) and the span recorder
  * (a no-op in the untraced run). */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path, val spans: Spans) {
  def timed[A](name: String)(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = spans(name)(body)
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** One op of the closed loop. `run` is timed and throws on a failed result
  * check; `before` and `after` run just outside the timed region. */
final case class Op(name: String, kind: String, run: () => Unit,
                    before: () => Unit = () => (), after: () => Unit = () => ())

trait Workload {
  /** One set-up repetition over the inputs generated under `inputs-<rep>`. */
  def prepare(rep: Int): Unit
  /** Warm-up over every op kind; doubles as the correctness check pass. */
  def warmup(): Unit
  /** The ops of pass `p` of the timed loop. */
  def pass(p: Int): Seq[Op]
  /** Passes the timed loop runs at least, whatever `--seconds` says. */
  def minPasses: Int = 1
  /** Ops whose result was checked against the oracle in [[warmup]]:
    * name -> (result directory, oracle SQL). */
  def checks: Map[String, (String, String)] = Map.empty
  /** Directory holding the generated input tables, for the oracle. */
  def inputDir: Option[Path] = None
  /** Per-layer probes, traced run only: metric -> value. */
  def probes(): Map[String, Double] = Map.empty
  /** Layer state after the measured pass (counts and bytes). */
  def state(): Map[String, Double] = Map.empty
  /** Facts about the workload for the record (sizes, cache sizes). */
  def facts: Map[String, Any]
}

/** Order-independent fingerprint of a result: (rows, Σ low 32 bits of the
  * row hash, xor of the row hash). Doubles are rounded to 6 places first,
  * so a last-ulp summation-order difference does not read as a different
  * result; the oracle compare in the check pass sees full-width values. */
object Fingerprint {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
    case _: MapType => to_json(c)
    case _ => c
  }

  def of(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    ofHashes(named.select(xxhash64(cols: _*).as("h")))
  }

  /** Fingerprint over a frame with one long column `h`. */
  def ofHashes(h: DataFrame): String = {
    val r = h.agg(count(lit(1)), sum(col("h").bitwiseAND(0xFFFFFFFFL)), bit_xor(col("h"))).head()
    fmt(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def fmt(n: Long, sumLow: Long, xor: Long): String = s"$n:$sumLow:$xor"

  /** The same fingerprint over row hashes computed on the driver. */
  def ofLocal(hashes: Iterator[Long]): String = {
    var n = 0L; var s = 0L; var x = 0L
    hashes.foreach { h => n += 1; s += h & 0xFFFFFFFFL; x ^= h }
    fmt(n, s, x)
  }
}

/** Causes are recorded as `ExceptionClass: message`, first line only. */
object Cause {
  def of(t: Throwable): String = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = Option(t.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)
    val base = s"${t.getClass.getName}: $msg"
    if (root eq t) base else s"$base (root ${root.getClass.getName})"
  }
}

object Dirs {
  /** Bytes and file count under `p` (0 when absent). */
  def size(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var bytes = 0L; var files = 0L
        s.filter(Files.isRegularFile(_)).forEach { f => bytes += Files.size(f); files += 1 }
        (bytes, files)
      } finally s.close()
    }
}
