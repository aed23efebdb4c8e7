package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Minimal JSON writer: the result line and the trace file are the only
  * JSON the benchmark emits. */
object Json {
  final case class RawJson(s: String)

  def value(v: Any): String = v match {
    case RawJson(s) => s
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => quote(s)
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def obj(fields: Iterable[(String, Any)]): String =
    fields.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** Every seed a workload uses, derived from the one workload seed. */
final class Seeds(val seed: Long) {
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  /** A generator/mutator seed, stable per (workload seed, tag). */
  def apply(tag: String): Long =
    mix64(seed ^ mix64(tag.hashCode.toLong)) & Long.MaxValue
  def rng(tag: String): SplittableRandom = new SplittableRandom(apply(tag))
}

/** Seeded vocabularies and frequency tables: the generated inputs the
  * program receives. */
object Vocab {
  private val Consonants = "bdfgklmnprstvz"
  private val Vowels = "aeiou"

  /** `n` distinct consonant-vowel words. Consonants and vowels
    * alternate, so no word has two equal adjacent characters: a
    * transposition always changes the value. */
  def words(rng: SplittableRandom, n: Int, minSyl: Int, maxSyl: Int)
      : Array[String] = {
    val out = mutable.LinkedHashSet[String]()
    while (out.size < n) {
      val syl = minSyl + rng.nextInt(maxSyl - minSyl + 1)
      val sb = new StringBuilder
      (0 until syl).foreach { _ =>
        sb.append(Consonants.charAt(rng.nextInt(Consonants.length)))
        sb.append(Vowels.charAt(rng.nextInt(Vowels.length)))
      }
      out += sb.toString
    }
    out.toArray
  }

  def capitalized(ws: Array[String]): Array[String] = ws.map(_.capitalize)

  /** Distinct `width`-digit codes. */
  def codes(rng: SplittableRandom, n: Int, width: Int): Array[String] = {
    val out = mutable.LinkedHashSet[String]()
    val bound = math.pow(10, width).toInt
    while (out.size < n) out += s"%0${width}d".format(rng.nextInt(bound))
    out.toArray
  }

  /** Zipf-like frequencies 1/rank, scaled to integers. */
  def zipf(n: Int): Array[Int] =
    Array.tabulate(n)(r => math.max(1, (1000000.0 / (r + 1)).toInt))

  /** A (value..., freq) frequency table as a DataFrame. */
  def table(spark: SparkSession, names: Seq[String],
            rows: Seq[Seq[String]], freqs: Seq[Int]): DataFrame = {
    val schema = StructType(names.map(StructField(_, StringType)) :+
      StructField("freq", IntegerType))
    val data = rows.zip(freqs).map { case (r, f) => Row.fromSeq(r :+ f) }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
  }
}

/** A correctness check's outcome. */
final case class Check(name: String, ok: Boolean, detail: String)

/** Writes each timed action's output through a sink that evaluates every
  * column, and records what the sink-honesty self-check needs. Each call
  * names the columns its write must carry, taken from the workload's own
  * generator, mutator or query spec, never from the frame being written. */
final class Sinks(spark: SparkSession, tracer: Tracer) {
  /** (label, expected columns, start ms, end ms) per sink call. */
  private val calls = mutable.ArrayBuffer[(String, Seq[String], Long, Long)]()
  private val written = mutable.ArrayBuffer[String]()
  var recording = false

  private def run(label: String, expected: Seq[String])(write: => Unit): Unit = {
    val t0 = System.currentTimeMillis()
    write
    if (recording)
      calls += ((label, expected, t0, System.currentTimeMillis()))
  }

  def parquet(label: String, df: DataFrame, path: String,
              expected: Seq[String]): Unit =
    tracer.span("sink.write") {
      run(label, expected)(df.write.mode("overwrite").parquet(path))
      written += path
    }

  def noop(label: String, df: DataFrame, expected: Seq[String]): Unit =
    run(label, expected)(df.write.format("noop").mode("overwrite").save())

  /** Paths written since the last call (for byte accounting). */
  def takeWritten(): Seq[String] = {
    val out = written.toList
    written.clear()
    out
  }

  /** The sink-honesty self-check over every sink call recorded so far:
    * each must have executed a write whose input carries every expected
    * column, and no `count()` may have run during it. Writes are matched
    * to calls in order, not by time window: an event's timestamp can
    * fall after the call that caused it returned. */
  def honesty(events: Seq[PlanEvent]): Seq[Check] = {
    val writes = mutable.ArrayBuffer(events.filter(_.writeColumns.isDefined).sortBy(_.atMs): _*)
    val out = calls.toList.map { case (label, expected, t0, t1) =>
      val i = writes.indexWhere(e => e.atMs >= t0 && expected.forall(e.writeColumns.get.contains))
      if (i >= 0) writes.remove(i)
      val counts = events.count(e => e.funcName == "count" && e.atMs >= t0 && e.atMs <= t1)
      val detail =
        if (i < 0) s"no write of all ${expected.size} output columns seen"
        else if (counts > 0) s"$counts count() actions"
        else s"${expected.size} columns written"
      Check(s"sink_honest.$label", i >= 0 && counts == 0, detail)
    }
    calls.clear()
    out
  }
}

object Files {
  /** Bytes and data files under a written output directory. */
  def sizeOf(path: String): (Long, Int) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val data = walk(new File(path)).filter { f =>
      val n = f.getName
      !n.startsWith(".") && !n.startsWith("_")
    }
    (data.map(_.length).sum, data.size)
  }
}

/** Order-independent digest of a frame: `bit_xor(xxhash64(*))`, with
  * floating-point columns rounded to 6 decimals first so that
  * summation-order noise in the last bits cannot move it. */
object Digest {
  def of(df: DataFrame): Long = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast("double"), 6)
        case _ => col(f.name)
      }
    }
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(expr("bit_xor(h)"), count(lit(1))).head()
    if (r.getLong(1) == 0) 0L else r.getLong(0)
  }
}

/** Realized-vs-requested p for one (mutator, column): the fraction of
  * rows whose value differs between the clean and the dirty frame. */
final case class PRate(mutator: String, column: String, requested: Double,
                       realized: Double, rows: Long) {
  def absErr: Double = math.abs(realized - requested)
  /** Six standard errors of a binomial fraction, plus 0.002 for the
    * mutators' estimate of eligibility on the input snapshot. */
  def tolerance: Double =
    6 * math.sqrt(requested * (1 - requested) / math.max(rows, 1)) + 0.002
}

object PRate {
  /** Clean-vs-dirty pass: one aggregate over the two frames joined on
    * their row id. `pairs` are (mutator name, column, requested p). */
  def measure(clean: DataFrame, dirty: DataFrame, rid: String,
              pairs: Seq[(String, String, Double)]): Seq[PRate] = {
    val cs = pairs.map(_._2).distinct
    val c = clean.select((col(rid) +: cs.map(x => col(x).as(s"c__$x"))): _*)
    val d = dirty.select((col(rid) +: cs.map(x => col(x).as(s"d__$x"))): _*)
    val aggs = count(lit(1)) +: cs.map(x =>
      sum(when(not(col(s"c__$x") <=> col(s"d__$x")), 1L).otherwise(0L)))
    val r = c.join(d, rid).agg(aggs.head, aggs.tail: _*).head()
    val n = r.getLong(0)
    val changed = cs.zipWithIndex.map { case (x, i) => x -> r.getLong(i + 1) }.toMap
    pairs.map { case (m, x, p) =>
      PRate(m, x, p, if (n == 0) 0.0 else changed(x).toDouble / n, n)
    }
  }
}
