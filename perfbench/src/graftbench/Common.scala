package graftbench

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, MapType}

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Small helpers shared by the harness, the sweep and the tracer. */
object Common {

  val cpus: Int = Runtime.getRuntime.availableProcessors()

  /** The library front door, with scratch space kept under `work`. */
  def session(work: Path): SparkSession = {
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Release blocks that a query pinned with checkpoints or caches, so
    * every query starts from the same block-manager state.
    */
  def dropCaches(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Materialize the whole result through the no-op sink. */
  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Writes the full result through the no-op sink, as a timed operation
    * does, and returns its order-insensitive digest, observed on the way:
    * the row count and the exact sum of a per-row 64-bit hash. Doubles are
    * rounded to 6 decimals first, so a different summation order inside an
    * aggregate cannot change the digest. The sum is kept as two long sums
    * (high and low 32 bits), which cannot overflow below 2^31 rows. The
    * renamed columns collapse into the plan, so the query compiles to the
    * same code as its timed run.
    */
  def sinkDigest(df: DataFrame): (Long, BigDecimal) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6)
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val obs = Observation()
    sink(named.observe(obs, count(lit(1)).as("n"), coalesce(sum(shiftright(h, 32)), lit(0L)).as("hi"),
      coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L)).as("lo")))
    val m = obs.get
    def long(k: String) = m(k).asInstanceOf[Number].longValue
    (long("n"), BigDecimal(long("hi")) * BigDecimal(1L << 32) + BigDecimal(long("lo")))
  }

  def rootCause(t: Throwable): Throwable =
    if (t.getCause == null || (t.getCause eq t)) t else rootCause(t.getCause)

  /** Short failure label: Spark's error condition when it has one. */
  def failureLabel(t: Throwable): String = {
    val c = rootCause(t)
    val cond = c match {
      case s: org.apache.spark.SparkThrowable if s.getCondition != null => s.getCondition
      case _ => c.getClass.getSimpleName
    }
    val msg = Option(c.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")
    s"$cond: ${msg.take(160)}"
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of the samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Harrell-Davis estimate of the q-quantile: a weighted mean of all
    * order statistics, weights from the Beta((n+1)q, (n+1)(1-q)) law. On a
    * few dozen latencies from a dozen different operations, the plain
    * sample quantile jumps between two operations' times when host noise
    * swaps their order; this estimate moves smoothly.
    */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val n = s.size
    val a = (n + 1) * q
    val b = (n + 1) * (1 - q)
    val cdf = (0 to n).map(i => betaCdf(i.toDouble / n, a, b))
    s.indices.map(i => s(i) * (cdf(i + 1) - cdf(i))).sum
  }

  /** Regularized incomplete beta I_x(a, b), by its continued fraction. */
  private def betaCdf(x: Double, a: Double, b: Double): Double =
    if (x <= 0) 0.0 else if (x >= 1) 1.0 else {
      val lnFront = lgamma(a + b) - lgamma(a) - lgamma(b) + a * math.log(x) + b * math.log(1 - x)
      if (x < (a + 1) / (a + b + 2)) math.exp(lnFront) * betaFraction(x, a, b) / a
      else 1.0 - math.exp(lnFront) * betaFraction(1 - x, b, a) / b
    }

  private def betaFraction(x: Double, a: Double, b: Double): Double = {
    val tiny = 1e-300
    var c = 1.0
    var d = 1.0 - (a + b) * x / (a + 1)
    d = 1.0 / (if (math.abs(d) < tiny) tiny else d)
    var h = d
    var m = 1
    var done = false
    while (!done && m < 300) {
      val m2 = 2 * m
      var aa = m * (b - m) * x / ((a + m2 - 1) * (a + m2))
      d = 1.0 + aa * d; d = 1.0 / (if (math.abs(d) < tiny) tiny else d)
      c = 1.0 + aa / c; if (math.abs(c) < tiny) c = tiny
      h *= d * c
      aa = -(a + m) * (a + b + m) * x / ((a + m2) * (a + m2 + 1))
      d = 1.0 + aa * d; d = 1.0 / (if (math.abs(d) < tiny) tiny else d)
      c = 1.0 + aa / c; if (math.abs(c) < tiny) c = tiny
      val del = d * c
      h *= del
      done = math.abs(del - 1.0) < 1e-12
      m += 1
    }
    h
  }

  /** log Gamma, Lanczos approximation (g = 7, n = 9). */
  private def lgamma(z: Double): Double = {
    val g = Array(0.99999999999980993, 676.5203681218851, -1259.1392167224028,
      771.32342877765313, -176.61502916214059, 12.507343278686905,
      -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
    if (z < 0.5) math.log(math.Pi / math.abs(math.sin(math.Pi * z))) - lgamma(1 - z)
    else {
      val x = z - 1
      var acc = g(0)
      (1 until 9).foreach(i => acc += g(i) / (x + i))
      val t = x + 7.5
      0.5 * math.log(2 * math.Pi) + (x + 0.5) * math.log(t) - t + math.log(acc)
    }
  }

  /** The highest of the usual percentiles with at least ten samples above
    * it; the median when there are too few samples for any of them.
    */
  def tailQuantile(n: Int): Double =
    Seq(0.99, 0.95, 0.9, 0.75).find(q => n * (1 - q) >= 10).getOrElse(0.5)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.deleteIfExists)
    }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) return Runtime.getRuntime.totalMemory / 1048576.0
    Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  // -- JSON ------------------------------------------------------------------

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: BigDecimal => n.bigDecimal.toPlainString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def parseJson(p: Path): org.json4s.JValue =
    org.json4s.jackson.JsonMethods.parse(Files.readString(p))
}
