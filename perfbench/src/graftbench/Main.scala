package graftbench

import graft.Tables
import org.apache.spark.sql.SparkSession
import org.json4s._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** One benchmark run of one workload, from one JVM with one closed-loop
  * client:
  *
  *  1. set-up, repeated `Setups` times (the session is stopped and built
  *     again): session start, table loads and staging. The first set-up
  *     also runs the untimed warm pass, which checks outputs; the JIT and
  *     generated code it leaves behind outlive the session;
  *  2. passes over the workload until `--seconds` have gone by, tracing off;
  *  3. with `--trace 1`, passes for `--seconds` more, alternately with
  *     listeners and spans on and off. The traced ones give the per-layer
  *     numbers; the overhead is traced minus untraced pass time.
  *
  * The result, with the metrics and readable report lines, is written as
  * JSON to `--out`; perfbench/run.py prints it.
  */
object Main {

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  final case class Phase(passes: Seq[Double], ops: Ops, elapsed: Double)

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> (if (p.length > 1) p(1) else "")).toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val expected = a.get("expected").filter(_.nonEmpty).map(p => Common.parseJson(Paths.get(p)))
    val queries = loadQueries(Paths.get(a("queries")))
    val w = Workloads(a("workload"))
    val runId = s"${w.name}-$seed-${System.currentTimeMillis()}"
    val env = new Env(a("data"), work, seed, new Tracer(false, runId), expected, queries)

    var spark: SparkSession = null
    val setupS, loadCold, loadMemo = ArrayBuffer.empty[Double]
    (0 until Setups).foreach { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Common.session(work)
      val c0 = System.nanoTime()
      w.tables.foreach(t => Tables.load(spark, env.data, t))
      loadCold += secs(c0)
      val m0 = System.nanoTime()
      w.tables.foreach(t => Tables.load(spark, env.data, t))
      loadMemo += secs(m0)
      w.stage(spark, env)
      if (i == 0) w.warm(spark, env)
      setupS += secs(t0)
    }

    def measure(): Phase = {
      val ops = new Ops
      val passes = ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      while (passes.isEmpty || secs(t0) < seconds) passes += w.pass(spark, env, ops)
      Phase(passes.toSeq, ops, secs(t0))
    }
    val plain = measure()
    // Traced and untraced passes alternate, so the overhead is measured
    // against passes from the same stretch of the run.
    val layered = if (!traced) None else {
      val probe = new Probe
      val tracer = new Tracer(true, runId)
      val untracer = env.tracer
      val ops = new Ops
      val on, off = ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      while (off.isEmpty || secs(t0) < seconds) {
        if (on.size == off.size) {
          probe.attach(spark)
          env.tracer = tracer
          on += w.pass(spark, env, ops)
          probe.detach(spark)
          env.tracer = untracer
        } else off += w.pass(spark, env, ops)
      }
      val phase = Phase(on.toSeq, ops, secs(t0))
      val spans = tracer.complete(probe)
      tracer.write(spans, Paths.get(a("traces")).resolve(s"$runId.jsonl"))
      Some((phase, Layers(w, probe, spans, phase, Phase(off.toSeq, ops, 0.0), loadCold.toSeq, loadMemo.toSeq)))
    }
    val sparkVersion = spark.version
    spark.stop()

    val lat = plain.ops.latencies.toSeq
    val tailQ = Common.tailQuantile(lat.size)
    val endToEnd = Seq(
      "setup_s" -> (Common.median(setupS.toSeq), "s"),
      "wall_s" -> (Common.median(plain.passes), "s"),
      "op_p50_s" -> (Common.hdQuantile(lat, 0.5), "s"),
      "peak_rss_mb" -> (Common.peakRssMb(), "MB"))
    val phases = plain +: layered.map(_._1).toSeq
    val failedChecks = env.checks.filterNot(_._2)
    val attempted = phases.map(_.ops.attempted).sum + env.checks.size
    val failed = phases.map(_.ops.failed).sum + failedChecks.size
    val errorRate = (failed + env.knownFailures.size).toDouble / (attempted + env.knownFailures.size)
    val metrics = layered.map(_._2.metrics).getOrElse(endToEnd)

    val report = ArrayBuffer.empty[String]
    def f(x: Double) = "%.4f".formatLocal(java.util.Locale.ROOT, x)
    report += s"workload ${w.name}, seed $seed: ${plain.passes.size} passes in ${f(plain.elapsed)} s, " +
      s"${lat.size} timed ${w.op}s, one closed-loop client"
    report += s"host: cores=${Common.cpus} mem_gib=${f(memGib())} jdk=${System.getProperty("java.version")} " +
      s"spark=$sparkVersion master=local[${Common.cpus}] sf=${a("sf")} seed=$seed"
    w match {
      case q: QueryWorkload => report += s"sample: ${q.describe(env)}"
      case _ =>
    }
    val alias = Map("op_p50_s" -> s"${w.op}_p50_s")
    endToEnd.foreach { case (k, (v, u)) =>
      report += f"  ${k}%-12s ${f(v)} $u" + alias.get(k).map(x => s"   ($x)").getOrElse("") +
        (if (k == "setup_s") s"   median of ${setupS.map(f).mkString(", ")}; the first is the cold " +
          "set-up with the warm pass, not gated" else "")
    }
    // The tail is printed, not gated: at this run length there are seldom
    // ten samples beyond any percentile above the median.
    report += f"  ${"op_tail_s"}%-12s ${f(Common.hdQuantile(lat, tailQ))} s   (${w.op}_tail_s: " +
      s"p${(tailQ * 100).round} of ${lat.size} samples, the highest with ten samples beyond it" +
      (if (tailQ == 0.5) "; too few for any higher percentile" else "") + ")"
    report += s"  error_rate   ${f(errorRate)}   ($failed failed of $attempted attempted" +
      (if (env.knownFailures.nonEmpty) s", plus known failures: " +
        env.knownFailures.map { case (q, why) => s"$q [$why]" }.mkString("; ") else "") + ")"
    report += s"output checks: ${env.checks.size - failedChecks.size} passed, ${failedChecks.size} failed" +
      (if (expected.isEmpty) " (no expected digests at this scale factor; run and oracle checks only)" else "")
    failedChecks.take(20).foreach { case (what, _, d) => report += s"  FAILED $what: $d" }
    phases.flatMap(_.ops.failures).take(20).foreach(x => report += s"  FAILED $x")
    if (w.isInstanceOf[CurationDag])
      report += s"curation counters: ${Common.json(CurationDag.lastStats.toSeq.sortBy(_._1).toMap)}"
    layered.foreach(l => report ++= l._2.table)

    val out = Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "report" -> report.toSeq)
    Files.writeString(Paths.get(a("out")), Common.json(out))
  }

  private def memGib(): Double = {
    val p = Paths.get("/proc/meminfo")
    if (!Files.exists(p)) return Runtime.getRuntime.maxMemory / 1073741824.0
    scala.io.Source.fromFile(p.toFile).getLines().find(_.startsWith("MemTotal:"))
      .map(_.split("\\s+")(1).toDouble / 1048576.0).getOrElse(0.0)
  }

  def loadQueries(p: Path): Seq[QueryInfo] =
    if (!Files.exists(p)) Nil else
      scala.io.Source.fromFile(p.toFile).getLines().filter(_.trim.nonEmpty).map { line =>
        val j = org.json4s.jackson.JsonMethods.parse(line)
        def s(k: String) = (j \ k) match { case JString(v) => Some(v); case _ => None }
        def d(k: String) = (j \ k) match {
          case JDouble(v) => v; case JInt(v) => v.toDouble; case JDecimal(v) => v.toDouble; case _ => 0.0
        }
        QueryInfo(s("name").get, s("family").get, s("pool").contains("iterative"),
          d("bench_sink_s"), s("bench_failure"),
          (j \ "bench_rows") match { case JInt(v) => Some(v.toLong); case _ => None },
          s("bench_digest").map(BigDecimal(_)),
          (j \ "bench_digest_stable") == JBool(true))
      }.toSeq
}
