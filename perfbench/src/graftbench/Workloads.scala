package graftbench

import graft.{SparkEntry, Tables}
import graft.core.RunContext
import graft.examples._
import graft.model.{Manifest, Model, ModelGraph, ModelIo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

/** What a workload needs from the harness. `rng` is seeded from --seed. */
final class Env(val data: String, val work: Path, val seed: Long, var tracer: Tracer,
    val expected: Option[JValue], val queries: Seq[QueryInfo]) {
  val rng = new Random(seed)
  /** Output-check outcomes: (what was checked, passed, detail). */
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  /** Known failures that ran and failed as recorded: name -> failure. */
  val knownFailures = scala.collection.mutable.LinkedHashMap.empty[String, String]
  def check(what: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((what, ok, if (ok) "" else detail))
}

/** Latencies of the timed operations of one measured phase. */
final class Ops {
  val latencies = ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]

  def time[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      latencies += (System.nanoTime() - t0) / 1e9
      Some(r)
    } catch {
      case t: Throwable =>
        failed += 1
        failures += s"$what: ${Common.failureLabel(t)}"
        None
    }
  }
}

/** One benchmark workload: set-up work, then a repeatable pass whose
  * timed part is returned in seconds. Output checks run off the clock.
  */
trait Workload {
  def name: String
  /** What one timed operation is: a query, a model lifecycle, a refresh. */
  def op: String
  def tables: Seq[String]
  def stage(spark: SparkSession, env: Env): Unit = ()
  /** Untimed pass that runs every code path the timed passes use and
    * checks outputs.
    */
  def warm(spark: SparkSession, env: Env): Unit
  def pass(spark: SparkSession, env: Env, ops: Ops): Double
}

/** Per-query facts from the committed classification sweep. */
final case class QueryInfo(name: String, family: String, iterative: Boolean,
    benchSinkS: Double, benchFailure: Option[String],
    rows: Option[Long], digest: Option[BigDecimal], digestStable: Boolean)

object Workloads {
  def apply(name: String): Workload = name match {
    case "ops" => new QueryWorkload(name, oneplan = 7, iterative = 4, pins = Seq("q361_pass_at_k"))
    case "curation-dag" => new CurationDag
    case "serving-stream" => new ServingStream
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Queries longer than this at the benchmark's scale (sink time in the
    * sweep) would take most of a run alone; they stay out of the pools.
    */
  val heavyS = 5.0

  /** Known failures, by query: they are timed like the rest at the
    * benchmark's scale, where they succeed, and in the warm pass also run
    * on the input that makes them fail, where the failure is recorded and
    * reported by name.
    */
  val knownFailures: Set[String] = Set("q361_pass_at_k")
}

/** A seeded sample of SparkEntry queries, each timed from DataFrame
  * construction to the end of the no-op sink write of its full result.
  *
  * The sample draws from two pools, split by whether building the
  * DataFrame launches Spark jobs, as recorded in the sweep: `oneplan`
  * queries, where execution is almost all of the time, and `iterative`
  * ones (eager barriers, iterative graph, recursive and text operators),
  * where construction is over half of it. Within a pool the sample is
  * stratified by cost: the pool, ordered by sink time, is cut into as many
  * equal bins as it has places, and one query is drawn from each bin, so
  * every seed draws a sample of similar total cost from across the
  * families. The pins are always in.
  */
final class QueryWorkload(val name: String, oneplan: Int, iterative: Int,
    pins: Seq[String]) extends Workload {
  val op = "query"
  val tables: Seq[String] = Tables.names
  private var sample: Seq[String] = Nil
  private val fns = SparkEntry.queries
  /** Sampled queries from the `iterative` pool. */
  var iterativeQueries: Set[String] = Set.empty

  def pick(env: Env): Seq[String] = {
    def draw(isIterative: Boolean, k: Int): Seq[String] = {
      val pool = env.queries.filter(q => q.iterative == isIterative &&
        q.benchFailure.isEmpty && q.benchSinkS <= Workloads.heavyS && !pins.contains(q.name))
        .sortBy(q => (q.benchSinkS, q.name))
      (0 until k).map { i =>
        val lo = i * pool.size / k
        val hi = (i + 1) * pool.size / k
        pool(lo + env.rng.nextInt(hi - lo)).name
      }
    }
    val its = draw(isIterative = true, iterative)
    iterativeQueries = its.toSet
    env.rng.shuffle(pins ++ draw(isIterative = false, oneplan) ++ its)
  }

  /** Documents with ten times as many rows per source (n = 250 at sf0.1
    * proportions): q361's product of (n - j) over ten factors overflows
    * BIGINT once n exceeds about 79, and the query assumes n <= 25.
    */
  private def knownFailureInput(spark: SparkSession, env: Env): String = {
    val dir = env.work.resolve("known-failure-input")
    if (!Files.exists(dir.resolve("documents.parquet"))) {
      val docs = Tables.load(spark, env.data, "documents")
      (0 until 10).map(k => docs.withColumn("doc_id", col("doc_id") + lit(k * 1000000000L)))
        .reduce(_ union _).coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
    }
    dir.toString
  }

  override def stage(spark: SparkSession, env: Env): Unit =
    if (sample.isEmpty) sample = pick(env)

  def warm(spark: SparkSession, env: Env): Unit = {
    val info = env.queries.map(q => q.name -> q).toMap
    sample.foreach { q =>
      try {
        val (rows, dig) = Common.sinkDigest(fns(q)(spark, env.data))
        env.expected.foreach { _ =>
          val i = info(q)
          val ok = i.rows.contains(rows) && (!i.digestStable || i.digest.contains(dig))
          env.check(s"digest $q", ok, s"got rows=$rows digest=$dig, expected rows=${i.rows} digest=${i.digest}")
        }
      } catch {
        case t: Throwable => env.check(s"run $q", ok = false, Common.failureLabel(t))
      } finally Common.dropCaches(spark)
      if (Workloads.knownFailures.contains(q)) {
        try {
          Common.sink(fns(q)(spark, knownFailureInput(spark, env)))
          env.check(s"known failure $q", ok = true)
          env.knownFailures -= q
        } catch {
          case t: Throwable => env.knownFailures(q) = Common.failureLabel(t)
        } finally Common.dropCaches(spark)
      }
    }
  }

  def pass(spark: SparkSession, env: Env, ops: Ops): Double = {
    val t0 = System.nanoTime()
    var offClock = 0L
    sample.foreach { q =>
      env.tracer.span("client", q) {
        ops.time(q) {
          val df = env.tracer.span("operators", "construct")(fns(q)(spark, env.data))
          env.tracer.span("exec", "sink")(Common.sink(df))
        }
      }
      val c0 = System.nanoTime()
      Common.dropCaches(spark)
      offClock += System.nanoTime() - c0
    }
    (System.nanoTime() - t0 - offClock) / 1e9
  }

  def describe(env: Env): String = {
    val family = env.queries.map(q => q.name -> q.family).toMap
    sample.map(q => s"$q (${family.getOrElse(q, "?")}${if (iterativeQueries(q)) ", iterative" else ""})")
      .mkString(", ")
  }
}

/** Delegates to a model, recording each lifecycle step as a span; the
  * whole lifecycle is one timed operation.
  */
final class TimedModel(val inner: Model, env: Env, ops: Ops) extends Model {
  override def name: String = inner.name
  def connects = inner.connects
  private var t0 = 0L

  override def preBuildCheck(spark: SparkSession, io: ModelIo): Boolean = {
    t0 = System.nanoTime()
    env.tracer.span("model", s"$name.pre_check")(inner.preBuildCheck(spark, io))
  }

  def build(spark: SparkSession, io: ModelIo): Unit =
    env.tracer.span("model", s"$name.build")(inner.build(spark, io))

  override def postBuildCheck(spark: SparkSession, io: ModelIo): Boolean = {
    val ok = env.tracer.span("model", s"$name.post_check")(inner.postBuildCheck(spark, io))
    ops.attempted += 1
    if (ok) ops.latencies += (System.nanoTime() - t0) / 1e9
    else { ops.failed += 1; ops.failures += s"$name: post-build check failed" }
    ok
  }
}

/** The five-model curation DAG (near-dedup, quality gate,
  * decontamination, domain mix, sharding) over `documents`, run through
  * ModelGraph.run with a lock document written per model.
  */
final class CurationDag extends Workload {
  val name = "curation-dag"
  val op = "model"
  val tables = Seq("documents")
  private var runs = 0
  /** Model names per ModelGraph stage, in run order. */
  var stageNames: Seq[Set[String]] = Nil

  private def models(env: Env, dir: Path): Seq[Model] = {
    val w = dir.toString
    val eval = env.work.resolve("eval").toString
    Seq(
      new ShardCorpus(s"parquet://$w/mixed", s"parquet://$w/sharded;partitionBy=shard",
        s"parquet://$w/manifest"),
      new DomainMixDocs(s"parquet://$w/clean", s"parquet://$w/mixed", 900),
      new DecontaminateDocs(s"parquet://$w/unique", s"parquet://$eval", s"parquet://$w/clean"),
      new QualityGateDocs(s"parquet://$w/deduped", s"parquet://$w/unique"),
      new NearDedupDocs(s"parquet://${env.data}/documents.parquet", s"parquet://$w/deduped"))
  }

  override def stage(spark: SparkSession, env: Env): Unit =
    Tables.load(spark, env.data, "documents").filter(col("doc_id") < 10)
      .select("doc_id", "text").write.mode("overwrite").parquet(env.work.resolve("eval").toString)

  def warm(spark: SparkSession, env: Env): Unit = { pass(spark, env, new Ops); () }

  def pass(spark: SparkSession, env: Env, ops: Ops): Double = {
    runs += 1
    val dir = env.work.resolve(s"dag-$runs")
    val inner = models(env, dir)
    val wrapped = inner.map(m => new TimedModel(m, env, ops))
    val graph = new ModelGraph(env.rng.shuffle(wrapped))
    stageNames = graph.runOrder().map(_.map(_.name).toSet)
    val ctx = RunContext()
    val t0 = System.nanoTime()
    val ran = try {
      env.tracer.span("client", "dag") {
        graph.run(spark, ctx)
        inner.foreach(m => env.tracer.span("sources", s"${m.name}.lock")(
          Manifest.writeLock(dir.resolve(s"${m.name}.lock.json").toString, m, ctx)))
      }
      true
    } catch {
      case t: Throwable => env.check("curation DAG run", ok = false, Common.failureLabel(t)); false
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (ran) verify(spark, env, dir, inner)
    Common.dropCaches(spark)
    Common.deleteTree(dir)
    dt
  }

  private def verify(spark: SparkSession, env: Env, dir: Path, models: Seq[Model]): Unit = {
    val s = models.flatMap(m => m.stats.toSeq.map { case (k, a) => s"${m.name}.$k" -> a.value.longValue }).toMap
    def g(k: String) = s.getOrElse(k, -1L)
    env.check("curation conservation",
      g("NearDedupDocs.docs_in") == g("NearDedupDocs.docs_kept") + g("NearDedupDocs.dups_removed") &&
        g("QualityGateDocs.docs_kept") + g("QualityGateDocs.docs_rejected") == g("NearDedupDocs.docs_kept") &&
        g("DecontaminateDocs.docs_kept") + g("DecontaminateDocs.docs_decontaminated") ==
        g("QualityGateDocs.docs_kept") &&
        g("DomainMixDocs.docs_kept") + g("DomainMixDocs.docs_capped_out") == g("DecontaminateDocs.docs_kept"),
      s"stage counts do not conserve: $s")
    val manifestDocs = spark.read.parquet(dir.resolve("manifest").toString)
      .agg(sum("n_docs")).first().getLong(0)
    val sharded = spark.read.parquet(dir.resolve("sharded").toString).count()
    env.check("curation outputs", manifestDocs == g("DomainMixDocs.docs_kept") &&
      sharded == manifestDocs &&
      models.forall(m => Files.readString(dir.resolve(s"${m.name}.lock.json")).contains("dataset.")),
      s"manifest=$manifestDocs sharded=$sharded kept=${g("DomainMixDocs.docs_kept")}")
    env.expected.foreach { e =>
      val gold = (e \ "curation").asInstanceOf[JObject].obj.map { case (k, v) =>
        k -> v.asInstanceOf[JInt].num.toLong }
      val bad = gold.filter { case (k, v) => g(k) != v }
      env.check("curation golden counts", bad.isEmpty,
        bad.map { case (k, v) => s"$k=${g(k)} expected $v" }.mkString(", "))
    }
    CurationDag.lastStats = s
  }
}

object CurationDag {
  /** Counters of the latest DAG run, for recording golden counts. */
  @volatile var lastStats: Map[String, Long] = Map.empty
}

/** `events` lands as file drops in event-time order; after each drop,
  * StreamingServing.refresh folds the new files into the hourly
  * per-segment serving table, joined to a customer -> segment dimension.
  * The seed places the cut-points between drops.
  */
final class ServingStream extends Workload {
  val name = "serving-stream"
  val op = "refresh"
  val tables = Seq("events", "customer")
  val drops = 6
  private var runs = 0
  private var dropFiles: Seq[Path] = Nil
  private var dim: DataFrame = _

  override def stage(spark: SparkSession, env: Env): Unit = {
    dim = Tables.load(spark, env.data, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val events = Tables.load(spark, env.data, "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("__us", unix_micros(col("ts")))
    // The i-th boundary sits at quantile (i + u) / drops of ts, u in [-0.3, 0.3].
    val cutRng = new Random(env.seed)
    val qs = (1 until drops).map(i => (i + (cutRng.nextDouble() - 0.5) * 0.6) / drops).toArray
    val cuts = Long.MinValue +: events.stat.approxQuantile("__us", qs, 0.0).map(_.toLong).toSeq :+ Long.MaxValue
    val staged = env.work.resolve("drops")
    Common.deleteTree(staged)
    dropFiles = (0 until drops).map { k =>
      val part = staged.resolve(s"part-$k")
      events.filter(col("__us") >= cuts(k) && col("__us") < cuts(k + 1)).drop("__us")
        .coalesce(1).write.parquet(part.toString)
      val file = Files.list(part).iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(file, staged.resolve(s"drop-$k.parquet"))
    }
  }

  /** The first two drops take every refresh code path. */
  def warm(spark: SparkSession, env: Env): Unit = { run(spark, env, new Ops, 2); () }

  def pass(spark: SparkSession, env: Env, ops: Ops): Double = run(spark, env, ops, drops)

  private def run(spark: SparkSession, env: Env, ops: Ops, n: Int): Double = {
    runs += 1
    val dir = env.work.resolve(s"stream-$runs")
    val eventsDir = dir.resolve("events")
    Files.createDirectories(eventsDir)
    val serving = dir.resolve("serving").toString
    val ckpt = dir.resolve("ckpt").toString
    var timed = 0L
    dropFiles.take(n).zipWithIndex.foreach { case (f, k) =>
      Files.copy(f, eventsDir.resolve(f.getFileName))
      val t0 = System.nanoTime()
      env.tracer.span("client", s"drop $k") {
        ops.time(s"refresh $k") {
          env.tracer.span("streaming", "refresh")(
            StreamingServing.refresh(spark, eventsDir.toString, dim, serving, ckpt))
        }
      }
      timed += System.nanoTime() - t0
    }
    val cols = Seq("hour", "segment", "n_events", "value_sp")
    val got = Common.sinkDigest(spark.read.parquet(serving).select(cols.map(col): _*))
    val want = Common.sinkDigest(StreamingServing.hourlyRollup(
        spark.read.parquet(eventsDir.toString).dropDuplicates("event_id")
          .join(broadcast(dim), Seq("user_id"), "left"))
      .select(cols.map(col): _*))
    env.check("serving table equals batch rollup", got == want, s"serving $got, batch $want")
    Common.dropCaches(spark)
    Common.deleteTree(dir)
    timed / 1e9
  }
}
