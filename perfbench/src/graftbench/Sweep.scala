package graftbench

import graft.{Query, SparkEntry, operators => ops}
import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths, StandardOpenOption}

/** One-time classification sweep over every SparkEntry query:
  *
  * {{{
  * graftbench.Sweep <dataDir> <out.jsonl> [digest]
  * }}}
  *
  * Per query it records the operator family, the Spark jobs that building
  * the DataFrame launches, construction time, the second-run time of the
  * full result through the no-op sink, the time of `count()` on a fresh
  * frame, and the failure if any. With `digest`, it also computes the
  * result digest twice, so a result whose digest is not repeatable can be
  * checked by row count only. One JSON line per query, appended as it
  * finishes.
  */
object Sweep {

  val families: Seq[(String, Seq[Query])] = Seq(
    "Relational" -> ops.Relational.all, "TextAnalysis" -> ops.TextAnalysis.all,
    "Dedup" -> ops.Dedup.all, "Similarity" -> ops.Similarity.all,
    "Events" -> ops.Events.all, "Multimodal" -> ops.Multimodal.all,
    "Sources" -> ops.Sources.all, "Stats" -> ops.Stats.all,
    "Subqueries" -> ops.Subqueries.all, "Windows" -> ops.Windows.all,
    "TpchExtra" -> ops.TpchExtra.all, "Pipeline" -> ops.Pipeline.all,
    "Warehouse" -> ops.Warehouse.all, "Graph" -> ops.Graph.all,
    "Ranking" -> ops.Ranking.all, "Quant" -> ops.Quant.all,
    "Recursive" -> ops.Recursive.all, "PiiScan" -> ops.PiiScan.all,
    "Causal" -> ops.Causal.all)

  def main(args: Array[String]): Unit = {
    val data = args(0)
    val out = Paths.get(args(1))
    val withDigest = args.length > 2 && args(2) == "digest"
    val work = Files.createTempDirectory("sweep")
    val spark = Common.session(work)
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    val familyOf = families.flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap
    Files.deleteIfExists(out)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)

    def jobsNow(): Int = { Bus.drain(spark.sparkContext); probe.jobCount }
    def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

    queries.foreach { case (name, fn) =>
      val rec = scala.collection.mutable.LinkedHashMap[String, Any](
        "name" -> name, "family" -> familyOf.getOrElse(name, "?"))
      try {
        (1 to 2).foreach { _ =>
          val j0 = jobsNow()
          val t0 = System.nanoTime()
          val df = fn(spark, data)
          val constructS = secs(t0)
          rec ++= Seq("construct_jobs" -> (jobsNow() - j0), "construct_s" -> constructS)
          val t1 = System.nanoTime()
          Common.sink(df)
          rec += "sink_s" -> (constructS + secs(t1))
          Common.dropCaches(spark)
        }
        val t2 = System.nanoTime()
        fn(spark, data).count()
        val countS = secs(t2)
        Common.dropCaches(spark)
        rec ++= Seq("count_s" -> countS, "sink_over_count" -> rec("sink_s").asInstanceOf[Double] / countS)
        if (withDigest) {
          val ds = (1 to 2).map { _ =>
            val d = Common.sinkDigest(fn(spark, data))
            Common.dropCaches(spark)
            d
          }
          rec ++= Seq("rows" -> ds.head._1, "digest" -> ds.head._2.toString,
            "digest_stable" -> (ds.head == ds(1)))
        }
      } catch {
        case t: Throwable =>
          Common.dropCaches(spark)
          rec -= "sink_s"
          rec += "failure" -> Common.failureLabel(t)
      }
      Files.writeString(out, Common.json(rec) + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      System.err.println(s"[sweep] ${Common.json(rec)}")
    }
    spark.stop()
    Common.deleteTree(work)
  }
}
