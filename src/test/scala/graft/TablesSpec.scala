package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Tables.load's per-session plan memo under concurrent loads while the
  * entries of a stopped session are evicted. A stopped session needs its
  * own SparkContext, and the specs share one, so the scenario runs in a
  * child JVM ([[TablesMemoProbe]]).
  */
class TablesSpec extends SparkSpec {

  test("plan memo: concurrent loads keep every live entry, evict the stopped session") {
    // The child needs the same --add-opens flags this JVM was started with.
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++
      opens ++ Seq("-Dspark.ui.enabled=false",
        "-cp", System.getProperty("java.class.path"),
        "graft.TablesMemoProbe", sf0001, sf001)
    val pr = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(pr.getInputStream.readAllBytes(), "UTF-8")
    assert(pr.waitFor() == 0, out)
    assert(out.contains("memo-probe ok"), out)
  }
}

/** Eight rounds, each on a new SparkContext: load 18 (dir, table) plans
  * in each of two sessions from 8 threads, then stop the context. The
  * first misses of a round evict the previous round's 36 dead entries
  * while other threads insert, so dead and live keys share bins. Exits 0
  * only if, in every round, each key resolved to one plan on every
  * thread, each survives to a later load, and no stopped session's plan
  * is left.
  */
object TablesMemoProbe {
  def main(args: Array[String]): Unit = {
    val tables = for (d <- args.toSeq; n <- Tables.names.filter(_ != "events")) yield (d, n)
    var prev: SparkSession = null
    for (round <- 1 to 8) {
      val s = SparkSession.builder().master("local[2]")
        .config("spark.sql.shuffle.partitions", "2").getOrCreate()
      require(prev == null || (s.sparkContext ne prev.sparkContext), "expected a new context")
      val sessions = Seq(s, s.newSession())
      val keys = for (x <- sessions; (d, n) <- tables) yield (x, d, n)
      val pool = Executors.newFixedThreadPool(8)
      val got = try {
        scala.util.Random.shuffle(keys ++ keys).map { case k @ (x, d, n) =>
          pool.submit(new Callable[((SparkSession, String, String), DataFrame)] {
            def call() = (k, Tables.load(x, d, n))
          })
        }.map(_.get(60, TimeUnit.SECONDS))
      } finally pool.shutdown()
      for ((k @ (x, d, n), vs) <- got.groupBy(_._1).view.mapValues(_.map(_._2))) {
        require(vs.forall(_ eq vs.head), s"round $round: $k resolved to more than one plan")
        require(Tables.load(x, d, n) eq vs.head, s"round $round: $k lost its memo entry")
      }
      val held = Tables.planMemo.keySet.asScala.toSet
      require(held == keys.toSet, s"round $round: memo holds ${held.size} keys, " +
        s"${held.count(k => !sessions.exists(_ eq k._1))} of a stopped session")
      s.stop()
      prev = s
    }
    println("memo-probe ok")
  }
}
