package graft

import graft.core.RunContext
import graft.examples._
import graft.model.ModelGraph
import java.nio.file.Files

/** End-to-end runs of the reference-example model ports through the full
  * framework stack: engine urls → connectors → lifecycle checks → build →
  * read-back validation, plus a two-model DAG over real testdata.
  */
class ExamplesSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-ex").toString

  test("PoisonousAnimals groups names per country") {
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(s"$dir/animals.json"),
      """[{"name": "taipan", "where": "Australia"},
        |{"name": "box jellyfish", "where": "Australia"},
        |{"name": "adder", "where": "UK"}]""".stripMargin)
    val m = new PoisonousAnimals(s"json://$dir/animals.json", s"ndjson://$dir/out")
    assert(m.go(spark))
    assert(m.stats("animals_in").value == 3)
    val out = spark.read.json(s"$dir/out").orderBy("where").collect()
    assert(out.length == 2)
    assert(out.head.getSeq[String](out.head.fieldIndex("animals"))
      == Seq("box jellyfish", "taipan"))
    assert(out(1).getSeq[String](out(1).fieldIndex("animals")) == Seq("adder"))
  }

  test("FavouriteColours counts days per colour per month, conserved") {
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(s"$dir/ranges.csv"),
      """person,colour,start,end
        |alice,red,2020-01-30,2020-02-02
        |bob,red,2020-02-10,2020-02-12
        |cara,blue,2020-03-01,2020-03-01""".stripMargin)
    val m = new FavouriteColours(s"csv://$dir/ranges.csv", s"parquet://$dir/out")
    assert(m.go(spark))
    val out = spark.read.parquet(s"$dir/out").collect()
      .map(r => (r.getAs[String]("colour"),
        r.getAs[java.sql.Date]("month").toString, r.getAs[Long]("days"))).toSet
    // alice: 2 days in Jan (30, 31), 2 in Feb (1, 2); bob: 3 in Feb
    assert(out == Set(
      ("red", "2020-01-01", 2L), ("red", "2020-02-01", 5L),
      ("blue", "2020-03-01", 1L)))
  }

  test("FavouriteColours pre-check rejects multi-year input") {
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(s"$dir/bad.csv"),
      """person,colour,start,end
        |alice,red,2020-12-30,2021-01-02""".stripMargin)
    val m = new FavouriteColours(s"csv://$dir/bad.csv", s"parquet://$dir/never")
    intercept[graft.model.Checks.CheckFailure](m.go(spark))
  }

  test("two-model DAG pipeline runs staged over real testdata") {
    val dir = tmp()
    val ctx = RunContext().withVars("root" -> dir, "sf" -> sf0001)
    val clean = new CleanDocuments(
      "parquet://{sf}/documents.parquet", "parquet://{root}/clean")
    val summary = new LangSummary(
      "parquet://{root}/clean", "parquet://{root}/summary")
    val g = new ModelGraph(Seq(summary, clean)) // declared out of order
    assert(g.runOrder().map(_.map(_.name)) == Seq(Seq("CleanDocuments"), Seq("LangSummary")))
    g.run(spark, ctx)
    val out = spark.read.parquet(s"$dir/summary")
    assert(out.count() == 5) // en/es/de/fr/zh
    assert(g.provenance().map(_._1) == Seq("CleanDocuments"))
    assert(g.mermaid().contains("CleanDocuments -->"))
  }

  test("SubstringDedupDocs cuts repeated passages, conserved and q355-consistent") {
    val dir = tmp()
    val ctx = RunContext().withVars("root" -> dir, "sf" -> sf0001)
    val m = new SubstringDedupDocs(
      "parquet://{sf}/documents.parquet", "parquet://{root}/passage_deduped")
    new ModelGraph(Seq(m)).run(spark, ctx)
    val stats = m.stats.map { case (k, acc) => k -> acc.value.longValue }
    // conservation: chars only shrink, docs only drop
    assert(stats("docs_in") == 500L)
    assert(stats("docs_out") <= stats("docs_in"))
    assert(stats("chars_out") < stats("chars_in"))
    // the reclaim must equal what the q355 detector working on the same
    // corpus reports as non-keeper coverage: chars_in - chars_out equals
    // removeDuplicatedSpans' cut, which is bounded above by total
    // duplicated coverage and below by zero; pin the exact value against
    // an independent recomputation through the library function
    import graft.api._
    val raw = spark.read.parquet(s"$sf0001/documents.parquet")
    val expectKept = raw.removeDuplicatedSpans()
      .where(org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("cleaned")) >= 20)
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("cleaned"))))
      .first().getLong(0)
    assert(stats("chars_out") == expectKept)
    // output schema keeps the metadata columns and stays doc_id-unique
    val out = spark.read.parquet(s"$dir/passage_deduped")
    assert(out.columns.toSet == Set("doc_id", "text", "lang", "source", "n_chars"))
    assert(out.select("doc_id").distinct().count() == out.count())
  }

  test("PackTrainingWindows packs every doc under capacity with real savings") {
    val dir = tmp()
    val ctx = RunContext().withVars("root" -> dir, "sf" -> sf0001)
    val cap = 256
    val m = new PackTrainingWindows(
      "parquet://{sf}/documents.parquet", "parquet://{root}/packed", cap)
    new ModelGraph(Seq(m)).run(spark, ctx)
    val stats = m.stats.map { case (k, acc) => k -> acc.value.longValue }
    assert(stats("docs_in") == 500L)
    // SPFHP cannot beat the volume lower bound, and must consolidate well
    // past one-doc-per-window
    val lower = (stats("total_tokens") + cap - 1) / cap
    assert(stats("windows") >= lower)
    assert(stats("windows") < stats("docs_in"))
    assert(stats("padding_tokens") ==
      stats("windows") * cap - stats("total_tokens"))
    // assignment is complete, unique, and capacity-safe (postBuildCheck
    // verified capacity; re-verify completeness against the source)
    val out = spark.read.parquet(s"$dir/packed")
    assert(out.count() == 500L)
    assert(out.select("doc_id").distinct().count() == 500L)
  }

  test("TrainQualityClassifier: train→calibrate→gate, drift caught by the gate") {
    val dir = tmp()
    val ctx = RunContext().withVars("root" -> dir, "sf" -> sf001)
    val m = new TrainQualityClassifier(
      "parquet://{sf}/documents.parquet", "parquet://{root}/scored")
    new ModelGraph(Seq(m)).run(spark, ctx) // gate passes on a healthy fit
    graft.model.Manifest.writeLock(s"$dir/${m.name}.lock.json", m, ctx)
    val stats = m.stats.map { case (k, acc) => k -> acc.value.longValue }
    assert(stats("docs_in") == 500L)
    val out = spark.read.parquet(s"$dir/scored")
    assert(out.count() == 500L)
    // the perceptron must beat the majority baseline (the gate enforced
    // it; re-derive here so the assertion is visible in the spec)
    val base = math.max(stats("n_pos"), stats("docs_in") - stats("n_pos"))
    assert(stats("n_correct") > base,
      s"accuracy ${stats("n_correct")} not past baseline $base")
    // PAV conserves mass on a healthy fit==apply population
    val Array(meanCal, rate) = out
      .agg(org.apache.spark.sql.functions.avg("calibrated"),
        org.apache.spark.sql.functions.avg(
          org.apache.spark.sql.functions.col("label").cast("double")))
      .first().toSeq.map(_.asInstanceOf[Double]).toArray
    assert(math.abs(meanCal - rate) < 1e-9, s"$meanCal vs $rate")
    // lock/manifest capture for repeatability
    val lock = Files.readString(
      java.nio.file.Paths.get(s"$dir/${m.name}.lock.json"))
    assert(lock.contains("dataset.docs") && lock.contains("dataset.scored"))
    // DELIBERATE CALIBRATION DRIFT: shift the score buckets between fit
    // and apply — every row clamps onto the wrong fitted block, ECE blows
    // past the gate, and the build must FAIL its checks
    val drifted = new TrainQualityClassifier(
      "parquet://{sf}/documents.parquet", "parquet://{root}/scored_drift",
      driftBuckets = 1000L)
    val e = intercept[RuntimeException] {
      new ModelGraph(Seq(drifted)).run(spark,
        RunContext().withVars("root" -> dir, "sf" -> sf001))
    }
    assert(e.getMessage.contains("TrainQualityClassifier failed its checks"))
  }

  test("NoaaClimatology finds hottest and coldest measurements") {
    val dir = tmp()
    // headerless CSV, field names forced from the data dictionary — the
    // reference fixture shape (station, date, element, value, flags)
    Files.writeString(java.nio.file.Paths.get(s"$dir/1763.csv"),
      """ITE00100554,17630101,TMAX,-36,,,E,
        |ITE00100554,17630101,TMIN,-50,,,E,
        |ITE00100554,17630102,TMAX,-26,,,E,
        |ITE00100554,17630102,PRCP,3,,,E,
        |ITE00100554,17630103,TMIN,-106,,,E,""".stripMargin)
    val schema = "ID STRING, DATE STRING, ELEMENT STRING, VALUE STRING," +
      " MFLAG STRING, QFLAG STRING, SFLAG STRING, OBSTIME STRING"
    val m = new NoaaClimatology(
      s"csv://$dir/1763.csv;header=false;schema=$schema",
      s"ndjson://$dir/extremes")
    assert(m.go(spark))
    assert(m.stats("temperature_readings").value == 4) // PRCP excluded
    val out = spark.read.json(s"$dir/extremes").collect()
      .map(r => r.getAs[String]("extreme") ->
        (r.getAs[Double]("value"), r.getAs[String]("date"))).toMap
    assert(out("hottest") == (-26.0, "17630102"))
    assert(out("coldest") == (-106.0, "17630103"))
  }

  test("AustralianAnimals maps manifest items to filtered outputs") {
    val dir = tmp()
    val outDir = tmp()
    Files.writeString(java.nio.file.Paths.get(s"$dir/animals_manifest.json"),
      """{"animal_files": ["aquatic_animals.json", "poisonous_animals.json"]}""")
    Files.writeString(java.nio.file.Paths.get(s"$dir/aquatic_animals.json"),
      """{"animals": [
        |{"name": "Snapping turtle", "where": "United States of America", "scientific_classification_class": "Reptilia"},
        |{"name": "Giant cuttlefish", "where": "Australia", "scientific_classification_class": "Cephalopoda"}]}""".stripMargin)
    Files.writeString(java.nio.file.Paths.get(s"$dir/poisonous_animals.json"),
      """{"animals": [
        |{"name": "Blue ringed octopus", "where": "Australia", "scientific_classification_class": "Cephalopoda"},
        |{"name": "Adder", "where": "United Kingdom", "scientific_classification_class": "Reptilia"}]}""".stripMargin)
    val m = new AustralianAnimals(
      "json://{input_path}/animals_manifest.json", "animal_files",
      "json://{input_path}/{item}", "ndjson://{output_path}/australian_{item}")
    val ctx = RunContext().withVars("input_path" -> dir, "output_path" -> outDir)
    assert(m.go(spark, ctx))
    assert(m.stats("files_written").value == 2)
    val aquatic = spark.read.json(s"$outDir/australian_aquatic_animals.json")
      .select("name").collect().map(_.getString(0)).toSeq
    assert(aquatic == Seq("Giant cuttlefish"))
    val poisonous = spark.read.json(s"$outDir/australian_poisonous_animals.json")
      .select("name").collect().map(_.getString(0)).toSeq
    assert(poisonous == Seq("Blue ringed octopus"))
  }

  test("SensorInputs: manifest build context + callable engine url") {
    val dir = tmp()
    val p = java.nio.file.Paths.get(dir)
    Files.writeString(p.resolve("manifest_20220511.json"),
      s"""{
         |"dataset_id" : "abc123",
         |"sensor_readings" : ["csv://$dir/file_a.csv",
         |                     "csv://$dir/file_b.csv"]
         |}""".stripMargin)
    Files.writeString(p.resolve("lookup_table_abc123.csv"),
      "sensor,station\ns1,north\ns2,south\n")
    Files.writeString(p.resolve("file_a.csv"), "sensor,v\ns1,1\ns1,2\n")
    Files.writeString(p.resolve("file_b.csv"), "sensor,v\ns2,3\n")

    val ctx = graft.model.Manifest.buildContext(s"$dir/manifest_20220511.json")
    // derived vars + manifest scalars land in the context
    assert(ctx.vars("manifest_file") == s"$dir/manifest_20220511.json")
    assert(ctx.vars("manifest_path") == dir)
    assert(ctx.vars("dataset_id") == "abc123")

    // callable engine url: minted at BIND time — it reads a var that is
    // still unset at declaration and only appears below
    var lateBound = ""
    val m = new SensorInputs(() => lateBound)
    lateBound = s"csv://$dir/file_*.csv"
    assert(m.go(spark, ctx))
    assert(m.stats("sensor_files").value == 2)
    assert(m.stats("sensor_rows").value == 3)
    assert(m.stats("lookup_rows").value == 2)
  }

  test("Manifest.buildContext rejects a non-object manifest") {
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(s"$dir/bad.json"), "[1, 2]")
    intercept[IllegalArgumentException] {
      graft.model.Manifest.buildContext(s"$dir/bad.json")
    }
  }

  test("curation pipeline: sample → dedup → filter → shard, conserved and deterministic") {
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("curate").toString
    def runOnce(tag: String): Array[org.apache.spark.sql.Row] = {
      val curate = new CurateCorpus(
        s"parquet://$sf0001/documents.parquet",
        s"parquet://$work/$tag/curated", samplePct = 80)
      val shard = new ShardCorpus(
        s"parquet://$work/$tag/curated",
        s"parquet://$work/$tag/sharded;partitionBy=shard",
        s"parquet://$work/$tag/manifest")
      val graph = new graft.model.ModelGraph(Seq(shard, curate))
      assert(graph.runOrder().map(_.map(_.name)) ==
        Seq(Seq("CurateCorpus"), Seq("ShardCorpus")))
      graph.run(spark)
      assert(curate.stats("docs_in").value == 500)
      assert(curate.stats("docs_kept").value > 0 &&
        curate.stats("docs_kept").value <= 500 * 80 / 100 + 50)
      spark.read.parquet(s"$work/$tag/manifest").orderBy("shard").collect()
    }
    val a = runOnce("a")
    val b = runOnce("b")
    // hash-derived sampling + sharding: bit-identical manifests across runs
    assert(a.toSeq == b.toSeq)
    assert(a.map(_.getAs[Long]("n_docs")).sum ==
      spark.read.parquet(s"$work/a/curated").count())
    // partitioned output directories exist per shard
    val shardDirs = new java.io.File(s"$work/a/sharded").listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(shardDirs.nonEmpty && shardDirs.length <= 8)
  }

  test("dimension maintenance: merge + audit with lifecycle checks") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("dim").toString
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v").write.parquet(s"$work/base")
    Seq((2L, "B", 22.0), (9L, "z", 90.0))
      .toDF("k", "s", "v").write.parquet(s"$work/changes")
    val m = new MaintainDimension(
      s"parquet://$work/base", s"parquet://$work/changes",
      s"parquet://$work/merged", s"parquet://$work/audit", "k")
    assert(m.go(spark))
    assert(m.stats("changes_in").value == 2)
    val merged = spark.read.parquet(s"$work/merged").orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("s")))
    assert(merged.toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c"), (9L, "z")))
    val audit = spark.read.parquet(s"$work/audit").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit == Map("added" -> 1L, "changed" -> 1L, "unchanged" -> 2L))
  }

  test("flagship curation DAG at sf0.1: golden counts, conservation, locks") {
    import org.apache.spark.sql.functions._
    val work = tmp()
    val stats = CurationFlagship.run(spark, "/root/testdata/sf0.1", work)
    // Golden counts: pinned from the first run; any change to dedup
    // banding, gates, decontamination or the mix silently altering the
    // corpus must fail here.
    assert(stats("NearDedupDocs.docs_in") == 5000L)
    assert(stats("NearDedupDocs.docs_kept") == GOLD_DEDUP_KEPT)
    assert(stats("QualityGateDocs.docs_kept") == GOLD_QUALITY_KEPT)
    assert(stats("DecontaminateDocs.docs_kept") == GOLD_CLEAN_KEPT)
    assert(stats("DomainMixDocs.docs_kept") == GOLD_MIXED_KEPT)
    // Stage-to-stage conservation: kept(n) == in(n+1) == kept + removed
    assert(stats("NearDedupDocs.docs_in") ==
      stats("NearDedupDocs.docs_kept") + stats("NearDedupDocs.dups_removed"))
    assert(stats("QualityGateDocs.docs_kept") +
      stats("QualityGateDocs.docs_rejected") == stats("NearDedupDocs.docs_kept"))
    assert(stats("DecontaminateDocs.docs_kept") +
      stats("DecontaminateDocs.docs_decontaminated") ==
      stats("QualityGateDocs.docs_kept"))
    assert(stats("DomainMixDocs.docs_kept") +
      stats("DomainMixDocs.docs_capped_out") == stats("DecontaminateDocs.docs_kept"))
    // Final corpus: manifest totals equal the shard write; every language
    // at or under the cap; locks written for every model.
    val manifest = spark.read.parquet(s"$work/manifest")
    assert(manifest.agg(sum("n_docs")).first().getLong(0) ==
      stats("DomainMixDocs.docs_kept"))
    val sharded = spark.read.parquet(s"$work/sharded")
    assert(sharded.count() == stats("DomainMixDocs.docs_kept"))
    assert(sharded.groupBy("lang").count()
      .filter(col("count") > 900).count() == 0)
    for (m <- Seq("NearDedupDocs", "QualityGateDocs", "DecontaminateDocs",
        "DomainMixDocs", "ShardCorpus")) {
      val lock = Files.readString(java.nio.file.Paths.get(s"$work/$m.lock.json"))
      assert(lock.contains("dataset."), s"$m lock doc must list datasets")
    }
    // Determinism: a second full run reproduces the same counters.
    val work2 = tmp()
    val stats2 = CurationFlagship.run(spark, "/root/testdata/sf0.1", work2)
    assert(stats2 == stats)
  }

  /** A serving pipeline over its own work dir. The file stream watches a
    * flat dir, so each drop's part file is moved there whole.
    */
  private class ServingFixture {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val work = tmp()
    val eventsDir = s"$work/events"; new java.io.File(eventsDir).mkdirs()
    val serving = s"$work/serving"; val ckpt = s"$work/ckpt"
    val dim = Seq((1L, "gold"), (2L, "silver"), (3L, "gold"))
      .toDF("user_id", "segment")

    def drop(tag: String, rows: Seq[(Long, String, Long, String, Double)]): Unit = {
      val stage = s"$work/stage_$tag"
      rows.toDF("event_id", "tss", "user_id", "event_type", "value")
        .select(col("event_id"), to_timestamp(col("tss")).as("ts"),
          col("user_id"), col("event_type"), col("value"),
          lit("{}").as("props"))
        .coalesce(1).write.parquet(stage)
      new java.io.File(stage).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        .zipWithIndex.foreach { case (f, i) =>
          Files.move(f.toPath, java.nio.file.Paths.get(s"$eventsDir/$tag-$i.parquet"))
        }
    }

    def refresh(): Unit =
      StreamingServing.refresh(spark, eventsDir, dim, serving, ckpt)

    private def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("hour", "segment", "n_events", "value_sp")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getLong(2), r.getLong(3))).toSet

    def table(): Set[(String, String, Long, Long)] = rows(spark.read.parquet(serving))

    /** The same rollup over a plain read of every landed file. */
    def batchOracle(): Set[(String, String, Long, Long)] =
      rows(StreamingServing.hourlyRollup(
        spark.read.parquet(eventsDir).dropDuplicates("event_id")
          .join(broadcast(dim), Seq("user_id"), "left")))
  }

  test("streaming serving pipeline: stream == batch, incremental across drops") {
    val f = new ServingFixture
    // drop 1: two hours of events, with an in-stream duplicate event_id
    f.drop("d1", Seq((1L, "2024-01-01 10:05:00", 1L, "view", 1.5),
      (1L, "2024-01-01 10:06:00", 1L, "view", 99.0), // dup: dropped
      (2L, "2024-01-01 10:20:00", 2L, "buy", 10.0),
      (3L, "2024-01-01 11:10:00", 3L, "view", 2.0)))
    f.refresh()
    assert(f.table() == Set(
      ("2024-01-01 10:00:00.0", "gold", 1L, 1500000L),
      ("2024-01-01 10:00:00.0", "silver", 1L, 10000000L),
      ("2024-01-01 11:00:00.0", "gold", 1L, 2000000L)))
    // drop 2: a NEW file lands — one more event in an EXISTING window and
    // one in a new window; refresh reprocesses only the new file and the
    // merge updates/extends exactly those keys
    f.drop("d2", Seq((4L, "2024-01-01 10:45:00", 3L, "view", 0.5),
      (5L, "2024-01-01 12:00:00", 2L, "buy", 4.0)))
    f.refresh()
    val expected = Set(
      ("2024-01-01 10:00:00.0", "gold", 2L, 2000000L), // 1.5 + 0.5
      ("2024-01-01 10:00:00.0", "silver", 1L, 10000000L),
      ("2024-01-01 11:00:00.0", "gold", 1L, 2000000L),
      ("2024-01-01 12:00:00.0", "silver", 1L, 4000000L))
    assert(f.table() == expected, s"got ${f.table()}")
    // batch oracle: the same rollup over a plain read of all files equals
    // the incrementally-maintained serving table
    assert(f.batchOracle() == expected, s"batch oracle got ${f.batchOracle()}")
  }

  test("streaming serving: one micro-batch per refresh, none without new files") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    // Listener events arrive asynchronously; a query's progress events
    // are posted before its termination event, so once `terminated`
    // grows, every progress event of that refresh has been seen. Only
    // queries started under this listener count: a late event of an
    // earlier spec's query must not.
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val progress = new java.util.concurrent.atomic.AtomicInteger()
    val terminated = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = started.add(e.runId)
      def onQueryProgress(e: QueryProgressEvent): Unit =
        if (started.contains(e.progress.runId)) progress.incrementAndGet()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (started.contains(e.runId)) terminated.incrementAndGet()
    }
    def batchesOf(refresh: => Unit): Int = {
      val (p0, t0) = (progress.get, terminated.get)
      refresh
      val deadline = System.nanoTime() + 30000000000L
      while (terminated.get == t0 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(terminated.get == t0 + 1, "refresh query never reported termination")
      progress.get - p0
    }
    val f = new ServingFixture
    spark.streams.addListener(listener)
    try {
      f.drop("d1", Seq((1L, "2024-01-01 10:05:00", 1L, "view", 1.5),
        (2L, "2024-01-01 13:20:00", 2L, "buy", 10.0)))
      assert(batchesOf(f.refresh()) == 1)
      f.drop("d2", Seq((3L, "2024-01-01 15:00:00", 3L, "view", 2.0)))
      assert(batchesOf(f.refresh()) == 1)
      assert(batchesOf(f.refresh()) == 0)
    } finally spark.streams.removeListener(listener)
  }

  test("streaming serving restores the no-data-batch conf, also when a batch fails") {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val saved = spark.conf.getAll.get(key)
    try {
      spark.conf.unset(key)
      val ok = new ServingFixture
      ok.drop("d1", Seq((1L, "2024-01-01 10:05:00", 1L, "view", 1.5)))
      ok.refresh()
      assert(!spark.conf.getAll.contains(key))
      // A serving "table" that is not parquet: the batch's merge fails.
      spark.conf.set(key, "true")
      val bad = new ServingFixture
      Files.writeString(java.nio.file.Paths.get(bad.serving), "not parquet")
      bad.drop("d1", Seq((1L, "2024-01-01 10:05:00", 1L, "view", 1.5)))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](bad.refresh())
      assert(spark.conf.getAll.get(key).contains("true"))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming serving == batch oracle over three drops, a re-send and an idle refresh") {
    val f = new ServingFixture
    f.drop("d1", Seq((1L, "2024-01-01 10:05:00", 1L, "view", 1.5),
      (2L, "2024-01-01 10:20:00", 2L, "buy", 10.0),
      (3L, "2024-01-01 11:10:00", 3L, "view", 2.0)))
    f.refresh()
    assert(f.table() == f.batchOracle())
    // Event 2 is delivered again, well within the 2 h watermark: the
    // dedup state still holds it, so it is not counted twice.
    f.drop("d2", Seq((2L, "2024-01-01 10:20:00", 2L, "buy", 10.0),
      (4L, "2024-01-01 10:45:00", 3L, "view", 0.5),
      (5L, "2024-01-01 12:00:00", 2L, "buy", 4.0)))
    f.refresh()
    val afterD2 = f.table()
    assert(afterD2 == f.batchOracle())
    assert(afterD2.toSeq.map(_._3).sum == 5L) // events 1-5, once each
    // No new files: the refresh runs no batch and leaves the table as is.
    f.refresh()
    assert(f.table() == afterD2)
    // Drop 3 carries a row at 09:40, behind the 10:00 watermark that
    // drop 2 reached. Late rows are cut at the watermark the previous
    // refresh started with (09:10, from drop 1), so it still counts.
    f.drop("d3", Seq((6L, "2024-01-01 13:30:00", 1L, "view", 2.5),
      (7L, "2024-01-01 14:15:00", 3L, "buy", 1.0),
      (8L, "2024-01-01 09:40:00", 2L, "view", 3.0)))
    f.refresh()
    val end = f.table()
    assert(end == f.batchOracle(), s"serving $end, batch ${f.batchOracle()}")
    assert(end.contains(("2024-01-01 09:00:00.0", "silver", 1L, 3000000L)))
    assert(end.toSeq.map(_._3).sum == 8L)
  }

  test("streaming ingest dedup: incremental verdicts, decision equals batch replay") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // VERDICT r12 #6: the end-to-end neardupVerifyStream pipeline —
    // documents land as files, verdicts accumulate, the thresholded
    // decision joins back to the corpus. Golden-checked against a batch
    // replay of the SAME rule (pairs from the oracle-anchored band keys,
    // m16 from the signatures, drop the larger id of a confirmed pair).
    val work = tmp()
    val docsDir = s"$work/docs"; new java.io.File(docsDir).mkdirs()
    val edges = s"$work/dup_edges"; val unique = s"$work/unique"
    val ckpt = s"$work/ckpt"
    val all = Tables.load(spark, sf0001, "documents")
    def drop(tag: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val stage = s"$work/stage_$tag"
      df.coalesce(1).write.parquet(stage)
      new java.io.File(stage).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        .zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$docsDir/$tag-$i.parquet"))
        }
    }
    // batch replay of the online rule over a doc subset
    def oracle(docs: org.apache.spark.sql.DataFrame): (Set[(Long, Long, Long)], Set[Long]) = {
      val d = docs.select("doc_id", "text")
      val sigOf = graft.operators.Dedup.lshSignatureRowwise(d)
        .as[(Long, Seq[Long])].collect().toMap
      val pairs = graft.operators.Dedup.lshBandKeys(d)
        .as[(Long, Long, String)].collect().toSeq
        .groupBy(r => (r._2, r._3)).values.flatMap { ds =>
          val ids = ds.map(_._1).distinct.sorted
          for (i <- ids.indices; j <- (i + 1) until ids.length) yield {
            val m16 = sigOf(ids(i)).iterator.zip(sigOf(ids(j)).iterator)
              .count { case (a, b) => a == b }
            (ids(i), ids(j), m16.toLong)
          }
        }.toSet
      val confirmed = pairs.filter(_._3 >= 8L)
      (confirmed, confirmed.map(_._2))
    }
    def uniqueIds() = spark.read.parquet(unique)
      .select("doc_id").as[Long].collect().toSet
    // drop 1: the first half of the corpus, by ingest id
    drop("d1", all.filter(col("doc_id") < 250))
    StreamingIngestDedup.refresh(spark, docsDir, edges, unique, ckpt)
    val (_, drops1) = oracle(all.filter(col("doc_id") < 250))
    val ids1 = all.filter(col("doc_id") < 250)
      .select("doc_id").as[Long].collect().toSet
    assert(uniqueIds() == ids1 -- drops1,
      s"after drop 1: ${uniqueIds().size} vs ${(ids1 -- drops1).size}")
    // drop 2: the rest lands; refresh processes ONLY the new files, but
    // new docs pair against the accumulated stream state — the decision
    // must equal the batch replay over the WHOLE corpus
    drop("d2", all.filter(col("doc_id") >= 250))
    StreamingIngestDedup.refresh(spark, docsDir, edges, unique, ckpt)
    val (confirmed, dropsAll) = oracle(all)
    val allIds = all.select("doc_id").as[Long].collect().toSet
    assert(dropsAll.nonEmpty, "fixture must contain confirmed near-dups")
    assert(drops1.size < dropsAll.size,
      "drop 2 must confirm additional duplicates")
    assert(uniqueIds() == allIds -- dropsAll,
      s"final: ${uniqueIds().size} vs ${(allIds -- dropsAll).size}")
    // the maintained edge table IS the confirmed verdict set, m16 intact
    val gotEdges = spark.read.parquet(edges)
      .select("id_a", "id_b", "m16")
      .as[(Long, Long, Long)].collect().toSet
    assert(gotEdges == confirmed,
      s"edges: ${gotEdges.size} vs ${confirmed.size}")
    // golden pins: silent changes to banding/threshold fail here
    assert(allIds.size == 500, s"corpus size ${allIds.size}")
    assert(uniqueIds().size == GOLD_STREAM_UNIQUE,
      s"unique count ${uniqueIds().size}")
  }

  // Golden values pinned from the first sf0.1 run (see test above).
  private val GOLD_DEDUP_KEPT = 4756L
  private val GOLD_QUALITY_KEPT = 4507L
  private val GOLD_CLEAN_KEPT = 3169L
  private val GOLD_MIXED_KEPT = 2739L
  // Pinned from the first sf0.001 streaming-ingest-dedup run: 500 docs
  // in, 24 confirmed near-dups (m16 >= 8) dropped.
  private val GOLD_STREAM_UNIQUE = 476L
}
