package graft

import java.time.LocalDateTime
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.config.JobConfig
import graft.etl.Ops
import graft.io.Readers
import graft.jobs.Jobs
import graft.schema.Schemas

/** Golden end-to-end test of the full job dataflow: read -> split ->
  * map -> explode -> decorate -> assemble -> [delta] -> stamp -> write
  * -> state, against a reference-shaped jobRoot layout.
  */
class JobsSpec extends SparkSpec {
  import spark.implicits._

  private def writeFixtures(root: String): Unit = {
    // Batch inference output: 2 ok with recs, 1 ok with null recs, 1 error.
    Seq(
      """{"input":{"itemId":"i1"},"output":{"recommendedItems":["p1","p2"]}}""",
      """{"input":{"itemId":"i2"},"output":{"recommendedItems":["p2"]}}""",
      """{"input":{"itemId":"i3"},"output":{"recommendedItems":null}}""",
      """{"input":{"itemId":"i4"},"error":"SIMULATED"}"""
    ).toDF("value").coalesce(1).write.mode("overwrite")
      .text(s"$root/input/batch")
    // User-item mapping: i1 -> two users (fan-out), i2/i3 -> one.
    Seq(("u1", "i1"), ("u2", "i1"), ("u1", "i2"), ("u3", "i3"))
      .toDF("USER_ID", "ITEM_ID").coalesce(1)
      .write.mode("overwrite").option("header", "true")
      .csv(s"$root/input/user_item_mapping")
    // Item metadata for p1 only: p2 is a decorate miss.
    Seq("""{"id":"p1","brand":"B1","price":"9.99"}""").toDF("value")
      .coalesce(1).write.mode("overwrite")
      .text(s"$root/input/item_metadata")
  }

  private def config(root: String, delta: Boolean) = JobConfig.parse(
    s"""{"batchInferencePath": "$root/input/batch",
       |"performDeltaCheck": $delta,
       |"saveBatchInferenceErrors": true,
       |"connectors": {"braze": {"itemMetadataFields": ["brand"],
       |  "attributePrefix": "rec_",
       |  "otherAttributes": {"country": "US"}}}}""".stripMargin)

  test("related-items job end-to-end: layout, decoration, stamping") {
    val root = tmpDir("job")
    writeFixtures(root)
    val clock = LocalDateTime.of(2024, 1, 2, 3, 4, 5)
    val result = Jobs.run(spark, Jobs.RelatedItems, root, "ri_job",
      config(root, delta = false), clock)

    // Errors written to the run-partitioned errors dir.
    assert(result.errorsDir.exists(_.endsWith(
      "errors/related_items/year=2024/month=01/day=02/time=030405")))
    assert(spark.read.json(result.errorsDir.get).count() == 1)

    // Connector output: one row per (queryItemId, userId) group.
    val out = result.connectors.head
    assert(out.outputDir.endsWith(
      "output/braze/year=2024/month=01/day=02/time=030405"))
    val df = spark.read.json(out.outputDir)
    assert(out.rowsWritten == 4) // (i1,u1)(i1,u2)(i2,u1)(i3,u3)
    // Decoration: p1 carries brand B1, p2 exists with null brand (miss).
    val i1u1 = df.where(col("queryItemId") === "i1" && col("userId") === "u1")
      .select(explode(col("recommendations")).as("r"))
      .select("r.itemId", "r.brand").orderBy("itemId").collect()
    assert(i1u1.map(_.getString(0)).toSeq == Seq("p1", "p2"))
    assert(i1u1(0).getString(1) == "B1" && i1u1(1).isNullAt(1))
    // Null-rec parent keeps an empty recommendations array.
    assert(df.where(col("queryItemId") === "i3")
      .select(size(col("recommendations"))).as[Int].collect().head == 0)
    // Stamps.
    val stamp = df.select("jobInfo.name", "jobInfo.runDateTime",
      "syncDirectives.attributePrefix", "syncDirectives.country")
      .distinct().collect()
    assert(stamp.toSeq == Seq(
      org.apache.spark.sql.Row("ri_job", "2024-01-02T03:04:05.000",
        "rec_", "US")))
  }

  private def unchangedRerun(tag: String): Unit = {
    val root = tmpDir(tag)
    writeFixtures(root)
    val cfg = config(root, delta = true)
    val r1 = Jobs.run(spark, Jobs.RelatedItems, root, "j",
      cfg, LocalDateTime.of(2024, 1, 1, 0, 0, 0))
    assert(r1.connectors.head.rowsWritten == 4) // no state yet: full sync
    val r2 = Jobs.run(spark, Jobs.RelatedItems, root, "j",
      cfg, LocalDateTime.of(2024, 1, 2, 0, 0, 0))
    assert(r2.connectors.head.rowsWritten == 0) // nothing changed
    // The rerun still records the batch's one error line.
    assert(r2.errorsDir.exists(_.endsWith("day=02/time=000000")))
    assert(spark.read.json(r2.errorsDir.get).count() == 1)
    // State still holds the full snapshot after the empty delta run.
    assert(spark.read.json(s"$root/output/braze/state").count() == 4)
  }

  test("delta check across runs: second unchanged run emits zero rows") {
    unchangedRerun("jobdelta")
  }

  test("unchanged rerun without broadcast joins: empty delta, errors kept") {
    // Broadcast off, the EXCEPT against state sort-merges, AQE proves the
    // rerun's delta empty and the error-count observation never arrives;
    // the run must fall back to the probe-gated errors write instead of
    // failing on the missing count.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try unchangedRerun("jobdeltanobc")
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("keyed state format: O(delta) syncs with upserts and tombstones") {
    val root = tmpDir("jobkeyed")
    writeFixtures(root)
    val cfg = JobConfig.parse(
      s"""{"batchInferencePath": "$root/input/batch",
         |"performDeltaCheck": true,
         |"stateFormat": "keyed",
         |"connectors": {"braze": {"itemMetadataFields": ["brand"]}}}"""
        .stripMargin)
    def runAt(day: Int) = Jobs.run(spark, Jobs.RelatedItems, root, "j",
      cfg, LocalDateTime.of(2024, 1, day, 0, 0, 0))

    assert(runAt(1).connectors.head.rowsWritten == 4) // cold: full sync

    // i2's recs change, i3 disappears, i1 untouched.
    Seq(
      """{"input":{"itemId":"i1"},"output":{"recommendedItems":["p1","p2"]}}""",
      """{"input":{"itemId":"i2"},"output":{"recommendedItems":["p9"]}}"""
    ).toDF("value").coalesce(1).write.mode("overwrite")
      .text(s"$root/input/batch")
    assert(runAt(2).connectors.head.rowsWritten == 1) // only (i2,u1)

    // Current state = i1's two rows + updated i2; i3 tombstoned out.
    val stateDir = s"$root/output/braze/state_keyed"
    val st = graft.io.StateTable.readLatest(spark, stateDir,
      Seq("queryItemId", "userId"))
    assert(st.count() == 3)
    assert(st.where(col("queryItemId") === "i3").count() == 0)

    // i3 reappears with its original payload: the tombstone (not some
    // stale row) is what the delta compares against, so it re-emits.
    writeFixtures(root)
    assert(runAt(3).connectors.head.rowsWritten == 2) // i3 back, i2 revert
    assert(graft.io.StateTable.versions(spark, stateDir).size == 3)
  }

  test("keyed state WITHOUT delta check still tombstones removed keys") {
    val root = tmpDir("jobkeyednodelta")
    writeFixtures(root)
    val cfg = JobConfig.parse(
      s"""{"batchInferencePath": "$root/input/batch",
         |"performDeltaCheck": false,
         |"stateFormat": "keyed",
         |"connectors": {"braze": {"itemMetadataFields": ["brand"]}}}"""
        .stripMargin)
    def runAt(day: Int) = Jobs.run(spark, Jobs.RelatedItems, root, "j",
      cfg, LocalDateTime.of(2024, 1, day, 0, 0, 0))

    assert(runAt(1).connectors.head.rowsWritten == 4)

    // i3 disappears from the source; with the check off, every sync is a
    // full snapshot — but state must still DROP the vanished key, exactly
    // as the snapshot format (wholesale rewrite) would.
    Seq(
      """{"input":{"itemId":"i1"},"output":{"recommendedItems":["p1","p2"]}}""",
      """{"input":{"itemId":"i2"},"output":{"recommendedItems":["p2"]}}"""
    ).toDF("value").coalesce(1).write.mode("overwrite")
      .text(s"$root/input/batch")
    assert(runAt(2).connectors.head.rowsWritten == 3) // full re-sync

    val st = graft.io.StateTable.readLatest(spark,
      s"$root/output/braze/state_keyed", Seq("queryItemId", "userId"))
    assert(st.count() == 3)
    assert(st.where(col("queryItemId") === "i3").count() == 0)
  }

  /** What `listener` tallies into its counter while `body` runs; polls
    * the async listener bus until the counter goes quiet.
    */
  private def tallyDuring(listener: AtomicLong => SparkListener)(
      body: => Unit): Long = {
    val acc = new AtomicLong
    val l = listener(acc)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var prev = -1L
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val cur = acc.get
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
      acc.get
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Total external+cached records read by tasks while `body` runs. */
  private def recordsReadDuring(body: => Unit): Long =
    tallyDuring(acc => new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          acc.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    })(body)

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Long =
    tallyDuring(acc => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        acc.incrementAndGet()
    })(body)

  test("connector loop shares ONE scan of the batch input across connectors") {
    // Sizeable input so a per-connector re-scan would be visible in the
    // task input metrics: 500 users, 2 recs each.
    def fixture(tag: String): String = {
      val root = tmpDir(tag)
      (1 to 500).map(i =>
        s"""{"input":{"userId":"u$i"},"output":{"recommendedItems":["a$i","b$i"]}}""")
        .toDF("value").coalesce(1).write.mode("overwrite")
        .text(s"$root/input/batch")
      root
    }
    def cfg(root: String, connectors: String) = JobConfig.parse(
      s"""{"batchInferencePath": "$root/input/batch",
         |"connectors": {$connectors}}""".stripMargin)
    val clock = LocalDateTime.of(2024, 1, 1, 0, 0, 0)

    val root1 = fixture("share1")
    val rr1 = recordsReadDuring {
      Jobs.run(spark, Jobs.UserPersonalization, root1, "j",
        cfg(root1, """"a": {}"""), clock)
    }
    val root2 = fixture("share2")
    val rr2 = recordsReadDuring {
      val r = Jobs.run(spark, Jobs.UserPersonalization, root2, "j",
        cfg(root2, """"a": {}, "b": {}"""), clock)
      assert(r.connectors.map(_.rowsWritten) == Seq(500L, 500L))
    }
    // The second connector must reuse the persisted upstream: it may read
    // the (small) cached assembled frame again, but NOT re-scan the batch
    // input and rebuild the chain — which would roughly double the reads.
    assert(rr2 < (rr1 * 1.6).toLong,
      s"two-connector run read $rr2 records vs $rr1 for one connector")
  }

  test("connectors with different field lists share ONE decorate+assemble") {
    // Three field lists — a subset, the same fields reordered, and all
    // (empty list) — over two snapshot syncs; in the second, i2's recs
    // change. Each connector's output and state must be byte for byte
    // what a decorate+assemble with its OWN list builds, struct field
    // order included.
    val fieldLists = Map("a" -> Seq("brand"),
      "b" -> Seq("price", "brand"), "c" -> Seq.empty[String])
    def cfgFor(root: String, lists: Map[String, Seq[String]]) =
      JobConfig.parse(s"""{"batchInferencePath": "$root/input/batch",
        |"performDeltaCheck": true,
        |"connectors": {${lists.map { case (c, fs) =>
          s""""$c": {"itemMetadataFields": [${
            fs.map(f => s""""$f"""").mkString(",")}]}"""
        }.mkString(",")}}}""".stripMargin)
    def fixture(tag: String): String = {
      val root = tmpDir(tag)
      writeFixtures(root)
      Seq("""{"id":"p1","brand":"B1","price":"9.99"}""",
        """{"id":"p9","price":"1.50"}""").toDF("value")
        .coalesce(1).write.mode("overwrite")
        .text(s"$root/input/item_metadata")
      root
    }
    def changeI2(root: String): Unit =
      Seq(
        """{"input":{"itemId":"i1"},"output":{"recommendedItems":["p1","p2"]}}""",
        """{"input":{"itemId":"i2"},"output":{"recommendedItems":["p9","p1"]}}""",
        """{"input":{"itemId":"i3"},"output":{"recommendedItems":null}}""",
        """{"input":{"itemId":"i4"},"error":"SIMULATED"}"""
      ).toDF("value").coalesce(1).write.mode("overwrite")
        .text(s"$root/input/batch")
    // The per-connector chain: decorate and assemble with one list alone.
    def reference(root: String, fields: Seq[String]): DataFrame = {
      val (ok, _) = Ops.splitErrors(Readers.jsonl(spark,
        s"$root/input/batch", Schemas.relatedItemsBatchInference))
      val mapping = Readers.csv(spark, s"$root/input/user_item_mapping",
        Schemas.userItemMapping)
      val exploded = Ops.explodeRecs(Ops.mapUsers(ok, mapping),
        "input.itemId", "queryItemId", Seq("USER_ID" -> "userId"))
      val built = Ops.assembleRecommendations(Ops.decorate(exploded,
        Readers.jsonlInferIfExists(spark, s"$root/input/item_metadata"),
        fields), Jobs.RelatedItems.groupKeys)
      // detached from the input files, which the next sync overwrites
      spark.createDataFrame(built.collect().toSeq.asJava, built.schema)
    }
    def lines(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq.sorted
    def written(dir: String): Seq[String] =
      spark.read.text(dir).as[String].collect().toSeq.sorted
    def stamp(df: DataFrame, clock: LocalDateTime) =
      Ops.stampJobInfo(df, "j", Jobs.runDateTimeFmt.format(clock),
        Some(("recommendation_", Map.empty[String, String])))
    val day1 = LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    val day2 = LocalDateTime.of(2024, 1, 2, 0, 0, 0)

    val root = fixture("jobfields")
    val cfg = cfgFor(root, fieldLists)
    val want1 = fieldLists.map { case (c, fs) => c -> reference(root, fs) }
    val r1 = Jobs.run(spark, Jobs.RelatedItems, root, "j", cfg, day1)
    changeI2(root)
    val want2 = fieldLists.map { case (c, fs) => c -> reference(root, fs) }
    val r2 = Jobs.run(spark, Jobs.RelatedItems, root, "j", cfg, day2)
    for ((c, _) <- fieldLists) {
      val out1 = r1.connectors.find(_.connector == c).get
      val out2 = r2.connectors.find(_.connector == c).get
      assert(written(out1.outputDir) == lines(stamp(want1(c), day1)), c)
      val delta = Ops.deltaCheck(want2(c), want1(c))
      assert(written(out2.outputDir) == lines(stamp(delta, day2)), c)
      assert(out2.rowsWritten == 1, c) // only (i2, u1) changed
      assert(written(s"$root/output/$c/state") == lines(want2(c)), c)
    }
    assert(written(s"$root/output/a/state").head.contains(
      """"recommendations":[{"itemId":"p1","brand":"B1"}"""))
    assert(written(s"$root/output/b/state").head.contains(
      """"recommendations":[{"itemId":"p1","price":"9.99","brand":"B1"}"""))

    // A second decorate+assemble subtree per field list would add Spark
    // jobs (its own broadcast and grouping): the mixed-list job must start
    // exactly as many as one whose connectors all ask for the same list.
    def jobsPerSync(lists: Map[String, Seq[String]], tag: String) = {
      val root = fixture(tag)
      val cfg = cfgFor(root, lists)
      val first = jobsDuring(
        Jobs.run(spark, Jobs.RelatedItems, root, "j", cfg, day1))
      changeI2(root)
      (first, jobsDuring(
        Jobs.run(spark, Jobs.RelatedItems, root, "j", cfg, day2)))
    }
    val mixed = jobsPerSync(fieldLists, "jobfieldsmixed")
    val uniform = jobsPerSync(fieldLists.map(_._1 -> Seq.empty[String]),
      "jobfieldsuniform")
    assert(mixed == uniform,
      s"jobs per sync with three field lists $mixed vs one list $uniform")
  }

  test("errors gate adds no input scan on a clean (zero-errors) run") {
    def fixture(tag: String): String = {
      val root = tmpDir(tag)
      (1 to 500).map(i =>
        s"""{"input":{"userId":"u$i"},"output":{"recommendedItems":["a$i","b$i"]}}""")
        .toDF("value").coalesce(1).write.mode("overwrite")
        .text(s"$root/input/batch")
      root
    }
    def cfg(root: String, save: Boolean) = JobConfig.parse(
      s"""{"batchInferencePath": "$root/input/batch",
         |"saveBatchInferenceErrors": $save,
         |"connectors": {"a": {}}}""".stripMargin)
    val clock = LocalDateTime.of(2024, 1, 1, 0, 0, 0)

    val rootOff = fixture("errgateoff")
    val rrOff = recordsReadDuring {
      val r = Jobs.run(spark, Jobs.UserPersonalization, rootOff, "j",
        cfg(rootOff, save = false), clock)
      assert(r.errorsDir.isEmpty)
    }
    val rootOn = fixture("errgateon")
    val rrOn = recordsReadDuring {
      val r = Jobs.run(spark, Jobs.UserPersonalization, rootOn, "j",
        cfg(rootOn, save = true), clock)
      assert(r.errorsDir.isEmpty)
    }
    // The observe-based gate decides emptiness driver-side: enabling the
    // errors sink on a clean run must NOT re-scan the batch input. The
    // old isEmpty probe re-read all 500 input records to prove emptiness.
    assert(rrOn < rrOff + 250,
      s"clean run with errors sink enabled read $rrOn records vs $rrOff " +
        "with it disabled — the emptiness gate is scanning the input")
  }

  test("errors survive a mid-loop connector failure") {
    // Two connectors, sorted "a" then "zz_broken"; a plain FILE squats on
    // zz_broken's output dir so its write throws AFTER connector "a"
    // succeeded. The error records — the diagnostics for debugging the
    // crashed run — must already be on disk (reference writes errors
    // before any connector send, related_items_etl.py:114-132).
    val root = tmpDir("joberrmid")
    writeFixtures(root)
    val cfg = JobConfig.parse(
      s"""{"batchInferencePath": "$root/input/batch",
         |"saveBatchInferenceErrors": true,
         |"connectors": {"a": {}, "zz_broken": {}}}""".stripMargin)
    new java.io.File(s"$root/output").mkdirs()
    assert(new java.io.File(s"$root/output/zz_broken").createNewFile())
    val clock = LocalDateTime.of(2024, 1, 2, 3, 4, 5)
    intercept[Exception] {
      Jobs.run(spark, Jobs.RelatedItems, root, "j", cfg, clock)
    }
    val errDir =
      s"$root/errors/related_items/year=2024/month=01/day=02/time=030405"
    assert(spark.read.json(errDir).count() == 1,
      "mid-loop connector failure lost the error records")
  }

  test("errors survive a failure of the FIRST connector write") {
    // The failing action IS the one carrying the error-count observation,
    // so the fallback probe path must kick in on the failure path.
    val root = tmpDir("joberrfirst")
    writeFixtures(root)
    val cfg = JobConfig.parse(
      s"""{"batchInferencePath": "$root/input/batch",
         |"saveBatchInferenceErrors": true,
         |"connectors": {"only": {}}}""".stripMargin)
    new java.io.File(s"$root/output").mkdirs()
    assert(new java.io.File(s"$root/output/only").createNewFile())
    val clock = LocalDateTime.of(2024, 1, 2, 3, 4, 5)
    intercept[Exception] {
      Jobs.run(spark, Jobs.RelatedItems, root, "j", cfg, clock)
    }
    val errDir =
      s"$root/errors/related_items/year=2024/month=01/day=02/time=030405"
    assert(spark.read.json(errDir).count() == 1,
      "first-connector failure lost the error records")
  }

  test("errors survive a metadata field the metadata does not have") {
    // The shared decorate fails analysis before any connector writes.
    val root = tmpDir("joberrfield")
    writeFixtures(root)
    val cfg = JobConfig.parse(
      s"""{"batchInferencePath": "$root/input/batch",
         |"connectors": {"a": {"itemMetadataFields": ["color"]}}}"""
        .stripMargin)
    intercept[Exception] {
      Jobs.run(spark, Jobs.RelatedItems, root, "j", cfg,
        LocalDateTime.of(2024, 1, 2, 3, 4, 5))
    }
    val errDir =
      s"$root/errors/related_items/year=2024/month=01/day=02/time=030405"
    assert(spark.read.json(errDir).count() == 1)
  }

  test("user-personalization spec: no mapping, keyed by queryUserId") {
    val root = tmpDir("jobup")
    Seq(
      """{"input":{"userId":"u1"},"output":{"recommendedItems":["p1"]}}""",
      """{"input":{"userId":"u2"},"output":{"recommendedItems":["p1","p2"]}}"""
    ).toDF("value").coalesce(1).write.mode("overwrite")
      .text(s"$root/input/batch")
    val cfg = JobConfig.parse(
      s"""{"batchInferencePath": "$root/input/batch",
         |"connectors": {"braze": {}}}""".stripMargin)
    val result = Jobs.run(spark, Jobs.UserPersonalization, root, "up",
      cfg, LocalDateTime.of(2024, 1, 1, 0, 0, 0))
    val df = spark.read.json(result.connectors.head.outputDir)
    assert(result.connectors.head.rowsWritten == 2)
    assert(df.columns.contains("queryUserId"))
    assert(df.where(col("queryUserId") === "u2")
      .select(size(col("recommendations"))).as[Int].collect().head == 2)
  }
}
