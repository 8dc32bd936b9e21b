package syncbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.UUID
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SyncbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec,
  QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.connector.Sinks
import graft.etl.Ops
import graft.io.{Readers, StateTable, Writers}
import graft.jobs.Jobs
import graft.schema.Schemas

/** The traced run: per-layer numbers, never end-to-end ones.
  *
  *  1. Untraced and traced `Jobs.run` syncs alternate until the run's
  *     time is up; the traced ones run inside one span each with a
  *     SparkListener and a QueryExecutionListener attached, which give
  *     the `jobs.*` counters. The first traced sync is followed by an
  *     unchanged rerun of the same sync (the retry case).
  *  2. One replay of the chain through the public functions of each
  *     layer, every layer's input materialized before its span opens.
  *
  * Spans are kept in memory and written once, at the end.
  */
object Trace {

  /** Every per-layer metric and its unit. */
  val Layer: Seq[(String, String)] = Seq(
    "readers.batch_s" -> "s", "readers.batch_lines" -> "count",
    "readers.mapping_s" -> "s", "readers.metadata_s" -> "s",
    "ops.split_s" -> "s", "ops.error_rows" -> "count",
    "ops.map_users_s" -> "s", "ops.fanout_ratio" -> "ratio",
    "ops.explode_s" -> "s", "ops.exploded_rows" -> "count",
    "ops.decorate_s" -> "s", "ops.decorate_miss_frac" -> "ratio",
    "ops.assemble_s" -> "s", "ops.groups" -> "count", "ops.stamp_s" -> "s",
    "ops.delta_s" -> "s", "ops.delta_kept_frac" -> "ratio",
    "writers.output_s" -> "s", "writers.output_mb" -> "MB",
    "writers.output_files" -> "count", "writers.state_s" -> "s",
    "writers.state_mb" -> "MB", "writers.errors_s" -> "s",
    "state.read_latest_s" -> "s", "state.append_s" -> "s",
    "state.compact_s" -> "s", "state.versions" -> "count",
    "state.mb" -> "MB",
    "sinks.queue_s" -> "s", "sinks.messages" -> "count",
    "sinks.rest_s" -> "s", "sinks.posts" -> "count",
    "sinks.retry_frac" -> "ratio", "sinks.dead_letters" -> "count",
    "jobs.spark_jobs" -> "count", "jobs.tasks" -> "count",
    "jobs.shuffle_mb" -> "MB", "jobs.spill_mb" -> "MB",
    "jobs.planning_s" -> "s", "jobs.input_reads_per_line" -> "ratio",
    "jobs.gc_s" -> "s", "jobs.leaked_rdds" -> "count",
    "jobs.rerun_failed" -> "count", "jobs.peak_heap_mb" -> "MB",
    "trace.overhead_frac" -> "ratio", "trace.replay_frac" -> "ratio")

  /** The metrics whose layer runs on every workload: these are the ones
    * printed on standard output. The others are absent where their
    * layer does not run and appear only in the layer file.
    */
  val Absentable: Set[String] = Set(
    "readers.mapping_s", "readers.metadata_s", "ops.map_users_s",
    "ops.fanout_ratio", "ops.decorate_miss_frac", "ops.delta_s",
    "ops.delta_kept_frac", "writers.state_s", "writers.state_mb",
    "state.read_latest_s", "state.append_s", "state.compact_s",
    "state.versions", "state.mb")
  val OnEveryWorkload: Seq[(String, String)] =
    Layer.filterNot(m => Absentable(m._1))

  final case class Span(id: Int, name: String, parent: Int, rep: Int,
      startNs: Long, endNs: Long) {
    def json: String =
      s"""{"id": $id, "name": "$name", "parent": $parent, "rep": $rep, """ +
        s""""start_ms": ${startNs / 1e6}, "end_ms": ${endNs / 1e6}}"""
  }

  final class Tracer {
    private val origin = System.nanoTime
    private var stack = List.empty[Int]
    private var next = 0
    val spans = mutable.ArrayBuffer.empty[Span]
    var rep = 0

    def span[T](name: String)(f: => T): T = {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = System.nanoTime - origin
      try f finally {
        stack = stack.tail
        spans += Span(id, name, parent, rep, start, System.nanoTime - origin)
      }
    }

    /** Span duration minus the part its child spans cover, in seconds. */
    def selfS(s: Span): Double = (s.endNs - s.startNs -
      spans.filter(_.parent == s.id).map(c => c.endNs - c.startNs).sum) / 1e9
  }

  /** Spark-side counters of one traced sync. */
  final class Counters extends SparkListener with QueryExecutionListener {
    val jobs, tasks, shuffleBytes, spillBytes, planningMs = new AtomicLong
    // File scans seen, by identity: a cached plan appears in every query
    // that reads the cache but ran once.
    private val scans = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      seen(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = seen(qe)

    private def seen(qe: QueryExecution): Unit = synchronized {
      planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
      collectScans(qe.executedPlan)
    }
    private def collectScans(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => collectScans(a.executedPlan)
      case s: QueryStageExec => collectScans(s.plan)
      case m: InMemoryTableScanExec => collectScans(m.relation.cachedPlan)
      case c: CommandResultExec => collectScans(c.commandPhysicalPlan)
      case f: FileSourceScanExec => scans.add(f)
      case other =>
        other.children.foreach(collectScans)
        other.subqueries.foreach(collectScans)
    }

    /** Bytes of files the sync's scans listed. */
    def scannedBytes: Long = synchronized {
      scans.asScala.toSeq.map(_.metrics.get("filesSize")
        .map(_.value).getOrElse(0L)).sum
    }
  }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  def run(ctx: Ctx, seconds: Double, warm: Bench.Rep, traces: File,
      seed: Long): Result = {
    val spark = ctx.spark
    val wl = ctx.wl
    val tracer = new Tracer
    val untraced = mutable.ArrayBuffer.empty[Double]
    var rerunFailed = 0.0
    val fused = Runner.loop(seconds) {
      untraced += sync(ctx, None)._1
      tracer.rep += 1
      val (s, m) = sync(ctx, Some(tracer), probeRerun = tracer.rep == 1)
      m.get("jobs.rerun_failed").foreach(rerunFailed = _)
      (s, m)
    }
    tracer.rep += 1
    val layers = replay(ctx, tracer)
    val fusedS = Runner.median(fused.map(_._1))
    val replayed = tracer.spans.filter(s => s.rep == tracer.rep &&
      s.parent >= 0 && !s.name.startsWith("sinks.") &&
      s.name != "state.compact")
    val m = mutable.LinkedHashMap.empty[String, Double] ++= layers
    Seq("jobs.spark_jobs", "jobs.tasks", "jobs.shuffle_mb", "jobs.spill_mb",
      "jobs.planning_s", "jobs.input_reads_per_line", "jobs.gc_s")
      .foreach(k => m(k) = Runner.median(fused.map(_._2(k))))
    m("jobs.leaked_rdds") = (fused.map(_._2("jobs.leaked_rdds")) :+
      warm.leakedRdds.toDouble).max
    m("jobs.rerun_failed") = rerunFailed
    m("jobs.peak_heap_mb") = warm.peakHeapBytes / 1e6
    m("trace.overhead_frac") = fusedS / Runner.median(untraced.toSeq) - 1
    m("trace.replay_frac") = replayed.map(tracer.selfS).sum / fusedS

    // Checks of the replay against the generator's truth.
    val t = ctx.truth
    val replayOk = Bench.expect(s"${wl.name} replay",
      "error rows" -> (m("ops.error_rows").toLong, t.errorRows),
      "groups" -> (m("ops.groups").toLong, t.stateRows),
      "messages" -> (m("sinks.messages").toLong, t.outputRows),
      "dead letters" -> (m("sinks.dead_letters").toLong, t.deadLetters))

    traces.mkdirs()
    val tag = s"${wl.name}-seed$seed"
    Generator.writeLines(new File(traces, s"spans-$tag.jsonl"),
      tracer.spans.sortBy(_.id).map(_.json).toSeq)
    Generator.writeLines(new File(traces, s"layers-$tag.json"), Seq(
      Layer.map { case (k, u) =>
        m.get(k).fold(s"""  "$k": {"absent": true, "unit": "$u"}""")(v =>
          s"""  "$k": {"value": $v, "unit": "$u"}""")
      }.mkString("{\n", ",\n", "\n}")))

    val missing = OnEveryWorkload.map(_._1).filterNot(m.contains)
    require(missing.isEmpty, s"layer metrics not measured: $missing")
    Result(correct = warm.failed == 0 && replayOk,
      attempted = warm.attempted + 1,
      failed = warm.failed + (if (replayOk) 0 else 1),
      metrics = OnEveryWorkload.map { case (k, u) => Metric(k, m(k), u) })
  }

  /** One sync on a restored root; with a tracer, inside a span and with
    * the counters attached. Returns its seconds and the `jobs.*` counts.
    */
  private def sync(ctx: Ctx, tracer: Option[Tracer],
      probeRerun: Boolean = false): (Double, Map[String, Double]) = {
    val spark = ctx.spark
    val wl = ctx.wl
    val root = ctx.freshDir("trace")
    Bench.copyTree(ctx.template, root)
    try {
      val inputBytes = Bench.fileSizes(root).values.sum +
        Bench.inputSizes(root).values.sum
      val baseline = spark.sparkContext.getPersistentRDDs.size
      val counters = new Counters
      if (tracer.nonEmpty) {
        spark.sparkContext.addSparkListener(counters)
        spark.listenerManager.register(counters)
      }
      val gc0 = gcMs
      val t0 = System.nanoTime
      def runJob() = Jobs.run(spark, wl.spec, root.getPath, "bench",
        Bench.config(wl, new File(root, "input/batch").getPath),
        Bench.RunClock)
      tracer.fold(runJob())(_.span("jobs.run")(runJob()))
      val seconds = (System.nanoTime - t0) / 1e9
      val gc = (gcMs - gc0) / 1e3
      SyncbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(counters)
      spark.listenerManager.unregister(counters)
      val rerun =
        if (!probeRerun) Map.empty[String, Double]
        else {
          val ok = Bench.attempt(s"unchanged rerun ${wl.name}") {
            Jobs.run(spark, wl.spec, root.getPath, "bench",
              Bench.config(wl, new File(root, "input/batch").getPath),
              Bench.RerunClock)
          }.exists(_.connectors.forall(_.rowsWritten == 0))
          Map("jobs.rerun_failed" -> (if (ok) 0.0 else 1.0))
        }
      (seconds, rerun ++ Map(
        "jobs.spark_jobs" -> counters.jobs.get.toDouble,
        "jobs.tasks" -> counters.tasks.get.toDouble,
        "jobs.shuffle_mb" -> counters.shuffleBytes.get / 1e6,
        "jobs.spill_mb" -> counters.spillBytes.get / 1e6,
        "jobs.planning_s" -> counters.planningMs.get / 1e3,
        "jobs.input_reads_per_line" ->
          counters.scannedBytes.toDouble / inputBytes,
        "jobs.gc_s" -> gc,
        "jobs.leaked_rdds" -> Bench.leaked(spark, baseline).toDouble))
    } finally Bench.delete(root)
  }

  /** Replay the chain layer by layer on a restored root. */
  private def replay(ctx: Ctx, tracer: Tracer): Map[String, Double] = {
    val spark = ctx.spark
    val wl = ctx.wl
    val spec = wl.spec
    val keys = spec.groupKeys
    val root = ctx.freshDir("replay")
    Bench.copyTree(ctx.template, root)
    val cfg = Bench.config(wl, new File(root, "input/batch").getPath)
    val m = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
    val pinned = mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      pinned += p
      p.count()
      p
    }
    def layer[T](name: String)(f: => T): T = {
      val r = tracer.span(name)(f)
      add(s"${name}_s", tracer.selfS(tracer.spans.last))
      r
    }
    def mb(dir: String) = Bench.sizes(new File(dir)).values.sum / 1e6
    try tracer.span("replay") {
      val schema =
        if (wl.relatedItems) Schemas.relatedItemsBatchInference
        else Schemas.userPersonalizationBatchInference
      val raw = layer("readers.batch")(
        pin(Readers.jsonl(spark, cfg.batchInferencePath, schema)))
      m("readers.batch_lines") = raw.count().toDouble
      val mapping = Option.when(spec.usesMapping)(layer("readers.mapping")(
        pin(Readers.csv(spark, s"$root/input/user_item_mapping",
          Schemas.userItemMapping))))
      val metaPath = s"$root/input/item_metadata"
      val metadata =
        if (!Readers.pathExists(spark, metaPath)) None
        else layer("readers.metadata")(
          Readers.jsonlInferIfExists(spark, metaPath).map(pin))

      val (ok, errs) = layer("ops.split") {
        val (o, e) = Ops.splitErrors(raw)
        (pin(o), pin(e))
      }
      val errorRows = errs.count()
      m("ops.error_rows") = errorRows.toDouble
      val mapped = mapping.fold(ok)(mp =>
        layer("ops.map_users")(pin(Ops.mapUsers(ok, mp))))
      if (mapping.nonEmpty)
        m("ops.fanout_ratio") = mapped.count().toDouble / ok.count()
      val exploded = layer("ops.explode")(pin(Ops.explodeRecs(mapped,
        spec.queryKeyPath, spec.queryKeyAlias,
        if (spec.usesMapping) Seq("USER_ID" -> "userId") else Nil)))
      m("ops.exploded_rows") = exploded.count().toDouble

      val connectors = cfg.connectors.toSeq.sortBy(_._1)
      var misses, decoratedRecs = 0L
      val assembled = connectors.map(_._2.itemMetadataFields).distinct
        .map { fields =>
          val decorated = layer("ops.decorate")(
            pin(Ops.decorate(exploded, metadata, fields)))
          metadata.foreach { meta =>
            val probe = fields.headOption
              .getOrElse(meta.columns.filter(_ != "id").head)
            val withRec = decorated.where(col("recItem").isNotNull)
            decoratedRecs += withRec.count()
            misses += withRec.where(col(s"recItem.$probe").isNull).count()
          }
          fields -> layer("ops.assemble")(
            pin(Ops.assembleRecommendations(decorated, keys)))
        }.toMap
      m("ops.groups") = assembled.values.head.count().toDouble
      if (metadata.nonEmpty)
        m("ops.decorate_miss_frac") = misses.toDouble / decoratedRecs

      val outputRoot = s"$root/output"
      val runDateTime = Jobs.runDateTimeFmt.format(Bench.RunClock)
      var kept, compared = 0L
      var deliverDir = ""
      connectors.zipWithIndex.foreach { case ((c, cc), i) =>
        val asm = assembled(cc.itemMetadataFields)
        val dir = Bench.stateDir(wl, root, c).getPath
        val state =
          if (wl.keyed) Option.when(StateTable.versions(spark, dir).nonEmpty)(
            layer("state.read_latest")(
              pin(StateTable.readLatest(spark, dir, keys))))
          else Option.when(Readers.pathExists(spark, dir))(
            tracer.span("readers.state")(pin(Readers.withBackfill(
              spark.read.option("recursiveFileLookup", "true")
                .schema(asm.schema).json(dir), asm.schema))))
        val afterDelta = state.fold(asm) { st =>
          val d = layer("ops.delta")(pin(
            if (wl.keyed) Ops.deltaCheckKeyed(asm, st, keys)
            else Ops.deltaCheck(asm, st)))
          kept += d.count()
          compared += asm.count()
          d
        }
        val stamped = layer("ops.stamp")(pin(Ops.stampJobInfo(afterDelta,
          "bench", runDateTime, Some((cc.attributePrefix, cc.otherAttributes)))))
        val outDir = layer("writers.output")(
          Writers.connectorOutput(stamped, outputRoot, c, Bench.RunClock))
        val files = Bench.sizes(new File(outDir))
        add("writers.output_mb", files.values.sum / 1e6)
        add("writers.output_files",
          files.keys.count(_.contains("part-")).toDouble)
        if (i == 0)
          layer("writers.errors")(Writers.errors(errs, s"$root/errors",
            spec.jobType, Bench.RunClock, enabled = true,
            knownCount = Some(errorRows)))
        if (wl.keyed) {
          val tombstones = state.map(_.join(asm, keys, "left_anti")
            .withColumn(StateTable.DeletedCol, lit(true)))
          val delta = pin(tombstones.fold(afterDelta)(t =>
            afterDelta.unionByName(t, allowMissingColumns = true)))
          layer("state.append")(StateTable.append(delta, dir))
          add("state.versions", StateTable.versions(spark, dir).size)
          add("state.mb", mb(dir))
          layer("state.compact")(StateTable.compact(spark, dir, keys))
        } else {
          layer("writers.state")(Writers.state(asm, outputRoot, c))
          add("writers.state_mb", mb(dir))
        }
        if (c == Bench.Delivered) deliverDir = outDir
      }
      if (compared > 0) m("ops.delta_kept_frac") = kept.toDouble / compared

      val id = UUID.randomUUID().toString.take(8)
      val queue = s"syncbench-queue-$id"
      val stub = RestStub(s"syncbench-rest-$id")
      val dead = spark.sparkContext.collectionAccumulator[String]("dead")
      try {
        val out = pin(spark.read.json(deliverDir))
        layer("sinks.queue")(Sinks.queueSink(out,
          Sinks.InMemoryQueueTransport(queue), Bench.userIdCol(wl),
          batchSize = 10))
        m("sinks.messages") = Sinks.InMemoryQueues.queue(queue).size
        val parsed = pin(spark.read.json(Sinks.drainToDF(spark, queue)))
        layer("sinks.rest")(Sinks.dequeueToRest(parsed, stub,
          Bench.pivot(wl), maxAttributes = 75, maxAttempts = 5, Some(dead)))
        val log = RestStub.log(stub.name)
        m("sinks.posts") = log.attempts.get.toDouble
        m("sinks.retry_frac") =
          log.rejected.get.toDouble / math.max(1L, log.attempts.get)
        m("sinks.dead_letters") = dead.value.size.toDouble
      } finally RestStub.release(stub.name)
      m.toMap
    } finally {
      pinned.foreach(_.unpersist())
      Bench.delete(root)
    }
  }
}
