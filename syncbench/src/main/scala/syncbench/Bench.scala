package syncbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, StandardCopyOption}
import java.time.LocalDateTime
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.config.{ConnectorConfig, JobConfig}
import graft.connector.Sinks
import graft.etl.Ops
import graft.jobs.{JobResult, Jobs}

/** A workload: which job runs, on which inputs, after how many primed
  * syncs. `primed` versions are synced in set-up; the timed sync reads
  * the next one.
  */
final case class Workload(name: String, relatedItems: Boolean, sf: String,
    shape: Generator.Shape, primed: Int) {
  def spec: Jobs.JobSpec =
    if (relatedItems) Jobs.RelatedItems else Jobs.UserPersonalization
  def keyed: Boolean = !relatedItems
}

object Workload {
  val all: Seq[Workload] = Seq(
    Workload("ri_full_sync", relatedItems = true, "sf0.01",
      Generator.Shape(keys = 200), primed = 0),
    Workload("ri_delta_resync", relatedItems = true, "sf0.01",
      Generator.Shape(keys = 200), primed = 1),
    Workload("up_keyed_delta", relatedItems = false, "sf0.1",
      Generator.Shape(keys = 6000, vanishFrac = 0.01), primed = 2))

  def named(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (one of ${all.map(_.name).mkString(", ")})"))
}

final case class Metric(name: String, value: Double, unit: String)

final case class Result(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[Metric]) {
  def json: String = {
    def num(d: Double) = {
      require(!d.isNaN && !d.isInfinite, s"metric value $d")
      d.toString
    }
    val ms = metrics.map(m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Everything a rep needs: the session, the workload, the set-up
  * template job root and the truth for the timed sync.
  */
final class Ctx(val spark: SparkSession, val wl: Workload,
    val template: File, val work: File, val truth: Truth) {
  private var serial = 0
  def freshDir(tag: String): File = {
    serial += 1
    new File(work, s"$tag-$serial")
  }
}

/** The product path as a user runs it: `Jobs.run`, then delivery of the
  * delivered connector's new output through the queue and REST sinks.
  */
object Bench {

  val Delivered = "braze"
  val RunClock: LocalDateTime = LocalDateTime.of(2024, 2, 1, 6, 0, 0)
  val RerunClock: LocalDateTime = LocalDateTime.of(2024, 2, 2, 6, 0, 0)
  private val Prefix = "rec_"
  private val Others = Map("country" -> "US")
  private val Subset = Seq("brand", "type", "retailprice")

  def config(wl: Workload, batchPath: String): JobConfig =
    if (wl.relatedItems)
      JobConfig(batchPath, performDeltaCheck = true,
        connectors = Map(
          Delivered -> ConnectorConfig(Subset, Prefix, Others),
          "catalog" -> ConnectorConfig()))
    else
      JobConfig(batchPath, performDeltaCheck = true, stateFormat = "keyed",
        connectors = Map(Delivered -> ConnectorConfig(Nil, Prefix, Others)))

  def keyField(wl: Workload): String =
    if (wl.relatedItems) "itemId" else "userId"

  def userIdCol(wl: Workload): String =
    if (wl.relatedItems) "userId" else "queryUserId"

  def recFields(wl: Workload): Seq[String] =
    if (wl.relatedItems) "itemId" +: Subset else Seq("itemId")

  def stateDir(wl: Workload, root: File, connector: String): File =
    new File(root, s"output/$connector/" +
      (if (wl.keyed) "state_keyed" else "state"))

  // ---- set-up ------------------------------------------------------

  /** Generate the inputs, prime state with the primed versions, and
    * leave a template job root that every rep restores.
    */
  def setUp(spark: SparkSession, wl: Workload, tpch: String, seed: Long,
      work: File): Ctx = {
    val shape = wl.shape
    val tGen = System.nanoTime
    val gen =
      if (wl.relatedItems)
        Generator.relatedItems(spark, tpch, shape, wl.primed + 1, seed)
      else Generator.userPersonalization(spark, tpch, shape,
        wl.primed + 1, seed)
    val template = new File(work, "template")
    if (wl.relatedItems) {
      Generator.writeMapping(new File(template, "input/user_item_mapping"),
        gen)
      Generator.writeLines(
        new File(template, "input/item_metadata/part-00000.json"),
        gen.metadata)
    }
    val cores = Runtime.getRuntime.availableProcessors
    val tPrime = System.nanoTime
    (0 until wl.primed).foreach { k =>
      val dir = new File(work, s"prime-$k")
      Generator.writeBatch(dir, gen.versions(k), keyField(wl), cores)
      Jobs.run(spark, wl.spec, template.getPath, "bench",
        config(wl, dir.getPath), RunClock.minusDays(wl.primed - k))
      delete(dir)
    }
    // Only the primed state is input to the timed sync.
    delete(new File(template, "errors"))
    Option(new File(template, "output").listFiles).toSeq.flatten
      .flatMap(c => Option(c.listFiles).toSeq.flatten)
      .filter(_.getName.startsWith("year=")).foreach(delete)
    Generator.writeBatch(new File(template, "input/batch"), gen.current,
      keyField(wl), cores)
    val prev = if (wl.primed > 0) Some(gen.versions(wl.primed - 1)) else None
    System.err.println(f"[syncbench] generate ${(tPrime - tGen) / 1e9}%.2f s," +
      f" prime ${(System.nanoTime - tPrime) / 1e9}%.2f s")
    val truth = gen.truth(prev, gen.current, wl.relatedItems)
    System.err.println(s"[syncbench] expect ${truth.errorRows} error rows, " +
      s"${truth.outputRows} output rows, ${truth.stateRows} state rows, " +
      s"${truth.tombstones} tombstones, ${truth.delivered} delivered to " +
      s"${truth.deliveredUsers} users, ${truth.deadLetters} dead letters")
    new Ctx(spark, wl, template, work, truth)
  }

  // ---- one rep -----------------------------------------------------

  /** One rep's numbers; a time is absent when its operation threw. */
  final case class Rep(syncS: Option[Double], deliverS: Option[Double],
      users: Long, writtenBytes: Long, peakHeapBytes: Long,
      attempted: Int, failed: Int, leakedRdds: Int) {
    override def toString: String = {
      def s(t: Option[Double]) = t.fold("failed")(x => f"$x%.3f s")
      f"[syncbench] rep: sync ${s(syncS)}, deliver ${s(deliverS)}, " +
        f"$users users, ${writtenBytes / 1e6}%.2f MB written, " +
        f"peak heap ${peakHeapBytes / 1e6}%.0f MB, $failed/$attempted " +
        f"failed, $leakedRdds leaked RDDs"
    }
  }

  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == MemoryType.HEAP).toSeq

  /** Restore a job root, sync it, deliver, check both against the truth
    * and delete the root again.
    */
  def rep(ctx: Ctx): Rep = {
    val spark = ctx.spark
    val baseline = spark.sparkContext.getPersistentRDDs.size
    val root = ctx.freshDir("rep")
    copyTree(ctx.template, root)
    try {
      val before = fileSizes(root)
      heapPools.foreach(_.resetPeakUsage())
      val t0 = System.nanoTime
      val res = attempt(s"sync ${ctx.wl.name}") {
        Jobs.run(spark, ctx.wl.spec, root.getPath, "bench",
          config(ctx.wl, new File(root, "input/batch").getPath), RunClock)
      }
      val syncS = (System.nanoTime - t0) / 1e9
      val written = fileSizes(root).collect {
        case (p, n) if !before.contains(p) => n
      }.sum
      res match {
        case None => Rep(None, None, 0, 0, 0, 1, 1, leaked(spark, baseline))
        case Some(r) =>
          val d = attempt(s"deliver ${ctx.wl.name}")(deliver(ctx, r))
          val peak = heapPools.map(_.getPeakUsage.getUsed).sum
          val syncOk = attempt(s"check ${ctx.wl.name}")(
            checkSync(ctx, root, r)).contains(true)
          val deliverOk = d.exists(checkDelivery(ctx, _))
          val users = d.map(_.users).getOrElse(0L)
          Rep(Some(syncS), d.map(_.seconds), users, written, peak, 2,
            Seq(syncOk, deliverOk).count(!_), leaked(spark, baseline))
      }
    } finally delete(root)
  }

  def leaked(spark: SparkSession, baseline: Int): Int =
    spark.sparkContext.getPersistentRDDs.size - baseline

  def attempt[T](what: String)(f: => T): Option[T] =
    try Some(f) catch {
      case NonFatal(e) =>
        val at = e.getStackTrace.find(_.getClassName.startsWith("graft."))
          .fold("")(f => s" at ${f.getFileName}:${f.getLineNumber}")
        System.err.println(s"[syncbench] $what failed: $e$at")
        None
    }

  // ---- delivery ----------------------------------------------------

  /** What one delivery did: its time, the messages queued, the
    * attribute objects the REST stub accepted, and the dead letters.
    */
  final case class Delivery(seconds: Double, messages: Long,
      accepted: Seq[String], deadLetters: Long) {
    private lazy val rows = accepted.map { b =>
      val node = mapper.readTree(b)
      val user = node.get("external_id").asText
      val ids = node.get(s"${Prefix}itemId").elements.asScala
        .map(_.asText).toSeq
      (user, Truth.rowHash(user, ids))
    }
    def users: Long = rows.map(_._1).distinct.size.toLong
    def hash: Long = rows.map(_._2).sum
  }

  private val mapper = new ObjectMapper

  def pivot(wl: Workload): DataFrame => DataFrame =
    df => Ops.pivotAttributes(df, "external_id", recFields(wl), Prefix, Others)

  /** Fan the delivered connector's new output out: queue sink (batch 10)
    * -> drain -> validate + pivot -> REST sink (75 per post, 5 attempts).
    */
  def deliver(ctx: Ctx, res: JobResult): Delivery = {
    val spark = ctx.spark
    val wl = ctx.wl
    val outDir = res.connectors.find(_.connector == Delivered).get.outputDir
    val id = UUID.randomUUID().toString.take(8)
    val queue = s"syncbench-queue-$id"
    val stub = RestStub(s"syncbench-rest-$id")
    val dead = spark.sparkContext.collectionAccumulator[String]("dead")
    val t0 = System.nanoTime
    try {
      Sinks.queueSink(spark.read.json(outDir),
        Sinks.InMemoryQueueTransport(queue), userIdCol(wl), batchSize = 10)
      val messages = Sinks.InMemoryQueues.queue(queue).size.toLong
      Sinks.dequeueToRest(spark.read.json(Sinks.drainToDF(spark, queue)),
        stub, pivot(wl), maxAttributes = 75, maxAttempts = 5, Some(dead))
      val seconds = (System.nanoTime - t0) / 1e9
      val log = RestStub.log(stub.name)
      Delivery(seconds, messages, log.accepted.asScala.toSeq,
        dead.value.size.toLong)
    } finally RestStub.release(stub.name)
  }

  def checkDelivery(ctx: Ctx, d: Delivery): Boolean = {
    val t = ctx.truth
    expect(s"${ctx.wl.name} delivery",
      "messages" -> (d.messages, t.outputRows),
      "delivered" -> (d.accepted.size.toLong, t.delivered),
      "delivered hash" -> (d.hash, t.deliveredHash),
      "delivered users" -> (d.users, t.deliveredUsers),
      "dead letters" -> (d.deadLetters, t.deadLetters))
  }

  // ---- correctness checks -----------------------------------------

  def expect(what: String, pairs: (String, (Long, Long))*): Boolean = {
    val bad = pairs.filter { case (_, (got, want)) => got != want }
    bad.foreach { case (k, (got, want)) =>
      System.err.println(s"[syncbench] $what: $k = $got, expected $want")
    }
    bad.isEmpty
  }

  /** Check every output of a sync: rows and hash of each connector's
    * output, the error records and the state left for the next sync.
    */
  def checkSync(ctx: Ctx, root: File, res: JobResult): Boolean = {
    val wl = ctx.wl
    val t = ctx.truth
    val keys = wl.spec.groupKeys
    val perConnector = res.connectors.map { c =>
      val (rows, hash) = hashRows(ctx.spark.read.schema(rowSchema(keys))
        .json(c.outputDir).collect().toSeq, keys)
      val (sRows, sHash) = stateRows(ctx, stateDir(wl, root, c.connector))
      expect(s"${wl.name} connector ${c.connector}",
        "rowsWritten" -> (c.rowsWritten, t.outputRows),
        "output rows" -> (rows, t.outputRows),
        "output hash" -> (hash, t.outputHash),
        "state rows" -> (sRows, t.stateRows),
        "state hash" -> (sHash, t.stateHash))
    }
    val errors = res.errorsDir.map(d => ctx.spark.read.text(d).count())
      .getOrElse(0L)
    val tombstones =
      if (!wl.keyed) Seq.empty
      else Seq("tombstones" -> (keyedTombstones(ctx,
        stateDir(wl, root, Delivered)), t.tombstones))
    perConnector.forall(identity) && expect(s"${wl.name} sync",
      ("error rows" -> (errors, t.errorRows)) +: tombstones: _*)
  }

  private def rowSchema(keys: Seq[String]): StructType = StructType(
    keys.map(StructField(_, StringType)) :+
      StructField("recommendations",
        ArrayType(StructType(Seq(StructField("itemId", StringType))))))

  private def hashRows(rows: Seq[Row], keys: Seq[String]): (Long, Long) = {
    val n = keys.size
    (rows.size.toLong, rows.map { r =>
      val recs = Option(r.getSeq[Row](n)).getOrElse(Nil).map(_.getString(0))
      Truth.rowHash((0 until n).map(r.getString).mkString("\u0000"), recs)
    }.sum)
  }

  /** Rows and hash of the live state: the snapshot as written, or for
    * keyed state the newest version of each key, resolved here from the
    * raw versions rather than through `StateTable.readLatest`.
    */
  private def stateRows(ctx: Ctx, dir: File): (Long, Long) = {
    val keys = ctx.wl.spec.groupKeys
    if (!ctx.wl.keyed)
      hashRows(ctx.spark.read.schema(rowSchema(keys)).json(dir.getPath)
        .collect().toSeq, keys)
    else {
      val latest = keyedVersions(ctx, dir).groupBy(_._1)
        .map(_._2.maxBy(_._2)).filterNot(_._3)
      (latest.size.toLong,
        latest.map { case (k, _, _, recs) => Truth.rowHash(k, recs) }.sum)
    }
  }

  /** Tombstones the timed sync appended: rows of the newest version
    * marked deleted.
    */
  private def keyedTombstones(ctx: Ctx, dir: File): Long = {
    val rows = keyedVersions(ctx, dir)
    val newest = rows.map(_._2).max
    rows.count(r => r._2 == newest && r._3).toLong
  }

  private def keyedVersions(ctx: Ctx, dir: File)
      : Seq[(String, Int, Boolean, Seq[String])] = {
    val df = ctx.spark.read.option("mergeSchema", "true").parquet(dir.getPath)
    val deleted = if (df.columns.contains("_deleted"))
      org.apache.spark.sql.functions.col("_deleted")
    else org.apache.spark.sql.functions.lit(false)
    df.select(df(ctx.wl.spec.groupKeys.head), df("v"), deleted,
        df("recommendations.itemId")).collect().toSeq.map { r =>
      (r.getString(0), r.getInt(1), !r.isNullAt(2) && r.getBoolean(2),
        Option(r.getSeq[String](3)).getOrElse(Nil))
    }
  }

  // ---- files -------------------------------------------------------

  /** Sizes of the files under `dir`, keyed by path; checksum side files
    * of the local filesystem are left out.
    */
  def sizes(dir: File): Map[String, Long] =
    if (!dir.exists) Map.empty
    else Files.walk(dir.toPath).iterator.asScala
      .filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.endsWith(".crc"))
      .map(p => p.toString -> Files.size(p)).toMap

  /** Files a sync writes: connector output, state and errors. */
  def fileSizes(root: File): Map[String, Long] =
    sizes(new File(root, "output")) ++ sizes(new File(root, "errors"))

  def inputSizes(root: File): Map[String, Long] = sizes(new File(root, "input"))

  def copyTree(from: File, to: File): Unit =
    Files.walk(from.toPath).iterator.asScala.foreach { p =>
      val target = to.toPath.resolve(from.toPath.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target, StandardCopyOption.COPY_ATTRIBUTES)
    }

  def delete(f: File): Unit =
    if (f.exists) Files.walk(f.toPath).iterator.asScala.toSeq.reverse
      .foreach(p => Files.deleteIfExists(p))
}
