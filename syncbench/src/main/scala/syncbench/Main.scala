package syncbench

import java.io.File
import java.lang.management.ManagementFactory

import graft.SparkBoot

/** Benchmark entry point:
  *
  * {{{
  * syncbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --tpch <dir holding sf0.01/ sf0.1/> --work <scratch dir>
  *   --traces <dir for span and layer files>
  * }}}
  *
  * Prints one JSON result as the last line of standard output; exits
  * non-zero without printing one when a run cannot complete.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def opt(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val wl = Workload.named(opt("workload"))
    val tpch = new File(opt("tpch"), wl.sf)
    if (!new File(tpch, "part.parquet").exists)
      usage(s"no TPC-H tables under $tpch")
    val work = new File(opt("work"))
    val spark = SparkBoot.session(
      Runtime.getRuntime.availableProcessors.toString)
    val bootS = (System.currentTimeMillis -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val result =
      try Runner.run(spark, bootS, wl, tpch.getPath, opt("seed").toLong,
        opt("seconds").toDouble, opt("trace") == "1", work,
        new File(opt("traces")))
      finally {
        spark.stop()
        Bench.delete(work)
      }
    println(result.json)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"syncbench: $msg")
    sys.exit(2)
  }
}

object Runner {

  /** The end-to-end metrics, measured with tracing off. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "sync_s" -> "s", "deliver_s" -> "s", "users_per_s" -> "users/s",
    "written_mb" -> "MB", "setup_s" -> "s")

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no successful operation to take a median of")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Run `f` until `seconds` have passed and it ran `atLeast` times. */
  def loop[T](seconds: Double, atLeast: Int = 1)(f: => T): Vector[T] = {
    val deadline = System.nanoTime + (seconds * 1e9).toLong
    val out = Vector.newBuilder[T]
    var n = 0
    while (n < atLeast || System.nanoTime < deadline) { out += f; n += 1 }
    out.result()
  }

  /** Set up, then rep until `seconds` have passed. */
  def run(spark: org.apache.spark.sql.SparkSession, bootS: Double,
      wl: Workload, tpch: String, seed: Long, seconds: Double,
      trace: Boolean, work: File, traces: File): Result = {
    val t0 = System.nanoTime
    System.err.println(f"[syncbench] boot $bootS%.2f s")
    val ctx = Bench.setUp(spark, wl, tpch, seed, work)
    if (trace) Trace.run(ctx, seconds, Bench.rep(ctx), traces, seed)
    else {
      // Primed syncs warm the JIT and Spark's code cache; a workload
      // without them gets one whole warm-up rep. The first timed rep still
      // runs a little slower; the median absorbs it.
      val warm = Option.when(wl.primed == 0)(Bench.rep(ctx)).toVector
      val setupS = bootS + (System.nanoTime - t0) / 1e9
      System.err.println(
        f"[syncbench] ${wl.name} seed $seed: set-up $setupS%.2f s")
      // three reps at least, so the median sets the slower first one aside
      val timed = loop(seconds, atLeast = 3)(Bench.rep(ctx))
      // a warm-up rep is checked and counted, but not timed
      val reps = warm ++ timed
      reps.foreach(System.err.println)
      val both = timed.filter(r => r.syncS.nonEmpty && r.deliverS.nonEmpty)
      val values = Map(
        "sync_s" -> median(timed.flatMap(_.syncS)),
        "deliver_s" -> median(timed.flatMap(_.deliverS)),
        "users_per_s" -> median(both.map(r =>
          r.users / (r.syncS.get + r.deliverS.get))),
        "written_mb" -> median(timed.map(_.writtenBytes / 1e6)),
        "setup_s" -> setupS)
      Result(correct = reps.forall(_.failed == 0),
        attempted = reps.map(_.attempted).sum,
        failed = reps.map(_.failed).sum,
        metrics = EndToEnd.map { case (k, u) => Metric(k, values(k), u) })
    }
  }
}
