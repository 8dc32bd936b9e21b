package syncbench

import java.io.File

import scala.io.Source

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkBoot

/** Runs every workload once on tiny inputs (sf0.001), traced and
  * untraced, and checks that each run passes its correctness check and
  * prints exactly the metrics BENCHMARK.json declares, with their units.
  */
class SmokeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkBoot.session(
    Runtime.getRuntime.availableProcessors.toString, logLevel = "ERROR")

  private val tpch = sys.env.getOrElse("SYNCBENCH_TPCH",
    s"${sys.props("user.home")}/testdata") + "/sf0.001"

  private val declared: JValue = JsonMethods.parse(
    Source.fromFile(new File("..", "BENCHMARK.json")).mkString)

  private def names(section: String): Seq[(String, String)] =
    (declared \ section).children.map { m =>
      ((m \ "name").values.toString, (m \ "unit").values.toString)
    }

  private val scratch = new File("target/smoke")

  private def tiny(wl: Workload): Workload = wl.copy(sf = "sf0.001",
    shape = wl.shape.copy(keys = if (wl.relatedItems) 40 else 400))

  private def layerFile(wl: Workload, traces: File): JValue =
    JsonMethods.parse(Source.fromFile(
      new File(traces, s"layers-${wl.name}-seed7.json")).mkString)

  test("BENCHMARK.json names workloads the benchmark runs") {
    val listed = (declared \ "workloads").children.map(w =>
      (w \ "name").values.toString)
    assert(listed.nonEmpty && listed.forall(Workload.all.map(_.name).contains))
    assert(names("end_to_end") == Runner.EndToEnd)
    assert(names("per_layer") == Trace.OnEveryWorkload)
  }

  for (wl <- Workload.all; trace <- Seq(false, true))
    test(s"${wl.name} ${if (trace) "traced" else "untraced"} run is " +
        "correct and emits every declared metric") {
      val work = new File(scratch, s"${wl.name}-$trace")
      val traces = new File(scratch, "traces")
      try {
        val r = Runner.run(spark, 0.0, tiny(wl), tpch, seed = 7,
          seconds = 0, trace, work, traces)
        assert(r.correct && r.failed == 0 && r.attempted > 0)
        val expected =
          names(if (trace) "per_layer" else "end_to_end")
        assert(r.metrics.map(m => (m.name, m.unit)) == expected)
        if (trace) {
          assert(new File(traces, s"spans-${wl.name}-seed7.jsonl").length > 0)
          val layers = layerFile(wl, traces)
          val absent = Trace.Layer.map(_._1)
            .filter(k => (layers \ k \ "absent") == JBool(true))
          val expectAbsent =
            if (!wl.relatedItems)
              Seq("readers.mapping_s", "readers.metadata_s",
                "ops.map_users_s", "ops.fanout_ratio",
                "ops.decorate_miss_frac", "writers.state_s",
                "writers.state_mb")
            else if (wl.primed == 0)
              Seq("ops.delta_s", "ops.delta_kept_frac",
                "state.read_latest_s", "state.append_s", "state.compact_s",
                "state.versions", "state.mb")
            else
              Seq("state.read_latest_s", "state.append_s",
                "state.compact_s", "state.versions", "state.mb")
          assert(absent == expectAbsent)
        }
      } finally Bench.delete(work)
    }

  override def afterAll(): Unit = Bench.delete(scratch)
}
