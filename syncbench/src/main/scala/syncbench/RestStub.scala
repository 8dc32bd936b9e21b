package syncbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import graft.connector.Sinks

/** REST endpoint stand-in owned by the benchmark. It fails the first
  * attempt of about one batch in 20, chosen by the batch's first object,
  * so the sink's retry path runs on every delivery. Objects of accepted
  * posts are kept for the correctness check.
  */
final case class RestStub(name: String) extends Sinks.RestTransport {
  def post(attributeObjects: Seq[String]): Boolean =
    RestStub.log(name).post(attributeObjects)
}

object RestStub {

  final class Log {
    val attempts = new AtomicLong
    val rejected = new AtomicLong
    val accepted = new ConcurrentLinkedQueue[String]
    private val failedOnce = ConcurrentHashMap.newKeySet[String]()

    def post(objs: Seq[String]): Boolean = {
      attempts.incrementAndGet()
      val first = objs.headOption.getOrElse("")
      if (Math.floorMod(first.hashCode, 20) == 0 && failedOnce.add(first)) {
        rejected.incrementAndGet()
        false
      } else {
        objs.foreach(accepted.add)
        true
      }
    }
  }

  // Tasks run in this JVM (local mode) and get a deserialized copy of the
  // transport, so its log lives here, keyed by the stub's name.
  private val logs = new ConcurrentHashMap[String, Log]()

  def log(name: String): Log = logs.computeIfAbsent(name, _ => new Log)

  def release(name: String): Unit = logs.remove(name)
}
