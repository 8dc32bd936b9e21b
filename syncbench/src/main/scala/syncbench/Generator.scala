package syncbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.util.Random
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.SparkSession

/** What one sync must produce, computed by the generator from its own
  * inputs (never by calling the library's operators).
  *
  * Hashes are sums over rows of [[Truth.rowHash]], so they ignore row
  * order but not the order of the recommended item ids inside a row.
  */
final case class Truth(
    errorRows: Long,
    outputRows: Long, outputHash: Long,
    stateRows: Long, stateHash: Long,
    tombstones: Long,
    delivered: Long, deliveredHash: Long, deliveredUsers: Long,
    deadLetters: Long)

object Truth {
  /** Order-sensitive 64-bit hash of one (key, recommended item ids) row. */
  def rowHash(key: String, recs: Seq[String]): Long = {
    val s = key + "\u0001" + recs.mkString("\u0002")
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x7a11).toLong & 0xffffffffL)
  }
}

/** One generated version of the batch-inference output: recommendation
  * lists per query key, plus keys whose line is an error record.
  */
final case class Version(recs: Map[String, IndexedSeq[String]],
    errors: IndexedSeq[String])

/** Generated inputs of one workload: the versions (primed ones first,
  * the timed one last), the user-item mapping (related items only) and
  * the item metadata lines.
  */
final case class Generated(versions: IndexedSeq[Version],
    usersOf: Map[String, IndexedSeq[String]], metadata: IndexedSeq[String]) {

  def current: Version = versions.last

  /** Output groups of one query key: (group key, user id) pairs. The
    * group key joins the job's group-key columns with '\u0000'.
    */
  def groupsOf(key: String, relatedItems: Boolean): Seq[(String, String)] =
    if (relatedItems)
      usersOf.getOrElse(key, IndexedSeq.empty).map(u => (s"$key\u0000$u", u))
    else Seq((key, key))

  /** Truth for syncing `cur` when the last synced version was `prev`
    * (None: no prior state, so every group is output).
    */
  def truth(prev: Option[Version], cur: Version,
      relatedItems: Boolean): Truth = {
    val keep = (k: String) =>
      prev.forall(p => !p.recs.get(k).contains(cur.recs(k)))
    val out = cur.recs.keys.toSeq.filter(keep).flatMap { k =>
      groupsOf(k, relatedItems).map { case (g, u) => (g, u, cur.recs(k)) }
    }
    val state = cur.recs.toSeq.flatMap { case (k, r) =>
      groupsOf(k, relatedItems).map { case (g, _) => Truth.rowHash(g, r) }
    }
    val gone = prev.toSeq.flatMap(_.recs.keys.filterNot(cur.recs.contains))
      .flatMap(groupsOf(_, relatedItems))
    val (sent, dead) = out.partition(_._3.nonEmpty)
    Truth(
      errorRows = cur.errors.size,
      outputRows = out.size,
      outputHash = out.map { case (g, _, r) => Truth.rowHash(g, r) }.sum,
      stateRows = state.size, stateHash = state.sum,
      tombstones = gone.size,
      delivered = sent.size,
      deliveredHash = sent.map { case (_, u, r) => Truth.rowHash(u, r) }.sum,
      deliveredUsers = sent.map(_._2).distinct.size,
      deadLetters = dead.size)
  }
}

/** Seeded generator: turns TPC-H-style parquet tables into the files a
  * connector job reads — batch-inference JSONL, a user-item mapping CSV
  * and item-metadata JSONL.
  */
object Generator {

  /** `keys` query keys; each version after the first drops `vanishFrac`
    * of them.
    */
  final case class Shape(keys: Int, vanishFrac: Double = 0.0)

  val RecsPerKey = 25
  val ErrorFrac = 0.01
  val EmptyFrac = 0.005
  /** Share of the lists each version redraws. */
  val ChangeFrac = 0.10
  /** Share of rec ids past the part table: decorate misses. */
  val MissFrac = 0.02

  /** Related items: query items are `keys` parts drawn by the seed; the
    * mapping is every distinct (customer, part) pair of orders ⋈
    * lineitem; the metadata is the part table.
    */
  def relatedItems(spark: SparkSession, tpch: String, shape: Shape,
      versions: Int, seed: Long): Generated = {
    val parts = spark.read.parquet(s"$tpch/part.parquet")
      .select("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getInt(4), r.getDouble(5)))
      .sortBy(_._1)
    val custOf = spark.read.parquet(s"$tpch/orders.parquet")
      .select("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = spark.read.parquet(s"$tpch/lineitem.parquet")
      .select("l_orderkey", "l_partkey").collect()
      .flatMap(r => custOf.get(r.getLong(0)).map(c => (c, r.getLong(1))))
      .distinct
    val usersOf = pairs.groupBy(_._2.toString).map { case (p, cs) =>
      p -> cs.map(_._1.toString).sorted.toIndexedSeq
    }
    val metadata = parts.toIndexedSeq.map { case (k, n, b, t, s, p) =>
      s"""{"id":"$k","name":${q(n)},"brand":${q(b)},"type":${q(t)},""" +
        s""""size":$s,"retailprice":$p}"""
    }
    val rnd = new Random(seed)
    val ids = parts.map(_._1.toString).toIndexedSeq
    val queryKeys = rnd.shuffle(ids).take(shape.keys)
    val universe = ids.size + math.round(ids.size * MissFrac).toInt
    Generated(chain(queryKeys, universe, shape, versions, rnd), usersOf,
      metadata)
  }

  /** User personalization: users are `keys` orders drawn by the seed,
    * recommended items are parts; no mapping, no metadata.
    */
  def userPersonalization(spark: SparkSession, tpch: String, shape: Shape,
      versions: Int, seed: Long): Generated = {
    val orders = spark.read.parquet(s"$tpch/orders.parquet")
      .select("o_orderkey").collect().map(_.getLong(0).toString)
      .sorted.toIndexedSeq
    val nParts = spark.read.parquet(s"$tpch/part.parquet").count().toInt
    val rnd = new Random(seed)
    val users = rnd.shuffle(orders).take(shape.keys)
    Generated(chain(users, nParts, shape, versions, rnd), Map.empty,
      IndexedSeq.empty)
  }

  /** A chain of versions: the first draws every list; each next one
    * redraws [[ChangeFrac]] of the lists and drops `vanishFrac` of the
    * keys. Error keys stay the same across the chain.
    */
  private def chain(keys: IndexedSeq[String], universe: Int, shape: Shape,
      versions: Int, rnd: Random): IndexedSeq[Version] = {
    def draw(): IndexedSeq[String] = {
      val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (picked.size < RecsPerKey) picked += rnd.nextInt(universe)
      picked.toIndexedSeq.map(_.toString)
    }
    val nErr = math.round(keys.size * ErrorFrac).toInt
    val nEmpty = math.round(keys.size * EmptyFrac).toInt
    val errors = keys.take(nErr)
    val first = Version(keys.drop(nErr).zipWithIndex.map { case (k, i) =>
      k -> (if (i < nEmpty) IndexedSeq.empty[String] else draw())
    }.toMap, errors)
    IndexedSeq.iterate(first, versions) { v =>
      val live = v.recs.keys.toIndexedSeq.sorted
      val gone = rnd.shuffle(live)
        .take(math.round(live.size * shape.vanishFrac).toInt).toSet
      val kept = live.filterNot(gone)
      val changed = rnd.shuffle(kept)
        .take(math.round(kept.size * ChangeFrac).toInt).toSet
      Version(kept.map { k =>
        // a few redrawn lists come back empty, so deltas dead-letter too
        k -> (if (!changed(k)) v.recs(k)
              else if (rnd.nextInt(50) == 0) IndexedSeq.empty[String]
              else draw())
      }.toMap, v.errors)
    }
  }

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Batch-inference JSONL for one version, spread over `files` files so
    * the reader gets one task per core.
    */
  def writeBatch(dir: File, v: Version, keyField: String,
      files: Int): Unit = {
    dir.mkdirs()
    val writers = (0 until files).map(i =>
      Files.newBufferedWriter(new File(dir, f"part-$i%05d.json").toPath,
        StandardCharsets.UTF_8))
    try {
      val lines = v.errors.map(k =>
        s"""{"input":{"$keyField":"$k"},"error":"Item not found"}""") ++
        v.recs.toSeq.sortBy(_._1).map { case (k, r) =>
          s"""{"input":{"$keyField":"$k"},"output":{"recommendedItems":[""" +
            r.map(id => s""""$id"""").mkString(",") + "]}}"
        }
      lines.zipWithIndex.foreach { case (l, i) =>
        val w = writers(i % files)
        w.write(l); w.newLine()
      }
    } finally writers.foreach(_.close())
  }

  def writeMapping(dir: File, g: Generated): Unit =
    writeLines(new File(dir, "part-00000.csv"),
      "USER_ID,ITEM_ID" +: g.usersOf.toSeq.sortBy(_._1).flatMap {
        case (item, users) => users.map(u => s"$u,$item")
      })

  def writeLines(f: File, lines: Seq[String]): Unit = {
    f.getParentFile.mkdirs()
    val w: BufferedWriter =
      Files.newBufferedWriter(f.toPath, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.newLine() } finally w.close()
  }
}
