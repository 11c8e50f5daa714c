package graftbench

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.zip.GZIPOutputStream
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.osm.{ChangeOp, OscReader, RelMember}

/** Seeded input generator. Every input of a run is a pure function of
  * the workload seed: the `orders` keys the synthetic OSM universe is
  * derived from, the page documents geo-entities are extracted from,
  * and the OsmChange diffs. The engine only ever sees the generated
  * files. */
object Inputs {

  /** Words of the page text; the first eight are the engine's
    * gazetteer ([[graft.synth.SynthUniverse.Gazetteer]]), so roughly a
    * quarter of the tokens become geo-entities. */
  private val Vocab: Array[String] = Array(
    "table", "row", "scan", "merge", "join", "window", "stream", "vector",
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "hash", "slow", "group", "agg", "filter", "query",
    "key", "big", "data", "customer", "the", "a")

  /** `orders.parquet` (o_orderkey): `blocks` runs of ten consecutive
    * keys, so each synthetic relation (key / 10) has its full ten way
    * members. Blocks are drawn without replacement from a range ten
    * times wider, which moves every rectangle between seeds. */
  def writeOrders(s: SparkSession, dir: Path, blocks: Int, seed: Long): Unit = {
    val rnd = new Random(seed)
    val picked = rnd.shuffle((0 until blocks * 10).toVector).take(blocks).sorted
    val keys = picked.flatMap(b => (0 until 10).map(i => b.toLong * 10 + i))
    import s.implicits._
    keys.toDF("o_orderkey").coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("orders.parquet").toString)
  }

  /** `documents.parquet` (doc_id, text): 15-90 words per page. */
  def writeDocuments(s: SparkSession, dir: Path, docs: Int, seed: Long): Unit = {
    val rnd = new Random(seed ^ 0x5DEECE66DL)
    val rows = (0 until docs).map { i =>
      val n = 15 + rnd.nextInt(76)
      (i.toLong, Seq.fill(n)(Vocab(rnd.nextInt(Vocab.length))).mkString(" "))
    }
    import s.implicits._
    rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("documents.parquet").toString)
  }

  /** What a diff may touch: ids sampled from the setup store. */
  final case class Universe(nodes: Array[(Long, Double, Double)],
      ways: Array[(Long, Array[Long])], rels: Array[(Long, Array[RelMember])])

  /** Collect the setup store's ids (and the payloads a diff rewrites)
    * to the driver. The store is small enough for this by design. */
  def universe(nodes: DataFrame, ways: DataFrame, rels: Option[DataFrame]): Universe = {
    val n = nodes.select("node_id", "lon", "lat").orderBy("node_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val w = ways.select("way_id", "members").orderBy("way_id").collect()
      .map(r => (r.getLong(0), r.getString(1).split(";").map(_.toLong)))
    val rl = rels.toArray.flatMap(_.select("rel_id", "members").orderBy("rel_id").collect())
      .map(r => (r.getLong(0), r.getString(1).split(";").map { m =>
        val Array(t, ref, role) = m.split("/", 3); RelMember(ref.toLong, t, role)
      }))
    Universe(n, w, rl)
  }

  /** Op mix of one diff, as shares of its ops. */
  final case class Mix(nodeModify: Double, nodeCreate: Double, wayModify: Double,
      relModify: Double)

  /** Node-modify heavy: the closure rebuilds the ways and relations
    * around every moved node (the minutely-diff shape). */
  val MinutelyMix: Mix = Mix(nodeModify = 0.80, nodeCreate = 0.08,
    wayModify = 0.08, relModify = 0.04)

  /** Ids of nodes this generator creates: far above every store id. */
  val CreatedBase: Long = 1000000000000L

  private val Epoch = 1704067200000L // 2024-01-01T00:00:00Z

  /** Diff `idx` of a stream: `n` ops over distinct objects, every op at
    * version `idx + 2` (store objects are version 1), so versions grow
    * along the stream and W1 dedup keeps the newest. Node deletes only
    * remove nodes this stream created in an earlier diff — no way
    * references them, so no delete ever meets the closure. */
  def diff(u: Universe, seq: Int, idx: Int, n: Int, mix: Mix, seed: Long): Vector[ChangeOp] = {
    val rnd = new Random(seed * 1000003L + idx)
    val version = idx + 2
    val ts = new Timestamp(Epoch + idx * 60000L)
    /** k distinct indexes into `arr` (fewer if the pool is smaller). */
    def distinct(arr: Array[_], k0: Int): Vector[Int] = {
      val k = math.min(k0, arr.length)
      val seen = scala.collection.mutable.LinkedHashSet[Int]()
      while (seen.size < k) seen += rnd.nextInt(arr.length)
      seen.toVector
    }
    val nMod = (n * mix.nodeModify).round.toInt
    val nCre = (n * mix.nodeCreate).round.toInt
    val nWay = (n * mix.wayModify).round.toInt
    val nRel = (n * mix.relModify).round.toInt
    // a third of the node-create share deletes the previous diff's
    // creations instead (the first diff has none to delete)
    val nDel = if (idx == 0) 0 else nCre / 3
    def op(action: String, kind: String, id: Long, lon: Option[Double] = None,
        lat: Option[Double] = None, refs: Seq[Long] = Nil,
        mems: Seq[RelMember] = Nil, tags: Map[String, String] = Map.empty) =
      ChangeOp(seq, action, kind, id, version, ts, action != "delete",
        lon, lat, refs, mems, tags)
    def created(i: Int, j: Int): Long = CreatedBase + i.toLong * 100000L + j
    val nodeMods = distinct(u.nodes, nMod).map { i =>
      val (id, lon, lat) = u.nodes(i)
      op("modify", "node", id, Some(lon + (rnd.nextInt(2001) - 1000) * 1e-4),
        Some(lat + (rnd.nextInt(2001) - 1000) * 1e-4),
        tags = Map(s"k${id % 5}" -> s"v${(id + idx) % 7}"))
    }
    val creates = (0 until nCre - nDel).map { j =>
      op("create", "node", created(idx, j), Some(rnd.nextInt(320000) / 1000.0 - 160.0),
        Some(rnd.nextInt(150000) / 1000.0 - 75.0), tags = Map("k0" -> "v0"))
    }
    val deletes = (0 until nDel).map(j => op("delete", "node", created(idx - 1, j)))
    val wayMods = distinct(u.ways, nWay).map { i =>
      val (id, ring) = u.ways(i)
      // rotate the closed ring: same nodes, new start vertex
      val open = ring.dropRight(1)
      val r = 1 + rnd.nextInt(math.max(1, open.length - 1))
      val rot = open.drop(r) ++ open.take(r)
      op("modify", "way", id, refs = (rot :+ rot.head).toSeq,
        tags = Map("name" -> s"way_$id", "rev" -> idx.toString))
    }
    val relMods = distinct(u.rels, nRel).map { i =>
      val (id, ms) = u.rels(i)
      op("modify", "relation", id, mems = ms.take(1 + rnd.nextInt(ms.length)).toSeq,
        tags = Map("type" -> (if (id % 4 == 3) "multipolygon" else "route"),
          "rev" -> idx.toString))
    }
    (nodeMods ++ creates ++ deletes ++ wayMods ++ relMods).toVector
  }

  /** `<osmChange>` XML of one diff, gzip-compressed. */
  def oscGz(ops: Seq[ChangeOp]): Array[Byte] = {
    val sb = new StringBuilder("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    sb ++= "<osmChange version=\"0.6\" generator=\"graftbench\">\n"
    def esc(v: String): String = v.flatMap {
      case '&' => "&amp;"; case '<' => "&lt;"; case '>' => "&gt;"
      case '"' => "&quot;"; case c => c.toString
    }
    def tsStr(t: Timestamp): String = t.toInstant.toString
    // one section per op keeps the stream order exact
    ops.foreach { o =>
      sb ++= s"<${o.action}>\n"
      val head = s"""<${o.kind} id="${o.id}" version="${o.version}" timestamp="${tsStr(o.ts)}""""
      val vis = if (o.visible) "" else " visible=\"false\""
      val coords = (o.lon, o.lat) match {
        case (Some(x), Some(y)) => s""" lat="$y" lon="$x""""
        case _ => ""
      }
      sb ++= s"  $head$vis$coords>\n"
      o.nodeRefs.foreach(r => sb ++= s"""    <nd ref="$r"/>\n""")
      o.members.foreach(m =>
        sb ++= s"""    <member type="${m.mtype}" ref="${m.ref}" role="${esc(m.role)}"/>\n""")
      o.tags.toSeq.sortBy(_._1).foreach { case (k, v) =>
        sb ++= s"""    <tag k="${esc(k)}" v="${esc(v)}"/>\n""" }
      sb ++= s"  </${o.kind}>\n</${o.action}>\n"
    }
    sb ++= "</osmChange>\n"
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(sb.toString.getBytes("UTF-8")); gz.close()
    bos.toByteArray
  }

  /** File name carrying the sequence number the engine reads back. */
  def oscName(seq: Int): String = f"$seq%09d.osc.gz"

  /** Write one diff and confirm the engine's parser reads it back as
    * exactly the generated ops. */
  def writeDiff(dir: Path, seq: Int, ops: Seq[ChangeOp]): Path = {
    val bytes = oscGz(ops)
    val p = dir.resolve(oscName(seq))
    val back = OscReader.parseFile(p.toString, bytes).toVector
    require(back == ops.toVector,
      s"OscReader read ${back.size} ops back from ${p.getFileName}, " +
        s"expected ${ops.size}; first mismatch: " +
        back.zip(ops).find { case (a, b) => a != b })
    Files.createDirectories(dir)
    Files.write(p, bytes)
    p
  }
}
