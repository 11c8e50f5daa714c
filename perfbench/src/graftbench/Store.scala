package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.osm.{ChangePipeline, Replicator}
import graft.rdf.TripleDerive
import graft.synth.SynthUniverse
import graft.tables.SnapshotTable

/** The four-layer snapshot store (nodes / ways / rels / owner-keyed
  * triples) the replication loop maintains, built from the engine's
  * public derivations, plus its untimed copy/restore and the
  * correctness gates that check a maintained store. */
object Store {
  val Layers: Seq[String] = Seq("nodes", "ways", "rels", "triples")

  /** Build the store under `root` from the synthetic universe in
    * `dataDir`. `withRelsAndTriples = false` leaves a node+way
    * deployment (the replicator then maintains only those layers). */
  def build(s: SparkSession, dataDir: String, root: Path, buckets: Int,
      withRelsAndTriples: Boolean = true): Unit = {
    rmrf(root)
    val r = root.toString
    val nodes = SynthUniverse.nodesMeta(s, dataDir).cache()
    SnapshotTable.create(s, s"$r/nodes", nodes, Seq("node_id"), buckets)
    val wm = SynthUniverse.wayMembers(s, dataDir)
    val ways = ChangePipeline.reconstructWays(wm.select(col("way_id")).distinct(), wm, nodes)
      .withColumn("ts", SynthUniverse.synthTs(col("way_id")))
      .withColumn("tags", SynthUniverse.wayTagMap(col("way_id")))
      .cache()
    SnapshotTable.create(s, s"$r/ways", ways, Seq("way_id"), buckets)
    if (withRelsAndTriples) {
      val rels = ChangePipeline.serializeRelMembers(
          SynthUniverse.relMembers(s, dataDir).withColumnRenamed("member_kind", "mtype"))
        .withColumn("ts", SynthUniverse.synthTs(col("rel_id")))
        .withColumn("tags", SynthUniverse.relTagMap(col("rel_id")))
        .cache()
      SnapshotTable.create(s, s"$r/rels", rels, Seq("rel_id"), buckets)
      SnapshotTable.create(s, s"$r/triples", triplesOf(nodes, ways, rels),
        Seq("subj_key"), buckets)
      rels.unpersist()
    }
    Seq(nodes, ways).foreach(_.unpersist())
  }

  /** The owned triple families of three layer snapshots. */
  def triplesOf(nodes: DataFrame, ways: DataFrame, rels: DataFrame): DataFrame =
    TripleDerive.ownedNodeTriplesFull(nodes)
      .unionByName(TripleDerive.ownedWayTriplesFull(ways))
      .unionByName(TripleDerive.ownedRelTriplesFull(rels))
      .select(col("subj_key"), col("s"), col("p"), col("o"))

  def rmrf(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))

  /** Recursive file copy (the store is a directory of immutable files
    * plus small metadata; a restore is a plain copy). */
  def copyTree(from: Path, to: Path): Unit = {
    rmrf(to)
    Files.walk(from).forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  /** Layer snapshots of a store that no longer changes. */
  final case class Snap(nodes: DataFrame, ways: DataFrame, rels: Option[DataFrame])

  def snapshot(s: SparkSession, root: Path): Snap = {
    val rep = new Replicator(s, root.toString)
    Snap(rep.nodes.read(), rep.ways.read(), rep.rels.currentSnapshot.map(_ => rep.rels.read()))
  }

  /** Rows of `got` and `want` that the other side lacks (as multisets),
    * counted in one job: per distinct row, the difference of its two
    * multiplicities. */
  def mismatchedRows(got: DataFrame, want: DataFrame): Long = {
    val cols = got.columns.sorted.toSeq
    got.select(cols.map(col) :+ lit(1L).as("__d"): _*)
      .unionByName(want.select(cols.map(col) :+ lit(-1L).as("__d"): _*))
      .groupBy(cols.map(col): _*).agg(sum(col("__d")).as("__n"))
      .agg(coalesce(sum(abs(col("__n"))), lit(0L))).head().getLong(0)
  }

  /** Gate: every layer of the maintained store at `root` equals the
    * engine's reference compositions — `ChangePipeline.apply{Node,Way,
    * Rel}Ops` over the setup snapshot and the W1 winners of every
    * applied op — and the triple store equals the owned triple
    * families of the maintained layers. Returns the failed checks. */
  def gate(s: SparkSession, root: Path, setup: Snap, appliedOps: DataFrame): Seq[String] = {
    val winners = ChangePipeline.dedupLatest(appliedOps).cache()
    val rep = new Replicator(s, root.toString)
    val baseMembers = setup.ways
      .select(col("way_id"), posexplode(split(col("members"), ";")).as(Seq("pos", "nid")))
      .select(col("way_id"), col("pos"), col("nid").cast("long").as("node_id"))
    val stale = ChangePipeline.staleWays(winners, baseMembers).cache()
    val changeMembers = winners
      .filter(col("kind") === "way" && col("action").isin("create", "modify"))
      .select(col("id").as("way_id"), posexplode(col("nodeRefs")).as(Seq("pos", "node_id")))
    val mergedNodes = ChangePipeline.applyNodeOps(setup.nodes, winners)
    val wantWays = ChangePipeline.applyWayOps(setup.ways.select("way_id", "members", "wkt"),
      winners, changeMembers.unionByName(baseMembers.join(stale, Seq("way_id"), "left_semi")),
      mergedNodes, stale)
    val checks = Seq.newBuilder[(String, DataFrame, DataFrame)]
    def check(name: String, got: DataFrame, want: DataFrame): Unit = checks += ((name, got, want))
    check("nodes", rep.nodes.read().select("node_id", "lon", "lat"), mergedNodes)
    check("ways", rep.ways.read().select("way_id", "members", "wkt"), wantWays)
    setup.rels.foreach { baseRels =>
      val rm = baseRels
        .select(col("rel_id"), posexplode(split(col("members"), ";")).as(Seq("pos", "m")))
        .select(col("rel_id"), col("pos"),
          split_part(col("m"), lit("/"), lit(1)).as("mtype"),
          split_part(col("m"), lit("/"), lit(2)).cast("long").as("member_id"),
          split_part(col("m"), lit("/"), lit(3)).as("role"))
      val staleR = ChangePipeline.staleRels(winners, rm.filter(col("mtype") === "way"), stale)
      val changeRm = winners
        .filter(col("kind") === "relation" && col("action").isin("create", "modify"))
        .select(col("id").as("rel_id"), posexplode(col("members")).as(Seq("pos", "m")))
        .select(col("rel_id"), col("pos"), col("m.ref").as("member_id"),
          col("m.role").as("role"))
      val membership = changeRm.unionByName(
        rm.join(staleR, Seq("rel_id"), "left_semi").drop("mtype"))
      // applyRelOps serializes members as `ref/role`; the layer stores
      // `mtype/ref/role` — compare on the shared `ref/role` form
      val wantRels = ChangePipeline.applyRelOps(
        baseRels.select(col("rel_id"), refRole(col("members")).as("members")),
        winners, membership, staleR)
      check("rels", rep.rels.read().select(col("rel_id"), refRole(col("members")).as("members")),
        wantRels)
      check("triples", rep.triples.read().select("subj_key", "s", "p", "o"),
        triplesOf(rep.nodes.read(), rep.ways.read(), rep.rels.read()))
    }
    // the checks are independent jobs; running them together overlaps
    // their planning with each other's execution
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val cs = checks.result()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cs.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val failures =
      try Await.result(Future.sequence(cs.map { case (name, got, want) =>
        Future(name -> mismatchedRows(got, want)) }), Duration.Inf)
      finally pool.shutdown()
    stale.unpersist(); winners.unpersist()
    failures.collect { case (name, n) if n != 0 =>
      s"$name: $n rows differ between the store and the reference" }
  }

  private def refRole(members: org.apache.spark.sql.Column) =
    array_join(transform(split(members, ";"),
      m => concat_ws("/", split_part(m, lit("/"), lit(2)), split_part(m, lit("/"), lit(3)))), ";")
}
