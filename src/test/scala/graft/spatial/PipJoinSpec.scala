package graft.spatial

import graft.SparkTestBase
import graft.queries.SpatialQueries.PipRes
import graft.synth.SynthUniverse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The single PIP join path takes its broadcast and skew decisions from
  * Spark's own statistics: with broadcast disabled and a hot cell
  * planted in the points, AQE's skew-join split must divide the hot
  * partition of the hint-free cell join, and the rows must be exactly
  * the default (broadcast) plan's rows. */
class PipJoinSpec extends SparkTestBase {

  /** Spark confs that force the shuffled join and let AQE's skew split
    * fire on a test-sized hot partition. */
  private val skewConfs = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.shuffle.partitions" -> "16",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k")

  private def withConfs[A](kvs: Seq[(String, String)])(f: => A): A = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def polys: DataFrame = SpatialJoin.polygons(
    SynthUniverse.wayMembers(spark, sfSmall), SynthUniverse.nodes(spark, sfSmall))

  /** sf0.01 points plus 50k distinct-keyed points on one location: the
    * bbox center of `ring`, so every planted point is a true hit. */
  private def hotPoints(ring: DataFrame): DataFrame = {
    val c = ring.select(
      ((array_min(col("xs")) + array_max(col("xs"))) / 2.0).as("lon"),
      ((array_min(col("ys")) + array_max(col("ys"))) / 2.0).as("lat")).head()
    val hot = spark.range(50000).select((col("id") + 1000000000L).as("doc_id"),
      lit("hot").as("entity"), lit(c.getDouble(0)).as("lon"), lit(c.getDouble(1)).as("lat"))
    SynthUniverse.points(spark, sfSmall).unionByName(hot)
  }

  /** Rows (sorted, duplicates kept) and the final executed plan. */
  private def run(df: DataFrame): (Seq[(Long, String, Long)], String) = {
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
    (rows, df.queryExecution.executedPlan.toString)
  }

  private def assertSkewSplitMatchesDefault(join: () => DataFrame): Unit = {
    val (skewRows, skewPlan) = withConfs(skewConfs)(run(join()))
    assert(skewPlan.contains("SortMergeJoin(skew=true)"), skewPlan)
    assert(skewPlan.contains("pip_contains"), "native refine expression missing from plan")
    val (defaultRows, defaultPlan) = run(join())
    assert(!defaultPlan.contains("skew=true"), defaultPlan)
    assert(skewRows.exists(_._2 == "hot"))
    assert(skewRows === defaultRows)
  }

  test("pipJoin hot cell is skew-split under AQE with default-plan rows") {
    val gons = polys.cache()
    val pts = hotPoints(gons.orderBy(col("way_id")).limit(1)).cache()
    try assertSkewSplitMatchesDefault(() =>
      SpatialJoin.pipJoin(pts, gons, PipRes)
        .select(col("doc_id"), col("entity"), col("way_id")))
    finally { pts.unpersist(); gons.unpersist() }
  }

  test("pipJoinMulti hot cell is skew-split under AQE with default-plan rows") {
    val rings = SynthUniverse.relMembers(spark, sfSmall)
      .filter(col("member_kind") === "way")
      .join(polys, col("member_id") === col("way_id"))
      .select(col("rel_id"), col("role"), col("xs"), col("ys"))
      .cache()
    val pts = hotPoints(
      rings.filter(col("role") === "outer").orderBy(col("rel_id")).limit(1)).cache()
    try assertSkewSplitMatchesDefault(() =>
      SpatialJoin.pipJoinMulti(pts, rings, PipRes)
        .select(col("doc_id"), col("entity"), col("rel_id")))
    finally { pts.unpersist(); rings.unpersist() }
  }

  /** Inserts `k` collinear points into every edge of a coordinate
    * array. */
  private val densify = udf((vs: Seq[Double], k: Int) =>
    vs.sliding(2).flatMap { case Seq(a, b) =>
      (0 to k).map(j => a + (b - a) * j / (k + 1))
    }.toSeq :+ vs.last)

  test("densified rings produce the identical PIP join output") {
    // collinear edge splits may never change the join's output, only
    // the bytes each candidate carries
    val pts = SynthUniverse.points(spark, sfSmoke)
      .select(col("doc_id"), col("lon"), col("lat"))
    val polys = SpatialJoin.polygons(
      SynthUniverse.wayMembers(spark, sfSmoke), SynthUniverse.nodes(spark, sfSmoke))
    val dense = polys.select(col("way_id"),
      densify(col("xs"), lit(16)).as("xs"),
      densify(col("ys"), lit(16)).as("ys"))
    def hits(p: DataFrame): Set[(Long, Long)] =
      SpatialJoin.pipJoin(pts, p, res = 7)
        .select(col("doc_id"), col("way_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = hits(polys)
    assert(base.nonEmpty)
    assert(hits(dense) === base)
  }
}
