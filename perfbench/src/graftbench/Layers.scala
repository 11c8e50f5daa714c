package graftbench

import Main.{CallRec, median}

/** The per-layer metrics of a traced run. Every workload reports every
  * metric; a layer the workload's calls never reach reports 0.
  *
  * Span times and the counts a traced call records come from the
  * traced calls; Spark activity comes from the plain calls of the same
  * run (the same work the timed runs measure); table writes come from
  * every call's commits. Each is the median over its calls. */
object Layers {
  /** (name, unit) of every per-layer metric, in report order. */
  val All: Seq[(String, String)] = Seq(
    "synth.extract_s" -> "s", "synth.points" -> "count",
    "geo.cover_s" -> "s", "geo.cover_cells" -> "count",
    "spatial.polygons_s" -> "s", "spatial.pip_s" -> "s", "spatial.pip_rows" -> "count",
    "spatial.pip_candidates" -> "count", "spatial.pip_hit_ratio" -> "ratio",
    "spatial.pip_shuffle_bytes" -> "B", "spatial.pip_spill_bytes" -> "B",
    "spatial.pip_task_skew" -> "ratio", "spatial.tiles_s" -> "s",
    "tables.read_s" -> "s", "tables.read_files" -> "count",
    "osm.parse_s" -> "s", "osm.parse_ops" -> "count", "osm.parse_useful_ratio" -> "ratio",
    "osm.dedup_s" -> "s", "osm.winners" -> "count",
    "osm.closure_s" -> "s", "osm.stale_ways" -> "count", "osm.stale_rels" -> "count",
    "osm.reconstruct_s" -> "s",
    "rdf.derive_s" -> "s", "rdf.triples" -> "count",
    "tables.merge_s" -> "s") ++
    Store.Layers.flatMap(l => Seq(
      s"tables.$l.buckets_rewritten" -> "count", s"tables.$l.bytes_written" -> "B",
      s"tables.$l.rows_written" -> "count", s"tables.$l.commit_at_s" -> "s")) ++ Seq(
    "tables.write_amp" -> "ratio", "tables.bytes_per_op" -> "B/op",
    "tables.triples.compactions" -> "count", "tables.triples.compact_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.task_cpu_s" -> "s", "spark.cpu_util" -> "ratio",
    "spark.driver_gap_s" -> "s") ++
    EngineListener.Modules.flatMap(m => Seq(
      s"spark.$m.jobs" -> "count", s"spark.$m.task_s" -> "s")) ++ Seq(
    "trace.span_coverage" -> "ratio", "trace.overhead_s" -> "s")

  def metrics(calls: Seq[CallRec], spanRecs: Seq[Span], cores: Int): Seq[(String, Double, String)] = {
    val traced = calls.filter(_.traced)
    val plain = calls.filterNot(_.traced)
    val v = scala.collection.mutable.Map[String, Double]()
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)

    // layer spans and counts of the traced calls
    val keys = traced.flatMap(_.layer.keys).distinct
    keys.foreach(k => v(k) = med(traced.flatMap(_.layer.get(k))))
    spanRecs.filter(_.name != "call").map(_.name).distinct.foreach { n =>
      v(s"${n}_s") = med(traced.map(c =>
        spanRecs.filter(s => s.call == c.i && s.name == n).map(_.seconds).sum))
    }
    traced.flatMap(_.pipStats).headOption.foreach { _ =>
      val ps = traced.flatMap(_.pipStats)
      v("spatial.pip_shuffle_bytes") = med(ps.map(_.shuffleBytes.toDouble))
      v("spatial.pip_spill_bytes") = med(ps.map(_.spillBytes.toDouble))
      v("spatial.pip_task_skew") = med(ps.map(_.heaviestStageSkew))
    }
    v("trace.span_coverage") = med(traced.map { c =>
      val call = spanRecs.find(s => s.call == c.i && s.name == "call")
      val inner = spanRecs.filter(s => s.call == c.i && call.exists(_.id == s.parent))
      inner.map(_.seconds).sum / math.max(1e-9, call.map(_.seconds).getOrElse(c.wallS))
    })
    v("trace.overhead_s") = med(traced.map(_.wallS)) - med(plain.map(_.wallS))

    // Spark activity of the plain calls
    val st = plain.flatMap(_.stats)
    v("spark.jobs") = med(st.map(_.jobs.toDouble))
    v("spark.stages") = med(st.map(_.stages.toDouble))
    v("spark.tasks") = med(st.map(_.tasks.toDouble))
    v("spark.task_s") = med(st.map(_.taskS))
    v("spark.task_cpu_s") = med(st.map(_.cpuS))
    v("spark.cpu_util") = med(st.map(x => x.taskS / math.max(1e-9, x.wallS * cores)))
    v("spark.driver_gap_s") = med(st.map(_.gapS))
    EngineListener.Modules.foreach { m =>
      v(s"spark.$m.jobs") = med(st.map(_.jobsByModule.getOrElse(m, 0).toDouble))
      v(s"spark.$m.task_s") = med(st.map(_.taskSByModule.getOrElse(m, 0.0)))
    }

    // table writes of every call, read from snapshot metadata
    Store.Layers.foreach { l =>
      val per = calls.map(c => c -> c.commits.filter(_.layer == l))
      if (per.exists(_._2.nonEmpty)) {
        v(s"tables.$l.buckets_rewritten") = med(per.map(_._2.map(_.buckets.toDouble).sum))
        v(s"tables.$l.bytes_written") = med(per.map(_._2.map(_.bytes.toDouble).sum))
        v(s"tables.$l.rows_written") = med(per.map(_._2.map(_.rows.toDouble).sum))
        v(s"tables.$l.commit_at_s") = med(per.flatMap { case (c, cs) =>
          cs.lastOption.map(x => (x.committedAtMs - c.startMs) / 1e3) })
      }
    }
    val layerRows = (c: CallRec) =>
      c.commits.filter(_.layer != "triples").map(_.rows.toDouble).sum
    v("tables.write_amp") = med(traced.flatMap(c =>
      c.layer.get("tables.write_amp_base").filter(_ > 0).map(layerRows(c) / _)))
    val units = calls.map(_.units).sum
    if (units > 0 && calls.exists(_.commits.nonEmpty))
      v("tables.bytes_per_op") = calls.flatMap(_.commits).map(_.bytes.toDouble).sum / units
    val compacting = calls.filter(_.commits.exists(c =>
      c.layer == "triples" && c.operation.startsWith("compact")))
    v("tables.triples.compactions") = compacting.size
    v("tables.triples.compact_s") = med(compacting.flatMap(c =>
      c.commits.filter(_.layer == "triples").lastOption.map(x => (x.committedAtMs - c.startMs) / 1e3)))

    All.map { case (n, u) => (n, v.getOrElse(n, 0.0), u) }
  }
}
