package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one process.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>
  * }}}
  *
  * Prints, as its last stdout line, `{"correct", "attempted", "failed",
  * "metrics"}`: the end-to-end metrics with `--trace 0`, the per-layer
  * metrics with `--trace 1`. */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, out: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("out")))
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap still occupied once the session holds no cached data: a
    * full collection lets Spark's cleaner drop the blocks of
    * unreachable broadcasts and shuffles, and a second one frees
    * them. */
  def liveHeapBytes(s: SparkSession): Long = {
    clearState(s)
    System.gc(); Thread.sleep(500); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Wait (at most 5 s) until the JIT compiler has been idle for
    * 300 ms, so compilations queued by earlier work do not compete
    * with the next timed call for the cores. */
  def settleJit(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L; var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      val t = jit.getTotalCompilationTime
      quiet = if (t == last) quiet + 1 else 0
      last = t
      Thread.sleep(100)
    }
  }

  def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    if (v.isEmpty) 0.0
    else if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
  }

  private def clearState(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def secs[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime(); val a = f; ((System.nanoTime() - t0) / 1e9, a)
  }

  final case class CallRec(i: Int, traced: Boolean, wallS: Double, units: Long,
      startMs: Long, layer: Workload.Layer, stats: Option[CallStats],
      pipStats: Option[CallStats], commits: Seq[Commit])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val runT0 = System.nanoTime()
    val phases = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    def phase(n: String): Unit = phases += n -> (System.nanoTime() - runT0) / 1e9
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(a.work); Files.createDirectories(a.out)
    val probeBefore = Host.probe(cores)
    val spark = session(cores, a.work)
    val w = Workloads(a.workload, spark, a.seed)
    phase("session")

    val setupS = (0 until SetupReps).map { k =>
      val dir = a.work.resolve(s"setup-$k")
      val t = secs(w.setup(dir))._1
      clearState(spark)
      if (k > 0) Store.rmrf(a.work.resolve(s"setup-${k - 1}"))
      t
    }
    phase("setup")
    w.warm(); clearState(spark)
    phase("warm")

    val listener = new EngineListener
    if (a.trace) spark.sparkContext.addSparkListener(listener)
    val spans = new Spans
    val calls = scala.collection.mutable.ArrayBuffer[CallRec]()
    var failures = Seq.empty[String]
    var callsFailed = 0
    // the window counts the timed calls only, not the untimed work
    // between them
    def elapsed = calls.map(_.wallS).sum
    var i = 0
    // closed loop, one client; a traced run alternates plain and traced
    // calls so it measures its own overhead
    while (failures.isEmpty &&
        (i == 0 || elapsed < a.seconds || (a.trace && i < 2))) {
      val traced = a.trace && i % 2 == 1
      w.prepare(i)
      // every call starts with no cached data, a collected heap and an
      // idle JIT
      clearState(spark); System.gc()
      settleJit()
      val heads = if (a.trace) Meta.heads(w.tables) else Map.empty[String, Long]
      val layer = scala.collection.mutable.Map.empty[String, Double]
      spans.call = i
      val t0Ms = System.currentTimeMillis()
      val res = scala.util.Try(secs(
        if (traced) spans("call")(w.call(i, Some(spans), layer))
        else w.call(i, None, layer)))
      val t1Ms = System.currentTimeMillis()
      res match {
        case scala.util.Failure(e) =>
          e.printStackTrace()
          callsFailed += 1
          failures :+= s"call $i threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        case scala.util.Success((wall, units)) =>
          val (stats, pipStats, commits) =
            if (!a.trace) (None, None, Nil)
            else {
              ListenerBusDrain.drain(spark.sparkContext)
              val pip = spans.all.find(sp => sp.call == i && sp.name == "spatial.pip")
                .map(sp => CallStats.of(listener, sp.startNs / 1000000L, sp.endNs / 1000000L, cores))
              (Some(CallStats.of(listener, t0Ms, t1Ms, cores)), pip,
                w.tables.toSeq.flatMap { case (n, t) =>
                  Meta.commitsAfter(n, t, heads.getOrElse(n, 0L)) })
            }
          calls += CallRec(i, traced, wall, units, t0Ms, layer, stats, pipStats, commits)
      }
      i += 1
    }
    // what the calls left behind, measured once they are done
    val liveHeap = liveHeapBytes(spark)
    phase("timed")

    val gateFailures = if (failures.isEmpty) scala.util.Try(w.gate())
      .fold(e => Seq(s"gate threw ${e.getClass.getSimpleName}: ${e.getMessage}"), identity)
      else Nil
    phase("gate")
    val allFailures = failures ++ gateFailures
    val attempted = i
    val failed = if (gateFailures.nonEmpty) attempted else callsFailed
    spark.stop()
    val probeAfter = Host.probe(cores)

    val untraced = calls.filterNot(_.traced).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", median(setupS), "s"),
        ("call_p50_s", median(untraced.map(_.wallS)), "s"),
        ("units_per_s", median(untraced.map(c => c.units / c.wallS)), "1/s"),
        ("live_heap_mb", liveHeap / 1048576.0, "MB"))
      else Layers.metrics(calls.toSeq, spans.all, cores)

    spans.write(a.out.resolve(s"${a.workload}-seed${a.seed}.spans.jsonl"))
    val meta = Seq(
      s""""workload":"${a.workload}"""", s""""seed":${a.seed}""", s""""cores":$cores""",
      s""""trace":${a.trace}""", s""""calls":${calls.size}""",
      s""""call_walls_s":[${calls.map(c => f"${c.wallS}%.4f").mkString(",")}]""",
      s""""setup_runs_s":[${setupS.map(t => f"$t%.4f").mkString(",")}]""",
      phases.map { case (n, t) => f""""$n":$t%.2f""" }.mkString(""""phase_end_s":{""", ",", "}"),
      s""""host_cpu_probe_s":[${probeBefore._1},${probeAfter._1}]""",
      s""""host_mem_probe_s":[${probeBefore._2},${probeAfter._2}]""")
    println(meta.mkString("run-meta {", ",", "}"))
    allFailures.foreach(f => println(s"FAILED: $f"))
    val ms = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    println(s"""{"correct":${allFailures.isEmpty},"attempted":$attempted,"failed":$failed,"metrics":$ms}""")
    System.out.flush()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
