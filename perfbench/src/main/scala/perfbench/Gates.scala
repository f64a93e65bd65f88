package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** The batch_gates workload: a fixed list of `SparkEntry` gates, one to four
  * per layer family. Pass 1 is cold and writes every gate's output as parquet
  * for the DuckDB oracle check; then `WarmupCycles` untimed cycles through the
  * noop sink, and timed cycles until the run's seconds are spent. */
object Gates {
  /** Untimed noop cycles after the cold pass. Warm gate times keep falling
    * for about three cycles after the first run (the JIT is still compiling:
    * on 4 cores a cycle took 19 s cold, then 9.1, 7.9, 7.3, 6.7, 6.5, 6.4 s),
    * and a time taken on that slope swings with how far it has got. */
  val WarmupCycles = 2

  /** Spark task threads. Gates are CPU-bound, and with as many task threads
    * as cores every stage waits on whichever core the driver, the JIT, the
    * collector or another tenant of the host takes; two leave room for them.
    * In paired runs on a 4-vCPU host, local[2] was faster than local[4]
    * (1.16 against 1.05 gates/s) and its figures spread less between runs. */
  val Cores = 2

  val Families: Seq[(String, Seq[String])] = Seq(
    "pipeline" -> Seq("tx_lm_trigram"),
    "streaming" -> Seq("st_span_stream"),
    "dedup" -> Seq("dd_minhash_lsh"),
    "sql" -> Seq("q9_percentiles", "ev_sessions", "v4_filtered_topk", "a2_pk_lookup"),
    "index" -> Seq("hy_rrf_fusion", "v2_sparse_inverted"),
    "store" -> Seq("a1_store_scan_page"))

  /** The module each family's gates exercise, as a trace layer. */
  val LayerOf: Map[String, String] = Map("pipeline" -> "pipeline",
    "streaming" -> "streaming", "dedup" -> "pipeline", "sql" -> "query",
    "index" -> "index", "store" -> "store")

  val All: Seq[(String, String)] =
    Families.flatMap { case (f, gs) => gs.map(f -> _) }

  final case class GateRun(pass: Int, family: String, name: String,
      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  def run(spark: SparkSession, probe: SparkProbe, tracer: Tracer, data: Path,
      work: Path, seconds: Int, out: Result): Unit = {
    val outDir = work.resolve("gates_out")
    Files.createDirectories(outDir)
    val runs = mutable.ArrayBuffer[GateRun]()
    var failures = 0
    // pass 1 writes each gate's output as parquet for the oracle check;
    // warm passes write through the noop sink
    def runGate(pass: Int, family: String, name: String): Unit =
      try {
        val ms0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val w = SparkEntry.queries(name)(spark, data.toString).write.mode("overwrite")
        if (pass == 1) w.parquet(outDir.resolve(name).toString)
        else w.format("noop").save()
        val t1 = System.nanoTime()
        runs += GateRun(pass, family, name, t0, t1, ms0, System.currentTimeMillis())
      } catch {
        case e: Exception =>
          failures += 1
          System.err.println(s"[perfbench] gate $name failed: $e")
      } finally {
        // cached stage pins from one gate must not serve the next
        graft.pipeline.StageCaches.unpersistAll(blocking = true)
      }
    val gc0 = Jvm.gcMs()
    All.foreach { case (f, n) => runGate(1, f, n) }
    // after exactly one run of every gate, so the figure does not depend on
    // how many warm runs fit in the seconds
    val heapMb = Jvm.heapAfterGcMb()
    // the cold pass counts as the first cycle of the warm-up
    val warmupStart = System.nanoTime()
    for (c <- 0 until WarmupCycles; (f, n) <- All) runGate(2 + c, f, n)
    val firstTimed = 2 + WarmupCycles
    // timed: the gates in a fixed cycle until the seconds are spent, and at
    // least one full pass
    val warmStart = System.nanoTime()
    val deadline = warmStart + seconds * 1000000000L
    var i = 0
    while (i < All.size || System.nanoTime() < deadline) {
      val (f, n) = All(i % All.size)
      runGate(firstTimed + i / All.size, f, n)
      i += 1
    }
    val gcMs = Jvm.gcMs() - gc0

    val cold = runs.filter(_.pass == 1)
    val warm = runs.filter(_.pass >= firstTimed)
    val perGateWarm = warm.groupBy(_.name).map { case (n, rs) => n -> Stats.median(rs.map(_.seconds * 1000)) }
    // per-gate medians, so a cycle cut short by the deadline weighs nothing
    val warmCycleS = perGateWarm.values.sum / 1000
    out.e2e("ops_per_s", All.size / warmCycleS, "ops/s")
    out.e2e("query_p50_ms", Stats.median(perGateWarm.values), "ms")
    out.e2e("query_tail_ms", perGateWarm.values.max, "ms")
    out.e2e("heap_mb", heapMb, "MB")
    out.detail("query_tail_def", "slowest gate's median warm time")
    out.detail("batch_cold_s", cold.map(_.seconds).sum)
    out.detail("batch_warm_s", warmCycleS)
    out.detail("warm_gate_runs", warm.size)
    out.detail("warmup_cycles", WarmupCycles)
    out.detail("warmup_s", (warmStart - warmupStart) / 1e9)
    out.detail("gates", All.map(_._2).mkString("[\"", "\",\"", "\"]"))
    cold.foreach(r => out.detail(s"cold_ms.${r.name}", r.seconds * 1000))
    perGateWarm.foreach { case (n, ms) => out.detail(s"warm_ms.$n", ms) }
    out.attempt(runs.size + failures, failures)
    val oracle = SparkEntry.oracleSql
    val sqlJson = All.map { case (_, n) =>
      "\"" + n + "\":" + org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(org.json4s.JString(oracle(n))))
    }.mkString("{", ",", "}")
    Files.write(outDir.resolve("oracle_sql.json"), sqlJson.getBytes("UTF-8"))

    // ---- per-layer (traced run) ----
    if (tracer.enabled) {
      probe.drain()
      out.layer("jvm.gc_ms", gcMs, "ms")
      Families.foreach { case (family, _) =>
        val fam = runs.filter(_.family == family)
        out.layer(s"gates.${family}_s.cold", fam.filter(_.pass == 1).map(_.seconds).sum, "s")
        val fw = fam.filter(_.pass >= firstTimed)
        // per warm run of each of the family's gates
        val warmRuns = fw.size.toDouble / fam.count(_.pass == 1)
        def perPass(x: Double): Double = x / warmRuns
        out.layer(s"gates.${family}_s.warm", perPass(fw.map(_.seconds).sum), "s")
        // gates run one at a time, so every job started during a gate run
        // is that gate's, including jobs Spark submits from its own threads
        def jobsOf(r: GateRun): SparkTotals = probe.startedWithin(r.startMs, r.endMs)
        val t = new SparkTotals
        fw.foreach(r => t.add(jobsOf(r)))
        out.layer(s"spark.tasks.$family", perPass(t.tasks.toDouble), "count")
        out.layer(s"spark.executor_run_s.$family", perPass(t.executorRunMs / 1e3), "s")
        out.layer(s"spark.executor_cpu_s.$family", perPass(t.executorCpuNs / 1e9), "s")
        out.layer(s"spark.gc_s.$family", perPass(t.gcMs / 1e3), "s")
        out.layer(s"spark.shuffle_read_mb.$family", perPass(t.shuffleReadBytes / 1048576.0), "MB")
        out.layer(s"spark.shuffle_write_mb.$family", perPass(t.shuffleWriteBytes / 1048576.0), "MB")
        out.layer(s"spark.spill_mb.$family", perPass(t.spillBytes / 1048576.0), "MB")
        val driverOnly = fw.map { r =>
          SparkProbe.uncoveredMs(r.startMs, r.endMs, jobsOf(r).jobIntervals.toSeq)
        }.sum / 1e3
        out.layer(s"spark.driver_only_s.$family", perPass(driverOnly), "s")
      }
      // spans: one per gate run, its Spark jobs as children
      val anchorMs = System.currentTimeMillis()
      val anchorNs = System.nanoTime()
      def nsOf(ms: Long): Long = anchorNs - (anchorMs - ms) * 1000000L
      runs.foreach { r =>
        val req = tracer.nextRequestId()
        val id = tracer.record(s"gate.${r.name}", LayerOf(r.family), 0L, req, r.startNs, r.endNs)
        probe.startedWithin(r.startMs, r.endMs).jobIntervals.foreach { case (a, b) =>
          tracer.record("spark.job", "spark", id, req, nsOf(a), nsOf(b))
        }
      }
    }
  }
}
