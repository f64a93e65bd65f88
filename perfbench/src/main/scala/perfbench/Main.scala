package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by run.py:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --out FILE [--data DIR] [--trace-out FILE]
  *
  * Writes the run's measurements to --out (and the spans to --trace-out when
  * tracing), then exits the JVM: the HTTP server's worker pool would keep it
  * alive otherwise. */
object Main {
  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Serve.Threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workload = a("--workload")
    val seed = a("--seed").toLong
    val seconds = a("--seconds").toInt
    val tracer = new Tracer(a("--trace") == "1")
    val work = Paths.get(a("--work")).toAbsolutePath
    val out = new Result(workload, seed, tracer.enabled)
    val origin = System.nanoTime()
    var code = 0
    try {
      Files.createDirectories(work)
      val probe = new SparkProbe
      val spark = workload match {
        case "batch_gates" =>
          // set-up is the session start plus a first read of every input
          // table; done three times, the median kept
          val data = Paths.get(a("--data"))
          val tables = Files.list(data).toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted
          val starts = (0 until 3).map { i =>
            val t0 = System.nanoTime()
            val s = session(work, Gates.Cores)
            tables.foreach(t => s.read.parquet(t).count())
            val secs = (System.nanoTime() - t0) / 1e9
            if (i < 2) s.stop()
            (s, secs)
          }
          out.e2e("setup_s", Stats.median(starts.map(_._2)), "s")
          out.detail("setup_s_all", starts.map(_._2).mkString("[", ",", "]"))
          starts.last._1
        case _ => session(work, Serve.Threads)
      }
      spark.sparkContext.addSparkListener(probe)
      workload match {
        case "serve_read" | "serve_ingest" =>
          Serve.run(spark, probe, tracer, work, workload, seed, seconds, out)
        case "batch_gates" =>
          Gates.run(spark, probe, tracer, Paths.get(a("--data")), work, seconds, out)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (tracer.enabled) {
        out.layer("trace.span_cost_us", Tracer.spanCostUs(), "us")
        out.layer("trace.spans", tracer.size.toDouble, "count")
        a.get("--trace-out").foreach(p => tracer.writeTo(Paths.get(p), origin))
      }
      out.write(Paths.get(a("--out")))
      spark.stop()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        code = 1
    }
    System.out.flush()
    System.err.flush()
    System.exit(code)
  }
}
