package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Everything one run measured: end-to-end metrics, per-layer metrics,
  * correctness checks and diagnostic detail. Written as one JSON file that
  * the runner turns into the result line. */
final class Result(workload: String, seed: Long, trace: Boolean) {
  private val e2eM = mutable.LinkedHashMap[String, (Double, String)]()
  private val layerM = mutable.LinkedHashMap[String, (Double, String)]()
  private val details = mutable.LinkedHashMap[String, String]()
  private val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  private var attempted = 0L
  private var failed = 0L

  def e2e(name: String, v: Double, unit: String): Unit = e2eM(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layerM(name) = (v, unit)
  def detail(name: String, v: Any): Unit = details(name) = v match {
    case d: Double => num(d)
    case s: String if s.startsWith("[") || s.startsWith("{") => s
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case other => other.toString
  }
  def attempt(n: Long, f: Long): Unit = { attempted += n; failed += f }
  def check(name: String, ok: Boolean, note: String = ""): Unit = checks += ((name, ok, note))

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""

  def write(path: Path): Unit = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]): String =
      m.map { case (k, (v, u)) => s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}""" }
        .mkString("{", ",", "}")
    val cs = checks.map { case (n, ok, note) =>
      s"""{"name":${str(n)},"ok":$ok,"note":${str(note)}}""" }.mkString("[", ",", "]")
    val ds = details.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    val json =
      s"""{"workload":${str(workload)},"seed":$seed,"trace":$trace,""" +
        s""""correct":${checks.forall(_._2) && failed == 0},""" +
        s""""attempted":$attempted,"failed":$failed,""" +
        s""""end_to_end":${metrics(e2eM)},"per_layer":${metrics(layerM)},""" +
        s""""checks":$cs,"detail":$ds}"""
    Files.write(path, json.getBytes("UTF-8"))
  }
}

/** JVM-level measurements. */
object Jvm {
  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).filter(_ >= 0).sum

  /** Heap in use after full collections, in MB. The pauses between them
    * let Spark's ContextCleaner drop the blocks of broadcasts and RDDs the
    * previous collection found unreachable, so the next one can free them. */
  def heapAfterGcMb(): Double = {
    System.gc()
    (1 to 2).foreach { _ => Thread.sleep(300); System.gc() }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** (regular files, bytes) under `root`. */
  def treeSize(root: Path): (Long, Long) = {
    val w = Files.walk(root)
    try {
      val fs = w.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally w.close()
  }
}
