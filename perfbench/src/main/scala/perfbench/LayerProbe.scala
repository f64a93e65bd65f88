package perfbench

import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.api.GraftDb
import graft.filter.SimpleConjuncts
import graft.index.IvfIndex
import graft.query.QueryEngine
import graft.store.TableStore
import graft.types.MetricType

/** Traced run only, after the timed window: the same requests sent one at a
  * time through each layer in turn — HTTP, in-process `GraftDb`, then the
  * direct `IvfIndex` serve call (or `QueryEngine.get` for gets) — so each
  * layer's share is the difference of adjacent medians. */
object LayerProbe {
  /** Probes per request kind; the certified code tiers run a rerank job per
    * request, so they get fewer. */
  val PerKind: Map[String, Int] = Map("float" -> 40, "filtered" -> 40,
    "q16" -> 12, "pq" -> 8, "multi8" -> 15, "get" -> 10)

  def run(spark: SparkSession, probe: SparkProbe, tracer: Tracer, db: GraftDb,
      port: Int, corpus: Corpus, queries: Array[Array[Float]], seed: Long,
      out: Result): Unit = {
    import Serve._
    val http = new Http(port)
    val st = db.store(Table)
    // a second index instance over the same layout, warmed per tier, so the
    // direct calls measure the index alone
    val idx = new IvfIndex(spark, s"${db.root}/$Table/ivf_$Field", TableStore.RowId,
      MetricType.Euclidean)
    idx.setServeFilterColumns(Seq("Label"))
    val conds = Seq(SimpleConjuncts.Cond("Label", ">=", SimpleConjuncts.NumLit(5.0, isInt = true)))
    val all = idx.centroids().length
    idx.servePoint(Field, queries(0), K, all)
    idx.servePointFiltered(Field, queries(0), K, all, conds)
    idx.servePointQuantizedDetail(Field, queries(0), K, all)
    idx.servePointPqDetail(Field, queries(0), K, all)

    val lat = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()
    def timed[T](key: String, layer: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val v = tracer.span(key, layer)(body)
      lat.getOrElseUpdate(key, mutable.ArrayBuffer[Double]()) += (System.nanoTime() - t0) / 1e6
      v
    }
    def inGroup[T](g: String)(body: => T): T = {
      spark.sparkContext.setJobGroup(g, "layer probe")
      try body finally spark.sparkContext.clearJobGroup()
    }

    val r = new SplittableRandom(seed * 1000 + 900)
    Seq("float", "filtered", "q16", "pq", "multi8", "get").foreach { kind =>
      (0 until PerKind(kind)).foreach { _ =>
        tracer.span(s"probe.$kind", "bench", tracer.nextRequestId()) {
          kind match {
            case "get" =>
              val pks = Seq.fill(2)(corpus.pk(r.nextInt(corpus.n)))
              val body = getBody(pks)
              timed("http.get", "api")(http.post("/api/default/data/get", body))
              inGroup("probe.get")(timed("db.get", "api")(db.get(body)))
              inGroup("probe.queryget")(timed("query.get", "query")(
                QueryEngine.get(st.read(), st.schema,
                  QueryEngine.GetRequest(primaryKeys = pks)).collect()))
            case "multi8" =>
              val qs = Seq.fill(8)(queries(r.nextInt(Queries)))
              val body = multiBody(qs)
              timed("http.multi8", "api")(http.post("/api/default/data/query", body))
              inGroup("probe.multi8")(timed("db.multi8", "api")(db.query(body)))
              timed("index.multi8", "index")(idx.servePointBatch(Field,
                qs.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toArray, K, 8))
            case _ =>
              val q = queries(r.nextInt(Queries))
              val body = queryBody(kind, q)
              timed(s"http.$kind", "api")(http.post("/api/default/data/query", body))
              inGroup(s"probe.$kind")(timed(s"db.$kind", "api")(db.query(body)))
              timed(s"index.$kind", "index")(kind match {
                case "float" => idx.servePoint(Field, q, K, 8)
                case "filtered" => idx.servePointFiltered(Field, q, K, 8, conds)
                case "q16" => idx.servePointQuantizedDetail(Field, q, K, 8, certify = true)
                case "pq" => idx.servePointPqDetail(Field, q, K, 8, certify = true)
              })
          }
        }
      }
    }
    probe.drain()
    def p50(k: String): Double = Stats.median(lat.getOrElse(k, Nil))
    out.layer("api.http_self_ms.query", p50("http.float") - p50("db.float"), "ms")
    out.layer("api.http_self_ms.get", p50("http.get") - p50("db.get"), "ms")
    out.layer("api.db_self_ms.query", p50("db.float") - p50("index.float"), "ms")
    out.layer("query.get_ms", p50("query.get"), "ms")
    Seq("float" -> "float", "filtered" -> "filtered", "q16" -> "q16_cert",
      "pq" -> "pq_cert", "multi8" -> "multi8").foreach { case (k, name) =>
      out.layer(s"index.serve_ms.$name", p50(s"index.$k"), "ms")
    }
    out.layer("spark.jobs_per_op.query",
      probe.group("probe.float").jobs.toDouble / PerKind("float"), "jobs")
    out.layer("spark.jobs_per_op.get",
      probe.group("probe.get").jobs.toDouble / PerKind("get"), "jobs")
    lat.foreach { case (k, ls) => out.detail(s"probe_p50_ms.$k", Stats.median(ls)) }
  }
}
