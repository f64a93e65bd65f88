package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.api.{GraftDb, GraftHttpServer}
import graft.query.BatchSearch
import graft.store.TableStore
import graft.types.MetricType

/** The serve workloads: a closed loop of HTTP clients against
  * `GraftHttpServer` -> `GraftDb` -> `IvfIndex` / `TableStore`, over a seeded
  * clustered corpus that is fully resident in the serve tier.
  *
  *  - serve_read: 4 clients send the read mix.
  *  - serve_ingest: 3 clients send the read mix while 1 writer sends
  *    100-row inserts, every 5th write a 10-row delete of its own rows.
  */
object Serve {
  val Table = "T"
  val Field = "V"
  val K = 10
  val Threads = 4
  val Queries = 256
  val LabelFilter = "Label >= 5"
  val SingleKinds = Seq("float", "filtered", "q16", "pq")

  val Rows = 20000
  val Dim = 64
  /** Complete set-ups per run; setup_s is their median. */
  val Setups = 2
  /** Mixed requests per thread at the end of set-up: one shuffled deck. */
  val WarmupPerThread = 20

  /** The read mix per 20 requests: float 12, filtered 3, 16-bit certified
    * 1, PQ certified 1, 8-vector batch 2, 2-key get 1 (60/15/5/5/10/5%). */
  val Deck: Array[String] = (Seq.fill(12)("float") ++ Seq.fill(3)("filtered") ++
    Seq("q16", "pq", "multi8", "multi8", "get")).toArray

  /** Each client's request sequence: the deck, reshuffled from the client's
    * seed every 20 requests, so every run sends the mix in exact shares. */
  final class Mix(r: SplittableRandom) {
    private val deck = Deck.clone()
    private var i = deck.length
    def next(): String = {
      if (i == deck.length) {
        var j = deck.length - 1
        while (j > 0) {
          val k = r.nextInt(j + 1)
          val t = deck(j); deck(j) = deck(k); deck(k) = t
          j -= 1
        }
        i = 0
      }
      i += 1
      deck(i - 1)
    }
  }

  def queryBody(kind: String, q: Array[Float]): String = {
    val tier = kind match {
      case "float" => ""
      case "filtered" => s""","filter":"$LabelFilter""""
      case "q16" => ""","quantized":true,"certified":true"""
      case "pq" => ""","pq":true,"certified":true"""
    }
    s"""{"table":"$Table","queryVector":${Corpus.vecJson(q)},"limit":$K,"serve":true$tier}"""
  }

  def multiBody(qs: Seq[Array[Float]]): String =
    s"""{"table":"$Table","queryVectors":${qs.map(Corpus.vecJson).mkString("[", ",", "]")},""" +
      s""""limit":$K,"serve":true}"""

  def getBody(pks: Seq[Long]): String =
    s"""{"table":"$Table","primaryKeys":${pks.mkString("[", ",", "]")},""" +
      s""""response":["ID","Label","$Field"]}"""

  def schemaJson(dim: Int): String =
    s"""{"name":"$Table","fields":[
       |{"name":"ID","dataType":"BIGINT","primaryKey":true},
       |{"name":"Label","dataType":"BIGINT"},
       |{"name":"$Field","dataType":"VECTOR_FLOAT","dimensions":$dim,
       | "metricType":"EUCLIDEAN"}]}""".stripMargin

  /** One request's outcome, as the closed loop saw it: of its `vectors`
    * query vectors, `served` were answered by the serve tier. */
  final case class Op(kind: String, startNs: Long, latNs: Long, ok: Boolean,
      served: Int, vectors: Int)

  final class Env(val db: GraftDb, val server: GraftHttpServer, val root: Path,
      val buildS: Double, val setupS: Double) {
    def close(): Unit = {
      server.stop()
      val w = Files.walk(root)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally w.close()
    }
  }

  private def corpusDf(spark: SparkSession, st: TableStore, c: Corpus): DataFrame = {
    val rows = (0 until c.n).map(i =>
      Row(c.pk(i), c.labels(i).toLong,
        scala.collection.immutable.ArraySeq.unsafeWrapArray(c.vecs(i))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, Threads),
      st.schema.structType)
  }

  /** Data generation, bulk insert, IVF build, server start and a bounded
    * warm-up: every cluster loaded once per tier, then a fixed number of
    * mixed requests per thread. */
  def setup(spark: SparkSession, work: Path, seed: Long, rep: Int): Env = {
    val t0 = System.nanoTime()
    val corpus = new Corpus(seed, Rows, Dim)
    val root = work.resolve(s"db-$rep")
    val db = new GraftDb(spark, root.toString)
    db.createTable(schemaJson(Dim))
    val st = db.store(Table)
    val i0 = System.nanoTime()
    st.insert(corpusDf(spark, st, corpus))
    val b0 = System.nanoTime()
    db.rebuildIndex(Table, Field)
    val buildS = (System.nanoTime() - b0) / 1e9
    db.setServeFilterColumns(Table, Field, Seq("Label"))
    val server = new GraftHttpServer(db, 0).start()
    val w0 = System.nanoTime()
    val http = new Http(server.actualPort)
    val q0 = corpus.queries(1).head
    Seq("", s""","filter":"$LabelFilter"""", ""","quantized":true""", ""","pq":true""")
      .foreach { tier =>
        val (code, body) = http.post("/api/default/data/query",
          s"""{"table":"$Table","queryVector":${Corpus.vecJson(q0)},"limit":$K,""" +
            s""""nProbe":100000,"serve":true$tier}""")
        require(code == 200 && Envelope.served(Envelope.parse(body)),
          s"warm-up request was not served: $body")
      }
    val m0 = System.nanoTime()
    val queries = corpus.queries(Queries)
    val pool = Executors.newFixedThreadPool(Threads)
    try pool.invokeAll((0 until Threads).map { t =>
      new Callable[Unit] {
        def call(): Unit = {
          val c = new Http(server.actualPort)
          val r = new SplittableRandom(seed * 1000 + 500 + t)
          val mix = new Mix(r)
          (0 until WarmupPerThread).foreach { _ =>
            mix.next() match {
              case "multi8" => c.post("/api/default/data/query",
                multiBody(Seq.fill(8)(queries(r.nextInt(Queries)))))
              case "get" => c.post("/api/default/data/get",
                getBody(Seq(1L + r.nextInt(corpus.n))))
              case kind => c.post("/api/default/data/query",
                queryBody(kind, queries(r.nextInt(Queries))))
            }
          }
        }
      }
    }.asJava).asScala.foreach(_.get())
    finally pool.shutdown()
    val end = System.nanoTime()
    System.err.println(f"[perfbench] setup phases: generate ${(i0 - t0) / 1e9}%.2f s, " +
      f"insert ${(b0 - i0) / 1e9}%.2f s, build $buildS%.2f s, " +
      f"tier warm-up ${(m0 - w0) / 1e9}%.2f s, mixed warm-up ${(end - m0) / 1e9}%.2f s")
    new Env(db, server, root, buildS, (end - t0) / 1e9)
  }

  /** Exact answers for every query vector: one `BatchSearch.topK` pass over
    * the whole table and one over `Label >= 5`. */
  def oracle(db: GraftDb, queries: Array[Array[Float]])
      : (Array[Set[Long]], Array[Set[Long]]) = {
    val df = db.store(Table).read()
    val bq = queries.zipWithIndex.map { case (v, i) => BatchSearch.BatchQuery(i, v) }.toSeq
    def pass(t: DataFrame): Array[Set[Long]] = {
      val hits = BatchSearch.topK(t, Field, "ID", bq, K, MetricType.Euclidean)
        .select(col("qid"), col("id")).collect()
      val by = hits.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      Array.tabulate(queries.length)(i => by.getOrElse(i.toLong, Set.empty[Long]))
    }
    (pass(df), pass(df.filter(col("Label") >= 5)))
  }

  def run(spark: SparkSession, probe: SparkProbe, tracer: Tracer, work: Path,
      workload: String, seed: Long, seconds: Int, out: Result): Unit = {
    val writes = workload == "serve_ingest"
    // every setup builds from scratch; all but the last are torn down, and
    // setup_s is their median
    val envs = (0 until Setups).map { rep =>
      val e = setup(spark, work, seed, rep)
      System.err.println(f"[perfbench] setup ${rep + 1}/$Setups: ${e.setupS}%.2f s (index build ${e.buildS}%.2f s)")
      if (rep < Setups - 1) e.close()
      e
    }
    val env = envs.last
    out.e2e("setup_s", Stats.median(envs.map(_.setupS)), "s")
    out.layer("index.build_s", Stats.median(envs.map(_.buildS)), "s")
    out.detail("setup_s_all", envs.map(_.setupS).mkString("[", ",", "]"))

    val corpus = new Corpus(seed, Rows, Dim)
    val queries = corpus.queries(Queries)
    val db = env.db
    val st = db.store(Table)
    // row ids follow insertion order, so served __row_id equals the key
    val misnumbered = st.read().filter(col("ID") =!= col(TableStore.RowId)).count()
    out.check("row_id_is_pk", misnumbered == 0, s"$misnumbered rows")
    val (exact, exactFiltered) = oracle(db, queries)

    def expected(kind: String, qi: Int): Set[Long] =
      if (kind == "filtered") exactFiltered(qi) else exact(qi)

    def checkGet(pks: Seq[Long], v: org.json4s.JValue): Boolean = {
      import org.json4s._
      val rows = (v \ "result") match { case JArray(rs) => rs; case _ => Nil }
      rows.size == pks.distinct.size && rows.forall { r =>
        val pk = (r \ "ID") match { case JInt(i) => i.toLong; case _ => -1L }
        val i = (pk - 1).toInt
        pks.contains(pk) && (r \ "Label") == JInt(corpus.labels(i)) &&
          ((r \ Field) match {
            case JArray(xs) => xs.map {
              case JDouble(d) => d.toFloat; case JInt(n) => n.toFloat
              case JDecimal(d) => d.toFloat; case _ => Float.NaN
            }.toArray.sameElements(corpus.vecs(i))
            case _ => false
          })
      }
    }

    val reported = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def wrong(kind: String, body: String): Unit =
      if (reported.add(kind))
        System.err.println(s"[perfbench] first wrong or failed $kind answer: ${body.take(600)}")

    val statsBefore = IndexStats.read(db)
    val gcBefore = Jvm.gcMs()
    val startNs = System.nanoTime()
    val deadline = startNs + seconds * 1000000000L
    val clients = if (writes) Threads - 1 else Threads
    val pool = Executors.newFixedThreadPool(Threads)

    val readers = (0 until clients).map { t =>
      pool.submit(new Callable[Seq[Op]] {
        def call(): Seq[Op] = {
          val http = new Http(env.server.actualPort)
          val r = new SplittableRandom(seed * 1000 + t)
          val mix = new Mix(r)
          val ops = mutable.ArrayBuffer[Op]()
          while (System.nanoTime() < deadline) {
            val kind = mix.next()
            val t0 = System.nanoTime()
            val req = tracer.nextRequestId()
            // a reply that is not 200, or does not parse as the engine's
            // envelope, counts as a wrong answer
            def judge(code: Int, body: String)(ok: org.json4s.JValue => (Boolean, Int)): (Boolean, Int) = {
              val v = if (code != 200) (false, 0)
                else try ok(Envelope.parse(body)) catch { case _: Exception => (false, 0) }
              if (!v._1) wrong(kind, body)
              v
            }
            kind match {
              case "multi8" =>
                val qi = Seq.fill(8)(r.nextInt(Queries))
                val (code, body) = tracer.span("client.multi8", "api", req)(
                  http.post("/api/default/data/query", multiBody(qi.map(queries))))
                val lat = System.nanoTime() - t0
                val (ok, served) = judge(code, body) { v =>
                  val es = Envelope.batch(v)
                  (es.size == 8 && es.zip(qi).forall { case (e, q) => Envelope.ids(e).toSet == exact(q) },
                    es.count(Envelope.served))
                }
                ops += Op(kind, t0, lat, ok, served, 8)
              case "get" =>
                val pks = Seq.fill(2)(corpus.pk(r.nextInt(corpus.n)))
                val (code, body) = tracer.span("client.get", "api", req)(
                  http.post("/api/default/data/get", getBody(pks)))
                val lat = System.nanoTime() - t0
                val (ok, _) = judge(code, body)(v => (checkGet(pks, v), 0))
                ops += Op(kind, t0, lat, ok, 0, 0)
              case _ =>
                val qi = r.nextInt(Queries)
                val (code, body) = tracer.span(s"client.$kind", "api", req)(
                  http.post("/api/default/data/query", queryBody(kind, queries(qi))))
                val lat = System.nanoTime() - t0
                val (ok, served) = judge(code, body) { v =>
                  (Envelope.ids(v).toSet == expected(kind, qi), if (Envelope.served(v)) 1 else 0)
                }
                ops += Op(kind, t0, lat, ok, served, 1)
            }
          }
          ops.toSeq
        }
      })
    }

    val writer = if (!writes) None else Some(pool.submit(new Callable[Writer] {
      def call(): Writer = {
        val w = new Writer(spark, db, env.server.actualPort, corpus, seed, tracer)
        w.loop(deadline)
        w
      }
    }))
    val readOps = readers.flatMap(_.get())
    val endNs = math.max(System.nanoTime(), readOps.map(o => o.startNs + o.latNs).maxOption.getOrElse(0L))
    val w = writer.map(_.get())
    pool.shutdown()
    val windowS = (endNs - startNs) / 1e9
    val gcMs = Jvm.gcMs() - gcBefore
    val statsAfter = IndexStats.read(db)
    val heapMb = Jvm.heapAfterGcMb()

    // ---- end-to-end ----
    val single = readOps.filter(o => SingleKinds.contains(o.kind)).map(_.latNs / 1e6)
    val tailPct = 97.0
    out.e2e("ops_per_s", readOps.size / windowS, "ops/s")
    out.e2e("query_p50_ms", Stats.median(single), "ms")
    out.e2e("query_tail_ms", Stats.pct(single, tailPct), "ms")
    out.e2e("heap_mb", heapMb, "MB")
    out.detail("query_tail_pct", tailPct)
    out.detail("query_tail_beyond", Stats.beyond(single, tailPct))
    out.detail("window_s", windowS)
    val byKind = readOps.groupBy(_.kind)
    (Seq("float", "filtered", "q16", "pq", "multi8", "get")).foreach { k =>
      val ls = byKind.getOrElse(k, Nil).map(_.latNs / 1e6)
      out.detail(s"n.$k", ls.size)
      out.detail(s"p50_ms.$k", Stats.median(ls))
      out.detail(s"p99_ms.$k", Stats.pct(ls, 99))
    }
    out.detail("multi_query_p50_ms", Stats.median(byKind.getOrElse("multi8", Nil).map(_.latNs / 1e6)))
    out.detail("pq_query_p50_ms", Stats.median(byKind.getOrElse("pq", Nil).map(_.latNs / 1e6)))
    out.detail("get_p50_ms", Stats.median(byKind.getOrElse("get", Nil).map(_.latNs / 1e6)))

    out.attempt(readOps.size, readOps.count(!_.ok))
    readOps.filterNot(_.ok).groupBy(_.kind).foreach { case (k, os) =>
      out.check(s"answers.$k", ok = false, s"${os.size} wrong or failed")
    }

    // ---- writer and the ingest checks ----
    w.foreach { wr =>
      out.attempt(wr.ops.size, wr.ops.count(!_.ok))
      val ins = wr.ops.filter(_.kind == "insert").map(_.latNs / 1e6)
      val del = wr.ops.filter(_.kind == "delete").map(_.latNs / 1e6)
      out.detail("insert_p50_ms", Stats.median(ins))
      out.detail("delete_p50_ms", Stats.median(del))
      out.detail("n.insert", ins.size)
      out.detail("n.delete", del.size)
      val live = st.read().filter(col("ID") > corpus.n).select(col("ID")).collect()
        .map(_.getLong(0)).toSet
      val want = wr.acked.toSet -- wr.ackedDeleted
      out.attempt(1, if (live == want) 0 else 1)
      out.check("acknowledged_writes", live == want,
        s"${(want -- live).size} acknowledged inserts missing, " +
          s"${(live -- want).size} rows present that should not be")
      if (tracer.enabled) {
        out.layer("index.append_ms", Stats.median(wr.appendMs), "ms")
        out.layer("store.insert_ms", Stats.median(wr.storeInsertMs), "ms")
        out.layer("store.delete_ms", Stats.median(wr.storeDeleteMs), "ms")
        val wt = probe.group("writer.insert")
        out.layer("spark.jobs_per_op.insert", wt.jobs.toDouble / math.max(1, ins.size), "jobs")
      }
    }

    // ---- per-layer (traced run) ----
    if (tracer.enabled) {
      val reads = readOps.map(_.vectors).sum
      out.layer("index.served_ratio", readOps.map(_.served).sum.toDouble / math.max(1, reads), "ratio")
      out.layer("index.serve_declines", (statsAfter.declines - statsBefore.declines).toDouble, "count")
      out.layer("index.pq_reranks_per_query",
        (statsAfter.pqReranks - statsBefore.pqReranks).toDouble /
          math.max(1, byKind.getOrElse("pq", Nil).size), "count")
      out.layer("index.resident_rows.float", statsAfter.resident.toDouble, "rows")
      out.layer("index.resident_rows.quant", statsAfter.residentQuant.toDouble, "rows")
      out.layer("index.resident_rows.pq", statsAfter.residentPq.toDouble, "rows")
      out.layer("jvm.gc_ms", gcMs, "ms")
      val (files, bytes) = Jvm.treeSize(env.root.resolve(Table))
      val liveRows = st.count()
      out.layer("store.data_files", files.toDouble, "count")
      out.layer("store.bytes_per_row", bytes.toDouble / math.max(1L, liveRows), "B")
      LayerProbe.run(spark, probe, tracer, db, env.server.actualPort, corpus,
        queries, seed, out)
    }
    env.close()
  }

  /** Index counters from `GraftDb.statistics`. */
  final case class IndexStats(declines: Long, pqReranks: Long, resident: Long,
      residentQuant: Long, residentPq: Long)

  object IndexStats {
    def read(db: GraftDb): IndexStats = {
      import org.json4s._
      val ix = (Envelope.parse(db.statistics(Table)) \ "indexes") match {
        case JArray(h :: _) => h
        case other => throw new IllegalStateException(s"no index statistics: $other")
      }
      def n(k: String): Long = (ix \ k) match { case JInt(i) => i.toLong; case _ => 0L }
      IndexStats(n("serveDeclines"), n("pqReranks"), n("residentRows"),
        n("residentQuantRows"), n("residentPqRows"))
    }
  }
}

/** The serve_ingest writer: 100-row inserts of far-away vectors with fresh
  * keys; every 5th write deletes 10 rows it inserted earlier. Untraced it
  * goes through HTTP; traced it calls `TableStore.insert` / `delete` and
  * `GraftDb.appendIndexes` directly on the same batches, so each layer's
  * share is timed. */
final class Writer(spark: SparkSession, db: GraftDb, port: Int, corpus: Corpus,
    seed: Long, tracer: Tracer) {
  val ops = mutable.ArrayBuffer[Serve.Op]()
  val acked = mutable.ArrayBuffer[Long]()
  val ackedDeleted = mutable.Set[Long]()
  val appendMs = mutable.ArrayBuffer[Double]()
  val storeInsertMs = mutable.ArrayBuffer[Double]()
  val storeDeleteMs = mutable.ArrayBuffer[Double]()
  private val r = new SplittableRandom(seed * 7 + 99)
  private var nextPk = corpus.n + 1L
  private val live = mutable.ArrayBuffer[Long]()

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** The reply reports exactly `n` rows under `key`. */
  private def reports(body: String, key: String, n: Long): Boolean =
    try Envelope.long(Envelope.parse(body), key) == n
    catch { case _: Exception => false }

  def loop(deadline: Long): Unit = {
    val http = new Http(port)
    val st = db.store(Serve.Table)
    if (tracer.enabled) db.autoAppendIndexes = false
    var w = 0
    while (System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      if (w % 5 == 4 && live.size >= 10) {
        val victims = (0 until 10).map(_ => live.remove(r.nextInt(live.size)))
        val ok =
          if (tracer.enabled) {
            spark.sparkContext.setJobGroup("writer.delete", "writer")
            tracer.span("op.delete", "api", tracer.nextRequestId()) {
              val s0 = System.nanoTime()
              val n = tracer.span("store.delete", "store")(st.delete(victims).deleted)
              storeDeleteMs += ms(s0)
              n == 10
            }
          } else {
            val (code, body) = http.post("/api/default/data/delete",
              s"""{"table":"${Serve.Table}","primaryKeys":${victims.mkString("[", ",", "]")}}""")
            code == 200 && reports(body, "deleted", 10)
          }
        if (ok) ackedDeleted ++= victims
        ops += Serve.Op("delete", t0, System.nanoTime() - t0, ok, 0, 0)
      } else {
        val pks = (0 until 100).map(i => nextPk + i)
        nextPk += 100
        val labels = pks.map(_ => r.nextInt(10).toLong)
        val vecs = pks.map(_ => Corpus.farVector(r, corpus.dim))
        val ok =
          if (tracer.enabled) {
            spark.sparkContext.setJobGroup("writer.insert", "writer")
            tracer.span("op.insert", "api", tracer.nextRequestId()) {
              val rows = pks.indices.map(i => Row(pks(i), labels(i),
                scala.collection.immutable.ArraySeq.unsafeWrapArray(vecs(i))))
              val df = spark.createDataFrame(rows.asJava, st.schema.structType)
              val s0 = System.nanoTime()
              val n = tracer.span("store.insert", "store")(st.insert(df).inserted)
              storeInsertMs += ms(s0)
              val a0 = System.nanoTime()
              tracer.span("index.append", "index")(db.appendIndexes(Serve.Table))
              appendMs += ms(a0)
              n == 100
            }
          } else {
            val data = pks.indices.map(i =>
              s"""{"ID":${pks(i)},"Label":${labels(i)},"${Serve.Field}":${Corpus.vecJson(vecs(i))}}""")
            val (code, body) = http.post("/api/default/data/insert",
              s"""{"table":"${Serve.Table}","data":${data.mkString("[", ",", "]")}}""")
            code == 200 && reports(body, "inserted", 100)
          }
        if (ok) { acked ++= pks; live ++= pks }
        ops += Serve.Op("insert", t0, System.nanoTime() - t0, ok, 0, 0)
      }
      w += 1
    }
    spark.sparkContext.clearJobGroup()
    db.autoAppendIndexes = true
  }
}
