package graft.perfbench

import graft.serve.DashboardServer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** `serve`: the read path and the write path at once. An open loop of
  * independent dashboard users runs against `DashboardServer` over a
  * writable copy of the reference snapshot: two client threads send the
  * six dashboard routes at `DashRate` req/s in total and one sends
  * `/api/sql` at `SqlRate` req/s over fixed ad-hoc statements, on a
  * seeded Poisson schedule of a fixed number of requests, each timed
  * from its due time. Beside them the [[Ingest]] stream publishes: every
  * micro-batch validates, upserts silver, folds the maintained gold,
  * appends its events to the served snapshot's events table and calls
  * `srv.warm()`. The routes read the gold stage of the served snapshot,
  * which the engine rebuilds when the events change, so every publish
  * changes what they answer. The stream's first file is processed in
  * set-up (cold start); the timed phase runs the stream over two more
  * files beside the clients' requests.
  *
  * Every 200 dashboard body must equal the payload a fresh server
  * computes over a copy of the snapshot at a publish version the request
  * could see: no older than the last publish whose warm() had finished
  * when it was sent, no newer than the last publish begun when it was
  * answered. An `/api/sql` body must equal the answer at some published
  * version no newer than that; older ones are counted as stale reads.
  */
object Serve {
  val DashRate = 50.0
  val SqlRate = 2.0
  val WarmFiles = 1
  val TimedFiles = 2

  val Statements: Seq[String] = Seq(
    "SELECT event_type, COUNT(*) AS n, MAX(value) AS max_value FROM events " +
      "GROUP BY event_type ORDER BY event_type",
    "SELECT o_orderpriority, COUNT(*) AS n FROM orders WHERE o_orderstatus = 'F' " +
      "GROUP BY o_orderpriority ORDER BY o_orderpriority",
    "SELECT n_name, COUNT(*) AS customers FROM customer JOIN nation " +
      "ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name",
    "SELECT event_type, SUM(n) AS n FROM gold_events_hourly " +
      "GROUP BY event_type ORDER BY event_type")

  /** One response; `vLo`/`vHi` bound the publish version it may show. */
  private final case class Res(kind: String, path: String, code: Int,
      body: String, latencyMs: Double, lateMs: Double, vLo: Int, vHi: Int)

  private def sqlPath(s: String) = "/api/sql?q=" + java.net.URLEncoder.encode(s, "UTF-8")

  /** A blocking GET on the calling thread, so its CPU is that thread's. */
  private def get(port: Int, path: String): (Int, String) = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val body = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
    (code, body)
  }

  def run(spark: SparkSession, root: Path, benchDir: Path, seed: Long, seconds: Int,
      tracer: Tracer, work: WorkCounters): Outcome = {
    val reference = Data.reference(benchDir)
    val served = root.resolve("served")
    val dir = served.toString
    val routes = DashboardServer.DashboardQueries
    val paths = routes.map(r => s"/api/$r") ++ Statements.map(sqlPath)
    val srv = new DashboardServer(spark, dir)

    // publish versions: `published` is the last batch whose events were
    // (being) appended to the served snapshot, `warmed` the last one
    // whose srv.warm() has finished
    val published = new AtomicInteger(0)
    @volatile var warmed = 0
    val publishes = new ConcurrentLinkedQueue[(Double, Double)]()
    def publish(batch: DataFrame, epoch: Long): Unit = {
      val id = s"batch-$epoch"
      val (_, publishS) = Stats.timed(tracer.span("serve.publish", id) {
        val v = published.incrementAndGet()
        val tmp = root.resolve(s"publish-$v")
        batch.withColumn("ts", col("ts").cast("timestamp_ntz"))
          .select(Data.EventSchema.fieldNames.toSeq.map(col): _*)
          .coalesce(1).write.parquet(tmp.toString)
        val part = Files.list(tmp).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Data.appendEvents(served, part, v)
        Data.deleteTree(tmp)
        // the gold stage is keyed on the events table's modification time
        Files.setLastModifiedTime(served.resolve("events.parquet"),
          FileTime.fromMillis(1700000000000L + v * 1000L))
      })
      val (_, warmS) = Stats.timed(tracer.span("serve.warm", id)(srv.warm()))
      warmed = published.get
      publishes.add((publishS, warmS))
    }

    val ingest = new Ingest(spark, root, seed, WarmFiles + TimedFiles, tracer, publish)
    val ((_, inputCpuS), landingS) = Stats.timed(Stats.cpuTimed {
      Data.copySnapshot(reference, served)
      ingest.stage()
    })

    // set-up: start the server, run the stream's first batch cold (its
    // publish warms the routes), fetch every path once
    var port = 0
    val ((warmRun, setupRes), warmS) = Stats.timed {
      port = srv.start(0)
      ingest.land(0 until WarmFiles)
      val warmRun = ingest.run()
      (warmRun, paths.map { p =>
        val (code, body) = get(port, p)
        Res("setup", p, code, body, 0, 0, warmed, published.get)
      })
    }
    val stageS = graft.warehouse.Staging.lastBuildSecs.getOrElse(s"gold:$dir", 0.0)
    val computesBefore = routes.map(srv.computeCount).sum
    val setupPublishes = publishes.size
    ingest.land(WarmFiles until WarmFiles + TimedFiles)

    // the timed phase: a fixed number of requests on a seeded schedule
    // beside the stream over the remaining files
    val results = new ConcurrentLinkedQueue[Res]()
    val clientCpuS = new ConcurrentLinkedQueue[Double]()
    val before = work.snapshot()
    val start = System.nanoTime() + 100L * 1000000L
    def loop(kind: String, n: Int, rate: Double, rnd: scala.util.Random,
        pick: scala.util.Random => String): Thread =
      new Thread(() => {
        val c0 = Stats.threadCpuSeconds()
        var due = start
        (1 to n).foreach { _ =>
          due += (-math.log(1 - rnd.nextDouble()) / rate * 1e9).toLong
          val path = pick(rnd)
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          val sent = System.nanoTime()
          val vLo = warmed
          val (code, body) =
            try get(port, path) catch { case e: Exception => (-1, e.toString) }
          val done = System.nanoTime()
          val vHi = published.get
          tracer.record(s"serve.$kind", due, done, path)
          results.add(Res(kind, path, code, body, (done - due) / 1e6, (sent - due) / 1e6,
            vLo, vHi))
        }
        clientCpuS.add(Stats.threadCpuSeconds() - c0)
      })
    val rnd = new scala.util.Random(seed)
    val nDash = math.round(DashRate * seconds / 2).toInt
    def routePath(r: scala.util.Random) = s"/api/${routes(r.nextInt(routes.size))}"
    val clients = Seq(
      loop("dash", nDash, DashRate / 2, new scala.util.Random(rnd.nextLong()), routePath),
      loop("dash", nDash, DashRate / 2, new scala.util.Random(rnd.nextLong()), routePath),
      loop("sql", math.max(1, math.round(SqlRate * seconds).toInt), SqlRate,
        new scala.util.Random(rnd.nextLong()),
        r => sqlPath(Statements(r.nextInt(Statements.size)))))
    clients.foreach(_.start())
    val wait = start - System.nanoTime()
    if (wait > 0) Thread.sleep(wait / 1000000L)
    val ((batches, streamError), streamS) = Stats.timed(ingest.run())
    clients.foreach(_.join())
    val phaseS = Stats.secs(start)
    val after = work.snapshot()
    val computes = routes.map(srv.computeCount).sum - computesBefore
    srv.stop()

    // reference payloads: a fresh server over a copy of the snapshot at
    // each publish version
    val batchFiles = (1 to published.get).map(i =>
      served.resolve(f"events.parquet/part-$i%05d.parquet"))
    val expected: Map[(String, Int), (Int, String)] = (1 to published.get).flatMap { v =>
      val fresh = new DashboardServer(spark,
        Data.copySnapshot(reference, root.resolve(s"ref-$v"), batchFiles.take(v)).toString)
      val p = fresh.start(0)
      try paths.map(path => (path, v) -> get(p, path)) finally fresh.stop()
    }.toMap

    val all = results.asScala.toSeq
    val ok = all.filter(_.code == 200)
    def matches(r: Res, from: Int) =
      (from to r.vHi).exists(v => expected.get((r.path, v)).contains((200, r.body)))
    // a dashboard body must be fresh; an ad-hoc SQL body must be the
    // answer at some published version, and is counted when stale:
    // the SQL gateway registers its views once per data directory, so
    // after a publish it keeps answering from the snapshot of its first
    // request
    val (sqlOk, dashOk) = (ok ++ setupRes).partition(_.path.startsWith("/api/sql"))
    val wrong = dashOk.filterNot(r => matches(r, r.vLo)) ++ sqlOk.filterNot(r => matches(r, 1))
    val sqlStale = sqlOk.count(r => !matches(r, r.vLo))
    wrong.take(3).foreach(r => System.err.println(
      s"[perfbench] serve body on ${r.path} matches no version in [${r.vLo}, ${r.vHi}]"))
    val dash = ok.filter(_.kind == "dash").map(_.latencyMs)
    val sql = ok.filter(_.kind == "sql").map(_.latencyMs)
    val batchMs = batches.map(_._1.durationMs.get("triggerExecution").doubleValue)
    val times = batches.map(_._2)
    val timedPublishes = publishes.asScala.toSeq.drop(setupPublishes)
    val n = math.max(1, times.size)
    val checks = Seq(
      "setup_responses_ok" -> setupRes.forall(_.code == 200),
      "reference_payloads_ok" -> expected.values.forall(_._1 == 200),
      "bodies_match_their_version" -> wrong.isEmpty,
      "stream_completed" -> (warmRun._2.isEmpty && streamError.isEmpty),
      "one_batch_per_file" ->
        (warmRun._1.size == WarmFiles && batches.size == TimedFiles),
      "one_publish_per_batch" -> (published.get == WarmFiles + TimedFiles)) ++
      ingest.checks()
    def status(p: Int => Boolean) = all.count(r => p(r.code)).toDouble

    Outcome(
      attempted = all.size.toLong + WarmFiles + TimedFiles,
      failed = all.count(_.code != 200).toLong +
        (WarmFiles + TimedFiles - warmRun._1.size - batches.size),
      checks = checks,
      // work CPU: the whole JVM's over the timed phase (stream, server
      // handlers, Spark tasks, JIT and GC) less the client threads'
      endToEnd = Map("work_s" ->
        (after("jvm.cpu_s") - before("jvm.cpu_s") - clientCpuS.asScala.sum)),
      perLayer = Map(
        "setup.landing_s" -> landingS,
        "setup.warm_s" -> warmS,
        "wall.setup_s" -> warmS,
        "wall.work_s" -> phaseS,
        "wall.op_ms_p50" -> Stats.median(dash),
        "warehouse.stage_build_s.gold" -> stageS,
        "ingest_rows_per_s" -> batches.size * Ingest.RowsPerFile / streamS,
        "ingest_batch_ms_p50" -> Stats.median(batchMs),
        "ingest_batch_ms_p90" -> Stats.pct(batchMs, 0.9),
        "validate.s" -> times.map(_.validateS).sum / n,
        "streaming.status_upsert_s" -> times.map(_.upsertS).sum / n,
        "warehouse.gold_refresh_s" -> times.map(_.goldS).sum / n,
        "serve.publish_s" -> timedPublishes.map(_._1).sum / n,
        "refresh_ms_p50" -> Stats.median(timedPublishes.map(_._2 * 1000)),
        "streaming.trigger_overhead_s" -> batches.map { case (p, t) =>
          p.durationMs.get("triggerExecution").doubleValue - t.bodyMs }.sum / 1000 / n,
        "streaming.micro_batches" -> batches.size.toDouble,
        "dash_ms_p50" -> Stats.median(dash),
        "dash_ms_p99" -> Stats.pct(dash, 0.99),
        "sql_ms_p50" -> Stats.median(sql),
        "sql_ms_p99" -> Stats.pct(sql, 0.99),
        "serve.requests.dash" -> all.count(_.kind == "dash").toDouble,
        "serve.requests.sql" -> all.count(_.kind == "sql").toDouble,
        "serve.sql_stale_reads" -> sqlStale.toDouble,
        "serve.computes" -> computes.toDouble,
        // warm() recomputes every route once per publish; anything
        // beyond that was a request-path miss
        "serve.cache_hit_ratio" ->
          (1.0 - math.max(0L, computes - routes.size.toLong * timedPublishes.size).toDouble /
            math.max(1, all.count(_.kind == "dash"))),
        "serve.status.429" -> status(_ == 429),
        "serve.status.408" -> status(_ == 408),
        "serve.status.5xx" -> status(c => c >= 500 || c < 0),
        "serve.generator_late_ms_p99" -> Stats.pct(all.map(_.lateMs), 0.99)) ++
        ingest.tableMetrics() ++
        after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) },
      setupEndCpuS = before("jvm.cpu_s"),
      inputCpuS = inputCpuS)
  }
}
