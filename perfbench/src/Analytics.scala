package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}

/** `analytics`: one caller runs a fixed set of registry queries back to
  * back over the reference snapshot, each fully materialized (collected), in
  * a seed-chosen order. An untimed warm pass, which builds the staged
  * warehouse artifacts, belongs to set-up. Each query's row count and
  * order-independent digest must match `pins/analytics.tsv`.
  */
object Analytics {
  /** One query per family. Left out: Streaming (its registry queries
    * checkpoint outside the run directory; the `serve` stream measures
    * that layer) and Graph (every Graph query needs the graph stage,
    * which like the dedup and vector stages costs more set-up than a run
    * can spend).
    */
  val Queries: Seq[String] = Seq(
    "q_dash_sensors", "q_hourly_agg", "q_join_star", "q_tfidf",
    "q_dedup_exact", "q_knn_brute", "q_zorder_layout",
    "q_validation_report", "q_ml_scaled_stats", "q_mm_resize", "q_ema",
    "q_sql_adhoc_region", "q_zorder_key", "q_mix_sample", "q_dp_counts")

  private val Families: Seq[String] = Seq("Relational", "Events", "Text", "Dedup",
    "Vectors", "Warehouse", "Validation", "Ml", "Multimodal", "Streaming",
    "TimeSeries", "Dashboard", "SqlDash", "Temporal", "Sampling", "Privacy",
    "Graph")

  private lazy val familyOf: Map[String, String] = {
    import graft.queries._
    Seq(Relational.all, Events.all, Text.all, Dedup.all, Vectors.all,
      Warehouse.all, Validation.all, Ml.all, Multimodal.all, Streaming.all,
      TimeSeries.all, Dashboard.all, SqlDash.all, Temporal.all, Sampling.all,
      Privacy.all, Graph.all).zip(Families)
      .flatMap { case (qs, f) => qs.map(_.name -> f) }.toMap
  }

  val Stages: Seq[String] = Seq("gold", "text")

  /** Timed passes per run: one per 7 s of `--seconds`, at least one;
    * `work_s` is their median.
    */
  def passes(seconds: Int): Int = math.max(1, seconds / 7)

  def pins(benchDir: Path): Map[String, (Long, String)] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(benchDir.resolve("pins/analytics.tsv")).asScala
      .filterNot(l => l.startsWith("#") || l.isBlank).map(_.split("\t"))
      .map(a => a(0) -> (a(1).toLong, a(2))).toMap
  }

  /** The data is the fixed reference snapshot, so results can be pinned;
    * the run seed only orders the queries.
    */
  def run(spark: SparkSession, root: Path, benchDir: Path,
      seed: Long, seconds: Int, tracer: Tracer, work: WorkCounters): Outcome = {
    val registry = SparkEntry.queries
    val pinned = pins(benchDir)
    val d = Data.reference(benchDir).toString
    val readings = root.resolve("readings").toString
    // the replay's bronze landing, by the engine's own generator
    val (_, landingS) = Stats.timed(
      graft.sources.Generator.readings(spark).write.parquet(readings))

    val checks = Seq.newBuilder[(String, Boolean)]
    def check(name: String, rows: Array[org.apache.spark.sql.Row],
        cols: Seq[String]): Boolean = {
      val got = (rows.length.toLong, Stats.digest(cols, rows))
      val ok = pinned.get(name).contains(got)
      if (!ok) System.err.println(
        s"[perfbench] analytics mismatch $name\t${got._1}\t${got._2}" +
          s" (pinned ${pinned.get(name)})")
      ok
    }
    def replay(): Array[org.apache.spark.sql.Row] = {
      import graft.pipeline.Replay._
      districtHourly(withAnomalyScores(withFeatures(spark.read.parquet(readings))))
        .collect()
    }

    // warm pass, one query per core at a time: builds the staged
    // artifacts and warms code paths
    val (_, warmS) = Stats.timed {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.Cores)
      try {
        val warm = Queries.map(q => pool.submit(() => {
          val df = registry(q)(spark, d)
          s"warm:$q" -> check(q, df.collect(), df.columns.toSeq)
        }))
        replay()
        warm.foreach(f => checks += f.get())
      } finally pool.shutdown()
    }
    val stageS = Stages.map(s => s"warehouse.stage_build_s.$s" ->
      graft.warehouse.Staging.lastBuildSecs.getOrElse(s"$s:$d", 0.0)).toMap
    val before = work.snapshot()

    // timed passes in a seed-chosen order; a failed query leaves the
    // latency samples
    val order = new scala.util.Random(seed).shuffle(Queries)
    val passS, passCpuS = Seq.newBuilder[Double]
    val opMs = Seq.newBuilder[Double]
    val byFamily = scala.collection.mutable.Map.empty[String, Double]
    // work CPU: the calling thread's (planning, collecting) plus Spark's
    // task CPU; JIT, GC and the result checks are left out
    var defineS, execS, replayS, callerCpuS = 0.0
    var attempted, failed = 0L
    val nPasses = passes(seconds)
    (1 to nPasses).foreach { _ =>
      var passWall = 0.0
      val passCaller = callerCpuS
      val passTasks = work.snapshot()("spark.task_cpu_s")
      order.foreach { q =>
        attempted += 1
        val fam = familyOf(q)
        val q0 = Stats.now()
        val c0 = Stats.threadCpuSeconds()
        try tracer.span(s"queries.$fam", q) {
          val (df, dS) = Stats.timed(tracer.span("queries.define", q)(
            registry(q)(spark, d)))
          val (rows, eS) = Stats.timed(tracer.span("queries.exec", q)(df.collect()))
          defineS += dS; execS += eS
          val el = Stats.secs(q0)
          callerCpuS += Stats.threadCpuSeconds() - c0
          passWall += el
          byFamily(fam) = byFamily.getOrElse(fam, 0.0) + el
          if (check(q, rows, df.columns.toSeq)) opMs += el * 1000
          else { failed += 1; checks += q -> false }
        } catch {
          case e: Exception =>
            failed += 1
            checks += q -> false
            System.err.println(s"[perfbench] $q failed: $e")
        }
      }
      attempted += 1
      val c0 = Stats.threadCpuSeconds()
      val (rows, rS) = Stats.timed(tracer.span("pipeline.replay", "replay")(replay()))
      callerCpuS += Stats.threadCpuSeconds() - c0
      replayS += rS
      if (rows.nonEmpty) opMs += rS * 1000
      else { failed += 1; checks += "replay" -> false }
      passS += passWall + rS
      passCpuS += callerCpuS - passCaller +
        work.snapshot()("spark.task_cpu_s") - passTasks
    }
    val after = work.snapshot()
    val pass = Stats.median(passS.result())
    val ops = opMs.result()

    val perLayer =
      Map(
        "setup.landing_s" -> landingS,
        "setup.warm_s" -> warmS,
        "analytics_s" -> pass,
        "wall.setup_s" -> (landingS + warmS),
        "wall.work_s" -> pass,
        "wall.op_ms_p50" -> Stats.median(ops),
        "queries.define_s" -> defineS / nPasses,
        "queries.exec_s" -> execS / nPasses,
        "pipeline.replay_rows_per_s" ->
          graft.sources.Generator.Rows * nPasses / replayS) ++
        byFamily.map { case (f, v) => s"queries.$f.s" -> v / nPasses } ++
        stageS ++
        after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }

    Outcome(attempted, failed, checks.result(),
      Map("work_s" -> Stats.median(passCpuS.result())), perLayer, before("jvm.cpu_s"), 0.0)
  }
}
