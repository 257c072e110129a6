package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Path, Paths}

/** Benchmark JVM entry point: one workload, one process.
  *
  * Usage: `Main <workload> <seed> <seconds> <trace 0|1> <runRoot> <benchDir> <buildDir>`
  *
  * `runRoot` is a fresh directory that holds the warehouse, Spark's
  * scratch space, landing files, checkpoints and tables; the caller
  * removes it. `benchDir` holds the reference snapshot and the pinned
  * results; `buildDir` receives the span file of a traced run under
  * `traces/`. Prints one
  * line `PERFBENCH_RESULT {json}` with the operation counts, the output
  * checks and every metric.
  */
object Main {
  val Cores = 4

  def session(root: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, rootS, benchS, buildS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val root = Paths.get(rootS)
    val tracer = new Tracer(traceS == "1")

    val (spark, sessionS) = Stats.timed(session(root))
    val work = new WorkCounters(spark.sparkContext)
    val out = workload match {
      case "analytics" =>
        Analytics.run(spark, root, Paths.get(benchS), seed, seconds, tracer, work)
      case "serve" => Serve.run(spark, root, Paths.get(benchS), seed, seconds, tracer, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val heap = Stats.heapLiveMb()
    if (tracer.enabled)
      tracer.writeJson(Paths.get(buildS).resolve(s"traces/$workload-seed$seed.json"))
    val traced =
      if (!tracer.enabled) Map.empty[String, Double]
      else tracer.selfSeconds.map { case (k, v) => s"self.$k" -> v } +
        ("trace.spans" -> tracer.all.size.toDouble)

    // set-up: everything the JVM did before the timed phase, except
    // preparing the benchmark's own inputs
    val e2e = out.endToEnd ++ Map(
      "setup_s" -> (out.setupEndCpuS - out.inputCpuS), "heap_live_mb" -> heap)
    val layer = out.perLayer ++ traced ++ Map(
      "setup.session_s" -> sessionS,
      "wall.setup_s" -> (sessionS + out.perLayer.getOrElse("wall.setup_s", 0.0)),
      "error_rate" -> out.failed.toDouble / math.max(1L, out.attempted))
    val bad = out.checks.filterNot(_._2).map(_._1)
    def obj(m: Map[String, Double]): String = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) 0.0 else v}""" }
      .mkString("{", ",", "}")
    println("PERFBENCH_RESULT " +
      s"""{"correct":${bad.isEmpty && out.checks.nonEmpty},""" +
      s""""attempted":${out.attempted},"failed":${out.failed},""" +
      s""""checks":${out.checks.size},"failed_checks":[${
        bad.distinct.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""end_to_end":${obj(e2e)},"per_layer":${obj(layer)}}""")
    System.out.flush()
    spark.stop()
    sys.exit(0)
  }
}
