package graft.perfbench

import graft.streaming.Streams
import graft.validate.{EventRules, Validator}
import graft.warehouse.GoldStage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The ETL write path through real Structured Streaming. Seeded hourly
  * event files (Zipf-skewed users, ~2% duplicate (user_id, ts), ~1% late
  * rows, ~1% null or malformed props) are landed as bronze; a file-source
  * stream reads them one file per trigger (`Trigger.AvailableNow`), and
  * each micro-batch validates (`EventRules.enrich` + `Validator.score`),
  * upserts the silver status table (`Streams.statusUpsert`), folds the
  * gold hourly fact (`GoldStage.refreshHourly`), both with the epoch as
  * txn, and then hands the batch to `afterPublish` with its epoch.
  */
final class Ingest(spark: SparkSession, root: Path, seed: Long, nFiles: Int,
    tracer: Tracer, afterPublish: (DataFrame, Long) => Unit) {
  import Ingest._

  private val staged = root.resolve("staged")
  private val landing = root.resolve("landing")
  val silver: String = root.resolve("silver/status").toString
  val gold: String = root.resolve("gold/hourly").toString
  private val ckpt = root.resolve("checkpoint").toString
  private val names = (0 until nFiles).map(i => f"events-$i%05d")
  private val times = new java.util.concurrent.ConcurrentHashMap[Long, BatchTimes]()

  /** Write every file to a staging directory; [[land]] publishes them. */
  def stage(): Unit =
    Data.writeTables(spark, staged, names.zipWithIndex.map { case (n, i) =>
      (n, Data.EventSchema, Data.eventFile(seed, i, RowsPerFile))
    })

  /** Move files into the landing directory, oldest first by mtime. */
  def land(files: Range): Unit = {
    Files.createDirectories(landing)
    files.foreach { i =>
      val p = Files.move(staged.resolve(s"${names(i)}.parquet"),
        landing.resolve(s"${names(i)}.parquet"))
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 1000L))
    }
  }

  private val body: (DataFrame, Long) => Unit = (batch, epoch) => {
    val id = s"batch-$epoch"
    val b0 = Stats.now()
    val c0 = Stats.threadCpuSeconds()
    val t = tracer.span("ingest.batch", id) {
      val (_, v) = Stats.timed(tracer.span("validate", id)(
        Validator.score(EventRules.enrich(batch), EventRules.all).collect()))
      val (_, u) = Stats.timed(tracer.span("streaming.status_upsert", id)(
        Streams.statusUpsert(batch, silver, txn = Some(("status", epoch)))))
      val (_, g) = Stats.timed(tracer.span("warehouse.gold_refresh", id)(
        GoldStage.refreshHourly(batch, gold, txn = Some(("gold", epoch)))))
      afterPublish(batch, epoch)
      BatchTimes(0, 0, v, u, g)
    }
    times.put(epoch, t.copy(bodyMs = Stats.secs(b0) * 1000,
      cpuS = Stats.threadCpuSeconds() - c0))
  }

  /** Start the stream over whatever has landed and run it to the end;
    * returns the progress of the micro-batches that ran the body, with
    * their timings, and the error that stopped the stream, if any.
    */
  def run(): (Seq[(StreamingQueryProgress, BatchTimes)], Option[Exception]) = {
    val q = spark.readStream.schema(Data.EventSchema)
      .option("maxFilesPerTrigger", 1).parquet(landing.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
      .writeStream.foreachBatch(body)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    val err =
      try { q.awaitTermination(); None }
      catch { case e: Exception => Some(e) }
    err.foreach(e => System.err.println(s"[perfbench] stream failed: $e"))
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    (q.recentProgress.toSeq.filter(p => times.containsKey(p.batchId))
      .map(p => p -> times.get(p.batchId)), err)
  }

  /** The landed events, as the stream read them. */
  def union: DataFrame = spark.read.schema(Data.EventSchema).parquet(landing.toString)
    .withColumn("ts", col("ts").cast("timestamp"))

  /** Output checks against from-scratch rebuilds over the landed union. */
  def checks(): Seq[(String, Boolean)] = {
    val claims = Seq(silver, gold).flatMap(p =>
      Option(new java.io.File(p).listFiles()).map(_.toSeq).getOrElse(Nil))
      .count(_.getName.startsWith(graft.sources.Commit.ClaimPrefix))
    Seq(
      "gold_equals_rebuild" -> GoldStage.readHourly(spark, gold).exists(g =>
        Stats.sameRows(g.drop("bucket"),
          GoldStage.hourlyPartials(GoldStage.withQuality(union)), GoldCols)),
      "status_equals_latest" -> Streams.readStatus(spark, silver).exists(s =>
        Stats.sameRows(s.drop("bucket"), Streams.latestPerUser(union),
          Seq("user_id", "last_ts", "last_value", "last_type"))),
      "no_claim_files" -> (claims == 0))
  }

  /** Commit-layer state after the run. */
  def tableMetrics(): Map[String, Double] = {
    def files(p: String): Seq[Path] =
      if (!Files.exists(Path.of(p))) Nil
      else Files.walk(Path.of(p)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    def bytes(p: String) = files(p).map(Files.size).sum
    val tables = Seq(silver, gold)
    Map(
      "ingest_write_amp" -> tables.map(bytes).sum.toDouble / bytes(landing.toString),
      "sources.commit.versions" ->
        tables.map(graft.sources.Commit.history(spark, _).size).sum.toDouble,
      "sources.commit.files" -> tables.map(t =>
        files(t).count(_.getFileName.toString.endsWith(".parquet"))).sum.toDouble,
      "sources.commit.live_bytes" ->
        tables.flatMap(graft.sources.Commit.liveDataBytes(spark, _)).sum.toDouble,
      "warehouse.gold_rows" ->
        GoldStage.readHourly(spark, gold).map(_.count().toDouble).getOrElse(0.0),
      "streaming.status_rows" ->
        Streams.readStatus(spark, silver).map(_.count().toDouble).getOrElse(0.0))
  }
}

object Ingest {
  val RowsPerFile = 10000
  val GoldCols: Seq[String] =
    Seq("user_id", "event_type", "h", "n", "v_sum", "v_cnt", "q_sum", "q_cnt")

  /** A micro-batch's body: wall ms, the stream thread's CPU seconds, and
    * the wall seconds of each layer call.
    */
  final case class BatchTimes(bodyMs: Double, cpuS: Double, validateS: Double,
      upsertS: Double, goldS: Double)
}
