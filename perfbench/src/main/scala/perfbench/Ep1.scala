package perfbench

import graft.dq.Checks
import graft.model.{StageJob, ValidationResult, Watermark}
import graft.pipeline.{Pipeline, StageRunner}
import graft.sources.{AvroIo, KafkaSource, KafkaStubBroker}
import graft.streaming.ArrivalJob
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The EP1 workload: Kafka-shaped events through arrival, conform,
  * staging and the SCD2 dimension merge, each stage waiting for the last.
  */
object Ep1 {

  val Topic = "ep1_events"
  val Partitions = 4

  /** What the generator draws from, measured from the reference's events
    * table in event_id order: each event's (user_id, event_type) pair, and
    * the gap in milliseconds between an event's timestamp and the one
    * before it. `startMs` is the table's first timestamp.
    */
  final case class Profile(startMs: Long, pairs: IndexedSeq[(Long, String)],
                           gapsMs: IndexedSeq[Long])

  def profile(spark: SparkSession, data: String): Profile = {
    val rows = graft.sources.Tables.loadRaw(spark, data, "events")
      .select(col("user_id"), col("event_type"), col("ts")).orderBy(col("event_id")).collect()
    val ts = rows.map(_.getLong(2) / 1000000L)
    Profile(ts.head, rows.map(r => (r.getLong(0), r.getString(1))).toIndexedSeq,
      ts.toIndexedSeq.sliding(2).map(w => w(1) - w(0)).toIndexedSeq)
  }

  final case class Event(partition: Int, key: String, value: String, tsMs: Long)

  /** Single-threaded and seeded: the same seed gives byte-identical events.
    * Each event draws its (user, type) pair and its gap from `profile`, so
    * the key skew and the share of out-of-order timestamps are the table's.
    * Keys go to partition user_id mod [[Partitions]], as the repo's
    * streaming rehearsal stages the same table.
    */
  def generate(seed: Long, profile: Profile, events: Int): IndexedSeq[Event] = {
    val rnd = new java.util.SplittableRandom(seed)
    var ts = profile.startMs
    (0 until events).map { i =>
      val (user, kind) = profile.pairs(rnd.nextInt(profile.pairs.size))
      ts += profile.gapsMs(rnd.nextInt(profile.gapsMs.size))
      Event((user % Partitions).toInt, user.toString, s"$i|$user|$kind|$ts", ts)
    }
  }

  def publish(events: Seq[Event]): Unit = {
    KafkaStubBroker.clear()
    (0 until Partitions).foreach(KafkaStubBroker.createPartition(Topic, _))
    events.foreach(e => KafkaStubBroker.publish(Topic, e.partition, e.value, e.key, e.tsMs))
  }

  /** What the chain returns: every micro-batch's duration and every audit row. */
  final case class Chain(batchSeconds: Seq[Double], audit: Seq[ValidationResult])

  /** What the gate counts after the chain, outside its timed window. */
  final case class Counts(arrivalRows: Long, conformRows: Long, stagingRows: Long,
                          openDimRows: Long, filesWritten: Long)

  private final case class Dirs(root: String) {
    val (data, ledger, ckpt, conform, staging, dim) = (s"$root/arrival",
      s"$root/ledger", s"$root/ckpt", s"$root/conform", s"$root/staging", s"$root/dim")
  }

  /** Runs the chain on the published events under `root`, each stage call
    * a span, and returns when the last stage has.
    */
  def run(spark: SparkSession, root: String, maxPerTrigger: Long, expected: Long,
          trace: Trace): Chain = {
    val dirs = Dirs(root)
    import dirs._
    val query = trace.span("streaming.arrival") {
      val in = KafkaSource.readStream(spark, "stub:9092", Seq(Topic),
        format = "graft-kafka-stub", maxOffsetsPerTrigger = Some(maxPerTrigger),
        startingOffsets = "earliest")
      val q = ArrivalJob.start(in, data, ledger, ckpt)
      q.awaitTermination()
      q
    }
    val batches = query.recentProgress.filter(_.numInputRows > 0)
    val nRuns = batches.length.toLong
    val offsetChecks = trace.span("dq.offset_checks") {
      val ledgerDf = spark.read.parquet(ledger)
      Seq(Checks.offsetContinuity(ledgerDf, Topic),
        Checks.offsetCountMatch(ledgerDf, expected, Topic))
    }
    trace.span("streaming.conform")(
      ArrivalJob.conformRuns(spark, data, conform, 0L until nRuns, format = "avro"))
    val conformed = trace.span("sources.avro_read")(AvroIo.readAvro(spark, conform))
    val stageChecks = trace.span("dq.stage_checks")(
      Checks.standardStageChecks(spark, spark.read.parquet(data).select(col("value")),
        conformed.select(col("value")), "arrival_to_conform", "CONFORM").collect().toSeq)

    val fields = split(col("value"), "\\|")
    conformed
      .withColumn("event_id", fields.getItem(0).cast("long"))
      .withColumn("user_id", fields.getItem(1).cast("long"))
      .withColumn("event_type", fields.getItem(2))
      .withColumn("ts_ms", fields.getItem(3).cast("long"))
      .withColumn("update_job_run_id", col("job_run_id") + 1)
      .createOrReplaceTempView("conform_layer")
    val half = (nRuns / 2).max(1L)
    val windows = Seq(Watermark(1L, half), Watermark(half + 1, nRuns))
    val jobAudit = windows.flatMap { wm =>
      trace.span("pipeline.write_run")(Pipeline.writeRun(
        spark.table("conform_layer")
          .filter(col("update_job_run_id").between(wm.minRunId, wm.maxRunId))
          .select(col("event_id"), col("user_id"), col("event_type"), col("ts_ms")),
        staging, runId = wm.maxRunId))
      trace.span("pipeline.stage_job") {
        spark.read.parquet(staging).createOrReplaceTempView("staging_layer")
        val job = StageJob(1, "conform_to_staging", "staging_layer", "STAGING",
          sourceQuery = "SELECT event_id, user_id, event_type, ts_ms FROM conform_layer " +
            "WHERE update_job_run_id BETWEEN :min_run_id AND :max_run_id",
          targetQuery = "SELECT event_id, user_id, event_type, ts_ms FROM staging_layer " +
            "WHERE create_job_run_id BETWEEN :min_run_id AND :max_run_id",
          nullQuery = Some("SELECT * FROM staging_layer WHERE event_id IS NULL"))
        StageRunner.runJob(spark, job, wm).results
      }
    }
    trace.span("pipeline.scd_merge") {
      val staged = spark.read.parquet(staging)
      def latest(df: DataFrame): DataFrame = graft.ops.Relational
        .rankLatest(df, Seq(col("user_id")), Seq(col("ts_ms").desc, col("event_id").desc))
        .select(col("user_id"), col("event_type"), col("ts_ms"))
      val first = Pipeline.scd2Init(latest(staged.filter(col("create_job_run_id") <= half)),
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      val second = latest(staged.filter(col("create_job_run_id") > half))
      Pipeline.applyScd2Dated(first, second, Seq("user_id"),
        lit(java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
        .write.mode("overwrite").parquet(dim)
    }

    Chain(batches.map(_.batchDuration / 1e3).toSeq, offsetChecks ++ stageChecks ++ jobAudit)
  }

  def count(spark: SparkSession, root: String): Counts = {
    val dirs = Dirs(root)
    import dirs._
    def parquetFiles(f: java.io.File): Long =
      if (f.isFile) (if (f.getName.endsWith(".parquet")) 1L else 0L)
      else Option(f.listFiles()).map(_.map(parquetFiles).sum).getOrElse(0L)
    Counts(
      arrivalRows = spark.read.parquet(data).count(),
      conformRows = AvroIo.readAvro(spark, conform).count(),
      stagingRows = spark.read.parquet(staging).count(),
      openDimRows = spark.read.parquet(dim).filter(col("record_status") === "1").count(),
      filesWritten = parquetFiles(new java.io.File(data)))
  }

  /** The gate: every audit row PASSED, the event count intact at arrival,
    * conform and staging, and one open dimension row per distinct user.
    */
  def failures(chain: Chain, r: Counts, events: Long, users: Long): Seq[String] =
    chain.audit.filter(_.testResult != ValidationResult.PASSED)
      .map(a => s"audit ${a.stage}/${a.testCase}: ${a.testResult} ${a.comments}") ++
    Seq("arrival" -> r.arrivalRows, "conform" -> r.conformRows, "staging" -> r.stagingRows)
      .collect { case (stage, n) if n != events => s"$stage rows $n, expected $events" } ++
    (if (r.openDimRows != users) Seq(s"open dim rows ${r.openDimRows}, expected $users")
     else Nil)
}
