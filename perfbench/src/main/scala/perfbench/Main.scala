package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** One benchmark run in one JVM. `run.py` launches it; see README.md.
  *
  * Arguments: `--workload <name> --seed <n> --trace <0|1> --data <dir>
  * --root <dir> --expected <file>`, or `--expect <outDir> --data <dir>
  * --root <dir>` to write the expected-output file and the oracle dump.
  * Prints one JSON line last: correct, attempted, failed and metrics.
  */
object Main {

  val Workloads: Seq[String] = Seq("catalog", "ep1_pipeline")
  val Cores: Int = Runtime.getRuntime.availableProcessors()
  /** Events per ep1 run and the trigger cap, which give 13 micro-batches:
    * sized so that one run's chain takes about 30 s on 4 cores and a
    * comparison of two commits, 48 runs with both workloads, stays under
    * an hour.
    */
  val EpEvents = 6000
  val EpMaxPerTrigger = 500L
  /** One cheap query per operator family (group-agg, window, multi-way
    * join), run before timing so the first timed query of each shape does
    * not pay first-use costs. The pipeline gets no warm-up: each run of the
    * reference's pipeline is a fresh job that pays them.
    */
  val WarmUp: Seq[String] = Seq("q01_pricing_summary", "q02_rank_latest", "q06_dim_enrich")

  def session(root: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.graft.checkpoint.dir", s"$root/ckpt")
      .config("spark.graft.index.cache.dir", s"$root/index")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def arg(args: Array[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`key`, v) => v }

  def main(args: Array[String]): Unit = {
    val data = arg(args, "--data").getOrElse(sys.error("--data is required"))
    val root = arg(args, "--root").getOrElse(sys.error("--root is required"))
    require(new File(data, "lineitem.parquet").exists(), s"no benchmark data under $data")
    arg(args, "--expect") match {
      case Some(out) => expect(data, root, out)
      case None =>
        val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
        require(Workloads.contains(workload), s"unknown workload $workload")
        val seed = arg(args, "--seed").map(_.toLong).getOrElse(sys.error("--seed is required"))
        val traced = arg(args, "--trace").contains("1")
        val expected = arg(args, "--expected").map(p => Catalog.readExpected(Paths.get(p)))
          .getOrElse(Map.empty)
        val m = runWorkload(workload, seed, traced, data, root, expected)
        println(s"samples op=${m.opSeconds.size}")
        println(Report.json(m))
    }
  }

  /** Everything a run measured, before it is turned into named metrics. */
  final case class Measured(workload: String, setupS: Double, wallS: Double,
                            opSeconds: Seq[Double], attempted: Int,
                            failures: Seq[String], trace: Trace,
                            queries: Seq[Catalog.Outcome], ep: Option[Ep1.Counts],
                            leftovers: Int)

  def runWorkload(workload: String, seed: Long, traced: Boolean, data: String,
                  root: String, expected: Map[String, (Long, String)]): Measured = {
    val all = graft.SparkEntry.queries
    val names = if (workload == "catalog") Catalog.queries(all) else Nil
    // Set-up, timed once: session start, then for catalog table priming,
    // the warm-up and the Tfidf index pre-build, for ep1 measuring the
    // events table, generating the events and publishing them.
    val start = System.nanoTime()
    val spark = session(root)
    val events = if (workload == "ep1_pipeline") {
      val events = Ep1.generate(seed, Ep1.profile(spark, data), EpEvents)
      Ep1.publish(events)
      events
    } else {
      primeTables(spark, data)
      WarmUp.foreach(n => all(n)(spark, data).write.format("noop").mode("overwrite").save())
      prebuildIndex(spark, data)
      Nil
    }
    val setupS = (System.nanoTime() - start) / 1e9
    val trace = new Trace(spark, traced)
    val t0 = System.nanoTime()
    val measured = workload match {
      case "ep1_pipeline" =>
        val chain = Ep1.run(spark, s"$root/ep1", EpMaxPerTrigger, events.size.toLong, trace)
        val wall = (System.nanoTime() - t0) / 1e9
        val counts = Ep1.count(spark, s"$root/ep1")
        val users = events.map(_.key).distinct.size.toLong
        val failures = Ep1.failures(chain, counts, events.size.toLong, users)
        Measured(workload, setupS, wall, chain.batchSeconds, chain.audit.size + 4, failures,
          trace, Nil, Some(counts), 0)
      case _ =>
        val outcomes = Catalog.run(spark, data, all, Catalog.order(names, seed), trace)
        val wall = (System.nanoTime() - t0) / 1e9
        Measured(workload, setupS, wall, outcomes.filter(_.error.isEmpty).map(_.seconds),
          outcomes.size, Catalog.failures(outcomes, expected).map { case (n, m) => s"$n: $m" },
          trace, outcomes, None, 0)
    }
    trace.stop()
    measured.failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    val result = measured.copy(leftovers = leftoverDirs(root))
    spark.stop()
    result
  }

  /** Reads every column of every table once, so no timed call pays a cold
    * first read of its input files.
    */
  def primeTables(spark: SparkSession, data: String): Unit =
    new File(data).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach { f =>
        val df = spark.read.parquet(f.getPath)
        df.select(df.columns.toIndexedSeq.map(c => org.apache.spark.sql.functions.count(col(c))): _*)
          .collect()
      }

  /** Builds the Tfidf postings index the curation queries probe, into this
    * run's own index cache, so every run measures the warm probe.
    */
  def prebuildIndex(spark: SparkSession, data: String): Unit = {
    val docs = graft.sources.Tables.load(spark, data, "documents")
    val src = graft.sources.Tables.parquetLocation(data, "documents")
      .getOrElse(sys.error("documents must be a parquet table"))
    graft.functions.Tfidf.cachedIndex(docs, col("doc_id"), col("text"),
      maxDfFrac = 0.78, sourceDir = src)
  }

  /** Seam, checkpoint and index-compaction directories still on disk. */
  def leftoverDirs(root: String): Int = {
    def dirs(p: String): Seq[File] =
      Option(new File(p).listFiles()).toSeq.flatten.filter(_.isDirectory)
    dirs(s"$root/ckpt").size + dirs(s"$root/tmp").count(d =>
      d.getName.startsWith("graft-seam-") || d.getName.startsWith("graft_compact_idx_"))
  }

  /** Runs every catalog query once and writes, under `out`, each result as
    * parquet with `oracle_sql.json` (the layout tools/diffcheck.py reads),
    * and `expected.txt` with each query's rows and fingerprint.
    */
  def expect(data: String, root: String, out: String): Unit = {
    val spark = session(root)
    val all = graft.SparkEntry.queries
    val names = Catalog.queries(all)
    prebuildIndex(spark, data)
    val lines = names.map { n =>
      val (df, obs) = Catalog.fingerprinted(all(n)(spark, data), n)
      df.write.format("noop").mode("overwrite").save()
      all(n)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
      Catalog.evict(spark)
      s"$n ${obs.get("rows")} ${obs.get("fp")}"
    }
    Files.write(Paths.get(s"$out/expected.txt"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    val json = Report.Json.createObjectNode()
    oracle.toSeq.sortBy(_._1).foreach { case (k, v) => json.put(k, v) }
    Report.Json.writerWithDefaultPrettyPrinter().writeValue(new File(s"$out/oracle_sql.json"), json)
    spark.stop()
  }
}
