package perfbench

/** Turns a run's measurements into the named metrics of BENCHMARK.json. */
object Report {

  val EpLayers: Seq[String] = Seq("streaming.arrival", "dq.offset_checks",
    "streaming.conform", "sources.avro_read", "dq.stage_checks",
    "pipeline.write_run", "pipeline.stage_job", "pipeline.scd_merge")

  val BatchDurations: Seq[(String, String)] = Seq("addBatch" -> "add_batch",
    "queryPlanning" -> "query_planning", "walCommit" -> "wal_commit",
    "latestOffset" -> "latest_offset")

  /** (name, unit, better) of every metric a traced run reports. */
  def perLayer(queryNames: Seq[String]): Seq[(String, String, String)] =
    Seq(("catalog.build_s", "s", "lower"), ("catalog.exec_s", "s", "lower"),
      ("catalog.jobs", "count", "lower"), ("catalog.tasks", "count", "lower"),
      ("catalog.task_s", "s", "lower"), ("catalog.busy_share", "ratio", "higher"),
      ("catalog.shuffle_mb", "MB", "lower"), ("catalog.spill_mb", "MB", "lower")) ++
    queryNames.sorted.map(q => (s"query.${q}_s", "s", "lower")) ++
    EpLayers.flatMap(l => Seq((s"${l}_s", "s", "lower"), (s"$l.jobs", "count", "lower"),
      (s"$l.tasks", "count", "lower"), (s"$l.task_s", "s", "lower"))) ++
    BatchDurations.map { case (_, n) => (s"streaming.${n}_ms_p50", "ms", "lower") } ++
    Seq(("streaming.files_written", "count", "lower"),
      ("sources.rows_per_task", "rows/task", "higher"),
      ("ops.op_p50_s", "s", "lower"), ("ops.op_p80_s", "s", "lower"),
      ("ops.peak_rss_mb", "MB", "lower"),
      ("ops.seam_dirs_left", "count", "lower"),
      ("ops.failed_frac", "ratio", "lower"),
      ("trace.wall_s", "s", "lower"),
      ("trace.span_share", "ratio", "higher"))

  def metrics(m: Main.Measured): Seq[(String, Double, String)] =
    if (!m.trace.counters) endToEnd(m) else layers(m)

  val EndToEnd: Seq[String] = Seq("wall_s", "setup_s")

  def endToEnd(m: Main.Measured): Seq[(String, Double, String)] =
    Seq(("wall_s", m.wallS, "s"), ("setup_s", m.setupS, "s"))

  /** Per-operation latency: one catalog query (build + no-op write) or one
    * micro-batch. NaN, reported as null, when no operation succeeded.
    */
  def opPercentile(m: Main.Measured, q: Double): Double =
    if (m.opSeconds.isEmpty) Double.NaN else Stats.percentile(m.opSeconds, q)

  def layers(m: Main.Measured): Seq[(String, Double, String)] = {
    val t = m.trace
    def counter(layers: Seq[String])(f: Trace.Counters => Long): Long =
      layers.flatMap(t.layerCounters.get).map(f).sum
    val catalog = Seq("catalog.build", "catalog.exec")
    val catalogTaskS = counter(catalog)(_.taskMs) / 1e3
    val queryS = m.queries.filter(_.error.isEmpty).map(o => o.name -> o.seconds).toMap
    val downstream = EpLayers.tail
    val inputTasks = counter(downstream)(_.inputTasks)
    def progressMedian(key: String): Double = {
      val xs = t.progress.filter(_.numInputRows > 0).toSeq
        .flatMap(p => Option(p.durationMs.get(key)).map(_.toDouble))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val values: Map[String, Double] = Map(
      "catalog.build_s" -> t.wall("catalog.build"),
      "catalog.exec_s" -> t.wall("catalog.exec"),
      "catalog.jobs" -> counter(catalog)(_.jobs).toDouble,
      "catalog.tasks" -> counter(catalog)(_.tasks).toDouble,
      "catalog.task_s" -> catalogTaskS,
      "catalog.busy_share" ->
        (if (m.queries.isEmpty) 0.0 else Stats.busyShare(catalogTaskS, m.wallS, Main.Cores)),
      "catalog.shuffle_mb" -> counter(catalog)(_.shuffleBytes) / 1e6,
      "catalog.spill_mb" -> counter(catalog)(_.spillBytes) / 1e6,
      "streaming.files_written" -> m.ep.map(_.filesWritten.toDouble).getOrElse(0.0),
      "sources.rows_per_task" ->
        (if (inputTasks == 0) 0.0 else counter(downstream)(_.recordsRead).toDouble / inputTasks),
      "ops.op_p50_s" -> opPercentile(m, 0.5),
      "ops.op_p80_s" -> opPercentile(m, 0.8),
      "ops.peak_rss_mb" -> peakRssMb,
      "ops.seam_dirs_left" -> m.leftovers.toDouble,
      "ops.failed_frac" -> m.failures.size.toDouble / m.attempted.max(1),
      "trace.wall_s" -> m.wallS,
      "trace.span_share" -> t.spans.map(_._3).sum / m.wallS) ++
      queryS.map { case (q, s) => s"query.${q}_s" -> s } ++
      EpLayers.flatMap(l => Seq(s"${l}_s" -> t.wall(l),
        s"$l.jobs" -> counter(Seq(l))(_.jobs).toDouble,
        s"$l.tasks" -> counter(Seq(l))(_.tasks).toDouble,
        s"$l.task_s" -> counter(Seq(l))(_.taskMs) / 1e3)) ++
      BatchDurations.map { case (k, n) => s"streaming.${n}_ms_p50" -> progressMedian(k) }
    perLayer(allQueries)
      .map { case (n, unit, _) => (n, values.getOrElse(n, 0.0), unit) }
  }

  /** This process's peak resident set size (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024 }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** The queries the catalog workload runs. */
  lazy val allQueries: Seq[String] = Catalog.queries(graft.SparkEntry.queries)

  val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The result line: correct, attempted, failed and the metrics, each a
    * value (null when it could not be measured) with its unit.
    */
  def json(m: Main.Measured): String = {
    val out = Json.createObjectNode()
    out.put("correct", m.failures.isEmpty)
    out.put("attempted", m.attempted)
    out.put("failed", m.failures.size)
    val ms = out.putObject("metrics")
    metrics(m).foreach { case (n, v, u) =>
      val metric = ms.putObject(n)
      if (v.isNaN || v.isInfinite) metric.putNull("value") else metric.put("value", v)
      metric.put("unit", u)
    }
    Json.writeValueAsString(out)
  }
}
