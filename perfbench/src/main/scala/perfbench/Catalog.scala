package perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The catalog workload: `graft.SparkEntry.queries` builders, each
  * timed as the call to the builder plus a no-op write of its result, so
  * every output column is computed as a consumer would pay for it.
  */
object Catalog {

  type Builder = (SparkSession, String) => DataFrame

  /** The reference's own SQL, reconciliation and DQ surface (SURVEY §2A and
    * §2B: q01-q23) plus the two `query.txt` flagship shapes.
    */
  val CoreIds: Seq[String] = (1 to 23).map(i => f"q$i%02d") ++ Seq("q33", "q50")

  /** Builders that run Spark jobs before they return, one per driver-side
    * mechanism: connected-component rounds and seams (q60), two overlapped
    * k-core peels (q186), two overlapped CC runs (q199), overlapped index
    * appends and compaction (q239), the warm Tfidf index probe (q100) and
    * the classifier's model export (q107).
    */
  val CurationIds: Seq[String] = Seq("q60", "q100", "q107", "q186", "q199", "q239")

  def byIds(all: Map[String, Builder], ids: Seq[String]): Seq[String] =
    ids.map(id => all.keys.find(_.takeWhile(_ != '_') == id)
      .getOrElse(sys.error(s"no catalog query with id $id"))).sorted

  /** The catalog workload: the core and the curation queries. */
  def queries(all: Map[String, Builder]): Seq[String] = byIds(all, CoreIds ++ CurationIds)

  /** The seed only permutes the order the queries run in. */
  def order(names: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(names.sorted)

  /** Row count and an order-insensitive content fingerprint of `df`: the
    * sum of every row's xxhash64 over all columns. It rides the timed
    * no-op write as an `observe` aggregate, so the output that was timed is
    * the output that is checked.
    */
  def fingerprinted(df: DataFrame, name: String): (DataFrame, Observation) = {
    val obs = Observation(name)
    val hash = xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
    (df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(hash.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
        .cast("string").as("fp")), obs)
  }

  final case class Outcome(name: String, seconds: Double, rows: Long, fp: String,
                           error: Option[String])

  /** Runs `names` in order, one at a time. A builder or write that throws
    * is recorded as an error, never as a fast success.
    */
  def run(spark: SparkSession, dataDir: String, all: Map[String, Builder],
          names: Seq[String], trace: Trace): Seq[Outcome] = names.map { name =>
    val t0 = System.nanoTime()
    try {
      val df = trace.span("catalog.build", name)(all(name)(spark, dataDir))
      val (observed, obs) = fingerprinted(df, name)
      trace.span("catalog.exec", name)(
        observed.write.format("noop").mode("overwrite").save())
      val seconds = (System.nanoTime() - t0) / 1e9
      val m = obs.get
      Outcome(name, seconds, m("rows").asInstanceOf[Long], m("fp").toString, None)
    } catch {
      case scala.util.control.NonFatal(e) =>
        Outcome(name, (System.nanoTime() - t0) / 1e9, -1L, "",
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300)))
    } finally evict(spark)
  }

  /** Drops what a query cached, outside its timed window, so storage
    * pressure from one query does not slow the next.
    */
  def evict(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Expected (rows, fingerprint) per query, from `name rows fp oracle`
    * lines; `#` starts a comment line.
    */
  def readExpected(path: java.nio.file.Path): Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(path.toFile, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\\s+"); f(0) -> (f(1).toLong, f(2)) }.toMap
    finally src.close()
  }

  /** The failures among `outcomes`: thrown, or output differing from the
    * expected row count or fingerprint (a query with no expected entry
    * fails too).
    */
  def failures(outcomes: Seq[Outcome], expected: Map[String, (Long, String)])
      : Seq[(String, String)] = outcomes.flatMap { o =>
    o.error.map(e => o.name -> s"threw: $e").orElse(expected.get(o.name) match {
      case None => Some(o.name -> "no expected entry")
      case Some((r, f)) if r != o.rows || f != o.fp =>
        Some(o.name -> s"rows ${o.rows} fp ${o.fp}, expected rows $r fp $f")
      case _ => None
    })
  }
}
