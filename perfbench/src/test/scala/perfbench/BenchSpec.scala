package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val profile: Ep1.Profile = Ep1.profile(spark, "data/sf0.01")

  test("the same seed gives byte-identical events, another seed different ones") {
    def bytes(seed: Long): Array[Byte] = Ep1.generate(seed, profile, 3000)
      .map(e => s"${e.partition}|${e.key}|${e.value}|${e.tsMs}").mkString("\n").getBytes("UTF-8")
    assert(java.util.Arrays.equals(bytes(7L), bytes(7L)))
    assert(!java.util.Arrays.equals(bytes(7L), bytes(8L)))
  }

  test("generated events draw their keys, types and gaps from the events table") {
    val n = 60000
    val events = Ep1.generate(3L, profile, n)
    assert(events.map(_.value.split('|')(0).toLong) == (0L until n))
    assert(events.forall(e => e.partition == e.key.toLong % Ep1.Partitions))
    val fields = events.map(_.value.split('|'))
    assert(fields.forall(f => profile.pairs.contains((f(1).toLong, f(2)))))
    // the per-user shares follow the table's: total variation distance
    def shares(keys: Seq[Long]): Map[Long, Double] =
      keys.groupBy(identity).map { case (k, v) => k -> v.size.toDouble / keys.size }
    val (table, drawn) = (shares(profile.pairs.map(_._1)), shares(fields.map(_(1).toLong)))
    val tv = (table.keySet ++ drawn.keySet).toSeq
      .map(k => math.abs(table.getOrElse(k, 0.0) - drawn.getOrElse(k, 0.0))).sum / 2
    assert(tv < 0.05, s"total variation $tv")
    // the table's timestamps never run backwards, so neither do the events'
    assert(profile.gapsMs.forall(_ >= 0))
    assert(events.sliding(2).forall { case Seq(a, b) => b.tsMs >= a.tsMs })
    assert(events.head.tsMs >= profile.startMs)
  }

  test("percentiles use the nearest rank") {
    val xs = (1 to 50).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 25.0)
    assert(Stats.percentile(xs, 0.8) == 40.0)
    assert(Stats.percentile(xs.reverse, 1.0) == 50.0)
    assert(Stats.percentile(Seq(3.0), 0.5) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
    intercept[IllegalArgumentException](Stats.percentile(Nil, 0.5))
    intercept[IllegalArgumentException](Stats.percentile(xs, 0.0))
  }

  test("busy share is task time over wall time times cores") {
    assert(Stats.busyShare(taskS = 8.0, wallS = 4.0, cores = 4) == 0.5)
    assert(Stats.busyShare(taskS = 16.0, wallS = 4.0, cores = 4) == 1.0)
    intercept[IllegalArgumentException](Stats.busyShare(1.0, 0.0, 4))
  }

  test("a query that throws or returns a wrong result counts as failed, never as fast") {
    import spark.implicits._
    val good: Catalog.Builder = (s, _) => Seq(1L, 2L, 3L).toDF("x")
    val all: Map[String, Catalog.Builder] = Map(
      "q01_good" -> good,
      "q02_wrong" -> ((s: SparkSession, _: String) => Seq(1L, 2L, 4L).toDF("x")),
      "q03_throws" -> ((_: SparkSession, _: String) => sys.error("injected failure")),
      "q04_throws_late" -> ((s: SparkSession, _: String) =>
        Seq(0L).toDF("x").selectExpr("assert_true(x > 0) AS y")))
    val trace = new Trace(spark, counters = true)
    val outcomes = Catalog.run(spark, "", all, all.keys.toSeq.sorted, trace)
    trace.stop()
    val expectedGood = outcomes.find(_.name == "q01_good").get
    val expected = all.keys.map(_ -> (expectedGood.rows, expectedGood.fp)).toMap
    val failed = Catalog.failures(outcomes, expected).map(_._1)
    assert(failed.sorted == Seq("q02_wrong", "q03_throws", "q04_throws_late"))
    assert(outcomes.filter(_.error.nonEmpty).map(_.name).sorted ==
      Seq("q03_throws", "q04_throws_late"))

    val m = Main.Measured("catalog", setupS = 1.0, wallS = 1.0,
      opSeconds = outcomes.filter(_.error.isEmpty).map(_.seconds), attempted = outcomes.size,
      failures = failed, trace = trace, queries = outcomes, ep = None, leftovers = 0)
    val layers = Report.layers(m).map { case (n, v, _) => n -> v }.toMap
    assert(layers("ops.failed_frac") == 0.75)
    val line = Report.Json.readTree(Report.json(m))
    assert(line.get("correct").asBoolean() == false)
    assert(line.get("attempted").asInt() == 4 && line.get("failed").asInt() == 3)
    assert(line.get("metrics").get("ops.failed_frac").get("value").asDouble() == 0.75)
  }

  test("each job counts under the span it ran in") {
    val trace = new Trace(spark, counters = true)
    trace.span("a")(spark.range(100).count())
    trace.span("b")(spark.range(100).count())
    trace.span("b")(spark.range(100).count())
    trace.stop()
    val (a, b) = (trace.layerCounters("a"), trace.layerCounters("b"))
    assert(a.jobs > 0 && a.tasks > 0)
    assert(b.jobs == 2 * a.jobs)
    assert(b.tasks == 2 * a.tasks)
  }

  test("the fingerprint ignores row order and sees every column") {
    import spark.implicits._
    def fp(df: DataFrame): (Long, String) = {
      val (o, obs) = Catalog.fingerprinted(df, s"fp${System.nanoTime()}")
      o.write.format("noop").mode("overwrite").save()
      (obs.get("rows").asInstanceOf[Long], obs.get("fp").toString)
    }
    val a = fp(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    assert(a == fp(Seq((2L, "b"), (1L, "a")).toDF("k", "v").repartition(2)))
    assert(a != fp(Seq((1L, "a"), (2L, "c")).toDF("k", "v")))
    assert(fp(Seq.empty[(Long, String)].toDF("k", "v")) == (0L, "0"))
  }

  test("BENCHMARK.json lists exactly the metrics the benchmark reports") {
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def entries(key: String, fields: String*): Seq[Seq[String]] = {
      val it = spec.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(e => fields.map(f => e.get(f).asText())).toSeq
    }
    def names(key: String): Seq[String] = entries(key, "name").map(_.head)
    assert(entries("per_layer", "name", "unit", "better") ==
      Report.perLayer(Report.allQueries).map { case (n, u, b) => Seq(n, u, b) })
    assert(names("end_to_end").toSet == Report.EndToEnd.toSet)
    assert(names("workloads") == Main.Workloads)
  }
}
