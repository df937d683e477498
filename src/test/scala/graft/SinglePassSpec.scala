package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.enrich.Enrichment
import graft.limit.{LimitRule, RateLimit, SinglePassLimit}
import graft.manifest.Manifest
import graft.model.{RoutedTurn, Transcripts}
import graft.pipeline.Pipeline
import graft.route.Router

/** The single-pass shuffle-reuse limiter must be observationally identical
  * to the two-pass declarative formulation (RateLimit.apply) — same
  * surviving rows, same final sinks — while touching the fact table once;
  * and Pipeline.run, which stages through it, must commit exactly those
  * survivors. */
class SinglePassSpec extends SparkSpec {
  import spark.implicits._

  private def t(hour: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 $hour%02d:00:00")

  private def mk(hour: Int, n: Int, textLen: Int, sink: String): Seq[RoutedTurn] =
    (0 until n).map(i =>
      RoutedTurn(f"conv-$sink-h$hour%02d-$i%03d", i, "user", "x" * textLen,
        "search", t(hour), sink))

  /** search h0 ok; search h1+h2 breach → fallback; fallback h1 merges with
    * organic rows and stays under its limit; fallback h2 breaches → discard;
    * sink_a untouched throughout. */
  private def fixture: DataFrame =
    (mk(0, 1, 10, "sink_search") ++
      mk(1, 5, 20, "sink_search") ++ // 100 > 50 → fallback
      mk(2, 5, 30, "sink_search") ++ // 150 > 50 → fallback, then 150 > 120 → discard
      mk(1, 2, 10, "sink_fallback") ++ // organic; h1 total 120 ≤ 120 → survives
      mk(0, 3, 10, "sink_a") ++ mk(2, 2, 10, "sink_a")).toDF()

  private val rules = Seq(
    LimitRule("sink_search", 50, 1, "fallback", Some("sink_fallback")),
    LimitRule("sink_fallback", 120, 1, "discard", None))

  private def canon(df: DataFrame): Seq[String] =
    df.select("conv_id", "turn_idx", "sink", "text")
      .collect()
      .map(r => s"${r.getString(0)}|${r.getInt(1)}|${r.getString(2)}|${r.getString(3)}")
      .sorted.toSeq

  test("shuffle-reuse survivors equal the two-pass survivors row-for-row") {
    val (survivedTwoPass, dropped) = RateLimit.apply(fixture, rules)
    val (survived, cells) = SinglePassLimit.limitReusingShuffle(fixture, rules)
    assert(canon(survived) === canon(survivedTwoPass))
    // both limiter actions were exercised: the rerouted h1 bucket merged
    // with the organic fallback rows (2 + 5), the h2 bucket was discarded
    assert(survived.filter(col("sink") === "sink_fallback").count() === 7L)
    assert(dropped.count() === 5L)
    // the verdict cells carry the same story, with exact row and byte counts
    val h = (hour: Int) => t(hour).getTime / 3600000L
    val search = cells.filter(_.origSink == "sink_search").map(c => c.bucketKey -> c).toMap
    assert(search(h(0)).curSink === "sink_search")
    assert(search(h(1)).curSink === "sink_fallback")
    assert((search(h(1)).rows, search(h(1)).bytes) === ((5L, 100L)))
    assert(search(h(2)).curSink === null && search(h(2)).lastSink === "sink_fallback")
    assert((search(h(2)).rows, search(h(2)).bytes) === ((5L, 150L)))
    assert(cells.map(_.rows).sum === fixture.count())
  }

  test("shuffle-reuse with no breaches returns every row unchanged") {
    val df = (mk(0, 2, 10, "sink_search") ++ mk(1, 3, 10, "sink_a")).toDF()
    val (got, cells) = SinglePassLimit.limitReusingShuffle(df, rules)
    assert(canon(got) === canon(df))
    assert(cells.forall(c => c.curSink == c.origSink))
  }

  test("shuffle-reuse fails fast on a null ts instead of bucketing it into epoch 0") {
    val df = (mk(0, 2, 10, "sink_search") :+
      RoutedTurn("conv-null-ts", 0, "user", "x", "search", null, "sink_search")).toDF()
    // job 1 (the verdict job) fails, so no limited frame is ever returned
    val e = intercept[SparkException](SinglePassLimit.limitReusingShuffle(df, rules))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("requires non-null ts")), e)
  }

  // Pipeline.run stages through the single-pass limiter, so its committed
  // sinks are the single-pass survivors, checked against the two-pass spec
  test("single-pass survivors equal the two-pass survivors row-for-row") {
    val sfDir = "/root/testdata/sf0.001"
    // limits at which sf0.001 both reroutes sink_search hours and discards
    // some of the rerouted fallback hours
    val cfg = Pipeline.Config(limitRules = RateLimit.defaultRules(60L, 80L))
    val turns = Transcripts.fromEvents(spark, sfDir)
    val (survivedTwoPass, dropped) = RateLimit.apply(
      Router.fanOut(Enrichment.enrich(Pipeline.parsedSalted(turns), spark), cfg.routeRules),
      cfg.limitRules)
    val nDropped = dropped.count()
    assert(nDropped > 0, "fixture must discard")
    assert(survivedTwoPass.filter(col("sink") === "sink_fallback").count() > 0,
      "fixture must reroute rows that survive in the fallback sink")

    val out = Files.createTempDirectory("graft-spl-run").toString
    Pipeline.run(spark, sfDir, out, runId = "parity", cfg = cfg)
    val m = new Manifest(out)
    val committed = m.committedSinks().toSeq.sorted.map(s => m.sinkRows(spark, s))
      .reduce(_ unionByName _)
    assert(canon(committed) === canon(survivedTwoPass))
    // the run's dropped counter (from the verdict cells) matches the spec
    val metrics = Manifest.Json.readTree(
      Files.readString(java.nio.file.Paths.get(out, "_manifest", "_metrics_parity.json")))
    import scala.jdk.CollectionConverters._
    val droppedRows = metrics.get("per_sink").elements().asScala
      .map(_.get("dropped_rows").asLong).sum
    assert(droppedRows === nDropped)
  }

  test("whole-hour TZ guard: modern whole-hour zones pass, half-hour eras/rules reject") {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    def accepts(tz: String): Boolean =
      try {
        spark.conf.set("spark.sql.session.timeZone", tz)
        SinglePassLimit.assertWholeHourTz(spark); true
      } catch { case _: IllegalArgumentException => false }
      finally spark.conf.set("spark.sql.session.timeZone", prev)
    assert(accepts("UTC"))
    // pre-1900 LMT transitions (−4:56:02 / +9:18:59) must NOT trip the
    // guard — every geographic zone has one, and no epoch row feels it
    assert(accepts("America/New_York"), "pre-epoch LMT offset wrongly rejected")
    assert(accepts("Asia/Tokyo"))
    assert(!accepts("Asia/Kolkata"), "current +5:30 must reject")
    assert(!accepts("Asia/Singapore"), "historic post-epoch +7:30 (until 1982) must reject")
    assert(!accepts("Australia/Lord_Howe"), "recurring +10:30 standard time must reject")
  }
}
