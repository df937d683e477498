package graft.pipeline

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Transcripts
import graft.parse.GrokParser
import graft.enrich.Enrichment
import graft.route.{RouteRule, Router}
import graft.limit.{LimitRule, RateLimit, SinglePassLimit}
import graft.manifest.Manifest

/** End-to-end job: scan → parse → enrich → route → fan-out → rate-limit →
  * per-sink writes + manifest commit + metrics.
  *
  * This is the Spark translation of the reference's `log-shipper run`
  * lifecycle (reference cmd/run.go:49-97, SURVEY.md §3.1): the YAML routing
  * config becomes [[RouteRule]]s compiled to Catalyst expressions; the
  * broker/worker goroutine graph becomes ONE declarative Dataset chain that
  * Catalyst plans; the Consul-KV dedup set becomes the write-then-commit
  * manifest.
  *
  * Scale design:
  *  - single scan of the fact table feeds every sink (array+explode router,
  *    not per-sink scans);
  *  - the job's one full shuffle is the limiter's (sink, bucket, salt)
  *    exchange ([[SinglePassLimit.staged]]): it spreads hot buckets over
  *    `saltBuckets` tasks (reference analog: one slow target blocking its
  *    channel, broker/connector.go:315-318 — unhandled there, handled here
  *    per north_rule), clusters the per-sink write, and is read once;
  *  - verdicts are O(cells) driver-side state, never rows;
  *  - AQE enabled in session conf handles residual skew at runtime.
  */
object Pipeline {

  final case class Config(
      routeRules: Seq[RouteRule] = Router.defaultRules,
      limitRules: Seq[LimitRule] = RateLimit.defaultRules(),
      saltBuckets: Int = 32
  )

  /** Parse, then salted-repartition on (conv_id, hash(turn_idx) % salt) —
    * the front half of the driver queries, which consume parse fields in
    * many downstream operators.
    *
    * The repartition serves three purposes at once:
    *  1. skew: a hot conversation spreads over `saltBuckets` tasks
    *     (north_rule "salted repartitioning"), AQE handles the rest;
    *  2. expression barrier: downstream operators reference the parsed
    *     fields as exchange-output ATTRIBUTES — without it, Catalyst's alias
    *     inlining re-evaluates the grok regex at every reference (measured
    *     44 copies in the optimized plan, and the route stage ran slower on
    *     more cores);
    *  3. reuse: the rate-limit verdict aggregates and the main routed stream
    *     consume the SAME exchange (ReusedExchange), so the scan+parse runs
    *     exactly once per query.
    */
  def parsedSalted(turns: DataFrame, saltBuckets: Int = 32): DataFrame =
    GrokParser.parse(turns)
      // project BEFORE the exchange: the pipeline needs only `level` from the
      // parse (routing predicate + quarantine flag); carrying dur_ms/status/
      // payload (payload ≈ a copy of text) would nearly double the shuffled
      // bytes of the job's one big exchange
      .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
        col("tool"), col("ts"), col("level"))
      .repartition(col("conv_id"), pmod(hash(col("turn_idx")), lit(saltBuckets)))

  /** parse → project, WITHOUT the barrier exchange — for plans whose one
    * shuffle is the single-pass limiter's (sink, bucket, salt) exchange.
    * Safe only because route references to `level` collapse into ONE Project,
    * where whole-stage codegen's subexpression elimination evaluates the grok
    * regex once per row (PlanShapeSpec asserts this on the single-pass plan). */
  def parsedProjected(turns: DataFrame): DataFrame =
    GrokParser.parse(turns)
      .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
        col("tool"), col("ts"), col("level"))

  /** parse → enrich → route → fan-out, narrowed to the sink contract
    * columns: the limiter's input. Per-STAGE observe() counters (reference
    * /api/sources + /api/workers parity, web/api/sources.go:30-89,
    * workers.go:27-84) ride the one pass; after the limiter's first job they
    * are in this frame's `queryExecution.observedMetrics` under
    * `graft_scan`, `graft_parse` and `graft_route`. Conservation invariants
    * (asserted in ManifestSpec): scan rows = parse ok + quarantined;
    * route rows_in = scan rows; dead-letter routed rows = quarantined +
    * unmatched. */
  def limiterInput(turns: DataFrame, spark: SparkSession, cfg: Config): DataFrame = {
    val parsed = parsedProjected(turns.observe("graft_scan", count(lit(1)).as("rows")))
      .observe("graft_parse",
        count(when(col("level").isNotNull, 1)).as("rows_ok"),
        count(when(col("level").isNull, 1)).as("rows_quarantined"))
    val targeted = Router.withTargets(Enrichment.enrich(parsed, spark), cfg.routeRules)
      .observe("graft_route",
        count(lit(1)).as("rows_in"),
        count(when(col("targets") === array(lit(Router.DeadLetter)), 1)).as("rows_dead_letter"))
    SinglePassLimit.contract(Router.explodeTargets(targeted))
  }

  /** Pipeline.run's staging pass: [[limiterInput]] → the limiter's one
    * exchange → `staging`, written partitioned by sink. Returns the
    * post-chain verdict cells and the per-stage counters. */
  def stage(turns: DataFrame, spark: SparkSession, cfg: Config, staging: String)
      : (Array[RateLimit.Cell], Map[String, Row]) = {
    val input = limiterInput(turns, spark, cfg)
    val (limited, cells) =
      SinglePassLimit.limitReusingShuffle(input, cfg.limitRules, cfg.saltBuckets)
    limited.write.mode("overwrite").partitionBy("sink").parquet(staging)
    (cells, input.queryExecution.observedMetrics)
  }

  /** Full run with single-pass limiting, per-sink promotion, manifest commits
    * and resume. Returns the per-sink aggregate DataFrame (also persisted as
    * metrics).
    *
    * Shape: [[stage]] writes the limited rows ONCE into `_staging`,
    * partitioned by sink; committing a sink = one atomic directory rename +
    * manifest entry. Per-sink rows/bytes and in/out/dropped come from the
    * verdict cells; exact distinct convs from one conv_id-pruned read of the
    * staged sinks about to be committed.
    *
    * Resume note: a resumed run re-stages ALL sinks — limiter verdicts must
    * see the full (sink, bucket) volumes, including buckets whose sink is
    * already committed, or fallback accounting would change across a resume.
    * Only uncommitted sinks are promoted.
    */
  def run(
      spark: SparkSession,
      sfDir: String,
      outRoot: String,
      runId: String,
      cfg: Config = Config(),
      failAfterSinks: Int = Int.MaxValue // test hook: simulate a mid-job kill
  ): DataFrame = {
    val manifest = new Manifest(outRoot)
    val already = manifest.committedSinks()
    val staging = s"$outRoot/_staging"
    val (cells, observed) = stage(Transcripts.fromEvents(spark, sfDir), spark, cfg, staging)

    val finalSinks = cells.filter(_.curSink != null).groupBy(_.curSink).view
      .mapValues(cs => (cs.map(_.rows).sum, cs.map(_.bytes).sum)).toMap
    val toCommit = finalSinks.keys.toSeq.sorted.filterNot(already.contains).take(failAfterSinks)
    // the schema pins `sink` to string (a type-inferred partition value would
    // read an all-numeric sink name as int)
    val convs = if (toCommit.isEmpty) Map.empty[String, Long] else
      spark.read.schema("conv_id STRING, sink STRING").parquet(staging)
        .filter(col("sink").isin(toCommit: _*))
        .groupBy(col("sink")).agg(countDistinct(col("conv_id")))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    toCommit.foreach { sink =>
      val (rows, bytes) = finalSinks(sink)
      manifest.promoteAndCommit(sink, Paths.get(staging, s"sink=$sink"), runId,
        rows, bytes, convs(sink))
    }

    // Persist the run metrics next to the lineage entries (A1/A2). The
    // per-sink in/out/dropped counters come from the limiter's verdict cells,
    // i.e. they were observed DURING the run with zero extra passes — the
    // reference's live per-connection Stats (monitoring/stats.go:10-118,
    // served at web/api/targets.go:43-121) as a run artifact.
    val record = Manifest.Json.createObjectNode()
    val routedRows = cells.map(_.rows).sum
    record.put("run_id", runId)
      .put("routed_rows", routedRows)
      .put("routed_bytes", cells.map(_.bytes).sum)
      .put("sinks", cells.map(_.origSink).distinct.length)
    val stages = record.putObject("stages")
    def counter(obs: String, name: String): Long = observed(obs).getAs[Long](name)
    stages.putObject("scan").put("rows", counter("graft_scan", "rows"))
    stages.putObject("parse")
      .put("rows_ok", counter("graft_parse", "rows_ok"))
      .put("rows_quarantined", counter("graft_parse", "rows_quarantined"))
    stages.putObject("route")
      .put("rows_in", counter("graft_route", "rows_in"))
      .put("rows_dead_letter", counter("graft_route", "rows_dead_letter"))
      .put("fanout_rows", routedRows)
    final case class C(var inRows: Long = 0, var inBytes: Long = 0,
        var outRows: Long = 0, var outBytes: Long = 0,
        var droppedRows: Long = 0, var droppedBytes: Long = 0)
    val bySink = scala.collection.mutable.SortedMap[String, C]()
    cells.foreach { c =>
      val in = bySink.getOrElseUpdate(c.origSink, C())
      in.inRows += c.rows; in.inBytes += c.bytes
      if (c.curSink == null) {
        val d = bySink.getOrElseUpdate(c.lastSink, C())
        d.droppedRows += c.rows; d.droppedBytes += c.bytes
      } else {
        val out = bySink.getOrElseUpdate(c.curSink, C())
        out.outRows += c.rows; out.outBytes += c.bytes
      }
    }
    val perSink = record.putObject("per_sink")
    bySink.foreach { case (s, c) =>
      perSink.putObject(s)
        .put("in_rows", c.inRows).put("in_bytes", c.inBytes)
        .put("out_rows", c.outRows).put("out_bytes", c.outBytes)
        .put("dropped_rows", c.droppedRows).put("dropped_bytes", c.droppedBytes)
    }
    // tmp + atomic move: the metrics HTTP sidecar may scrape this file at
    // any moment, and a crash mid-write must not leave a truncated record
    val metricsTmp = Paths.get(outRoot, "_tmp", s"_metrics_$runId.json")
    Files.createDirectories(metricsTmp.getParent)
    Files.writeString(metricsTmp, Manifest.Json.writeValueAsString(record))
    Files.move(metricsTmp, Paths.get(outRoot, "_manifest", s"_metrics_$runId.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)

    // drop the staging residue once every staged sink is committed
    if (finalSinks.keySet.subsetOf(new Manifest(outRoot).committedSinks()))
      graft.util.Fs.deleteRecursively(Paths.get(staging))

    // Final per-sink aggregate FROM THE MANIFEST ENTRIES — re-reading every
    // committed sink's parquet here (the round-1 shape) would be a complete
    // second read of all written data at the 100 TB design point. The
    // manifest IS the aggregate. (_metrics_* sidecar files carry no sink
    // field — the isNotNull filter excludes them.)
    manifest.entries(spark)
      .filter(col("sink").isNotNull)
      .select(col("sink"), col("row_count").cast("long").as("turns"),
        col("bytes").cast("long").as("bytes"), col("convs").cast("long").as("convs"))
  }
}
