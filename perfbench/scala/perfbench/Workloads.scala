package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Pipeline
import graft.model.Schemas
import graft.operators.Dedup
import graft.sources.Sources
import graft.streaming.StreamingAgg

/** `etl_scan_feed`: the reference pipeline, `Pipeline.run`, end to end on
  * generated gzip scan feeds. Every call writes a fresh output root. */
final class EtlScanFeed(spark: SparkSession, truth: JsonNode, work: String)
    extends Workload {
  private val feeds = Json.strings(truth.get("feeds"))
  private val threshold = truth.get("threshold").asLong
  private def dim(name: String, schema: org.apache.spark.sql.types.StructType) =
    Sources.datapackageCsv(spark, truth.get("dims").get(name).asText, schema)
  private val dimRisk = dim("risk", Schemas.dimRisk)
  private val dimCountry = dim("country", Schemas.dimCountry)
  private val dimAsn = dim("asn", Schemas.dimAsn)
  private def outDir(tag: String) = s"$work/etl/$tag"

  // the flagship aggregate as plain SQL over the raw feed, written
  // without RiskAggregation: (day, asn, risk, country, distinct hosts)
  private lazy val expected: Set[String] = {
    spark.read.option("header", "true").csv(feeds: _*)
      .createOrReplaceTempView("perfbench_feed")
    spark.sql(s"""
      SELECT date_format(date_trunc('day',
               to_timestamp(ts, "yyyy-MM-dd'T'HH:mm:ssXXX")), 'yyyy-MM-dd'),
             CAST(asn AS BIGINT), CAST(risk_id AS INT), cc,
             count(DISTINCT ip)
      FROM perfbench_feed
      GROUP BY 1, 2, 3, 4
      HAVING count(DISTINCT ip) > $threshold""")
      .collect().map(_.toSeq.mkString("|")).toSet
  }

  private def runInto(dir: String): Unit =
    Pipeline.run(spark, feeds, dimRisk, dimCountry, dimAsn, dir, threshold)

  private def checkDir(dir: String): Unit = {
    val got = spark.read.parquet(s"$dir/fact_count")
      .select(date_format(col("date"), "yyyy-MM-dd"), col("asn"),
        col("risk"), col("country"), col("count"))
      .collect().map(_.toSeq.mkString("|")).toSet
    require(got == expected, s"fact_count differs from the SQL " +
      s"reference: ${(got -- expected).size} extra, " +
      s"${(expected -- got).size} missing rows")
    require(expected.size == truth.get("groups_over_threshold").asLong,
      "the SQL reference disagrees with the generator's group count")
    val total = expected.toSeq.map(_.split('|').last.toLong).sum
    for (g <- Seq("week", "month", "quarter", "year")) {
      val grand = spark.read.parquet(s"$dir/agg_risk_country_$g")
        .where(col("date").isNull && col("country") === "T" &&
          col("risk") === 100)
        .select(col("count")).collect().map(_.getLong(0)).toSeq
      require(grand == Seq(total),
        s"$g cube grand total $grand, fact total $total")
    }
  }

  def setupCalls: Int = 1
  def setup(round: Int): Unit = {
    val dir = outDir(s"setup_$round")
    try { runInto(dir); checkDir(dir) }
    finally BenchMain.deleteTree(dir)
  }
  def hasCall(i: Int): Boolean = true
  override def prepare(i: Int): Unit =
    BenchMain.deleteTree(outDir(s"call_${i - 1}"))
  def call(i: Int): (Long, Long) = {
    runInto(outDir(s"call_$i"))
    (truth.get("rows").asLong, truth.get("bytes").asLong)
  }
  def check(i: Int, facts: ObjectNode): Unit = checkDir(outDir(s"call_$i"))
  def roots(i: Int): Seq[String] = Seq(outDir(s"call_$i"))
}

/** `corpus_refresh`: the weekly corpus cron, `Pipeline.refreshCorpus`,
  * one generated batch per call against one growing index root. */
final class CorpusRefresh(spark: SparkSession, truth: JsonNode, work: String)
    extends Workload {
  private val batches = truth.get("batches")
  private var indexRoot, corpusDir = ""
  private var last: Pipeline.RefreshOutput = _
  // batch 0 creates the index families; later set-up batches warm the
  // append path
  private val setupBatches = truth.get("setup_batches").asInt

  private val buckets = truth.get("buckets").asInt

  private def refresh(b: Int): Pipeline.RefreshOutput =
    Pipeline.refreshCorpus(spark,
      spark.read.schema("doc_id BIGINT, text STRING")
        .json(batches.get(b).get("path").asText),
      indexRoot, corpusDir, bandBuckets = buckets, pieceBuckets = buckets,
      chunkBuckets = buckets)

  private def ids(b: Int, kind: String): Seq[Long] =
    batches.get(b).get(kind).elements().asScala.map(_.get(0).asLong).toSeq

  private def checkBatch(b: Int, o: Pipeline.RefreshOutput,
      facts: ObjectNode): Unit = {
    val rep = o.report.head()
    val Seq(nBatch, nPub, nDrop, nPairs) = Seq("n_batch", "n_published",
      "n_dropped", "n_dup_pairs").map(rep.getAs[Long])
    val pub = o.published.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    val (exact, near) = (ids(b, "exact"), ids(b, "near"))
    facts.put("n_batch", nBatch).put("n_published", nPub)
      .put("n_dropped", nDrop).put("n_dup_pairs", nPairs)
      .put("planted_exact", exact.size).put("planted_near", near.size)
      .put("exact_dropped", exact.count(!pub(_)))
      .put("near_dropped", near.count(!pub(_)))
    require(nBatch == batches.get(b).get("n").asLong,
      s"report n_batch $nBatch")
    require(nPub + nDrop == nBatch,
      s"n_published $nPub + n_dropped $nDrop != n_batch $nBatch")
    require(pub.size == nPub, s"${pub.size} published rows, report $nPub")
    val kept = exact.filter(pub)
    require(kept.isEmpty, s"planted exact duplicates published: $kept")
  }

  def setupCalls: Int = setupBatches
  def setup(round: Int): Unit = {
    indexRoot = s"$work/corpus/r$round/index"
    corpusDir = s"$work/corpus/r$round/corpus"
    for (b <- 0 until setupBatches) BenchMain.logTime(s"set-up batch $b") {
      checkBatch(b, refresh(b), Json.obj())
    }
  }
  def hasCall(i: Int): Boolean = setupBatches + i < batches.size
  def call(i: Int): (Long, Long) = {
    val b = setupBatches + i
    last = refresh(b)
    (batches.get(b).get("n").asLong, batches.get(b).get("bytes").asLong)
  }
  def check(i: Int, facts: ObjectNode): Unit =
    checkBatch(setupBatches + i, last, facts)
  def roots(i: Int): Seq[String] = Seq(indexRoot, corpusDir)
}

/** `stream_ingest`: the flagship streaming bridge
  * (`StreamingAgg.distinctDailyCounts`) and the probe-only screen bridge
  * (`StreamingAgg.screenStreamAgainstBenchmark`) against an eval-suite
  * index written in set-up. One closed-loop step hands one micro-batch
  * file to each bridge in turn and waits until it is processed. */
final class StreamIngest(spark: SparkSession, truth: JsonNode, work: String)
    extends Workload {
  private val events = truth.get("events")
  private val docs = truth.get("docs")
  private val planted = Json.longs(truth.get("planted")).toSet
  private val passageShingles = truth.get("passage_shingles").asLong
  private val warmSteps = truth.get("warm_steps").asInt
  private val tsFormat = "yyyy-MM-dd'T'HH:mm:ssXXX"
  private val eventSchema = "ts TIMESTAMP, user_id STRING, event_type STRING"
  private val docSchema = "ts TIMESTAMP, doc_id BIGINT, text STRING"

  private var dir = ""
  private var round = 0
  private var flagship, screen: StreamingQuery = _
  private val fedEvents = mutable.ArrayBuffer[String]()
  @volatile private var screened: Map[Long, Long] = Map.empty
  private var lastBatch = Map[String, Long]()
  private var stepTimes = (0.0, 0.0)

  private def json(schema: String, in: String): DataFrame =
    spark.readStream.schema(schema).option("timestampFormat", tsFormat)
      .json(in)

  /** Hands `file` to a watched directory the way a producer must: copy
    * under a hidden name, then rename into view. */
  private def feed(file: String, into: String): Unit = {
    val src = Paths.get(file)
    val tmp = Paths.get(into, s"_${src.getFileName}")
    Files.copy(src, tmp)
    Files.move(tmp, Paths.get(into, src.getFileName.toString),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** triggerExecution of the one new micro-batch `q` ran. */
  private def lastTrigger(q: StreamingQuery): Double = {
    val seen = lastBatch.getOrElse(q.name, -1L)
    val fresh = q.recentProgress.filter(p =>
      p.batchId > seen && p.numInputRows > 0)
    require(fresh.length == 1,
      s"${q.name}: ${fresh.length} data micro-batches in one step")
    lastBatch += q.name -> fresh.head.batchId
    fresh.head.durationMs.get("triggerExecution").toDouble / 1e3
  }

  private def step(k: Int): (Long, Long) = {
    val (ev, dc) = (events.get(k), docs.get(k))
    feed(ev.get("path").asText, s"$dir/events_in")
    fedEvents += ev.get("path").asText
    flagship.processAllAvailable()
    feed(dc.get("path").asText, s"$dir/docs_in")
    screen.processAllAvailable()
    stepTimes = (lastTrigger(flagship), lastTrigger(screen))
    (ev.get("rows").asLong + dc.get("rows").asLong,
      ev.get("bytes").asLong + dc.get("bytes").asLong)
  }

  private def checkScreen(k: Int): Unit = {
    val want = Json.longs(docs.get(k).get("ids"))
    require(screened.keySet == want.toSet,
      s"screen emitted ${screened.size} docs, fed ${want.size}")
    val bad = want.filter(id =>
      if (planted(id)) screened(id) < passageShingles else screened(id) != 0)
    require(bad.isEmpty, s"screen verdicts wrong for docs $bad")
  }

  private def stopQueries(): Unit =
    Seq(flagship, screen).filter(_ != null).foreach(_.stop())

  def setupCalls: Int = warmSteps
  def setup(r: Int): Unit = {
    stopQueries()
    round = r
    dir = s"$work/stream/r$r"
    Seq("events_in", "docs_in").foreach(d =>
      Files.createDirectories(Paths.get(dir, d)))
    val benchDir = s"$dir/bench_index"
    BenchMain.logTime("eval index") {
      Dedup.writeBenchmarkIndex(spark.read.schema(
        "doc_id BIGINT, text STRING").json(truth.get("eval").asText), benchDir,
        hashBuckets = truth.get("eval_buckets").asInt)
    }
    fedEvents.clear()
    lastBatch = Map.empty
    // Late events come at most half a day late (gen.py), so a 12-hour
    // watermark drops none. The first micro-batch holds two days, so day
    // 0's windows are emitted in the second: the end check has windows to
    // compare after two steps.
    flagship = StreamingAgg.distinctDailyCounts(json(eventSchema,
        s"$dir/events_in"), lateness = "12 hours")
      .writeStream.outputMode("append").format("memory")
      .queryName(s"flagship_r$r")
      .option("checkpointLocation", s"$dir/ckpt_flagship").start()
    screen = StreamingAgg.screenStreamAgainstBenchmark(
        json(docSchema, s"$dir/docs_in"), benchDir) { (df, _) =>
        screened = df.select(col("doc_id"), col("n_contaminated")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      .queryName(s"screen_r$r")
      .option("checkpointLocation", s"$dir/ckpt_screen").start()
    for (k <- 0 until warmSteps) BenchMain.logTime(s"warm-up step $k") {
      step(k); checkScreen(k)
    }
  }
  def hasCall(i: Int): Boolean = warmSteps + i < events.size
  def call(i: Int): (Long, Long) = step(warmSteps + i)
  def check(i: Int, facts: ObjectNode): Unit = {
    facts.put("flagship_s", stepTimes._1).put("screen_s", stepTimes._2)
    checkScreen(warmSteps + i)
  }
  def roots(i: Int): Seq[String] =
    Seq(s"$dir/ckpt_flagship", s"$dir/ckpt_screen")

  override def endChecks: Int = 1

  /** The flagship's emitted windows against the batch dedup+count plan
    * over the same events, for every day the watermark has closed. */
  override def finish(out: ObjectNode): Seq[String] = {
    stopQueries()
    def rows(df: DataFrame) = df.select(date_format(col("day"), "yyyy-MM-dd"),
      col("event_type"), col("count")).collect().map(_.toSeq.mkString("|"))
      .toSet
    val got = rows(spark.table(s"flagship_r$round"))
    val want = rows(spark.read.schema(eventSchema)
      .option("timestampFormat", tsFormat).json(fedEvents.toSeq: _*)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"),
        col("event_type"))
      .distinct().groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("count")))
    val days = got.map(_.split('|').head)
    val wantClosed = want.filter(r => days(r.split('|').head))
    out.put("flagship_windows", got.size)
    if (got.nonEmpty && got == wantClosed) Nil
    else Seq(s"flagship windows differ from the batch plan: " +
      s"${(got -- wantClosed).size} extra, ${(wantClosed -- got).size} " +
      s"missing, ${got.size} emitted")
  }
}
