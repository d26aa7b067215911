package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** One workload as the harness drives it: set-up rounds, then a closed
  * loop of timed engine calls, each followed by its output check. */
trait Workload {
  /** Engine calls one set-up round makes. */
  def setupCalls: Int

  /** Index set-up and the untimed warm-up call(s), into fresh
    * directories for this round; throws when a check fails. The timed
    * calls continue on the last round's directories. */
  def setup(round: Int): Unit

  /** One timed engine call; false when there is no input left. */
  def hasCall(i: Int): Boolean

  /** Harness work before call `i` (clean-up of earlier calls), kept out
    * of its timed window. */
  def prepare(i: Int): Unit = ()

  /** Runs timed call `i`. Returns its input size (rows, bytes). */
  def call(i: Int): (Long, Long)

  /** Checks call `i`'s outputs; throws when they are wrong. Adds what
    * it measured (report counts, probe outcomes) to `facts`. */
  def check(i: Int, facts: ObjectNode): Unit

  /** Directories call `i` writes into; listed before and after it. */
  def roots(i: Int): Seq[String]

  /** How many checks [[finish]] makes. */
  def endChecks: Int = 0

  /** End-of-run checks; returns one message per failed check. */
  def finish(out: ObjectNode): Seq[String] = Nil
}

/** A benchmark workload: one or more parts driven as one. A set-up round
  * sets up every part in turn; one call is one call of every part in
  * turn, and its check records each part's wall time in the call's facts
  * as `<part>_s`. */
final class Parts(parts: Seq[(String, Workload)]) extends Workload {
  private val partTimes = scala.collection.mutable.Map[String, Double]()

  def setupCalls: Int = parts.map(_._2.setupCalls).sum
  def setup(round: Int): Unit = parts.foreach { case (name, w) =>
    BenchMain.logTime(s"set-up $name")(w.setup(round))
  }
  def hasCall(i: Int): Boolean = parts.forall(_._2.hasCall(i))
  override def prepare(i: Int): Unit = parts.foreach(_._2.prepare(i))
  def call(i: Int): (Long, Long) = parts.map { case (name, w) =>
    val t0 = System.nanoTime()
    val size = w.call(i)
    partTimes(name) = (System.nanoTime() - t0) / 1e9
    size
  }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
  def check(i: Int, facts: ObjectNode): Unit = parts.foreach {
    case (name, w) =>
      facts.put(s"${name}_s", partTimes(name))
      w.check(i, facts)
  }
  def roots(i: Int): Seq[String] = parts.flatMap(_._2.roots(i))
  override def endChecks: Int = parts.map(_._2.endChecks).sum
  override def finish(out: ObjectNode): Seq[String] =
    parts.flatMap(_._2.finish(out))
}

/** The benchmark's JVM side. Reads the run spec the Python harness wrote
  * (workload, seconds, trace flag, generated inputs), drives the engine
  * through its public functions only, and writes raw measurements back
  * as JSON. Usage: `BenchMain <spec.json>`.
  */
object BenchMain {
  def main(args: Array[String]): Unit = {
    val spec = Json.read(args(0))
    val cores = spec.get("cores").asInt
    val work = spec.get("work").asText
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    // started first: it warms up while this JVM sets up
    val reference = Option(spec.get("reference_cmd")).map(c =>
      new ReferenceJvm(Json.strings(c), s"$work/reference.log"))
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // one micro-batch per closed-loop step: watermark eviction runs
      // in the next data batch instead of an extra empty one
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = Json.obj()
    out.put("session_s", (System.currentTimeMillis() - jvmStart) / 1e3)
    if (spec.has("train")) {
      // class-data-sharing training: load what every workload loads; the
      // archive is written at a normal JVM exit
      try workload(spark, spec.get("train"), work).setup(1)
      finally spark.stop()
      return
    }
    try run(spark, spec, out, reference.get)
    catch { case e: Throwable => spark.stop(); throw e }
    finally reference.foreach(_.stop())
    Json.write(out, spec.get("out").asText)
    // The results are on disk. An orderly Spark shutdown takes seconds of
    // every run and only deletes scratch under the work directory, which
    // the next run clears anyway.
    System.err.flush()
    Runtime.getRuntime.halt(0)
  }

  /** The workload `spec` names: its parts, each reading its generated
    * inputs from `spec.truth.<part>` and writing under `work/<part>`. */
  private def workload(spark: SparkSession, spec: JsonNode,
      work: String): Workload = new Parts(Json.strings(spec.get("parts"))
    .map { name =>
      val (truth, dir) = (spec.get("truth").get(name), s"$work/$name")
      name -> (name match {
        case "etl_scan_feed" => new EtlScanFeed(spark, truth, dir)
        case "corpus_refresh" => new CorpusRefresh(spark, truth, dir)
        case "stream_ingest" => new StreamIngest(spark, truth, dir)
      })
    })

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `body` and logs its wall time under `label`. */
  def logTime[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[perfbench] $label: ${secondsSince(t0)}%.2f s")
  }

  private def run(spark: SparkSession, spec: JsonNode, out: ObjectNode,
      reference: ReferenceJvm): Unit = {
    val work = spec.get("work").asText
    val w = workload(spark, spec, work)
    val rounds = spec.get("setup_rounds").asInt
    val setup = out.putArray("setup_s")
    val setupFailures = out.putArray("setup_failures")
    for (r <- 1 to rounds) {
      val t0 = System.nanoTime()
      logTime(s"set-up round $r") {
        try w.setup(r) catch { case NonFatal(e) =>
          setupFailures.add(s"set-up round $r: $e")
          System.err.println(s"[perfbench] set-up round $r failed: $e")
        }
      }
      setup.add(secondsSince(t0))
    }

    val trace = spec.get("trace").asInt == 1
    val recorder = if (trace) Some(new Recorder(spark)) else None
    val seconds = spec.get("seconds").asDouble
    val minCalls = spec.get("min_calls").asInt
    val calls = out.putArray("calls")
    val t0 = System.nanoTime()
    var i = 0
    while (w.hasCall(i) && (i < minCalls || secondsSince(t0) < seconds)) {
      // the traced pass alternates untraced and traced calls, so both
      // see the same index growth and JVM warmth
      val traced = trace && i % 2 == 1
      val c = calls.addObject().put("traced", traced)
      w.prepare(i)
      c.put("ref_s", reference.time())
      val before = du(w.roots(i))
      if (traced) recorder.foreach(_.attach())
      val tc = System.nanoTime()
      val size = try Right(w.call(i)) catch { case NonFatal(e) => Left(e) }
      val wall = secondsSince(tc)
      c.put("wall_s", wall)
      if (traced) recorder.foreach(_.detach())
      val after = du(w.roots(i))
      c.put("bytes_written", after._1 - before._1)
        .put("files_written", after._2 - before._2)
      val facts = c.putObject("facts")
      size match {
        case Right((rows, bytes)) =>
          c.put("input_rows", rows).put("input_bytes", bytes)
          val tk = System.nanoTime()
          try { w.check(i, facts); c.put("ok", true) }
          catch { case NonFatal(e) => fail(c, "check", e) }
          c.put("check_s", secondsSince(tk))
        case Left(e) => fail(c, "call", e)
      }
      System.err.println(f"[perfbench] call $i: $wall%.2f s, " +
        f"${secondsSince(tc)}%.2f s with its check")
      i += 1
    }
    out.put("measure_s", secondsSince(t0))
      .put("setup_calls", rounds * w.setupCalls)
    // one more yardstick reading after the last call, so a single-call
    // run is bracketed by two
    out.put("final_ref_s", reference.time())
    out.put("end_checks", w.endChecks)
    val endFailures = out.putArray("end_check_failures")
    w.finish(out).foreach(endFailures.add)
    recorder.foreach(r => out.set[JsonNode]("trace", r.toJson))
    // heap held after the run: leaked persisted blocks and state show
    // here. Spark's cleaner frees what a GC made unreachable only
    // afterwards, and lags on a busy host, so collect until the figure
    // stops falling.
    val mem = ManagementFactory.getMemoryMXBean
    def collected(): Long = {
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed
    }
    var (last, used) = (Long.MaxValue, collected())
    var passes = 1
    while (passes < 8 && used < last - (1L << 20)) {
      last = used
      used = math.min(used, collected())
      passes += 1
    }
    out.put("heap_used_mb", used / 1048576.0)
  }

  private def fail(c: ObjectNode, what: String, e: Throwable): Unit = {
    c.put("ok", false).put("error", s"$what: $e")
    System.err.println(s"[perfbench] $what failed: $e")
  }

  /** (bytes, regular files) under the given directories. */
  def du(dirs: Seq[String]): (Long, Long) = dirs.map(Paths.get(_))
    .filter(Files.exists(_)).map { d =>
      val s = Files.walk(d)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), p) => (b + Files.size(p), n + 1) }
      finally s.close()
    }.foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  def deleteTree(dir: String): Unit = {
    val p: Path = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }
}
