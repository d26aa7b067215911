package perfbench

import java.io.{BufferedReader, File, InputStreamReader, PrintStream}
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{countDistinct, sum}

/** The yardstick of `call_rel`: a fixed piece of plain Spark work that
  * runs no engine code (a few small shuffle aggregations over generated
  * rows, their results written to parquet and read back), in a JVM of
  * its own. The benchmark's JVM starts it at the beginning of a run and
  * asks it for a timing right before every timed call, so the yardstick
  * sees how fast the shared host is at that moment, but none of the
  * engine's state (persisted blocks, garbage, threads, scratch files) can
  * slow it and cancel out of the ratio.
  *
  * Usage: `Reference <work dir> <cores> <rows> <warm-up runs>`. After its
  * warm-up it answers every line on stdin with the best wall seconds of
  * two runs, and exits at the end of its input.
  */
object Reference {
  def main(args: Array[String]): Unit = {
    val Array(work, cores, rows, warm) = args
    val spark = SparkSession.builder()
      .appName("perfbench-reference")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Several small queries and one small write rather than one large
    // query: the engine's calls are many small jobs each, bound by
    // per-job planning and scheduling as much as by rows, and the
    // yardstick should slow down as they do.
    val queries = 4
    def once(): Double = {
      val t0 = System.nanoTime()
      val counts = (0 until queries).map { q =>
        spark.range(0, rows.toLong / queries, 1, cores.toInt)
          .selectExpr("id % 2000 AS k", s"(id * 7919 + $q) % 1000 AS v")
          .groupBy("k").agg(countDistinct("v").as("n"))
          .agg(sum("n")).head().getLong(0)
      }
      spark.createDataFrame(counts.map(Tuple1(_))).toDF("n")
        .write.mode("overwrite").parquet(s"$work/out")
      spark.read.parquet(s"$work/out").agg(sum("n")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    for (_ <- 1 to warm.toInt) once()
    val in = new BufferedReader(new InputStreamReader(System.in))
    while (in.readLine() != null) {
      println(s"reference_s ${math.min(once(), once())}")
      System.out.flush()
    }
    Runtime.getRuntime.halt(0)
  }
}

/** The benchmark JVM's handle on a running [[Reference]] JVM. */
final class ReferenceJvm(cmd: Seq[String], log: String) {
  private val proc = new ProcessBuilder(cmd: _*)
    .redirectError(ProcessBuilder.Redirect.appendTo(new File(log)))
    .start()
  private val requests = new PrintStream(proc.getOutputStream, true)
  private val replies =
    new BufferedReader(new InputStreamReader(proc.getInputStream))

  /** Best wall seconds of two reference runs, started now. */
  def time(): Double = {
    requests.println("run")
    Iterator.continually(replies.readLine())
      .map(line => Option(line).getOrElse(
        throw new IllegalStateException(s"reference JVM ended; log: $log")))
      .collectFirst { case l if l.startsWith("reference_s ") =>
        l.stripPrefix("reference_s ").toDouble }.get
  }

  /** Ends the reference JVM and waits until it has exited. */
  def stop(): Unit = {
    requests.close()
    if (!proc.waitFor(60, TimeUnit.SECONDS)) proc.destroyForcibly().waitFor()
  }
}
