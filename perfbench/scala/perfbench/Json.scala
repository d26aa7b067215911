package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The few JSON helpers the harness needs, on the Jackson that ships with
  * Spark. */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode = mapper.readTree(new File(path))

  def write(node: JsonNode, path: String): Unit =
    mapper.writeValue(new File(path), node)

  def obj(): ObjectNode = JsonNodeFactory.instance.objectNode()

  def strings(n: JsonNode): Seq[String] = n.elements().asScala
    .map(_.asText).toSeq

  def longs(n: JsonNode): Seq[Long] = n.elements().asScala
    .map(_.asLong).toSeq

  /** One micro-batch's progress: the phases the traced pass reads. */
  def progress(p: StreamingQueryProgress): ObjectNode = {
    val o = obj()
      .put("query", p.name).put("batch", p.batchId)
      .put("rows", p.numInputRows)
      .put("state_rows", p.stateOperators.map(_.numRowsTotal).sum)
      .put("state_commit_ms", p.stateOperators.map(_.commitTimeMs).sum)
    val d = o.putObject("duration_ms")
    p.durationMs.asScala.foreach { case (k, v) => d.put(k, v.longValue) }
    o
  }
}
