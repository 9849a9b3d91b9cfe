package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** JSON in and out: Jackson (shipped with Spark) for reading, a small
  * writer for the maps and sequences the harness emits. */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def fields(n: JsonNode): Seq[(String, JsonNode)] =
    n.fields().asScala.map(e => e.getKey -> e.getValue).toSeq

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = sb.append(mapper.writeValueAsString(s))
    def go(x: Any): Unit = x match {
      case null | None => sb.append("null")
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double =>
        if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
      case f: Float => go(f.toDouble)
      case n: Int => sb.append(n)
      case n: Long => sb.append(n)
      case m: collection.Map[_, _] =>
        sb.append('{')
        m.iterator.zipWithIndex.foreach { case ((k, v), i) =>
          if (i > 0) sb.append(',')
          str(k.toString); sb.append(':'); go(v)
        }
        sb.append('}')
      case xs: Iterable[_] =>
        sb.append('[')
        xs.iterator.zipWithIndex.foreach { case (y, i) =>
          if (i > 0) sb.append(','); go(y)
        }
        sb.append(']')
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
