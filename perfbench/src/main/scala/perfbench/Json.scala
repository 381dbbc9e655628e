package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** Minimal JSON in and out over the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper()

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case Some(x) => toJava(x)
    case None => null
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))

  def read(path: java.nio.file.Path): JsonNode = mapper.readTree(path.toFile)

  def strings(n: JsonNode): Seq[String] =
    if (n == null || n.isNull) Nil else n.elements().asScala.map(_.asText).toSeq
}
