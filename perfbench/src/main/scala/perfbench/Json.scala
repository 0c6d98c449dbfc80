package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Just enough JSON: render maps/seqs/scalars, and read with the
  * Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper()

  def read(s: String): JsonNode = mapper.readTree(s)
  def readFile(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def quote(s: String): String = mapper.writeValueAsString(s)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
