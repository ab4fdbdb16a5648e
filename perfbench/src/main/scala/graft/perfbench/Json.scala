package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON: a writer for the run record, Jackson (shipped with Spark)
  * for reading the generator's plan. */
object Json {
  def read(path: String): JsonNode = new ObjectMapper().readTree(Paths.get(path).toFile)

  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), render(v).getBytes(StandardCharsets.UTF_8))

  def render(v: Any): String = v match {
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b @ (_: Boolean | _: Int | _: Long) => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
