package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON writer for the result files (maps keep insertion order
  * when given a `ListMap` or a `Seq` of pairs) and a Jackson-backed reader
  * for the committed inputs. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => quote(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case ps: Seq[_] if ps.nonEmpty && ps.forall(_.isInstanceOf[Field]) =>
      ps.map { case Field(k, x) => quote(k) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  /** An ordered object member, for `write(Seq(Field(..), ..))`. */
  final case class Field(name: String, value: Any)

  def obj(fields: (String, Any)*): Seq[Field] = fields.map { case (k, v) => Field(k, v) }

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

  def read(path: String): JsonNode =
    new ObjectMapper().readTree(new java.io.File(path))
}
