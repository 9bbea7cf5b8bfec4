package graft.kg

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator}
import java.io.StringWriter

/** JSON values shaped the way Spark's `to_json` writes a struct: fields in
  * declaration order, a [[Null]] field left out, a [[Null]] array element
  * written as `null`. [[render]] writes through Jackson's `JsonGenerator`
  * from a default `JsonFactory`, as Spark's `JacksonGenerator` does, so
  * the escaping is Jackson's. [[order]] is Catalyst's ascending order over
  * the same values (what `sort_array` sorts by), and [[utf8]] its string
  * order (`array_sort`, `ORDER BY`): UTF-8 bytes, i.e. code points.
  */
object Json {
  sealed trait V
  case object Null extends V
  final case class Str(s: String) extends V
  final case class Num(n: Long) extends V
  final case class Bool(b: Boolean) extends V
  final case class Arr(items: Seq[V]) extends V
  final case class Obj(fields: Seq[(String, V)]) extends V

  /** A string field as `to_json` sees it: a null string is a null field. */
  def str(s: String): V = if (s == null) Null else Str(s)
  def obj(fields: (String, V)*): V = Obj(fields)

  private val factory = new JsonFactory()

  def render(v: V): String = {
    val w = new StringWriter()
    val g = factory.createGenerator(w)
    write(g, v)
    g.close()
    w.toString
  }

  private def write(g: JsonGenerator, v: V): Unit = v match {
    case Null => g.writeNull()
    case Str(s) => g.writeString(s)
    case Num(n) => g.writeNumber(n)
    case Bool(b) => g.writeBoolean(b)
    case Arr(items) =>
      g.writeStartArray()
      items.foreach(write(g, _))
      g.writeEndArray()
    case Obj(fields) =>
      g.writeStartObject()
      fields.foreach { case (k, x) =>
        if (x != Null) { g.writeFieldName(k); write(g, x) }
      }
      g.writeEndObject()
  }

  /** Code-point order, which is the order of the UTF-8 bytes (`String`'s
    * own order compares UTF-16 units, which differs above U+FFFF). */
  val utf8: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      var i = 0
      var c = 0
      while (c == 0 && i < a.length && i < b.length) {
        val (x, y) = (a.codePointAt(i), b.codePointAt(i))
        c = Integer.compare(x, y)
        i += Character.charCount(x)
      }
      if (c != 0) c else Integer.compare(a.length, b.length)
    }
  }

  /** Catalyst's ascending order: nulls first, structs field by field,
    * arrays element by element and then by length. */
  val order: Ordering[V] = new Ordering[V] {
    def compare(x: V, y: V): Int = (x, y) match {
      case (Null, Null) => 0
      case (Null, _) => -1
      case (_, Null) => 1
      case (Str(a), Str(b)) => utf8.compare(a, b)
      case (Num(a), Num(b)) => java.lang.Long.compare(a, b)
      case (Bool(a), Bool(b)) => java.lang.Boolean.compare(a, b)
      case (Arr(a), Arr(b)) => seq(a, b)
      case (Obj(a), Obj(b)) => seq(a.map(_._2), b.map(_._2))
      case _ => throw new IllegalArgumentException(s"cannot order $x and $y")
    }
    private def seq(a: Seq[V], b: Seq[V]): Int =
      a.lazyZip(b).iterator.map { case (p, q) => compare(p, q) }
        .find(_ != 0).getOrElse(Integer.compare(a.size, b.size))
  }
}
