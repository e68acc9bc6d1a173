package perfbench

import scala.collection.mutable

/** The little JSON the benchmark writes: numbers, strings, arrays, objects. */
object Json {
  sealed trait Value { def render: String }

  final case class Num(v: Double) extends Value {
    def render: String =
      if (v.isNaN || v.isInfinite) "null"
      else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else v.toString
  }

  final case class Str(v: String) extends Value {
    def render: String = v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
  }

  final case class Arr(vs: Seq[Value]) extends Value {
    def render: String = vs.map(_.render).mkString("[", ",", "]")
  }

  final class Obj extends Value {
    private val m = mutable.LinkedHashMap.empty[String, Value]
    def update(k: String, v: Any): Unit = m(k) = of(v)
    def render: String = m.map { case (k, v) => Str(k).render + ":" + v.render }.mkString("{", ",", "}")
  }

  object Obj {
    def apply(kvs: Seq[(String, Any)]): Obj = { val o = new Obj; kvs.foreach { case (k, v) => o(k) = v }; o }
  }

  def of(v: Any): Value = v match {
    case x: Value => x
    case x: Double => Num(x)
    case x: Long => Num(x.toDouble)
    case x: Int => Num(x.toDouble)
    case x: String => Str(x)
    case xs: Seq[_] => Arr(xs.map(of))
    case other => throw new IllegalArgumentException(s"not JSON: $other")
  }

  def arr(xs: Seq[Any]): Arr = Arr(xs.map(of))
}
