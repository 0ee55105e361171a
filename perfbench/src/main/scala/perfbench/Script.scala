package perfbench

import java.io.{BufferedWriter, FileWriter}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One operation of a generated script: a tool call with its arguments. */
final case class Op(j: JValue) {
  def tool: String = str("tool")
  def str(k: String): String = j \ k match {
    case JString(v) => v
    case _          => null
  }
  def optStr(k: String): Option[String] = Option(str(k))
  def flag(k: String): Boolean = j \ k == JBool(true)
  def num(k: String): Option[Double] = j \ k match {
    case JDouble(v)  => Some(v)
    case JInt(v)     => Some(v.toDouble)
    case JDecimal(v) => Some(v.toDouble)
    case JLong(v)    => Some(v.toDouble)
    case _           => None
  }
  def int(k: String): Int = num(k).map(_.toInt).getOrElse(sys.error(s"op has no $k: $j"))
  /** A two-element [lo, hi] list; either end may be null. */
  def range(k: String): (Option[Double], Option[Double]) = j \ k match {
    case JArray(List(a, b)) => (Op(JObject("v" -> a)).num("v"), Op(JObject("v" -> b)).num("v"))
    case _                  => (None, None)
  }
  def strs(k: String): Seq[String] = j \ k match {
    case JArray(vs) => vs.collect { case JString(v) => v }
    case _          => Nil
  }
}

object Script {
  def load(path: String): JValue =
    JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))

  def ops(v: JValue): Seq[Op] = v match {
    case JArray(xs) => xs.map(Op)
    case _          => Nil
  }
}

/** JSON-lines record sink. */
final class Records(path: String) {
  private val out = new BufferedWriter(new FileWriter(path, true))

  private def enc(v: Any): String = v match {
    case null                 => "null"
    case s: String            => JsonMethods.compact(JString(s))
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float             => enc(f.toDouble)
    case n: Number            => n.toString
    case o: Option[_]         => o.fold("null")(enc)
    case m: Map[_, _]         => m.map { case (k, x) => enc(k.toString) + ":" + enc(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]      => xs.map(enc).mkString("[", ",", "]")
    case other                => enc(other.toString)
  }

  def write(fields: (String, Any)*): Unit = synchronized {
    out.write(enc(fields.toMap))
    out.newLine()
    out.flush()
  }

  def close(): Unit = out.close()
}
