package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

/** Minimal JSON plumbing over the Jackson that Spark ships. */
object Json {
  private val mapper = new ObjectMapper()

  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, plain(v)) }
    m
  }

  def arr(xs: Iterable[Any]): java.util.List[Any] = {
    val l = new java.util.ArrayList[Any]()
    xs.foreach(x => l.add(plain(x)))
    l
  }

  private def plain(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_]               => arr(xs)
    case o: Option[_]                  => o.map(plain).orNull
    case x                             => x
  }

  def write(path: String, value: Any): Unit =
    mapper.writeValue(new java.io.File(path), plain(value))

  def read(path: String): java.util.Map[String, Any] =
    mapper.readValue(new java.io.File(path), classOf[java.util.Map[String, Any]])
}
