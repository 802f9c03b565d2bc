package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON writer for the result and trace artifacts, and a Jackson
  * reader for the generator's manifest and the pinned digests.
  */
object Json {
  sealed trait V { def render: String }
  final case class Num(v: Double) extends V {
    def render: String =
      if (v.isNaN || v.isInfinite) "null"
      else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else java.lang.Double.toString(v)
  }
  final case class Str(v: String) extends V {
    def render: String = new ObjectMapper().writeValueAsString(v)
  }
  final case class Bool(v: Boolean) extends V { def render: String = v.toString }
  /** Already-serialized JSON, embedded as is. */
  final case class Raw(json: String) extends V { def render: String = json }
  final case class Arr(vs: Seq[V]) extends V {
    def render: String = vs.map(_.render).mkString("[", ",", "]")
  }
  final case class Obj(kvs: Seq[(String, V)]) extends V {
    def render: String = kvs.map { case (k, v) => Str(k).render + ":" + v.render }.mkString("{", ",", "}")
  }

  def read(path: String): JsonNode = new ObjectMapper().readTree(new java.io.File(path))
}
