package graft.perfbench

/** Minimal JSON writer for the benchmark's outputs. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def metrics(ms: Seq[(String, Metric)], withN: Boolean): String =
    obj(ms.map { case (k, m) =>
      k -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)) ++
        (if (withN) Seq("n" -> m.n.toString) else Nil))
    })
}
