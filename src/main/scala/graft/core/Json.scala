package graft.core

/** Minimal JSON string escaping for the hand-rolled artifact emitters
  * (Bench / soak / probe mains print one JSON line each; none of them
  * warrants a parser dependency). Spark stage names and state-store
  * metric keys are interpolated into those lines, and a stage name can
  * carry arbitrary plan text — quotes, backslashes, newlines — which
  * unescaped would corrupt the artifact for downstream jq/python
  * readers (r16 advisory on a probe main's per-stage rows). */
object Json {
  def escape(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.result()
  }
}
