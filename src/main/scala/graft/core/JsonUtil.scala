package graft.core

/** Minimal JSON string escaping for the hand-built JSON payloads the
  * engine journals and publishes (job error payloads, file-queue event
  * lines). FULL control-character coverage: exception text can carry any
  * of U+0000..U+001F, and a single unescaped one makes the payload
  * invalid JSON (a PERMISSIVE reader then nulls the whole row). One
  * definition so the escapers can't drift. */
object JsonUtil {
  def escape(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The JSON document `js`, parsed on the calling thread. */
  def parse(js: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(js)

  /** Field `f` of `n` as text — a number as its literal — or null when
    * the field is missing or JSON null. */
  def text(n: com.fasterxml.jackson.databind.JsonNode, f: String): String = {
    val v = n.path(f)
    if (v.isMissingNode || v.isNull) null else v.asText
  }

  /** The elements of array field `f` of `n` as text; Nil when the field
    * is missing or not an array. */
  def texts(n: com.fasterxml.jackson.databind.JsonNode, f: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val v = n.path(f)
    if (!v.isArray) Nil
    else v.elements.asScala.map(e => if (e.isNull) null else e.asText).toSeq
  }
}
