package graft.util

import java.io.StringWriter

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator}
import com.fasterxml.jackson.databind.ObjectMapper

/** One JSON writer and reader on the jackson already shipped with
  * Spark. Its escaping is the one Spark's `toJSON` uses (same
  * generator, default features), so bodies built here match bodies
  * Spark would have produced for the same values.
  */
object Json {
  private val factory = new JsonFactory()

  val mapper: ObjectMapper = new ObjectMapper()

  /** Render whatever `body` writes to a generator. */
  def render(body: JsonGenerator => Unit): String = {
    val w = new StringWriter()
    val g = factory.createGenerator(w)
    try body(g) finally g.close()
    w.toString
  }

  /** `s` as a quoted, escaped JSON string literal. */
  def str(s: String): String = render(_.writeString(s))
}
