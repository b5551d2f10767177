package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the result line and the trace report (Jackson ships with
  * Spark). Maps keep their order when built as ListMap. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
  def pretty(v: Any): String = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(v)
}
