package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the run record and the expected-output file, through the
  * Jackson Scala module already on the engine's classpath. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def value(v: Any): String = mapper.writeValueAsString(v)

  def tree(text: String): JsonNode = mapper.readTree(text)
}
