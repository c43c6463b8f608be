package perfbench

import java.nio.file.{Files, Path}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON in and out through the Jackson that ships with Spark. */
object Json {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Scala maps, sequences, options and tuples, as objects, arrays, the
    * value or null, and arrays. */
  def write(v: Any): String = mapper.writeValueAsString(v)

  def writePretty(v: Any): String = mapper.writerWithDefaultPrettyPrinter.writeValueAsString(v)

  def read(p: Path): JsonNode = mapper.readTree(Files.readAllBytes(p))
}
