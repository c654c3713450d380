package graftbench

import com.fasterxml.jackson.core.`type`.TypeReference
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the benchmark's own files, through the Jackson and Jackson
  * Scala module that ship with Spark.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)

  def read[T](text: String, as: TypeReference[T]): T = mapper.readValue(text, as)
}
