package perfbench

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON in and out through the Jackson that ships with Spark. Objects are
  * written from `ListMap`s, so keys keep their order. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def write(v: Any): String = mapper.writeValueAsString(v)

  def obj(kv: (String, Any)*): ListMap[String, Any] = ListMap(kv: _*)
}
