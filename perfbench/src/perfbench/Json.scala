package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The harness's result and trace files: ordered maps rendered by the
  * Jackson Scala module Spark ships.
  */
object Json {
  type Obj = mutable.LinkedHashMap[String, Any]
  def obj(fields: (String, Any)*): Obj = mutable.LinkedHashMap(fields: _*)
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def render(v: Any): String = mapper.writeValueAsString(v)
}
