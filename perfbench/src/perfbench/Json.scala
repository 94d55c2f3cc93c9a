package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.collection.immutable.ListMap

/** JSON for the harness's result file, through the Jackson that Spark ships. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)

  /** Insertion-ordered object, so the file reads in a stable order. */
  def obj(kv: (String, Any)*): ListMap[String, Any] = ListMap(kv: _*)
}
