package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the result and trace files, through the Jackson that ships
  * with Spark. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)
}
