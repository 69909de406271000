package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The harness's one JSON codec: Jackson (shipped with Spark) with Scala
  * collections and case classes. Records are `ListMap`s so fields keep the
  * order they are written in. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)
}
