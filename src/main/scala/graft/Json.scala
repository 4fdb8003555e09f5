package graft

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON mapper behind every line the tools write (bench lines,
  * `oracle_sql.json`, stream metrics, the stage floor) and every bench
  * artifact they read back. `ListMap`s keep their key order on write.
  */
object Json {
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def write(value: Any): String = mapper.writeValueAsString(value)
}
