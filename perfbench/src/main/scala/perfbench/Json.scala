package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import java.nio.file.{Files, Path}
import scala.collection.immutable.ListMap

/** The benchmark's result and trace files, written with the Jackson
  * that Spark ships.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** An object whose keys keep their order. */
  def obj(kv: (String, Any)*): ListMap[String, Any] = ListMap(kv: _*)

  def write(path: Path, value: Any): Unit =
    Files.writeString(path, mapper.writeValueAsString(value) + "\n")
}
