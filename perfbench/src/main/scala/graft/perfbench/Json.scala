package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Writes the run's result file (nested Scala maps and sequences) as JSON. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(path: Path, v: Any): Unit = {
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.writeString(tmp, mapper.writeValueAsString(v) + "\n")
    Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING)
  }
}
