package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Reads the committed expected.json ({scale: {query: entry}}): per
  * query, the tables its plan scans, resolved in the op's `tables`
  * span. The result hashes are checked by run.py. */
object Expected {
  def tables(path: String): Map[String, Seq[String]] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else {
      val root = new ObjectMapper().readTree(Files.readAllBytes(Paths.get(path)))
      root.elements().asScala.flatMap { scale =>
        scale.fieldNames().asScala.map { q =>
          q -> scale.get(q).path("tables").elements().asScala.map(_.asText).toSeq
        }
      }.toMap
    }
}
