package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Conventions of `src/main` checked mechanically instead of by
  * reading: each test names the files that break one. */
class SourceLintSpec extends AnyFunSuite {

  private def mainSources: Seq[Path] = {
    val s = Files.walk(Paths.get("src/main"))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("only LocalSession builds a SparkSession in src/main") {
    assert(mainSources.size > 50, "src/main not found from the working dir")
    val offenders = mainSources.filter { p =>
      p.getFileName.toString != "LocalSession.scala" &&
        Files.readString(p).contains("SparkSession.builder")
    }
    assert(offenders.isEmpty, "build the session with graft.LocalSession: " +
      offenders.mkString(", "))
  }

  test("only DurableArtifact writes table properties in src/main") {
    val offenders = mainSources.filter { p =>
      p.getFileName.toString != "DurableArtifact.scala" &&
        Files.readString(p).contains("SET TBLPROPERTIES")
    }
    assert(offenders.isEmpty, "set the fold protocol's table properties " +
      "through DurableArtifact: " + offenders.mkString(", "))
  }
}
