package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards the `graft.*` session keys against creep: every key the
  * library reads is listed in README's configuration table (and every
  * listed key is still read), and no library file passes an argument
  * by setting or unsetting one on the shared session — only the
  * `*Probe` mains may flip them.
  */
class ConfKeysSpec extends AnyFunSuite {

  private val mainDir = Paths.get("src/main/scala")

  /** (file, source with comments removed) for every main Scala file. */
  private lazy val sources: Seq[(Path, String)] = {
    val files = Files.walk(mainDir)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally files.close()
  }.map { p =>
    val src = new String(Files.readAllBytes(p), "UTF-8")
    p -> src.replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("(?m)(^|\\s)//.*$", "$1")
  }

  private val KeyLiteral = "\"(graft\\.[a-z0-9]+(?:\\.[a-z0-9]+)+)\"".r

  test("the graft.* keys read under src/main/scala are exactly README's " +
      "configuration table") {
    val inCode = sources.flatMap { case (_, src) =>
      KeyLiteral.findAllMatchIn(src).map(_.group(1))
    }.toSet
    val readme = new String(Files.readAllBytes(Paths.get("README.md")),
      "UTF-8")
    val section = readme.split("\n## ").find(_.startsWith("Configuration"))
      .getOrElse(fail("README has no '## Configuration' section"))
    val inTable = "(?m)^\\| `(graft\\.[a-z0-9.]+)` \\|".r
      .findAllMatchIn(section).map(_.group(1)).toSet
    assert(inCode.nonEmpty)
    assert(inCode -- inTable == Set.empty,
      "keys read in code but missing from README's table")
    assert(inTable -- inCode == Set.empty,
      "keys in README's table that no code reads")
  }

  test("no library file sets or unsets a graft.* key on the session") {
    val setter = "conf\\s*\\.\\s*(?:set|unset)\\(\\s*\"graft\\.".r
    val offenders = sources.collect {
      case (p, src) if !p.getFileName.toString.endsWith("Probe.scala") &&
          setter.findFirstIn(src).isDefined => p.toString
    }
    assert(offenders.isEmpty,
      "pass the choice as an argument instead of flipping session conf")
  }
}
