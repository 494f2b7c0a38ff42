package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source guards for graft's `graft.*` settings: every read goes through
  * `graft.util.GraftConf`, and every key it reads is documented in the
  * README settings table (and nothing else is). */
class SettingsGuardSpec extends AnyFunSuite {

  private lazy val mainSources: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  test("no graft.* setting is read or set outside GraftConf") {
    val adHoc =
      """conf\s*\.\s*(get|getOption|getConfString|set|setConfString|unset|contains)\s*\(\s*"graft\.""".r
    assert(mainSources.nonEmpty)
    val offenders = for {
      (path, text) <- mainSources if !path.endsWith("util/GraftConf.scala")
      m <- adHoc.findAllMatchIn(text)
    } yield s"$path: ${m.matched}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the README settings table lists exactly the keys read through GraftConf") {
    val read = """GraftConf\.(?:long|int|bool|bytes|string)\([^"]*"(graft\.[\w.]+)"""".r
    val keys = mainSources.flatMap { case (_, t) => read.findAllMatchIn(t).map(_.group(1)) }.toSet
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
    val documented = """(?m)^\| `(graft\.[\w.]+)` \|""".r
      .findAllMatchIn(readme).map(_.group(1)).toSet
    assert(keys.nonEmpty)
    assert((keys -- documented).isEmpty, s"undocumented settings: ${keys -- documented}")
    assert((documented -- keys).isEmpty, s"documented but never read: ${documented -- keys}")
  }
}
