package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Every `runMain graft.<X>` recipe in the docs names a main that exists,
  * so a deleted or renamed tool fails this suite until the docs that run
  * it are repointed.
  */
class RecipeSpec extends AnyFunSuite {
  private val docs = Seq("README.md", "PERF.md", "SCALING.md", "COVERAGE.md",
    ".claude/skills/verify/SKILL.md")
  private val recipe = """runMain graft\.(\w+(?:\.\w+)*)""".r

  test("every documented runMain recipe resolves to an object with a main") {
    val named = docs.flatMap { doc =>
      recipe.findAllMatchIn(Files.readString(Paths.get(doc)))
        .map(m => s"$doc: graft.${m.group(1)}" -> s"graft.${m.group(1)}$$")
    }
    assert(named.nonEmpty, "no runMain recipe found in the docs")
    val broken = named.collect { case (where, cls) if scala.util.Try(
        Class.forName(cls).getMethod("main", classOf[Array[String]])).isFailure =>
      where
    }
    assert(broken.isEmpty, s"recipes naming no main: ${broken.mkString("; ")}")
  }
}
