package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine's environment surface is deliberate: a new `SPARK_GRAFT_*`
  * read in `src/main/scala` fails here until it is added below. */
class EnvKnobSpec extends AnyFunSuite {

  private val allowed = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_LOOP_PLANS")

  /** Quoted `"SPARK_GRAFT_…"` literals on code lines (comment lines are
    * skipped): main code spells such a name only to read it, from
    * `sys.env`/`getenv` or, as in [[Sessions.defaultCpus]], from a map
    * that defaults to `sys.env`. A bare `"SPARK_GRAFT_"` prefix is kept
    * as-is, so a name built at run time fails the check too. */
  private val literal = "\"(SPARK_GRAFT_[A-Z0-9_]*)\"".r

  test("src/main reads exactly the allowed SPARK_GRAFT_* env vars") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def reads(f: Path): Seq[String] = {
      val code = Files.readAllLines(f).asScala.filterNot { l =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
      }
      code.flatMap(l => literal.findAllMatchIn(l).map(_.group(1))).toSeq
    }
    val found = files.flatMap(reads).toSet
    assert(found == allowed,
      s"added: ${found -- allowed}; gone: ${allowed -- found}")
  }
}
