package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** The engine's environment and config surface is deliberate: a new
  * `SPARK_GRAFT_*` env var read in `src/main/scala` fails here until it
  * is added below, and `src/main/scala` reads no `spark.graft.*` session
  * key at all. So is its cache ownership: every persist and checkpoint
  * goes through `Caches`. */
class EnvKnobSpec extends AnyFunSuite {

  private val allowedEnv = Set("SPARK_GRAFT_CPUS")

  /** None: every engine tunable is a constant in code, and an
    * approximate answer is a per-query choice of function
    * (`tdigest_quantile`, `percentile_approx`, ...), not a session flag. */
  private val allowedConf = Set.empty[String]

  /** Quoted `"SPARK_GRAFT_…"` literals on code lines (comment lines are
    * skipped): main code spells such a name only to read it, from
    * `sys.env`/`getenv` or, as in [[Sessions.defaultCpus]], from a map
    * that defaults to `sys.env`. A bare `"SPARK_GRAFT_"` prefix is kept
    * as-is, so a name built at run time fails the check too. */
  private val envLiteral = "\"(SPARK_GRAFT_[A-Z0-9_]*)\"".r

  /** Quoted `"spark.graft.…"` literals on code lines, likewise: a key
    * would be spelled once, as the constant its reader passes to the
    * conf. */
  private val confLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]*)\"".r

  /** Persist and checkpoint calls on code lines. */
  private val cacheCall =
    """\.(localCheckpoint|checkpoint|persist)\(|\.cache\(\)""".r

  /** Every code line of `src/main/scala` (comment lines are skipped),
    * with the file it is in. */
  private def mainCodeLines: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { f =>
      Files.readAllLines(f).asScala.filterNot { l =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
      }.map(f -> _)
    }
  }

  private def literalsInMain(literal: Regex): Set[String] =
    mainCodeLines.flatMap { case (_, l) =>
      literal.findAllMatchIn(l).map(_.group(1))
    }.toSet

  test("src/main reads exactly the allowed SPARK_GRAFT_* env vars") {
    val found = literalsInMain(envLiteral)
    assert(found == allowedEnv,
      s"added: ${found -- allowedEnv}; gone: ${allowedEnv -- found}")
  }

  test("src/main reads exactly the allowed spark.graft.* session keys") {
    val found = literalsInMain(confLiteral)
    assert(found == allowedConf,
      s"added: ${found -- allowedConf}; gone: ${allowedConf -- found}")
  }

  test("src/main persists and checkpoints only through Caches") {
    // a frame cached or checkpointed elsewhere is off the per-thread
    // ledger, so Caches.release() would leave its blocks behind
    val hits = mainCodeLines.collect {
      case (f, l) if f.getFileName.toString != "Caches.scala" &&
          cacheCall.findFirstIn(l).nonEmpty => s"$f: ${l.trim}"
    }
    assert(hits.isEmpty,
      s"${hits.size} calls outside Caches:\n${hits.mkString("\n")}")
  }
}
