package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source hygiene: no control characters in .scala sources. A raw NUL (or
  * any C0 control byte outside tab/newline/CR) inside a string literal
  * renders as whitespace in git diff — reviewers read different code than
  * what compiles — and flips grep into binary mode for the whole file.
  * Round 8 shipped exactly this: a literal 0x00 as the dd08 memo-key
  * separator (ADVICE r8, fixed to "|" in r9); this spec keeps it fixed,
  * CI-style. */
class SourceHygieneSpec extends AnyFunSuite {
  test("no .scala source contains control characters (C0 minus tab/LF/CR)") {
    val root = Paths.get("src")
    assert(Files.isDirectory(root), s"expected to run from the repo root, no $root here")
    val bad = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .flatMap { p: Path =>
        val bytes = Files.readAllBytes(p)
        val hit = bytes.indexWhere(b => b >= 0 && b < 0x20 && b != '\t' && b != '\n' && b != '\r')
        if (hit >= 0) Some(s"$p: byte 0x${"%02x".format(bytes(hit))} at offset $hit") else None
      }
      .toList
    assert(bad.isEmpty, s"control characters in sources:\n${bad.mkString("\n")}")
  }

  private val enginePackages = Seq("operators", "streaming", "multimodal", "etl", "functions")

  /** `file:line: text` of each source line in `packages` containing any of `tokens`. */
  private def engineLinesWith(tokens: Seq[String],
      packages: Seq[String] = enginePackages): Seq[String] = {
    val pkgs = packages.map(p => Paths.get("src/main/scala/graft", p))
    pkgs.foreach(p => assert(Files.isDirectory(p), s"expected to run from the repo root, no $p here"))
    pkgs.flatMap(p => Files.walk(p).iterator().asScala.toList)
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if tokens.exists(line.contains) => s"$p:${i + 1}: ${line.trim}"
        }
      }
  }

  test("engine packages read parquet only through Tables.parquet (no inference job per read)") {
    // Tables.parquet reads with the schema memoized by the path's listing
    // fingerprint; a direct read.parquet infers it with an eager Spark job
    // in every builder call.
    val bad = engineLinesWith(Seq(".read.parquet("))
    assert(bad.isEmpty, s"direct parquet reads (use Tables.parquet):\n${bad.mkString("\n")}")
  }

  test("engine packages take no per-query clock value (generated code stays reusable)") {
    // The optimizer folds these into a literal per query, and a timestamp or
    // date literal is written into the generated Java source, so every call
    // compiles new classes. Carry a per-call value by reference, as
    // graft.functions.RunStamp does.
    val bad = engineLinesWith(Seq("current_timestamp(", "current_date(", "now()"))
    assert(bad.isEmpty, s"per-query clock values (use RunStamp):\n${bad.mkString("\n")}")
  }

  test("operators keep per-corpus state only in Artifacts") {
    // graft.sources.Artifacts is the one store of state derived from a
    // corpus: fingerprinted, built once, swept and removed at shutdown.
    val bad = engineLinesWith(Seq("ConcurrentHashMap", "addShutdownHook", "contentFingerprint"),
      Seq("operators"))
    assert(bad.isEmpty, s"per-corpus state outside Artifacts:\n${bad.mkString("\n")}")
  }

  /** Lines of `src/main/scala/graft` holding `token` outside the files named `allowed`. */
  private def graftLinesWith(token: String, allowed: Set[String]): Seq[String] =
    engineLinesWith(Seq(token), Seq("")).filterNot { hit =>
      allowed.exists(f => hit.startsWith(s"src/main/scala/graft/$f.scala:"))
    }

  test("graft mains are Verify, Profile and Demo only") {
    // a question about one query is a graft.Profile run, not a new main
    val bad = graftLinesWith("def main(", Set("Verify", "Profile", "Demo"))
    assert(bad.isEmpty, s"mains outside Verify/Profile/Demo:\n${bad.mkString("\n")}")
  }

  test("QueryProfile is the one Spark listener") {
    val bad = graftLinesWith("addSparkListener", Set("QueryProfile"))
    assert(bad.isEmpty, s"listeners outside QueryProfile:\n${bad.mkString("\n")}")
  }

  test("Sessions is the one reader of the environment") {
    val bad = graftLinesWith("sys.env", Set("Sessions"))
    assert(bad.isEmpty, s"environment reads outside Sessions:\n${bad.mkString("\n")}")
  }
}
