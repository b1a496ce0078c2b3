package graft

import java.nio.file.{Files, Path}

import graft.etl.Pipeline
import graft.etl.Pipeline.{Exact, Latest, Skip}

/** A4/A5 — latest-partition discovery over `{platform}_{yyyyMMdd}.csv` and
  * the per-platform date directives. */
class ResolveDatesSpec extends SparkSpec {

  private def folder(names: String*): Path = {
    val dir = Files.createTempDirectory("resolve-dates")
    names.foreach(n => Files.write(dir.resolve(n), Array.emptyByteArray))
    dir
  }

  private lazy val dir = folder(
    "avito_20240101.csv", "avito_20240315.csv", "yandex_20240201.csv",
    // none of these is `{platform}_{yyyyMMdd}.csv`
    "avito_2024123.csv", "avito_20241231.csv.bak", "avito_20241231.parquet",
    "backup-avito_20250101.csv", "cian_20250101.CSV", "domclick_2025-01-01.csv",
    "notes.txt")

  private def resolve(directives: (String, Pipeline.Directive)*) =
    Pipeline.resolveDates(spark, dir.toString, directives.toMap)

  test("Latest picks the max date per platform; a platform with no file gets none") {
    assert(resolve("avito" -> Latest, "yandex" -> Latest, "domclick" -> Latest) ==
      Map("avito" -> Some("20240315"), "yandex" -> Some("20240201"), "domclick" -> None))
  }

  test("Skip resolves to none even when files exist") {
    assert(resolve("avito" -> Skip, "yandex" -> Latest) ==
      Map("avito" -> None, "yandex" -> Some("20240201")))
  }

  test("Exact at or before the latest date is honored as given") {
    assert(resolve("avito" -> Exact("20240315")) == Map("avito" -> Some("20240315")))
    assert(resolve("avito" -> Exact("20240101")) == Map("avito" -> Some("20240101")))
    // no file for the date itself is required, only a latest at or after it
    assert(resolve("avito" -> Exact("20240201")) == Map("avito" -> Some("20240201")))
  }

  test("Exact after the latest date, or for a platform with no file, resolves to none") {
    assert(resolve("avito" -> Exact("20240316"), "yandex" -> Exact("20250101"),
      "cian" -> Exact("20200101")) ==
      Map("avito" -> None, "yandex" -> None, "cian" -> None))
  }

  test("a missing folder resolves every directive to none") {
    val missing = dir.resolve("no-such-folder").toString
    assert(Pipeline.resolveDates(spark, missing,
      Map("avito" -> Latest, "yandex" -> Exact("20240101"), "cian" -> Skip)) ==
      Map("avito" -> None, "yandex" -> None, "cian" -> None))
  }

  test("names that are not {platform}_{yyyyMMdd}.csv are ignored") {
    // only the mismatched names mention these dates or platforms
    assert(resolve("avito" -> Latest, "cian" -> Latest, "domclick" -> Latest,
      "backup-avito" -> Latest) ==
      Map("avito" -> Some("20240315"), "cian" -> None, "domclick" -> None,
        "backup-avito" -> None))
    val onlyBad = folder("avito_2024123.csv", "notes.txt", "yandex_20240201.json")
    assert(Pipeline.resolveDates(spark, onlyBad.toString,
      Map("avito" -> Latest, "yandex" -> Latest)) ==
      Map("avito" -> None, "yandex" -> None))
  }
}
