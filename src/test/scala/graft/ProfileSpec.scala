package graft

import java.nio.file.Files

import graft.sources.Tables

/** `graft.Profile`'s code path on q03 at sf0.001: what it prints is the
  * plan the action ran, with its metrics, and each job is credited to the
  * span that started it. */
class ProfileSpec extends SparkSpec {
  import spark.implicits._

  private val query = "q03_revenue_by_nation"
  private val q03 = SparkEntry.queries(query)

  /** Two reps of q03 after a warm-up call (so its own schema reads start no
    * job): the first plain, the second with a read of a fresh table inside
    * the builder. */
  private lazy val (plain, withRead) = {
    val fresh = Files.createTempDirectory("profile-fresh").toString
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$fresh/t.parquet")
    q03(spark, sf001)
    val profile = QueryProfile.attach(spark)
    try (
      Profile.run(spark, profile, sf001, query, 1, q03),
      Profile.run(spark, profile, sf001, query, 2, (s, dir) => {
        Tables.table(s, fresh, "t")
        q03(s, dir)
      }))
    finally profile.close()
  }

  private def printed(rep: Profile.Rep): Seq[String] = rep.render.linesIterator.toSeq

  test("the printed tree is the final adaptive plan") {
    val tree = printed(plain).dropWhile(!_.startsWith("AdaptiveSparkPlan"))
    assert(tree.headOption.exists(_.contains("isFinalPlan=true")), plain.render)
  }

  test("every scan node shows a nonzero number of output rows") {
    val scans = printed(plain).filter(_.trim.matches("(File)?Scan .*"))
    assert(scans.nonEmpty, plain.render)
    val rows = """number of output rows=(\d+)""".r
    scans.foreach { line =>
      assert(rows.findFirstMatchIn(line).exists(_.group(1).toLong > 0), line)
    }
  }

  test("exec runs at least one job and at least one task per job") {
    assert(plain.exec.jobs >= 1, plain.render)
    assert(plain.exec.tasks >= plain.exec.jobs, plain.render)
  }

  test("a table read inside the builder is a builder job, not an exec job") {
    assert(plain.builder.jobs == 0, plain.render)
    assert(withRead.builder.jobs == 1, withRead.render)
    assert(withRead.exec.jobs == plain.exec.jobs, s"${plain.render}\n${withRead.render}")
  }
}
