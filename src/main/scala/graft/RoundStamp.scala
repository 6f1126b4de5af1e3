package graft

/** The current driver round, inferred from the BENCH_r{N}.json files
  * the driver commits at the repo root: we are inside round max+1.
  * Returns None when the working directory is not the repo root (no
  * BENCH_r files and no docs/ + build.sbt anchor), so round-stamped
  * artifacts are SKIPPED rather than written as a bogus r01 that would
  * clobber the real round-1 history — exactly the data loss the
  * stamping exists to prevent. Used by Bench for
  * docs/BENCH_driver_r{N}.json. */
object RoundStamp {
  def current(): Option[Int] = {
    val pat = java.util.regex.Pattern.compile("BENCH_r(\\d+)\\.json")
    val files = Option(new java.io.File(".").list()).getOrElse(Array.empty[String])
    val prev = files.flatMap { f =>
      val m = pat.matcher(f)
      if (m.matches()) Some(m.group(1).toInt) else None
    }
    if (prev.nonEmpty) Some(prev.max + 1)
    else if (new java.io.File("docs").isDirectory && isGraftBuild) Some(1)
    else None
  }

  /** Repo-specific anchor (round-7 advice): a generic docs/+build.sbt
    * test would stamp a bogus r01 from any sbt project with a docs dir —
    * require THIS project's build.sbt (its name line) before defaulting
    * to round 1. */
  private def isGraftBuild: Boolean = {
    val f = new java.io.File("build.sbt")
    f.isFile && {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().exists(_.contains("bigdataplayeranalysisspark"))
      finally src.close()
    }
  }
}
