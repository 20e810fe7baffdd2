package graft

import java.nio.file.{Files, Paths}

/** README query-map generator (round-10, VERDICT item 8): the registry
  * is 200+ queries across 25+ modules with no single entry-point map.
  * `section()` renders `SparkEntry.registry` grouped by each entry's
  * `family`, with the family's module linked; `main` splices it into
  * README.md between the markers. ReadmeSyncSpec asserts the README
  * carries EXACTLY the current render — add a query, rerun
  * `sbt "Test/runMain graft.ReadmeGen"`, or the suite goes red. */
object ReadmeGen {

  val begin = "<!-- BEGIN GENERATED QUERY MAP (Test/runMain graft.ReadmeGen) -->"
  val end = "<!-- END GENERATED QUERY MAP -->"

  def section(): String = {
    val all = SparkEntry.registry
    val grouped = all.groupBy(_.family).toSeq.sortBy(_._1.title)
    val sb = new StringBuilder
    sb ++= begin + "\n\n"
    sb ++= s"${all.size} registry queries (${all.count(_.oracle.isDefined)} DuckDB-oracled, " +
      "the rest rows-only by nature with spec siblings), grouped by family.\n\n"
    sb ++= "| Family | Queries | Module |\n| --- | --- | --- |\n"
    for ((fam, qs) <- grouped) {
      val marked = qs.sortBy(_.name).map { q =>
        val base = if (q.oracle.isDefined) q.name else s"${q.name}*"
        q.tag match {
          case SparkEntry.Tag.Audit => s"$base†"
          case SparkEntry.Tag.Build => s"$base‡"
          case SparkEntry.Tag.Production => base
        }
      }.mkString(", ")
      sb ++= s"| ${fam.title} (${qs.size}) | $marked | [`${fam.module.split('/').last}`](${fam.module}) |\n"
    }
    sb ++= "\n`*` = no SQL-expressible oracle (approx/LSH/ML-trained); carries a spec.\n"
    sb ++= "`†` = audit rung: exact verification, superlinear at scale by contract; " +
      "production sibling shipped (excluded by `SPARK_GRAFT_BENCH_PROFILE=production`).\n"
    sb ++= "`‡` = build rung: index construction; benched opt-in, the serving pair is the production path.\n\n"
    sb ++= end
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val path = Paths.get("README.md")
    val cur = Files.readString(path)
    val (b, e) = (cur.indexOf(begin), cur.indexOf(end))
    val next =
      if (b >= 0 && e >= 0) cur.substring(0, b) + section() + cur.substring(e + end.length)
      else cur + "\n## Query surface\n\n" + section() + "\n"
    Files.writeString(path, next)
    println(s"[readme] wrote query map: ${SparkEntry.registry.size} queries")
  }
}
