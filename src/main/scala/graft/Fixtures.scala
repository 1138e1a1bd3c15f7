package graft

/** The repository's `fixtures/` directory (config CSVs, SAS files,
  * curation recipes), resolved against the working directory: `sbt
  * run` and forked `sbt test` both start in the project root. A run
  * from anywhere else fails on the first read, naming the path.
  */
object Fixtures {
  lazy val root: String =
    java.nio.file.Paths.get("fixtures").toAbsolutePath.normalize.toString

  /** `rel` under [[root]], e.g. `Fixtures.path("sas/graft_fixture.sas7bdat")`. */
  def path(rel: String): String = s"$root/$rel"
}
